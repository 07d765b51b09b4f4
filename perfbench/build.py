"""Builds the benchmark from the checkout's sources.

The repository's main Scala sources and the harness under perfbench/src are
compiled together with the Scala compiler that ships in Spark's jar
directory (no sbt, no downloads). The fixtures every run reads are then
built once by that code: the day-partitioned lineitem lake the report reads
and the manifest lake with its pre-built history. Both are keyed by a hash
of the sources, so a change to the engine rebuilds them, and neither is ever
built inside a timed run.

    python3 perfbench/build.py      # build (or reuse) and print the paths
"""

import fcntl
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
HEAP = "2g"
# keeps the JVM's performance counters off the system temp directory, so a
# run writes only inside the checkout
NO_PERF_FILE = "-XX:+PerfDisableSharedMem"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def testdata():
    """The sf0.1 test data: $SPARK_GRAFT_SF_DIR (the engine's own bench
    convention), else the sf0.1 directory TESTDATA.md names."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    doc = ROOT / "TESTDATA.md"
    if not d and doc.exists():
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text(), re.M)
        d = m and m.group(1)
    if not d or not (Path(d) / "lineitem.parquet").exists():
        raise BuildError(f"no sf0.1 test data found (SPARK_GRAFT_SF_DIR={d!r})")
    return Path(d)


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise BuildError(f"no engine sources under {ROOT / 'src/main/scala'}")
    return main + sorted((BENCH / "src").rglob("*.scala"))


def resources():
    res = ROOT / "src" / "main" / "resources"
    return sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    return h.hexdigest()[:16]


def jvm(classes, jars, tmp, main_args, cwd, timeout, cds):
    """Runs graftbench.Main in a fresh JVM; all temporary files stay under `tmp`.
    `cds` is the class-data archive: written at exit by the fixture build,
    mapped at start by every run (it halves JVM and Spark start-up)."""
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    share = (f"-XX:SharedArchiveFile={cds}" if cds.exists()
             else f"-XX:ArchiveClassesAtExit={cds}")
    cmd = ["java", f"-Xmx{HEAP}", *opens, share, NO_PERF_FILE,
           "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
           "-XX:-DontCompileHugeMethods",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", f"{classes / 'bench.jar'}{os.pathsep}{jars}/*", "graftbench.Main", *main_args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        raise BuildError(f"JVM timed out after {timeout} s:\n{out[-4000:]}")
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    if proc.returncode != 0:
        raise BuildError(f"JVM exited {proc.returncode}:\n{out[-4000:]}")
    return out


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def ensure():
    """Returns (classes dir, fixtures dir, jars dir), building what is missing.
    The classes are packed into one jar because a class-data archive
    accepts jars only on the class path."""
    jars = spark_jars()
    sf = testdata()
    srcs = sources()
    key = stamp(srcs + resources(), jars)
    BUILD.mkdir(exist_ok=True)
    classes = BUILD / f"classes-{key}"
    fixtures = BUILD / f"fixtures-{key}"
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for old in BUILD.glob("*-*"):
            if old.is_dir() and old.name.split("-", 1)[0] in ("classes", "fixtures") \
                    and not old.name.endswith(key):
                shutil.rmtree(old, ignore_errors=True)
        if not (classes / "ok").exists():
            tmp = BUILD / f"compiling-{key}"
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir()
            argfile = BUILD / "sources.txt"
            argfile.write_text("\n".join(str(p) for p in srcs))
            r = subprocess.run(
                ["java", NO_PERF_FILE, "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                 "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            if r.returncode != 0:
                raise BuildError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
            res = ROOT / "src" / "main" / "resources"
            shutil.rmtree(classes, ignore_errors=True)
            classes.mkdir()
            with zipfile.ZipFile(classes / "bench.jar", "w", zipfile.ZIP_STORED) as jar:
                for p in sorted(tmp.rglob("*.class")):
                    jar.write(p, p.relative_to(tmp).as_posix())
                for p in resources():
                    jar.write(p, p.relative_to(res).as_posix())
            shutil.rmtree(tmp)
            (classes / "ok").write_text(key)
        if not (fixtures / "ok").exists():
            shutil.rmtree(fixtures, ignore_errors=True)
            fixtures.mkdir()
            jvm(classes, jars, fixtures / "tmp",
                ["--mode", "prepare", "--sf", str(sf), "--fixtures", str(fixtures),
                 "--cpus", str(cpus())],
                cwd=fixtures, timeout=800, cds=fixtures / "app.jsa")
            shutil.rmtree(fixtures / "tmp", ignore_errors=True)
            (fixtures / "ok").write_text(key)
    return classes, fixtures, jars


def exit_on_sigterm():
    """Turns SIGTERM into SystemExit, so a killed run stops its JVM first."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))


if __name__ == "__main__":
    exit_on_sigterm()
    try:
        print(*ensure(), sep="\n")
    except BuildError as e:
        sys.exit(f"build failed: {e}")
