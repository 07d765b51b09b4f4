package graft.etl

import java.nio.file.{Files, LinkOption, Path, Paths}

/** Scratch directories for derived test lakes / stage hand-offs:
  * RAM-backed (/dev/shm) when available — the bench VM's disk
  * intermittently stalls for tens of seconds, randomly inflating
  * whichever query is mid-write (the same reason graft.Sessions puts
  * spark.local.dir on tmpfs). Data volumes at test SF are far below RAM;
  * at production scale these paths are real lake prefixes instead.
  *
  * Every directory handed out lives exactly as long as its JVM: one
  * shutdown hook removes them all, recursively, so a RAM-backed base
  * does not accumulate the parquet of earlier runs. */
object Scratch {
  private val made = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val cleanupAtExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => made.forEach(p => rm(p))))

  def tempDir(prefix: String): Path = {
    val base =
      if (Files.isDirectory(Paths.get("/dev/shm"))) Paths.get("/dev/shm")
      else Paths.get(System.getProperty("java.io.tmpdir"))
    cleanupAtExit
    val dir = Files.createTempDirectory(base, prefix)
    made.add(dir)
    dir
  }

  /** Delete `p` and everything under it; a symlink is removed, never
    * followed. Best effort: one undeletable entry does not stop the rest. */
  private[graft] def rm(p: Path): Unit =
    try {
      if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
        val children = Files.list(p)
        try children.forEach(c => rm(c)) finally children.close()
      }
      Files.deleteIfExists(p)
      ()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
}
