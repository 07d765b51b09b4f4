package graft.etl

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** Run by [[ScratchSpec]] in a JVM of its own: makes a scratch dir with
  * files in it, prints its path and exits. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val dir = Scratch.tempDir("graft-scratch-spec")
    Files.createDirectories(dir.resolve("sub"))
    Files.writeString(dir.resolve("sub/part-0.parquet"), "x")
    Files.writeString(dir.resolve("_SUCCESS"), "")
    println(dir)
  }
}

class ScratchSpec extends AnyFunSuite {
  test("a JVM's scratch dirs are gone after it exits") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(java, "-Xmx64m", "-cp", System.getProperty("java.class.path"),
      "graft.etl.ScratchChild").redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes()).trim
    assert(child.waitFor(60, TimeUnit.SECONDS) && child.exitValue == 0, out)
    val dir = Paths.get(out.linesIterator.toSeq.last)
    assert(dir.getFileName.toString.startsWith("graft-scratch-spec"), out)
    assert(!Files.exists(dir), s"$dir outlived its JVM")
  }
}
