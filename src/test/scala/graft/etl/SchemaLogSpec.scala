package graft.etl

import java.nio.file.Paths
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Run by [[SchemaLogSpec]] in a JVM of its own: resolves the schema of
  * the lake at `args(0)` three ways — [[SnapshotLake.schemaOf]] at the
  * head and at a middle version, and a connector `load` — and prints the
  * Spark jobs they ran and the schemas they answered. */
object SchemaLogChild {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = TestSpark.spark
    val mid = SnapshotLake.currentVersion(root).get / 2
    var schemas = Seq.empty[String]
    val (jobs, _) = TestSpark.jobsAndTasks {
      schemas = Seq(SnapshotLake.schemaOf(root), SnapshotLake.schemaOf(root, Some(mid)),
        spark.read.format("graftlake").load(root).schema).map(_.simpleString)
    }
    println(s"JOBS $jobs")
    schemas.foreach(s => println(s"SCHEMA $s"))
    spark.stop()
  }
}

class SchemaLogSpec extends AnyFunSuite {
  test("in a fresh JVM a 1,000-version lake's schema resolves with no Spark job and no footer") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = TestSpark.tempDir("graft-schema-log").toString + "/lake"
    SnapshotLake.append(Seq((1L, "a")).toDF("k", "v"), root)
    // 999 versions whose listed files do not exist: opening any footer
    // of the lake would fail
    (2 to 1000).foreach(i =>
      SnapshotLake.commitSynthetic(root, Seq(f"data/missing-$i%04d/part-0.parquet"), 1L))
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val child = new ProcessBuilder((Seq(javaBin) ++ jvm ++ Seq("-Xmx1g", "-cp",
        System.getProperty("java.class.path"), "graft.etl.SchemaLogChild", root)).asJava)
      .redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes())
    assert(child.waitFor(120, TimeUnit.SECONDS) && child.exitValue == 0, out)
    val lines = out.linesIterator.toSeq
    assert(lines.contains("JOBS 0"), out)
    assert(lines.filter(_.startsWith("SCHEMA ")) ==
      Seq.fill(3)("SCHEMA struct<k:bigint,v:string>"), out)
  }
}
