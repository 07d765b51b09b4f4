package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    // SPARK_GRAFT_VERIFY_ONLY=q120,q35 → dump only the named queries
    // (prefix match) — local-iteration lever, the driver sets nothing.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    dump(spark, sfDir, outDir, name => only.forall(_.exists(name.startsWith)))
    spark.stop()
  }

  /** The dump body, shared with [[ScaleVerify]] (VERDICT r18 ask 1):
    * every included query's result written to `outDir/<name>`, plus
    * oracle_sql.json and the emitted/input schema record. */
  private[graft] def dump(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String, outDir: String,
                          include: String => Boolean,
                          timed: Boolean = false): Unit = {
    new java.io.File(outDir).mkdirs()
    // Emitted-schema record (name → col:type), written alongside the
    // results and diffed against the committed golden
    // (tools/schema_golden.json) by tools/check.py: a testdata
    // regeneration that shifts an output type (round 6: events.parquet
    // µs→ns) surfaces as a reviewable schema diff BEFORE the driver's
    // hash gate goes red.
    val schemas = scala.collection.mutable.TreeMap.empty[String, Seq[String]]
    // Input-table footer schemas, recorded as they arrive at rest (raw
    // spark.read, BEFORE any reader normalization such as Tables.events'
    // ts handling): a driver-side testdata regeneration (round 8: events
    // ts nanos→micros) surfaces here as a reviewable `input:` diff even
    // when the engine tolerates the change.
    graft.model.Tables.names.foreach { t =>
      try schemas(s"input:$t") = spark.read.parquet(s"$sfDir/$t.parquet")
        .schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.sql}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] input:$t unreadable: ${e.getMessage}") }
    }
    SparkEntry.queries
      .filter { case (name, _) => include(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // recorded only AFTER the successful write: a failed write must not
        // leave a clean schema entry for a query with no comparable output
        schemas(name) = df.schema.fields.toSeq
          .map(f => s"${f.name}:${f.dataType.sql}")
        if (timed) println(f"VERIFY $name%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (timed) println(f"VERIFY $name%-36s FAILED")
      }
      Runner.cleanup(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Runner.json(k)}: ${Runner.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val schemaJson = schemas
      .map { case (k, cols) =>
        s"${Runner.json(k)}: ${cols.map(Runner.json).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/schemas.json"), schemaJson)
  }
}
