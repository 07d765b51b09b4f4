package graft

import org.apache.spark.sql.SparkSession

/** What every query-running main (Bench, Verify and ScaleVerify,
  * ProfileQ, ScaleAudit) does between queries, and how it writes JSON. */
object Runner {
  /** Release what one query left in the session, so it cannot weigh on
    * the next: its persisted intermediates (LSH signatures etc. — left to
    * accumulate across the inventory they starve later queries'
    * execution memory), any stream still running (AvailableNow drains
    * stop themselves; this is a belt), the memory-sink temp views that
    * hold a stream's drained rows in driver memory, and the
    * localCheckpoint blocks `clearCache` cannot see (checkpoint blocks
    * are RDD-level, and the async ContextCleaner reclaims them too late
    * for a suite of hundreds of queries). Cross-query memoized state is
    * parquet- or local-rows-backed, so this drops only dead blocks. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.streams.active.foreach(_.stop())
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.contains("_sink_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** `s` as a JSON string literal: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make a reader's json.load fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
