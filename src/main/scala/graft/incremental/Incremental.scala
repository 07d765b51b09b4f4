package graft.incremental

import java.nio.file.{Files, Paths, Path}
import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.LocalDateTime

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.etl.{Clean, PartitionedLake}

/** The incremental batch runner — the reference's 3-hourly ETL loop
  * restated as one lazy Spark plan per batch with driver-side watermark
  * state (ref: pipeline/ETL/extract.py:36-81,142-143 state file;
  * pipeline/ETL/pipeline.py:13-16 empty-batch short-circuit;
  * pipeline/ETL/load.py:50-56 partitioned append).
  *
  * Semantics reproduced exactly:
  *   - state = one ISO-8601 `max(at)` timestamp in a text file; missing
  *     file ⇒ first run ⇒ full extract (extract.py:66-70);
  *   - extraction bound is strictly-greater-than watermark **plus one
  *     second** (extract.py:51-53) — late rows inside the same second are
  *     dropped; SURVEY §7.4 trap 2 documents the `>=`+dedup alternative;
  *   - zero extracted rows short-circuit the batch (no write, no state
  *     update — pipeline.py:13-16);
  *   - each batch cleans, derives year/month/day, appends to the lake,
  *     then persists the new `max(at)`.
  *
  * Exactly-once story (same as the reference): appends are idempotent only
  * under watermark discipline — re-running with stale state double-writes.
  * The Structured Streaming twin with checkpointed offsets lives in
  * graft.streaming; this module is the deliberate batch restatement.
  *
  * One batch is one Spark action with one shuffle: the cleaned batch is
  * written under an `Observation` of (row count, max ts), read only after
  * the write returns, and the batch is hash-partitioned on its event day
  * once ([[graft.etl.Clean.partitionByDay]]), which serves both the dedup
  * window and the one-file-per-day append.
  *
  * At scale: the watermark filter is pushed to the source scan (JDBC
  * pushdown; on parquet a `PushedFilters` entry, which skips whole row
  * groups by their statistics — a source of one row group, like the test
  * `events` file, is still read whole every batch). State IO is O(1)
  * driver-side, and the append only touches the partitions present in
  * the batch.
  */
final class Incremental(stateFile: Path) {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Read the persisted watermark; None on first run (extract.py:66-70). */
  def readState(): Option[Timestamp] =
    if (Files.exists(stateFile))
      Some(Timestamp.valueOf(LocalDateTime.parse(
        Files.readString(stateFile).trim, fmt)))
    else None

  /** Persist the new watermark (extract.py:142-143). */
  def writeState(ts: Timestamp): Unit = {
    Files.createDirectories(stateFile.getParent)
    Files.writeString(stateFile, ts.toLocalDateTime.format(fmt))
  }

  /** The extraction lower bound: watermark + 1 s (extract.py:51-53). */
  def adjustedBound(w: Timestamp): Timestamp =
    Timestamp.valueOf(w.toLocalDateTime.plusSeconds(1))

  /** Incremental extract: everything after the adjusted watermark
    * (S2/P11 — the filter reaches the source scan). */
  def extract(source: DataFrame, tsCol: String): DataFrame =
    readState() match {
      case Some(w) => source.filter(col(tsCol) > lit(adjustedBound(w)))
      case None    => source
    }

  /** Run one batch: extract → clean → append → advance state.
    * Returns the number of rows appended (0 ⇒ short-circuited).
    *
    * The write is the batch's only action; (n, max ts) come from an
    * `Observation` on it, read only once the write has returned, so a
    * failed write throws before any state is touched. An empty batch still
    * runs the (empty) write, which leaves a `_SUCCESS` marker: if the lake
    * root did not exist before, the marker and the root are removed again,
    * so an empty batch leaves no lake behind — without an emptiness probe,
    * which would cost a second job on every batch. */
  def runBatch(source: DataFrame, lakeRoot: String): Long = {
    val obs = Observation()
    val cleaned = Clean.cleanEvents(Clean.partitionByDay("ts")(extract(source, "ts")))
      .observe(obs, count(lit(1)).as("n"), max(col("ts")).as("max_ts"))
    val root = new HPath(lakeRoot)
    val fs = root.getFileSystem(source.sparkSession.sessionState.newHadoopConf())
    val existed = fs.exists(root)
    PartitionedLake.append(cleaned, lakeRoot)
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    if (n > 0) writeState(m("max_ts").asInstanceOf[Timestamp])
    else if (!existed) { // empty-batch short-circuit (pipeline.py:13-16)
      Seq("_SUCCESS", "._SUCCESS.crc").foreach(f => fs.delete(new HPath(root, f), false))
      if (fs.listStatus(root).isEmpty) fs.delete(root, false)
    }
    n
  }
}

object Incremental {
  /** Runner with the reference's state path layout
    * (`pipeline-state/last_run.txt`). */
  def apply(stateDir: String): Incremental =
    new Incremental(Paths.get(stateDir, "pipeline-state", "last_run.txt"))
}
