package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming twins of the incremental batch surface (§2.9).
  * The reference has no streaming engine — its 3-hourly watermarked batch
  * (graft.incremental) is the parity implementation — but the same
  * semantics map 1:1 onto Spark streams, and at 100 TB/day this is the
  * deployment shape: file/Kafka source → event-time watermark → windowed
  * aggregate or exactly-once lake append via checkpointed offsets.
  */
object StreamingJobs {

  /** Explicit schema for streaming event sources (readStream requires one;
    * schema-on-read inference is a batch luxury). Timestamps are
    * microsecond-precision (see graft.model.Tables.events for the
    * TIMESTAMP(NANOS) handling on the batch side). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-source stream over a directory of event parquet files. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** Tumbling 1-hour event-time windows with a 1-hour watermark — the
    * streaming twin of q28_hourly_event_windows (§2.9d). The watermark
    * bounds aggregation state: windows older than (max event time − 1 h)
    * are finalized and evicted, so state is O(active windows), not
    * O(stream history). Money rides as exact integer cents, identical to
    * the batch plan. */
  def hourlyWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("total_value"))
      .select(col("window.start").as("window_start"), col("n"), col("total_value"))

  /** Watermark-free twin of [[hourlyWindows]] for COMPLETE-mode
    * verification runs: complete mode retains all window state and emits
    * every window at each trigger, so a drained AvailableNow run produces
    * exactly the batch result — which is what lets the DuckDB oracle check
    * the streaming plan bit-for-bit (q63). Production streams use the
    * watermarked append variant above; this one trades bounded state for
    * verifiability. */
  def hourlyWindowsComplete(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("total_value"))
      .select(col("window.start").as("window_start"), col("n"), col("total_value"))

  /** Streaming exact-dedup on the event id — the stream-side twin of the
    * dedup family (L2): a re-delivered batch (at-least-once sources
    * re-emit on retry) is dropped by key state instead of by a lake
    * rewrite. This unwindowed variant keeps every seen key in state,
    * which is what lets a drain run equal batch DISTINCT exactly (the
    * q78 oracle); production streams bound the state with
    * [[dedupStreamWithinWatermark]]. */
  def dedupStream(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** Production dedup shape: duplicates are only detected inside the
    * watermark horizon and key state is evicted past it — O(horizon)
    * state at any stream length, the standard at-least-once→exactly-once
    * repair. Correct whenever the source's redelivery window is shorter
    * than the watermark delay. */
  def dedupStreamWithinWatermark(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  // ── Stateful sessionization ─────────────────────────────────────────

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  final case class SessionState(lastTsMicros: Long, currentEvents: Long,
                                sessions: Long, maxEvents: Long, totalEvents: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long,
                                max_events: Long, total_events: Long)

  private def micros(ts: java.sql.Timestamp): Long =
    ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L

  /** Gap-based sessionization via `mapGroupsWithState` — the custom-state
    * streaming twin of the batch window plan (q46_user_sessions). Per-user
    * state is O(1): last timestamp + counters; at 100 TB/day this is the
    * shape that replaces the window sort once per-user history no longer
    * fits a batch.
    *
    * Events are sorted within each (group, trigger) invocation; the
    * result equals the batch plan when each user's events arrive within
    * one trigger or in timestamp order across triggers (a file-source
    * drain satisfies the former; out-of-order arrival across triggers is
    * what the batch twin is for). */
  def sessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
                 gapMicros: Long): org.apache.spark.sql.Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSessions] {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0, 0, 0, 0))
          for (e <- sorted) {
            val ts = micros(e.ts)
            s =
              if (s.currentEvents == 0 || ts - s.lastTsMicros > gapMicros)
                SessionState(ts, 1, s.sessions + 1,
                  math.max(s.maxEvents, s.currentEvents), s.totalEvents + 1)
              else
                SessionState(ts, s.currentEvents + 1, s.sessions,
                  s.maxEvents, s.totalEvents + 1)
          }
          state.update(s)
          UserSessions(user, s.sessions,
            math.max(s.maxEvents, s.currentEvents), s.totalEvents)
      }
  }

  /** O(k) KMV merge step: folds a hash iterator into a size-bounded sorted
    * set seeded from the prior sketch. A hash enters only if the sketch is
    * under-full or it beats the current k-th smallest; the set then evicts
    * its max — so the WORKING SET is O(k), independent of how many rows the
    * micro-batch delivers for the day (the earlier
    * `(state ++ it).toArray.distinct.sorted.take(k)` materialized the whole
    * per-(day, batch) group first, the exact overload a bounded-state
    * sketch exists to avoid). Output is the k smallest distinct hashes
    * ascending — bit-identical to the materializing fold for any input
    * order or batch split. */
  private[graft] def kmvFold(prior: Array[Long], hashes: Iterator[Long], k: Int): Array[Long] = {
    val s = scala.collection.mutable.TreeSet.empty[Long]
    s ++= prior // invariant: prior sketches carry ≤ k entries
    hashes.foreach { h =>
      if (s.size < k) s += h
      else if (h < s.last && s.add(h)) s.remove(s.last)
    }
    s.toArray
  }

  private def perDayUserHash(events: DataFrame): DataFrame =
    events.filter(col("user_id").isNotNull)
      .select(col("ts").cast("date").cast("string").as("day"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))

  /** Streaming KMV distinct-count sketch per day — the §2.9 twin of the
    * q174 batch sketch family. State per day is the k smallest DISTINCT
    * md5 hashes of the user ids seen so far: exactly k longs, never
    * more, regardless of input volume — the bounded-state property that
    * makes a sketch the right streaming distinct-counter at 100 TB/day
    * (a plain streaming COUNT(DISTINCT) keys state per user forever).
    * Per-batch working memory is ALSO O(k) via [[kmvFold]], so a single
    * giant micro-batch costs k longs, not the batch. The fold is
    * order-independent and idempotent (k-smallest of a union), so the
    * drained final state is byte-identical no matter how the source files
    * split into micro-batches — which is what lets the batch oracle replay
    * it exactly. Emits the state after every batch (update mode); the
    * final row per day is the one with the fullest, then tightest, sketch.
    *
    * Day keys never expire here (NoTimeout): that is what makes a finite
    * drain equal the whole-history batch oracle. An unbounded production
    * stream accumulates k longs per day forever — tiny, but unbounded in
    * days — so the deployment shape is [[kmvPerDayStreamExpiring]], which
    * retires a day's state once the watermark proves it final. */
  def kmvPerDayStream(events: DataFrame, k: Int): org.apache.spark.sql.Dataset[(String, Long, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    import org.apache.spark.sql.streaming.GroupStateTimeout
    perDayUserHash(events)
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (String, Long, Long)](GroupStateTimeout.NoTimeout) {
        (day: String, it: Iterator[(String, Long)], state: GroupState[Array[Long]]) =>
          val merged = kmvFold(state.getOption.getOrElse(Array.empty[Long]), it.map(_._2), k)
          state.update(merged)
          (day, merged.length.toLong, merged.last)
      }
  }

  /** Production variant of [[kmvPerDayStream]]: same sketch, same O(k)
    * fold, plus EVENT-TIME EXPIRY of day-key state. Each update arms an
    * event-time timeout at the day's end-of-day instant (UTC — the session
    * timezone the `day` key was derived in); once the watermark (event
    * time − `horizon`) passes it, the group times out, its state is
    * removed, and nothing further is emitted — the last in-day snapshot
    * already was the final sketch. Total state is therefore O(active days
    * within the watermark horizon), not O(stream-lifetime days). Events
    * later than the horizon would re-create a retired day from scratch;
    * correctness of the retire therefore has the standard watermark
    * contract (lateness ≤ horizon), which is the same promise every
    * watermarked aggregation in this file makes. */
  def kmvPerDayStreamExpiring(events: DataFrame, k: Int, horizon: String): org.apache.spark.sql.Dataset[(String, Long, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the watermarked event-time column must survive projection all the way
    // into the stateful operator, or the analyzer (rightly) rejects the
    // event-time timeout — hence the 3-column shape vs perDayUserHash
    events.withWatermark("ts", horizon)
      .filter(col("user_id").isNotNull)
      .select(col("ts").cast("date").cast("string").as("day"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"),
        col("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (day: String, it: Iterator[(String, Long, java.sql.Timestamp)], state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val merged = kmvFold(state.getOption.getOrElse(Array.empty[Long]), it.map(_._2), k)
            state.update(merged)
            val endOfDay = java.time.LocalDate.parse(day).plusDays(1)
              .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
            // timeout timestamps must sit beyond the current watermark; a
            // straggler inside the horizon that arrives after its day's
            // boundary just re-arms one batch ahead
            state.setTimeoutTimestamp(math.max(endOfDay, state.getCurrentWatermarkMs + 1))
            Iterator.single((day, merged.length.toLong, merged.last))
          }
      }
  }

  /** Stream-stream interval join (click→purchase attribution): every
    * purchase joined to the same user's clicks in the preceding
    * `windowMicros`. Both sides carry event-time watermarks, and the join
    * condition bounds the event-time distance, so each side's buffered
    * state is O(watermark horizon): a click older than (purchase watermark
    * − window) can never match again and is evicted — THE mechanism that
    * lets two unbounded streams join with bounded memory at 100 TB/day.
    * Inner joins emit eagerly on match, so an AvailableNow drain of a
    * finite source produces exactly the batch join. */
  /** `joinType = "left_outer"` adds the unmatched-purchase rows (null
    * click columns), which the engine can only emit once the click-side
    * watermark has passed the purchase's match window — late-arriving
    * clicks must be provably impossible before the "no click" verdict is
    * final. That makes outer results WATERMARK-PACED: a drain whose last
    * batch doesn't advance the watermark past the window holds back the
    * tail (exercised batch-by-batch in StreamingSpec). */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
                      windowMicros: Long, watermark: String,
                      joinType: String = "inner"): DataFrame = {
    val p = purchases.select(
      col("event_id").as("purchase_id"), col("user_id").as("p_user"),
      col("ts").as("purchase_ts")).withWatermark("purchase_ts", watermark)
    val c = clicks.select(
      col("event_id").as("click_id"), col("user_id").as("c_user"),
      col("ts").as("click_ts")).withWatermark("click_ts", watermark)
    p.join(c, expr(
      s"""p_user = c_user AND
         |click_ts <= purchase_ts AND
         |click_ts > purchase_ts - INTERVAL ${windowMicros / 1000000} SECONDS""".stripMargin),
      joinType)
  }

  /** Stream-static enrichment join: the unbounded stream joined to a
    * bounded dimension. Stateless — nothing is buffered across triggers
    * (unlike stream-stream joins). The dim's FILES are re-read at each
    * micro-batch execution, but its file listing is pinned when the plan
    * resolves — so on plain parquet, swapping in a refreshed dim is a
    * query-restart operation (checkpointed offsets make the restart
    * seamless; snapshot-refreshing table formats lift the restriction).
    * The explicit broadcast keeps every micro-batch's join map-side: at
    * 100 TB/day the stream side never shuffles, which is the entire
    * point of enriching in-stream instead of joining after landing. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    streamKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey))

  // ── Suppression guard with per-batch ledger re-resolution ────────────

  /** One micro-batch of the erasure-ledger suppression guard (q202's
    * bloom + exact-verify split as pure batch logic): the
    * overwhelmingly-common untainted row dies on the STATELESS map-side
    * bloom short-circuit; only bloom candidates reach the exact
    * left-anti-style verify join, where false positives are removed
    * (false negatives don't exist, so suppression is exact). An empty
    * ledger passes the batch through untouched. */
  def suppressBatch(batch: DataFrame, ledger: DataFrame): DataFrame = {
    val ids = ledger.select(col("user_id")).distinct()
    val bloomRow = ids
      .agg(graft.functions.BloomOps.bloomAgg(
        xxhash64(col("user_id")), 1L << 12, 1L << 17).as("bf"))
      .head
    if (bloomRow.isNullAt(0)) batch
    else {
      val might = graft.functions.BloomOps.mightContain(
        lit(bloomRow.getAs[Array[Byte]]("bf")), xxhash64(col("user_id")))
      batch.filter(!might).unionByName(
        batch.filter(might)
          .join(broadcast(ids.withColumn("__supp", lit(1))),
            Seq("user_id"), "left_outer")
          .filter(col("__supp").isNull).drop("__supp"))
    }
  }

  /** The PRODUCTION form of q202's guard: the erasure ledger is
    * RE-RESOLVED at every micro-batch instead of frozen into the plan at
    * stream start — `foreachBatch` reads the ledger directory fresh each
    * trigger, so an erasure request that lands MID-STREAM suppresses every
    * batch after it without a query restart (q202's in-plan bloom literal
    * and stream-static join both pin their file listings at analysis
    * time; this is the q109 stream-static re-resolution idiom applied to
    * the suppression bloom). Per-batch cost is one dim-sized aggregate to
    * rebuild the few-KiB bloom — at 100 TB/day the ledger is
    * dim-sized by law (erasure requests), so the rebuild is noise next to
    * the batch scan it protects. Output lands per-batchId (mode-overwrite
    * ⇒ crash-replay idempotent, the StreamingDedup contract). */
  def suppressionGuardTo(events: DataFrame, ledgerDir: String, outDir: String,
                         checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ledger = batch.sparkSession.read.parquet(ledgerDir)
        suppressBatch(batch, ledger)
          .write.mode("overwrite").parquet(s"$outDir/b=$batchId")
      }

  /** Exactly-once-ish partitioned lake append (§2.9c): checkpointed source
    * offsets replace the text-file watermark, `foreachBatch` applies the
    * same clean→append batch logic as `Incremental.runBatch` — each
    * micro-batch is hash-partitioned on its event day once
    * (`Clean.partitionByDay`), so the dedup and the per-day write share
    * one shuffle. `Trigger.AvailableNow` drains what exists and stops —
    * the reference's cron-batch cadence without its stale-state
    * double-write hazard. */
  def toLake(events: DataFrame, lakeRoot: String, checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.PartitionedLake.append(
          graft.etl.Clean.cleanEvents(graft.etl.Clean.partitionByDay("ts")(batch)), lakeRoot)
      }
}
