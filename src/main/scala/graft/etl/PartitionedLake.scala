package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DateType, IntegerType, StringType, StructField, StructType}

/** The partitioned parquet lake — the reference's whole output side
  * (ref: pipeline/ETL/load.py:50-56 `wr.s3.to_parquet(dataset=True,
  * partition_cols=['year','month','day'], mode='append')`; dims
  * ref: pipeline/ETL/partition_transactions.py:21-31).
  *
  * Layout is Hive-style `year=Y/month=M/day=D` with unpadded values —
  * Spark's `partitionBy` convention, which matches the reference's S3
  * dataset (its local backup zero-pads; SURVEY §7.4 trap 4 standardizes on
  * unpadded).
  *
  * Why this matters at 100 TB: predicates on the partition *columns* prune
  * at file-listing time (`PartitionFilters` in the scan node — zero IO for
  * excluded days), while predicates on derived expressions of a timestamp
  * (`year(ts) = 2000`) must scan every file. A daily report over a
  * 7-year lake reads 1/2500th of the data instead of all of it.
  */
object PartitionedLake {

  val PartitionCols: Seq[String] = Seq("year", "month", "day")

  /** Derive the partition columns from an event-timestamp column
    * (ref: load.py:45-47). */
  def withPartitionCols(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("year", year(col(tsCol)).cast("int"))
      .withColumn("month", month(col(tsCol)).cast("int"))
      .withColumn("day", dayofmonth(col(tsCol)).cast("int"))

  /** Incremental append of one batch (U2/S6). Caller is responsible for
    * watermark discipline (graft.incremental) — append is only exactly-once
    * under the watermark policy, same as the reference.
    *
    * Writers are aligned to partition directories (`repartition` on the
    * partition columns) so each batch adds ONE file per touched day, not
    * one per (task × day): an unaligned 32-task append over a 30-day batch
    * sprays ~1000 small files, and at 100 TB cadence that kills scan
    * throughput on open() calls (what [[compact]] exists to repair —
    * better to not make the mess). A day too large for one writer task
    * (straggler/OOM risk) gets `saltBuckets > 1`: a deterministic
    * row-content hash mod `saltBuckets` is appended to the repartition
    * key, spreading each day over up to that many writers/files — size it
    * to expected day volume / target file size. */
  def append(df: DataFrame, root: String, saltBuckets: Int = 1): Unit = {
    val out =
      if (saltBuckets <= 1) df.repartition(PartitionCols.map(col): _*)
      else {
        // Pin the shuffle's partition count: AQE coalesces a bare
        // repartition(cols) over a small shuffle back to ONE partition,
        // which would silently undo the salt (single writer again).
        val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        df.repartition(math.max(n, saltBuckets),
          PartitionCols.map(col) :+
            pmod(xxhash64(df.columns.map(col): _*), lit(saltBuckets)): _*)
      }
    out.write.mode("append").partitionBy(PartitionCols: _*).parquet(root)
  }

  /** Full idempotent (re)build — used for the derived test lakes. */
  def overwrite(df: DataFrame, root: String): Unit =
    df.write.mode("overwrite").partitionBy(PartitionCols: _*).parquet(root)

  /** Unpartitioned single-file dimension write (S5; ref:
    * partition_transactions.py:21-31 — "small tables that rarely change"). */
  def writeDim(dim: DataFrame, path: String): Unit =
    dim.coalesce(1).write.mode("overwrite").parquet(path)

  /** Partition-discovering scan of the lake (S7). */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(root)

  /** Small-file compaction: incremental appends (3-hourly batches, ref
    * cadence) leave one file per batch per day-partition; at 100 TB that
    * is millions of small files and scan throughput dies on open() calls.
    * Rewrite each partition to one file (`repartition` on the partition
    * columns aligns writer tasks with directories), then swap the directory
    * with two renames: old lake moves aside, compacted copy moves in, old
    * copy is deleted last. A crash at any point leaves at least one full
    * copy on disk (at `root`, `__old`, or `__compacting`) — the old data is
    * never deleted before the replacement is in place. Run out-of-band,
    * like a real lake's maintenance job. */
  def compact(spark: SparkSession, root: String): Unit = {
    val tmp = root + "__compacting"
    val old = root + "__old"
    overwrite(
      read(spark, root).repartition(PartitionCols.map(org.apache.spark.sql.functions.col): _*),
      tmp)
    deleteRecursively(Paths.get(old)) // leftover from a previously crashed run
    Files.move(Paths.get(root), Paths.get(old))
    Files.move(Paths.get(tmp), Paths.get(root))
    deleteRecursively(Paths.get(old))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursively) finally children.close()
    }
    Files.deleteIfExists(p)
  }

  /** Catalog registration (S11) — the Glue-crawler analog
    * (ref: terraform_s3/main.tf:126-146): register the lake as an external
    * table and recover its partitions, so `spark.sql` queries hit it by
    * name with full partition pruning. Re-runnable (drop + recreate —
    * `UPDATE_IN_DATABASE` behavior). */
  def registerTable(spark: SparkSession, name: String, root: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING PARQUET LOCATION '$root'")
    spark.sql(s"MSCK REPAIR TABLE $name")
  }

  /** Bucketed external table — the co-located join path. Two facts
    * bucketed (and sorted) on their join key with the same bucket count
    * join WITHOUT shuffling either side: each task merge-joins bucket i of
    * the left with bucket i of the right (asserted shuffle-free by
    * BucketedJoinSpec). At 100 TB this is THE lever for repeated
    * fact-to-fact joins — the shuffle is paid once at write time, then
    * every join of the two lakes is exchange-free. Bucketing requires the
    * catalog (`saveAsTable`); `path` keeps the data external. */
  def writeBucketed(spark: SparkSession, df: DataFrame, table: String,
                    path: String, buckets: Int, keyCol: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .saveAsTable(table)
  }

  // ── Derived test lake ─────────────────────────────────────────────────

  /** Root directory for lakes derived from a given source sf dir. */
  def lakeRoot(sfDir: String): String =
    s"data/lake/${sfDir.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_|_$", "")}"

  /** `root`, after running `write(root)` unless an earlier write
    * committed there. Spark's `_SUCCESS` commit marker is the cache: a
    * build that never committed is redone, and a committed one is never
    * checked against its inputs (they are path-immutable, see
    * [[graft.model.Tables.load]]). One lock for every such build, so
    * concurrent callers never race the check. */
  def buildOnce(root: String)(write: String => Unit): String = synchronized {
    if (!Files.exists(Paths.get(root, "_SUCCESS"))) write(root)
    root
  }

  /** Write `df` partitioned by the `year/month/day` of `tsCol`, one file
    * per day (`repartition` by (year, month) keeps writer tasks aligned
    * with directories — no small-file spray). */
  private def overwriteByDay(df: DataFrame, tsCol: String, root: String): Unit =
    overwrite(withPartitionCols(df, tsCol).repartition(col("year"), col("month")), root)

  /** The lineitem lake's data schema, the one definition [[ensureLineitemLake]]
    * writes in and [[readDay]] readers pass: `lineitem`'s columns, then
    * the daily report's two dimension attributes, each after a flag that
    * its key matched — `has_s`, `s_name` (from `supplier`) and `has_o`,
    * `o_orderpriority` (from `orders`). A flag tells an unmatched key
    * (false, attribute null) from a matched dimension row whose attribute
    * is null (true, null). Every column is nullable, as parquet reads
    * every column back. */
  def lineitemLakeSchema(spark: SparkSession, sfDir: String): StructType =
    StructType(graft.model.Tables.lineitem(spark, sfDir).schema.fields ++ Seq(
      StructField("has_s", BooleanType), StructField("s_name", StringType),
      StructField("has_o", BooleanType), StructField("o_orderpriority", StringType)))

  /** The ship-date leaf's root, beside the day lake under [[lakeRoot]]. */
  def lineitemByShipRoot(sfDir: String): String = s"${lakeRoot(sfDir)}/lineitem_by_ship"

  /** The ship-date leaf's schema: the dashboard's columns of the
    * denormalized fact, typed as the base tables' pinned schemas
    * ([[graft.model.Schemas]]) type them, plus `l_shipday`, the `DATE` of
    * `l_shipdate` and the leaf's clustering key. Parquet pushes `DATE`
    * predicates down to its footer statistics but not `TIMESTAMP_NTZ`
    * ones (`l_shipdate`'s type), so a date range prunes files and row
    * groups only through `l_shipday`. Every column is nullable, as parquet
    * reads every column back; a reader passes this schema and runs no
    * inference job. */
  val lineitemByShipSchema: StructType = {
    import graft.model.Schemas
    val fields = (Seq(Schemas.lineitem, Schemas.supplier, Schemas.orders).flatMap(_.fields) :+
      StructField("l_shipday", DateType)).map(f => f.name -> f).toMap
    StructType(Seq("l_orderkey", "l_shipdate", "l_shipday", "l_extendedprice", "l_discount",
      "s_name", "s_nationkey", "s_acctbal", "o_orderpriority").map(fields))
  }

  /** Build (once each) the two leaves of the lineitem lake derived from
    * `sfDir`, returning the day lake's root. Both take their rows from one
    * join: each line LEFT joined to `supplier` and to `orders` (both by
    * primary key, so no line is duplicated or dropped) — the reference
    * denormalizes at extract time (pipeline/ETL/extract.py:86-109), so
    * neither the daily report nor a dashboard filter change reads a
    * dimension.
    *   - `lineitem_denorm`: every line in [[lineitemLakeSchema]],
    *     `year/month/day`-partitioned with one file per day; a report
    *     reads one day directory.
    *   - `lineitem_by_ship` ([[lineitemByShipRoot]]): the lines that
    *     matched both dimensions (the inner join) in
    *     [[lineitemByShipSchema]], range-partitioned into 16 files and
    *     sorted by ship day (`l_shipday`), so a date range prunes files
    *     and row groups by their footer statistics; the dashboard reads
    *     it.
    * Each leaf is cached on disk by its own `_SUCCESS` marker
    * ([[buildOnce]]), so a lake built before one leaf existed gains it
    * on the next call. The leaves are derived from three PATH-IMMUTABLE
    * inputs — `lineitem`, `supplier` and `orders` under `sfDir` (see
    * [[graft.model.Tables.load]]): a writer that rewrites any of them in
    * place must also delete [[lakeRoot]].
    */
  def ensureLineitemLake(spark: SparkSession, sfDir: String): String = {
    import graft.model.Tables
    def wide = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")),
        col("l_suppkey") === col("s_suppkey"), "left_outer")
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"), "left_outer")
      .withColumn("has_s", col("s_suppkey").isNotNull)
      .withColumn("has_o", col("o_orderkey").isNotNull)
    def in(df: DataFrame, schema: StructType) = df.select(schema.fieldNames.map(col): _*)
    buildOnce(lineitemByShipRoot(sfDir)) { root =>
      val inner = wide.where(col("has_s") && col("has_o"))
        .withColumn("l_shipday", to_date(col("l_shipdate")))
      ZOrder.writeClustered(in(inner, lineitemByShipSchema), col("l_shipday"),
        files = 16, root)
    }
    buildOnce(s"${lakeRoot(sfDir)}/lineitem_denorm") { root =>
      overwriteByDay(in(wide, lineitemLakeSchema(spark, sfDir)), "l_shipdate", root)
    }
  }

  /** Build (once) the micros-typed, day-partitioned events lake derived
    * from `sfDir`. The driver's raw `events.parquet` carries
    * TIMESTAMP(NANOS), which the reader must rebuild via
    * `timestamp_micros(ts div 1000)` — a derived expression that
    * structurally blocks every ts predicate from reaching the parquet
    * scan. Re-landing the table ONCE as a Spark-written lake (INT64
    * micros + year/month/day directories) is the production answer: each
    * downstream incremental/IVM delta predicate then prunes at the
    * parquet footer (`PushedFilters`) and — paired with [[sinceDay]] /
    * [[upToDay]] — at the file listing (`PartitionFilters`), which is the
    * entire "re-aggregate only the delta" story at 100 TB. */
  def ensureEventsLake(spark: SparkSession, sfDir: String): String =
    buildOnce(s"${lakeRoot(sfDir)}/events") { root =>
      overwriteByDay(graft.model.Tables.events(spark, sfDir), "ts", root)
    }

  import org.apache.spark.sql.Column

  /** Partition-pruning twin of `ts >= day` (day granularity, inclusive):
    * the (year, month, day) tuple comparison that prunes whole day
    * directories at file-listing time. Conservative — always AND it with
    * the exact ts predicate; it only discards directories that cannot
    * contain matching rows. */
  def sinceDay(d: java.time.LocalDate): Column =
    col("year") > d.getYear ||
      (col("year") === d.getYear &&
        (col("month") > d.getMonthValue ||
          (col("month") === d.getMonthValue && col("day") >= d.getDayOfMonth)))

  /** Partition-pruning twin of `ts <= end-of-day` (inclusive). */
  def upToDay(d: java.time.LocalDate): Column =
    col("year") < d.getYear ||
      (col("year") === d.getYear &&
        (col("month") < d.getMonthValue ||
          (col("month") === d.getMonthValue && col("day") <= d.getDayOfMonth)))

  /** The directory of one day: `<root>/year=Y/month=M/day=D`, unpadded —
    * the prefix the reference builds by hand (generate_report.py:32). */
  def dayDir(root: String, d: java.time.LocalDate): String =
    s"$root/year=${d.getYear}/month=${d.getMonthValue}/day=${d.getDayOfMonth}"

  /** One day of the lake, read from [[dayDir]] alone: the root is never
    * listed, so the cost is one directory listing whatever the lake's
    * history. `dataSchema` is the files' schema (for the lineitem lake,
    * [[lineitemLakeSchema]]); `year`/`month`/`day`
    * are appended as `IntegerType` (`basePath` keeps them as columns), so
    * no footer-inference job runs and the result has [[read]]'s schema.
    * A day with no directory is an empty local relation with that schema
    * — decided by one `exists` call, not a listing. */
  def readDay(spark: SparkSession, root: String, d: java.time.LocalDate,
              dataSchema: StructType): DataFrame = {
    val schema = StructType(dataSchema.fields ++
      PartitionCols.map(StructField(_, IntegerType, nullable = true)))
    val dir = new Path(dayDir(root, d))
    if (dir.getFileSystem(spark.sessionState.newHadoopConf()).exists(dir))
      spark.read.schema(schema).option("basePath", root).parquet(dir.toString)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }
}
