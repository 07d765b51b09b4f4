package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Reusable cleaning operators mirroring the reference's transform stage
  * (reference `pipeline/ETL/transform.py:10-46`), composed as ONE lazy
  * Catalyst plan instead of seven eager pandas steps with CSV hops between
  * them (SURVEY.md §3.1). Each helper is a `DataFrame => DataFrame` so ETL
  * pipelines chain them with `transform(...)`.
  *
  * Scale notes: the only shuffle in the whole chain is the window used for
  * deterministic keep-first dedup. Over a whole table it is one hash
  * exchange on the seven dedup keys. A lake writer first applies
  * [[partitionByDay]]: that hash partitioning on the event day already
  * clusters the window's keys and the writer's `year/month/day`, so the
  * batch shuffles once, before the cleaning, and neither the window nor
  * `PartitionedLake.append`'s repartition adds another exchange.
  * Everything else is narrow and stays inside a single WholeStageCodegen
  * span on top of the scan.
  */
object Clean {

  /** P2+P3: drop null and zero measures (transform.py:14-16). */
  def dropNullOrZero(measure: String)(df: DataFrame): DataFrame =
    df.filter(col(measure).isNotNull && col(measure) =!= 0)

  /** P4: multi-column null guard over critical columns (transform.py:40-42). */
  def dropNullCritical(cols: Seq[String])(df: DataFrame): DataFrame =
    df.na.drop(cols = cols)

  /** P5: pence→pounds money normalization (transform.py:21). */
  def penceToPounds(c: String)(df: DataFrame): DataFrame =
    df.withColumn(c, col(c).cast("double") / 100)

  /** A12 made deterministic (SURVEY.md §7.4 trap 1): the reference's
    * pandas `drop_duplicates(keep='first')` (transform.py:29-37) depends on
    * input order; across Spark partitions that order does not exist, so we
    * pin "first" to the smallest `orderCol` per key with a row_number
    * window. One shuffle on `keys`.
    */
  def dedupKeepFirst(keys: Seq[String], orderCol: String)(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The `year`, `month` and `day` of an event timestamp, by column name. */
  private def dayOf(ts: Column): Seq[(String, Column)] =
    Seq("year" -> year(ts), "month" -> month(ts), "day" -> dayofmonth(ts))

  /** F4: derive year/month/day partition columns from the event timestamp
    * (load.py:45-47) — unpadded integer values, matching Spark's own
    * `partitionBy` convention (SURVEY.md §7.4 trap 4).
    */
  def derivePartitionCols(tsCol: String)(df: DataFrame): DataFrame =
    dayOf(col(tsCol)).foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }

  /** Hash-partition a raw batch on the day of `tsCol`, with the same
    * expressions [[derivePartitionCols]] names. Applied before
    * [[cleanEvents]] by a lake writer, it is the batch's one shuffle: the
    * dedup window and the writer's per-day repartition are both clustered
    * by it, so the planner adds no further exchange.
    */
  def partitionByDay(tsCol: String)(df: DataFrame): DataFrame =
    df.repartition(dayOf(col(tsCol)).map(_._2): _*)

  /** The full cleaning pipeline over the `events` table, stage order as in
    * transform.py:10-46: value null/zero filter → partition-column
    * derivation → keep-first dedup on the natural key → projection. The
    * dedup key leads with `year/month/day`: they are functions of `ts`, so
    * the result is the four-key dedup's, and an input already partitioned
    * by [[partitionByDay]] satisfies the window without an exchange.
    */
  def cleanEvents(events: DataFrame): DataFrame =
    events
      .transform(dropNullOrZero("value"))
      .transform(dropNullCritical(Seq("event_id", "ts", "user_id", "event_type", "value")))
      .transform(derivePartitionCols("ts"))
      .transform(dedupKeepFirst(
        Seq("year", "month", "day", "ts", "user_id", "event_type", "value"), "event_id"))
      .select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (round(col("value") * 100) / 100.0).as("value"),
        col("year"), col("month"), col("day"))
}
