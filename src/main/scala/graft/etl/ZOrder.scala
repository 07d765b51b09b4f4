package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Z-order (Morton-curve) file layout: interleave the bits of two scan
  * dimensions and range-partition + sort files by the interleaved value,
  * so EVERY file covers a small rectangle of the (a, b) key space instead
  * of a thin stripe of one dimension. Parquet footers then carry tight
  * min/max for BOTH columns and a two-dimension predicate skips most
  * files — the multi-dimension data-skipping lever single-column sort
  * can't provide (sorting by `a` alone leaves each file spanning the
  * whole `b` domain). This is the same layout Delta/Iceberg `OPTIMIZE
  * ZORDER BY` produces, built from plain Spark operations: a bit-twiddle
  * Column expression, `repartitionByRange`, `sortWithinPartitions`.
  *
  * At 100 TB the win compounds: file count grows with data, but the
  * fraction of files intersecting a (suppkey-range × partkey-range) query
  * box stays ~constant under Z-order, where a one-dimension sort degrades
  * toward reading everything for any selective second-dimension filter.
  */
object ZOrder {

  /** Bits interleaved per dimension. 16 bits each covers key domains up
    * to 65536 after the caller's normalization; the interleaved value
    * fits comfortably in a long. */
  val BitsPerDim = 16

  /** Morton-interleave two non-negative int columns (low `BitsPerDim`
    * bits each): bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Pure Catalyst column arithmetic — codegen'd, no UDF. */
  def interleave(a: Column, b: Column): Column =
    (0 until BitsPerDim).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Write `df` range-partitioned on `key` into `files` roughly equal
    * files, each sorted by `key`: every file and row group then covers
    * one narrow band of `key`, so a predicate on it prunes by the parquet
    * footers' min/max. `key` is a write-time ordering only — unless it is
    * a stored column, it is not part of the stored schema. */
  def writeClustered(df: DataFrame, key: Column, files: Int, root: String): Unit =
    df.repartitionByRange(files, key).sortWithinPartitions(key)
      .write.mode("overwrite").parquet(root)

  /** Write `df` laid out along the Z-curve of (`colA`, `colB`) into
    * `files` roughly equal files ([[writeClustered]] on the interleaved
    * value). */
  def write(df: DataFrame, colA: String, colB: String, files: Int,
            root: String): Unit =
    writeClustered(df, interleave(col(colA), col(colB)), files, root)

  /** Build (once per sf dir) the Z-ordered lineitem lake keyed on
    * (l_suppkey, l_partkey) — the two independent scan dimensions the
    * star queries filter on. Cached by its `_SUCCESS` marker
    * ([[PartitionedLake.buildOnce]]). */
  def ensureZorderedLineitem(spark: SparkSession, sfDir: String): String =
    PartitionedLake.buildOnce(s"${PartitionedLake.lakeRoot(sfDir)}/lineitem_zorder") {
      write(graft.model.Tables.lineitem(spark, sfDir), "l_suppkey", "l_partkey", files = 16, _)
    }
}
