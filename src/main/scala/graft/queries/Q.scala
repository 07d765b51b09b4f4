package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark plan plus (optionally) the equivalent ANSI
  * SQL the driver runs in DuckDB over the same parquet tables. Queries
  * without an oracle get a weaker rows-only smoke check, so every
  * SQL-expressible operator should carry one.
  *
  * Determinism contract (so the hash compare is stable):
  *   - every query ends in a total ORDER BY (all ties broken by a key);
  *   - aggregate money values are rounded to 2 decimals on both sides;
  *   - column names are aliased identically in the Spark plan and the SQL.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(oracle), fn)
}
