package org.apache.spark.sql.graftlake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataFrame over a DataSource V2 table object — the two steps
  * `DataFrameReader.load` runs after a provider's `getTable`, for a table
  * the lake builds itself (a version's explicit file subset) rather than
  * one resolved from reader options. `Dataset.ofRows` is visible only
  * inside `org.apache.spark.sql`, hence this package. */
object TableFrame {
  def apply(spark: SparkSession, table: Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty()))
}
