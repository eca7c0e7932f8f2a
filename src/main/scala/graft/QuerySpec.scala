package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: a Spark implementation plus its exact
  * DuckDB oracle. Registries of these feed [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object QuerySpec {
  def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, sql)
}
