package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** How a query's result is checked: against a DuckDB twin, or — for the
  * one operator DuckDB cannot express — by a named test.
  */
sealed trait Oracle

object Oracle {

  /** Equivalent SQL DuckDB runs over the same parquet tables; the driver
    * hash-compares its rows with the query's (columns sorted by name, so
    * names must match exactly between the two dialects).
    */
  final case class Sql(text: String) extends Oracle

  /** No DuckDB twin: `test` in the scalatest suite class `suite` gates
    * the query instead.
    */
  final case class SpecGated(suite: String, test: String) extends Oracle
}

/** One declared query: its driver key, its Spark body and its oracle. */
final case class QuerySpec(name: String,
                           body: (SparkSession, String) => DataFrame,
                           oracle: Oracle) {

  /** The query under the session policy: [[Tables.tune]], then the body
    * — the one place a query's session confs are set.
    */
  def run(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.tune(spark)
    body(spark, sfDir)
  }
}
