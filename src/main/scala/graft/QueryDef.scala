package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL.
  * Column names/types and row values must match the oracle bit-for-bit —
  * see graft.functions.Fns for the numerical-determinism contract.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object QueryDef {
  def apply(name: String, doc: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle), doc)
}
