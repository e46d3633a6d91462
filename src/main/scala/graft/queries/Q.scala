package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{floor, lit}

/** One named engine query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle.
  * Oracle-less queries get the driver's rows-only check and a
  * ScalaTest spec pinning expected values instead.
  */
case class Q(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {
  // guard against object-initialization-order nulls sneaking into
  // the driver's oracle_sql.json (fail at class load, not mid-dump)
  require(oracle.forall(_ != null), s"null oracle SQL for query $name")
}

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** Round half up to 6 decimals, spelled as the oracles spell it:
    * floor(x · 10⁶ + 0.5) / 10⁶.
    */
  def dp6(c: Column): Column = floor(c * 1000000 + lit(0.5)) / 1000000
}
