package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: a Spark-side builder plus (when SQL-expressible)
  * an equivalent ANSI SQL string the driver runs in DuckDB over the same
  * parquet tables (driver contract, SparkEntry.scala).
  *
  * Every query must be deterministic: a unique row multiset (row order is
  * not part of the contract; the driver and tools/parity.py sort rows
  * themselves), and exact (decimal-backed) aggregation for doubles — see
  * [[graft.engine.Det]].
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, Some(oracle))
}
