package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query: a Spark DataFrame program plus the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Column names MUST match between the two (the driver sorts columns by name before hashing), and both
  * sides carry a total ORDER BY so row order is deterministic.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object Q {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, oracle)
}
