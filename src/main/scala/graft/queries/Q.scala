package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine capability: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle
  * query over the same parquet tables. The driver hash-compares the
  * two at sf0.01 (BASELINE.md "t2"); queries without an oracle get a
  * rows-only check. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}
