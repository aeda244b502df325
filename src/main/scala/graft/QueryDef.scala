package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: a Spark DataFrame program over the testdata
  * tables, plus an equivalent ANSI SQL text that DuckDB runs as the
  * correctness oracle.
  *
  * Contract notes (see the driver spec):
  *   - Output column names MUST match between the Spark result and the
  *     oracle SQL — the comparison sorts columns by name.
  *   - Keep output types oracle-friendly: doubles rounded where the
  *     value is an order-dependent float aggregate, integers as longs,
  *     no raw nanosecond timestamps (Spark truncates parquet ns → µs).
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: String
)

object QueryDef {
  def withOracle(sql: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, sql)
}
