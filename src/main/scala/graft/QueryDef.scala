package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: an ANSI SQL text that DuckDB runs as the
  * correctness oracle and, unless a DataFrame `body` overrides it,
  * Spark runs as the query itself ([[Tables.sql]]).
  *
  * A body earns its place when the SQL form misses the oracle hash,
  * breaks a PlanSpec lock or the PlanCoverageSpec blanket, runs slower
  * than the body at sf0.1, or cannot express the engine check the
  * query exists for; SqlFormSpec keeps the reason for every body whose
  * text Spark can analyze.
  *
  * Contract notes (see the driver spec):
  *   - Output column names MUST match between the Spark result and the
  *     oracle SQL — the comparison sorts columns by name.
  *   - Keep output types oracle-friendly: doubles rounded where the
  *     value is an order-dependent float aggregate, integers as longs,
  *     no raw nanosecond timestamps (Spark truncates parquet ns → µs).
  */
final case class QueryDef(
    oracle: String,
    body: Option[(SparkSession, String) => DataFrame] = None
) {
  def fn: (SparkSession, String) => DataFrame =
    body.getOrElse((s, d) => Tables.sql(s, d, oracle))
}

object QueryDef {
  def withOracle(sql: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(sql, Some(fn))
}
