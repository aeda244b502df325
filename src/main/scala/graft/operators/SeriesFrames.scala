package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Exact.{cents, epochDay}

/** THE shared event-series cell frames — one definition of "the daily
  * (hourly) mean series on the 1e-6 grid", many consumers, so the
  * grid convention can never drift between the queries that compare
  * against each other (q277 Ljung-Box, q278 runs, q286 CCF, q289 DF,
  * q290 STL strength, q300 MASE, q301 STL outliers, q302 PACF on the
  * daily frame; q279 Allan, q291 Hurst on the hourly frame). The same
  * promote-the-idiom move as Exact.epochDay and the two-phase
  * prefix: a convention change lands everywhere at once.
  *
  * Grid: value -> cents via floor(v*100 + 0.5) (the q201 convention),
  * per-bucket mean -> 1e-6 ints via floor(sum_cents * 10000 / n + 0.5)
  * (exact integer inputs; the one double division is mirrored
  * verbatim in every consumer's oracle SQL — `dailySql`/`hourlySql`
  * below ARE that text, interpolated into the oracles so engine and
  * oracle share one spelling).
  */
private[operators] object SeriesFrames {

  /** (t, day, m6): per-type daily mean on the 1e-6 grid —
    * time-range-bounded metadata (days x |types| rows). */
  def dailyMean6(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_type").as("t"),
        epochDay(unix_micros(col("ts"))).as("day"), cents)
      .groupBy(col("t"), col("day"))
      .agg(sum(col("v")).cast("long").as("sc"), count(lit(1)).as("c"))
      .select(col("t"), col("day"),
        floor(col("sc").cast("double") * 10000 / col("c") + 0.5)
          .cast("long").as("m6"))

  /** (t, h, m6): per-type hourly mean on the 1e-6 grid. */
  def hourlyMean6(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_type").as("t"),
        call_function("div", unix_micros(col("ts"))
          - pmod(unix_micros(col("ts")), lit(3600000000L)),
          lit(3600000000L)).as("h"), cents)
      .groupBy(col("t"), col("h"))
      .agg(sum(col("v")).cast("long").as("sc"), count(lit(1)).as("c"))
      .select(col("t"), col("h"),
        floor(col("sc").cast("double") * 10000 / col("c") + 0.5)
          .cast("long").as("m6"))

  /** The oracle-side spelling of dailyMean6, as CTEs named ev/dm —
    * interpolate at the TOP of a consumer's oracle SQL. */
  val dailySql: String =
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |dm AS (
      |  SELECT t, day,
      |    CAST(floor(CAST(sum(v) AS DOUBLE) * 10000 / count(*) + 0.5)
      |      AS BIGINT) AS m6
      |  FROM ev GROUP BY 1, 2)""".stripMargin

  /** The oracle-side spelling of hourlyMean6, as CTEs named ev/hm. */
  val hourlySql: String =
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |hm AS (
      |  SELECT t, h,
      |    CAST(floor(CAST(sum(v) AS DOUBLE) * 10000 / count(*) + 0.5)
      |      AS BIGINT) AS m6
      |  FROM ev GROUP BY 1, 2)""".stripMargin
}
