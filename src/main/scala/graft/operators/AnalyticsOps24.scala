package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Exact.{dec, cents, q6, epochDay}

/** Round-12 tranche twelve: the readability layer over the
  * time-series panel — the correlogram WITH its significance bands
  * (q277 prints a test statistic, this prints the picture an analyst
  * actually reads: which lags clear the Bartlett fence), the
  * breakpoint CONFIDENCE SET (q299 prints the argmin day; this prints
  * how sure that localization is — a 2-day set is an incident, a
  * 15-day set is a slow bend), the daily quantile ribbon (the
  * p10/p50/p90 band every monitoring dashboard draws, computed
  * exactly), and the weekday-weekend contrast (the q205 Mann-Whitney
  * machinery pointed at the one categorical split every ops review
  * asks about first).
  *
  * House conventions: SeriesFrames grids, exact integer walks,
  * per-term quantization, mirrored double chains; q304 reads q299's
  * SSE curve through the SAME shared frame/SQL (AnalyticsOps23
  * .sseCandidates), so the two can never disagree about the curve.
  */
object AnalyticsOps24 {

  /** Correlogram with Bartlett bands (lags 1-14) per event type —
    * r_k with the cumulative Bartlett standard error se_k =
    * sqrt((1 + 2*sum_{j<k} r_j^2) / n) and a significance flag
    * |r_k| > 1.96*se_k. q277 compresses the ACF into one Q; this is
    * the readable panel (WHICH lags matter — lag 7 significant and
    * lag 1 not is a pure weekly rhythm; the reverse is momentum) and
    * the input an ARIMA-order choice reads.
    *
    * Exactness: r_k from the q277 integer-centering machinery (exact
    * decimal lag products, n^2 cancels); each r_j^2 quantizes to
    * 1e-12 before the cumulative integer sum (the q277 convention),
    * so the band is a double over exact integers; the flag compares
    * the SAME mirrored doubles in both engines. Constant series
    * degrade to r = 0, flag 0 (stated).
    *
    * Scale shape: the SeriesFrames daily frame; a 14-lag broadcast
    * explode self-join on day cells; the cumulative band walk is a
    * window over <= 14 rows per type. */
  val q303Correlogram: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |st AS (
      |  SELECT t, CAST(sum(m6) AS BIGINT) AS sm,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM dm GROUP BY 1),
      |y AS (
      |  SELECT dm.t, dm.day, dm.m6 * st.nd - st.sm AS y, st.nd
      |  FROM dm JOIN st ON st.t = dm.t),
      |d0 AS (
      |  SELECT t, sum(CAST(y AS HUGEINT) * y) AS d0,
      |    any_value(nd) AS nd
      |  FROM y GROUP BY 1),
      |ks AS (SELECT unnest(range(1, 15)) AS k),
      |num AS (
      |  SELECT a.t, ks.k, sum(CAST(a.y AS HUGEINT) * b.y) AS nk
      |  FROM y a CROSS JOIN ks
      |  JOIN y b ON b.t = a.t AND b.day = a.day - ks.k
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT num.t, num.k, d0.nd,
      |    CASE WHEN d0.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(nk AS DOUBLE) / CAST(d0.d0 AS DOUBLE) END AS r
      |  FROM num JOIN d0 ON d0.t = num.t),
      |cb AS (
      |  SELECT t, k, nd, r,
      |    CAST(coalesce(sum(CAST(floor(r * r * 1000000000000 + 0.5)
      |      AS BIGINT)) OVER (PARTITION BY t ORDER BY k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS c12
      |  FROM rk)
      |SELECT t AS event_type, CAST(k AS BIGINT) AS lag,
      |  floor(r * 1000000 + 0.5) / 1000000 AS r,
      |  floor(sqrt((1 + 2 * CAST(c12 AS DOUBLE) / 1000000000000)
      |    / nd) * 1000000 + 0.5) / 1000000 AS bartlett_se,
      |  CASE WHEN abs(r) > 1.96
      |      * sqrt((1 + 2 * CAST(c12 AS DOUBLE) / 1000000000000) / nd)
      |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
      |    END AS significant
      |FROM cb""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dm = SeriesFrames.dailyMean6(s, d)
    val st = dm.groupBy(col("t"))
      .agg(sum(col("m6")).cast("long").as("sm"), count(lit(1)).as("nd"))
    val y = dm.join(st, Seq("t"))
      .select(col("t"), col("day"),
        (col("m6") * col("nd") - col("sm")).as("y"), col("nd"))
      .cache()
    val d0 = y.groupBy(col("t"))
      .agg(sum(dec(col("y")) * col("y")).as("d0"),
        first(col("nd")).as("nd"))
    val ks = s.range(1, 15).toDF("k")
    val b = y.select(col("t").as("tb"), col("day").as("db"),
      col("y").as("yb"))
    val num = y.crossJoin(broadcast(ks))
      .join(b, col("tb") === col("t") &&
        col("db") === col("day") - col("k"))
      .groupBy(col("t"), col("k"))
      .agg(sum(dec(col("y")) * col("yb")).as("nk"))
    val rk = num.join(d0.toDF("t", "d0", "nd"), Seq("t"))
      .select(col("t"), col("k"), col("nd"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("nk").cast("double") / col("d0").cast("double"))
          .as("r"))
    // cumulative Bartlett term: a window over <= 14 lag rows per type
    val wk = Window.partitionBy(col("t")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cb = rk.select(col("t"), col("k"), col("nd"), col("r"),
      coalesce(sum(floor(col("r") * col("r") * 1000000000000L + 0.5)
        .cast("long")).over(wk), lit(0L)).cast("long").as("c12"))
    val se = sqrt((lit(1) + lit(2) * col("c12").cast("double")
      / 1000000000000L) / col("nd"))
    cb.select(col("t").as("event_type"), col("k").as("lag"),
      q6(col("r")).as("r"),
      q6(se).as("bartlett_se"),
      when(abs(col("r")) > lit(1.96) * se, lit(1L)).otherwise(lit(0L))
        .as("significant"))
  }

  /** Breakpoint confidence set for q299's segmented fit — every
    * candidate split whose total SSE is within 10% of the minimum
    * (integer test: sse3*10 <= min3*11, exact), reported as the
    * [earliest, latest] candidate day, the set size, and the argmin.
    * q299 answers WHERE the slope changed; this answers how sharply
    * the data localizes it — a 2-day set is an event with a date, a
    * 15-day set is a slow bend no single day owns. Both queries read
    * the SAME shared SSE frame (AnalyticsOps23.sseCandidates), so
    * they cannot disagree about the curve.
    *
    * Exactness: the near-min test is pure integer on the quantized
    * sse3 grid; min/earliest/latest are exact; ties inherit q299's
    * earliest-day argmin convention. A zero-SSE minimum keeps every
    * exact-fit candidate (0 <= 0; stated).
    *
    * Scale shape: q299's one prefix walk; the near-min sweep is one
    * broadcast scalar against the <= |days| candidate frame. */
  val q304BreakConfidence: QueryDef = QueryDef.withOracle(
    s"""${AnalyticsOps23.sseCandidatesSql},
      |mn AS (SELECT min(sse3) AS m3 FROM sse),
      |keep AS (
      |  SELECT sse.day, sse.sse3 FROM sse CROSS JOIN mn
      |  WHERE sse.sse3 * 10 <= mn.m3 * 11),
      |best AS (
      |  SELECT day AS best_day FROM sse ORDER BY sse3, day LIMIT 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
      |  CAST(min(keep.day) AS BIGINT) AS ci_lo_day,
      |  CAST(max(keep.day) AS BIGINT) AS ci_hi_day,
      |  CAST(max(keep.day) - min(keep.day) AS BIGINT) AS width_days,
      |  CAST(max(best.best_day) AS BIGINT) AS best_day
      |FROM keep CROSS JOIN best""".stripMargin
  ) { (s, d) =>
    val sse = AnalyticsOps23.sseCandidates(s, d).cache()
    val mn = sse.agg(min(col("sse3")).as("m3"))
    val keep = sse.crossJoin(broadcast(mn))
      .filter(col("sse3") * 10 <= col("m3") * 11)
    val best = sse.orderBy(col("sse3"), col("day")).limit(1)
      .select(col("day").as("best_day"))
    keep.agg(count(lit(1)).as("n_candidates"),
        min(col("day")).cast("long").as("ci_lo_day"),
        max(col("day")).cast("long").as("ci_hi_day"),
        (max(col("day")) - min(col("day"))).cast("long")
          .as("width_days"))
      .crossJoin(broadcast(best))
      .select(col("n_candidates"), col("ci_lo_day"), col("ci_hi_day"),
        col("width_days"), col("best_day").cast("long").as("best_day"))
  }

  /** Daily p10/p50/p90 value ribbon per event type — the exact
    * lower-quantile band (house 100*cum >= p*n walk over per-(type,
    * day) value cells) that every monitoring dashboard draws. The
    * per-day companion to q288 (which compares two aggregate windows)
    * and the display layer under q301's outlier flags: an operator
    * reading the flagged day sees WHERE in the band it broke.
    *
    * Exactness: pure integer quantile walks; output values are the
    * exact cents integers over 100 (one division; both engines derive
    * the identical double from the identical int — stated).
    *
    * Scale shape: ONE events pass -> (type, day, cents) cells; the
    * cum walk partitions on (type, day) — real keys, cells-per-group
    * bounded by the day's distinct values; the p-sweep is a
    * conditional agg, no extra pass. */
  val q305DailyQuantiles: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |c AS (
      |  SELECT t, day, v, count(*) AS cnt FROM ev GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT t, day, v, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY t, day ORDER BY v)
      |      AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY t, day) AS BIGINT) AS n
      |  FROM c),
      |q AS (
      |  SELECT t, day,
      |    min(CASE WHEN 100 * cum >= 10 * n THEN v END) AS q10,
      |    min(CASE WHEN 100 * cum >= 50 * n THEN v END) AS q50,
      |    min(CASE WHEN 100 * cum >= 90 * n THEN v END) AS q90,
      |    CAST(max(n) AS BIGINT) AS n
      |  FROM w GROUP BY 1, 2)
      |SELECT t AS event_type, day, n,
      |  CAST(q10 AS DOUBLE) / 100 AS p10,
      |  CAST(q50 AS DOUBLE) / 100 AS p50,
      |  CAST(q90 AS DOUBLE) / 100 AS p90
      |FROM q""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select(col("event_type").as("t"),
      epochDay(unix_micros(col("ts"))).as("day"), cents)
    val c = ev.groupBy(col("t"), col("day"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = c.select(col("t"), col("day"), col("v"), col("cnt"),
      sum(col("cnt")).over(Window.partitionBy(col("t"), col("day"))
        .orderBy(col("v"))).cast("long").as("cum"),
      sum(col("cnt")).over(Window.partitionBy(col("t"), col("day")))
        .cast("long").as("n"))
    val q = w.groupBy(col("t"), col("day")).agg(
      min(when(lit(100) * col("cum") >= lit(10) * col("n"), col("v")))
        .as("q10"),
      min(when(lit(100) * col("cum") >= lit(50) * col("n"), col("v")))
        .as("q50"),
      min(when(lit(100) * col("cum") >= lit(90) * col("n"), col("v")))
        .as("q90"),
      max(col("n")).cast("long").as("n"))
    q.select(col("t").as("event_type"), col("day"), col("n"),
      (col("q10").cast("double") / 100).as("p10"),
      (col("q50").cast("double") / 100).as("p50"),
      (col("q90").cast("double") / 100).as("p90"))
  }

  /** Weekday-vs-weekend Mann-Whitney on the daily-mean series per
    * event type — the q205 pooled-rank machinery pointed at the one
    * categorical split every ops review asks about first: do weekend
    * days draw from a DIFFERENT value distribution, rank-wise (no
    * normality assumed — q276 decides whether a t-test would even be
    * calibrated). Weekend = Saturday/Sunday of the sign-safe epoch
    * dow (the q117 convention).
    *
    * Exactness: daily means on the 1e-6 grid; the pooled midrank
    * walk, tie correction, U, and z are the q205 integer algebra
    * verbatim on (type, m6) cells. Degenerate splits report z = 0
    * (stated).
    *
    * Scale shape: the SeriesFrames daily frame -> (type, side, m6)
    * cells; one cum window per type over its own value cells. */
  val q306WeekendContrast: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |g AS (
      |  SELECT t, m6,
      |    CASE WHEN (day + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS we
      |  FROM dm),
      |c AS (
      |  SELECT t, m6,
      |    CAST(sum(1 - we) AS BIGINT) AS ca,
      |    CAST(sum(we) AS BIGINT) AS cb
      |  FROM g GROUP BY 1, 2),
      |w AS (
      |  SELECT t, m6, ca, cb, ca + cb AS tc,
      |    2 * CAST(sum(ca + cb) OVER (PARTITION BY t ORDER BY m6)
      |      AS BIGINT) - (ca + cb) + 1 AS r2
      |  FROM c),
      |sagg AS (
      |  SELECT t,
      |    CAST(sum(CAST(ca AS HUGEINT) * r2) AS HUGEINT) AS r2a,
      |    sum(CAST(tc AS HUGEINT) * tc * tc - tc) AS tt,
      |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      |  FROM w GROUP BY 1),
      |f AS (
      |  SELECT t, na, nb,
      |    r2a - CAST(na AS HUGEINT) * (na + 1) AS u2,
      |    CAST(na AS HUGEINT) * nb *
      |      (CAST(na + nb + 1 AS HUGEINT) * (na + nb)
      |        * (na + nb - 1) - tt) AS vnum,
      |    CAST(12 AS HUGEINT) * (na + nb) * (na + nb - 1) AS vden
      |  FROM sagg)
      |SELECT t AS event_type, na AS n_weekday, nb AS n_weekend,
      |  CAST(u2 AS BIGINT) AS u2,
      |  CASE WHEN vnum = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(u2 - CAST(na AS HUGEINT) * nb AS DOUBLE)
      |      / (2 * sqrt(CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 END AS z
      |FROM f""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = SeriesFrames.dailyMean6(s, d)
      .select(col("t"), col("m6"),
        when(pmod(col("day") + 4, lit(7)).isin(0, 6), 1).otherwise(0)
          .as("we"))
    val c = g.groupBy(col("t"), col("m6"))
      .agg(sum(lit(1) - col("we")).cast("long").as("ca"),
        sum(col("we")).cast("long").as("cb"))
    val w = c.select(col("t"), col("m6"), col("ca"), col("cb"),
      (col("ca") + col("cb")).as("tc"),
      (lit(2) * sum(col("ca") + col("cb"))
        .over(Window.partitionBy(col("t")).orderBy(col("m6")))
        .cast("long") - (col("ca") + col("cb")) + 1).as("r2"))
    val sagg = w.groupBy(col("t")).agg(
      sum(dec(col("ca")) * col("r2")).as("r2a"),
      sum(dec(col("tc")) * col("tc") * col("tc") - col("tc")).as("tt"),
      sum(col("ca")).cast("long").as("na"),
      sum(col("cb")).cast("long").as("nb"))
    val f = sagg.select(col("t"), col("na"), col("nb"),
      (col("r2a") - dec(col("na")) * (col("na") + 1)).as("u2"),
      (dec(col("na")) * col("nb") *
        (dec(col("na") + col("nb") + 1) * (col("na") + col("nb"))
          * (col("na") + col("nb") - 1) - col("tt"))).as("vnum"),
      (dec(lit(12)) * (col("na") + col("nb"))
        * (col("na") + col("nb") - 1)).as("vden"))
    f.select(col("t").as("event_type"), col("na").as("n_weekday"),
      col("nb").as("n_weekend"),
      col("u2").cast("long").as("u2"),
      when(col("vnum") === 0, lit(0.0))
        .otherwise(floor((col("u2") - dec(col("na")) * col("nb"))
          .cast("double")
          / (lit(2) * sqrt(col("vnum").cast("double")
            / col("vden").cast("double"))) * 1000000L + 0.5)
          / 1000000L).as("z"))
  }

  val all: Map[String, QueryDef] = Map(
    "q303_correlogram" -> q303Correlogram,
    "q304_break_confidence" -> q304BreakConfidence,
    "q305_daily_quantiles" -> q305DailyQuantiles,
    "q306_weekend_contrast" -> q306WeekendContrast)
}
