package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Exact.{cents, dec, epochDay, q6}
import Exact.{ErfA1, ErfA2, ErfA3, ErfA4, ErfA5, ErfT, Sqrt2}

/** Round-12 tranche eight: the time-series diagnosis panel on top of
  * tranche six's health gates — Grubbs' extreme-outlier test (WHICH
  * value broke the stream, with a multiplicity-honest p), quantile-
  * quantile drift decomposition (is the drift a SHIFT, a RESCALE, or
  * a shape change — the location/scale factorization none of the
  * scalar drift numbers give), the Dickey-Fuller mean-reversion
  * regression (unit root vs stationary: does the daily series FORGET
  * shocks — the precondition for q111's EWMA and q123's seasonal
  * z-scores to converge), seasonal/trend strength (Hyndman's
  * variance-ratio F_T/F_S — how much of the series is calendar), and
  * the Hurst exponent by rescaled-range analysis (long-memory: H>0.5
  * means shocks persist, the number that says whether q277's
  * white-noise rejection is short-lag correlation or scale-free
  * drift).
  *
  * House conventions: cents/1e-6 integer grids, exact decimal(38,0)
  * sums, per-block/per-term quantization before any order-dependent
  * float sum, ONE mirrored double expression per output, A&S 7.1.26
  * erfc with the q254 shared literals for p-values, windows only on
  * metadata-sized per-type day/hour frames or <= 32-row blocks.
  */
object AnalyticsOps20 {

  private val Ln2 = 0.6931471805599453

  /** Acklam inverse-normal coefficients, tail branch only (q287's
    * quantile chain; |rel err| < 1.15e-9, valid for p < 0.02425 —
    * always true at alpha/(2n) with n >= 2). */
  private val AkC1 = -7.784894002430293e-03
  private val AkC2 = -3.223964580411365e-01
  private val AkC3 = -2.400758277161838e+00
  private val AkC4 = -2.549732539343734e+00
  private val AkC5 = 4.374664141464968e+00
  private val AkC6 = 2.938163982698783e+00
  private val AkD1 = 7.784695709041462e-03
  private val AkD2 = 3.224671290700398e-01
  private val AkD3 = 2.445134137142996e+00
  private val AkD4 = 3.754408661907416e+00

  /** c * z^k spelled coefficient-first left-assoc — ONE spelling for
    * engine and oracle so the mirrored doubles round identically. */
  private def zp(c: Int, k: Int): Column =
    (1 to k).foldLeft(lit(c): Column)((a, _) => a * col("z"))
  private def zpSql(c: Int, k: Int): String = c.toString + (" * z" * k)

  /** erfc(x/sqrt2) = two-sided normal tail, as a Column (the q254
    * polynomial verbatim, x >= 0). */
  private def erfc2(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(ErfT) * (x / lit(Sqrt2)))
    t * (lit(ErfA1) + t * (lit(ErfA2) + t * (lit(ErfA3) + t *
      (lit(ErfA4) + t * lit(ErfA5))))) *
      exp(-(x / lit(Sqrt2)) * (x / lit(Sqrt2)))
  }

  /** The q254 polynomial as oracle SQL text over a column expression
    * (kept as a helper so engine and oracle share ONE spelling). */
  private def erfc2Sql(x: String): String =
    s"(1 / (1 + $ErfT * (($x) / $Sqrt2))) * ($ErfA1 + " +
      s"(1 / (1 + $ErfT * (($x) / $Sqrt2))) * ($ErfA2 + " +
      s"(1 / (1 + $ErfT * (($x) / $Sqrt2))) * ($ErfA3 + " +
      s"(1 / (1 + $ErfT * (($x) / $Sqrt2))) * ($ErfA4 + " +
      s"(1 / (1 + $ErfT * (($x) / $Sqrt2))) * $ErfA5)))) * " +
      s"exp(-(($x) / $Sqrt2) * (($x) / $Sqrt2))"

  /** Grubbs' extreme-studentized-deviate test per event type — G =
    * max|v - mean| / s, tested against the EXACT Grubbs critical
    * value (Grubbs 1969):
    *   G_crit = ((n-1)/sqrt(n)) * sqrt(t² / (n-2+t²)),
    *   t = t-quantile(1 - α/(2n), ν = n-2) at α = 0.05,
    * with the t quantile evaluated by the standard two-stage
    * deterministic chain mirrored in both engines: Acklam's rational
    * normal-quantile approximation (|rel err| < 1.15e-9; α/(2n) ≤
    * 0.0125 < 0.02425 for n ≥ 2, so ONLY the tail branch is ever
    * taken — one closed form, no CASE split) followed by the
    * Cornish-Fisher t expansion (A&S 26.7.5, four 1/ν correction
    * terms — error O(ν⁻⁵), negligible at stream-sized n). The r12
    * convention reported only the Bonferroni-NORMAL tail p =
    * min(1, n·erfc(G/√2)) — a stated conservative bound; it is KEPT
    * as p_bonf beside the new g_crit05/is_outlier columns (same A&S
    * polynomial as q254). Unlike q105's MAD fences (which flag a
    * SET), Grubbs asks about THE single most extreme value — the
    * "one broken sensor reading" question — and reports which side
    * it sits on.
    *
    * Exactness: the maximizing deviation is at an extreme of the
    * value range, so G needs only min/max/moment sums — all exact
    * integers on the cents grid; ties break to the high side
    * (stated); the G and G_crit chains are mirrored doubles written
    * in identical token order (coefficient-first power spellings);
    * zero variance degrades to G = 0, p = 1; n < 3 degrades to
    * g_crit05 = 0, is_outlier = 0 (the test needs ν ≥ 1).
    *
    * Scale shape: ONE events pass -> per-type min/max/n/s1/s2; the
    * critical value is per-type scalar algebra. No window, no join,
    * no cells even. */
  val q287Grubbs: QueryDef = QueryDef.withOracle(
    s"""WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |m AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n, min(v) AS mn,
      |    max(v) AS mx, sum(CAST(v AS HUGEINT)) AS s1,
      |    sum(CAST(v AS HUGEINT) * v) AS s2
      |  FROM ev GROUP BY 1),
      |g AS (
      |  SELECT t, n, mn, mx,
      |    CAST(s1 AS DOUBLE) / n AS mu,
      |    CASE WHEN n < 3 THEN CAST(0 AS DOUBLE)
      |      ELSE (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
      |        / (n - 1) END AS vv
      |  FROM m),
      |s AS (
      |  SELECT t, n,
      |    CASE WHEN mx - mu >= mu - mn THEN mx ELSE mn END
      |      AS extreme_cents,
      |    CASE WHEN vv <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE greatest(mx - mu, mu - mn) / sqrt(vv) END AS gg
      |  FROM g),
      |k AS (
      |  SELECT t, n, extreme_cents, gg,
      |    sqrt(-2 * ln(0.05 / (2.0 * n))) AS qk,
      |    CAST(n - 2 AS DOUBLE) AS nu
      |  FROM s),
      |zz AS (
      |  SELECT t, n, extreme_cents, gg, nu,
      |    -((((($AkC1 * qk + $AkC2) * qk + $AkC3) * qk + $AkC4) * qk
      |        + $AkC5) * qk + $AkC6)
      |      / (((($AkD1 * qk + $AkD2) * qk + $AkD3) * qk + $AkD4) * qk
      |        + 1) AS z
      |  FROM k),
      |tf AS (
      |  SELECT t, n, extreme_cents, gg,
      |    z + (${zpSql(1, 3)} + ${zpSql(1, 1)}) / (4 * nu)
      |      + (${zpSql(5, 5)} + ${zpSql(16, 3)} + ${zpSql(3, 1)})
      |        / (96 * nu * nu)
      |      + (${zpSql(3, 7)} + ${zpSql(19, 5)} + ${zpSql(17, 3)}
      |          - ${zpSql(15, 1)}) / (384 * nu * nu * nu)
      |      + (${zpSql(79, 9)} + ${zpSql(776, 7)} + ${zpSql(1482, 5)}
      |          - ${zpSql(1920, 3)} - ${zpSql(945, 1)})
      |        / (92160 * nu * nu * nu * nu) AS tq
      |  FROM zz),
      |gc AS (
      |  SELECT t, n, extreme_cents, gg,
      |    (n - 1) / sqrt(CAST(n AS DOUBLE))
      |      * sqrt(tq * tq / (n - 2 + tq * tq)) AS gcrit
      |  FROM tf)
      |SELECT t AS event_type, n, CAST(extreme_cents AS BIGINT)
      |    AS extreme_cents,
      |  floor(gg * 1000000 + 0.5) / 1000000 AS g_stat,
      |  CASE WHEN n < 3 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(gcrit * 1000000 + 0.5) / 1000000 END AS g_crit05,
      |  CAST(CASE WHEN n >= 3 AND gg > gcrit THEN 1 ELSE 0 END
      |    AS BIGINT) AS is_outlier,
      |  CASE WHEN gg <= 0 THEN CAST(1 AS DOUBLE)
      |    ELSE floor(least(1.0, n * ${erfc2Sql("gg")})
      |      * 1000000000 + 0.5) / 1000000000 END AS p_bonf
      |FROM gc""".stripMargin
  ) { (s, d) =>
    val m = Tables.events(s, d).select(col("event_type").as("t"), cents)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"), sum(dec(col("v"))).as("s1"),
        sum(dec(col("v")) * col("v")).as("s2"))
    val g = m.select(col("t"), col("n"), col("mn"), col("mx"),
      (col("s1").cast("double") / col("n")).as("mu"),
      when(col("n") < 3, lit(0.0))
        .otherwise((col("s2").cast("double")
          - col("s1").cast("double") / col("n") * col("s1"))
          / (col("n") - 1)).as("vv"))
    val ss = g.select(col("t"), col("n"),
      when(col("mx") - col("mu") >= col("mu") - col("mn"), col("mx"))
        .otherwise(col("mn")).as("extreme_cents"),
      when(col("vv") <= 0, lit(0.0))
        .otherwise(greatest(col("mx") - col("mu"), col("mu") - col("mn"))
          / sqrt(col("vv"))).as("gg"))
    // the critical-value chain: Acklam tail-branch normal quantile at
    // alpha/(2n), Cornish-Fisher t correction, then Grubbs' G_crit —
    // every step a mirrored double in the oracle's token order
    val kf = ss
      .withColumn("qk",
        sqrt(lit(-2) * log(lit(0.05) / (lit(2.0) * col("n")))))
      .withColumn("nu", (col("n") - 2).cast("double"))
    val zf = kf.withColumn("z",
      -(((((lit(AkC1) * col("qk") + AkC2) * col("qk") + AkC3)
          * col("qk") + AkC4) * col("qk") + AkC5) * col("qk") + AkC6) /
        ((((lit(AkD1) * col("qk") + AkD2) * col("qk") + AkD3)
          * col("qk") + AkD4) * col("qk") + 1))
    val tf = zf.withColumn("tq",
      col("z") + (zp(1, 3) + zp(1, 1)) / (lit(4) * col("nu"))
        + (zp(5, 5) + zp(16, 3) + zp(3, 1))
          / (lit(96) * col("nu") * col("nu"))
        + (zp(3, 7) + zp(19, 5) + zp(17, 3) - zp(15, 1))
          / (lit(384) * col("nu") * col("nu") * col("nu"))
        + (zp(79, 9) + zp(776, 7) + zp(1482, 5) - zp(1920, 3)
          - zp(945, 1))
          / (lit(92160) * col("nu") * col("nu") * col("nu")
            * col("nu")))
    val gcrit = (col("n") - 1) / sqrt(col("n").cast("double")) *
      sqrt(col("tq") * col("tq") / (col("n") - 2 + col("tq") * col("tq")))
    tf.select(col("t").as("event_type"), col("n"),
      col("extreme_cents").cast("long").as("extreme_cents"),
      (floor(col("gg") * 1000000L + 0.5) / 1000000L).as("g_stat"),
      when(col("n") < 3, lit(0.0))
        .otherwise(floor(gcrit * 1000000L + 0.5) / 1000000L)
        .as("g_crit05"),
      when(col("n") >= 3 && col("gg") > gcrit, lit(1))
        .otherwise(lit(0)).cast("long").as("is_outlier"),
      when(col("gg") <= 0, lit(1.0))
        .otherwise(floor(least(lit(1.0), col("n") * erfc2(col("gg")))
          * 1000000000L + 0.5) / 1000000000L).as("p_bonf"))
  }

  /** Quantile-quantile drift fit per event type — the early-half and
    * late-half value distributions (q284's midpoint-day split) meet
    * at 19 matched percentiles (5%..95%, house lower-quantile walk),
    * and OLS of late-on-early factors the drift: slope ~ SCALE change,
    * intercept ~ SHIFT, r^2 ~ how much is NOT explained by a linear
    * location-scale map (tail/shape change). The decomposition the
    * scalar drift family (q153/q187/q201/q258/q284) can't give: "the
    * mean moved 4%" vs "the tail doubled" route to different fixes.
    *
    * Exactness: quantiles are exact integers off the per-side cum
    * walk (100*cum >= p*n); OLS moments are exact decimal sums over
    * 19 integer points; slope/intercept/r2 are mirrored doubles
    * (the r2 numerator squares in DOUBLE — its decimal square can
    * exceed 1e38 at fleet-scale cents, stated). Degenerate spreads
    * (all early quantiles equal) report slope 0, r2 0 (stated).
    *
    * Scale shape: ONE events pass -> (type, side, cents) cells; the
    * percentile sweep is a broadcast 19-row frame against the cum
    * walk (a window per (type, side) over its own value cells);
    * everything after is 19-row algebra per type. */
  val q288QqDriftFit: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |sp AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
      |c AS (
      |  SELECT ev.t, CASE WHEN ev.day <= sp.mid THEN 0 ELSE 1 END AS g,
      |    ev.v, count(*) AS cnt
      |  FROM ev CROSS JOIN sp GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT t, g, v, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY t, g ORDER BY v) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY t, g) AS BIGINT) AS n
      |  FROM c),
      |pp AS (SELECT unnest(range(1, 20)) * 5 AS p),
      |qq AS (
      |  SELECT w.t, w.g, pp.p, min(w.v) AS q
      |  FROM w CROSS JOIN pp WHERE 100 * w.cum >= pp.p * w.n
      |  GROUP BY 1, 2, 3),
      |pt AS (
      |  SELECT a.t, a.p, a.q AS x, b.q AS y
      |  FROM qq a JOIN qq b ON b.t = a.t AND b.p = a.p
      |  WHERE a.g = 0 AND b.g = 1),
      |nn AS (
      |  SELECT t, CAST(max(n) FILTER (WHERE g = 0) AS BIGINT) AS n_early,
      |    CAST(max(n) FILTER (WHERE g = 1) AS BIGINT) AS n_late
      |  FROM w GROUP BY 1),
      |mo AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS k,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM pt GROUP BY 1),
      |f AS (
      |  SELECT t, k,
      |    CAST(k * sxx - sx * sx AS DOUBLE) AS dx,
      |    CAST(k * syy - sy * sy AS DOUBLE) AS dy,
      |    CAST(k * sxy - sx * sy AS DOUBLE) AS nm,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM mo)
      |SELECT f.t AS event_type, nn.n_early, nn.n_late,
      |  CASE WHEN dx <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(nm / dx * 1000000 + 0.5) / 1000000 END AS qq_slope,
      |  CASE WHEN dx <= 0 THEN floor(syd / k / 100 * 1000000 + 0.5)
      |      / 1000000
      |    ELSE floor((syd - nm / dx * sxd) / k / 100 * 1000000 + 0.5)
      |      / 1000000 END AS qq_intercept,
      |  CASE WHEN dx <= 0 OR dy <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(nm * nm / (dx * dy) * 1000000 + 0.5) / 1000000
      |    END AS qq_r2
      |FROM f JOIN nn ON nn.t = f.t""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select(col("event_type").as("t"),
      epochDay(unix_micros(col("ts"))).as("day"), cents)
    val sp = ev.agg(call_function("div",
      min(col("day")) + max(col("day"))
        - pmod(min(col("day")) + max(col("day")), lit(2L)),
      lit(2L)).as("mid"))
    val c = ev.crossJoin(broadcast(sp))
      .groupBy(col("t"),
        when(col("day") <= col("mid"), 0).otherwise(1).as("g"),
        col("v"))
      .agg(count(lit(1)).as("cnt"))
    // cum walk over per-(type, side) value cells (metadata frame)
    val w = c.select(col("t"), col("g"), col("v"), col("cnt"),
      sum(col("cnt")).over(Window.partitionBy(col("t"), col("g"))
        .orderBy(col("v"))).cast("long").as("cum"),
      sum(col("cnt")).over(Window.partitionBy(col("t"), col("g")))
        .cast("long").as("n"))
      .cache() // percentile sweep + side totals reuse it
    val pp = s.range(1, 20).toDF("i")
      .select((col("i") * 5).as("p"))
    val qq = w.crossJoin(broadcast(pp))
      .filter(lit(100) * col("cum") >= col("p") * col("n"))
      .groupBy(col("t"), col("g"), col("p")).agg(min(col("v")).as("q"))
    val pt = qq.filter(col("g") === 0).select(col("t"), col("p"),
        col("q").as("x"))
      .join(qq.filter(col("g") === 1).select(col("t").as("t2"),
        col("p").as("p2"), col("q").as("y")),
        col("t2") === col("t") && col("p2") === col("p"))
    val nn = w.groupBy(col("t")).agg(
      max(when(col("g") === 0, col("n"))).cast("long").as("n_early"),
      max(when(col("g") === 1, col("n"))).cast("long").as("n_late"))
    val mo = pt.groupBy(col("t")).agg(count(lit(1)).as("k"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("y")) * col("y")).as("syy"))
    val f = mo.select(col("t"), col("k"),
      (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")
        .as("dx"),
      (col("k") * col("syy") - col("sy") * col("sy")).cast("double")
        .as("dy"),
      (col("k") * col("sxy") - col("sx") * col("sy")).cast("double")
        .as("nm"),
      col("sx").cast("double").as("sxd"),
      col("sy").cast("double").as("syd"))
    f.join(nn.withColumnRenamed("t", "tn"), col("tn") === col("t"))
      .select(col("t").as("event_type"), col("n_early"), col("n_late"),
        when(col("dx") <= 0, lit(0.0))
          .otherwise(floor(col("nm") / col("dx") * 1000000L + 0.5)
            / 1000000L).as("qq_slope"),
        when(col("dx") <= 0,
          floor(col("syd") / col("k") / 100 * 1000000L + 0.5) / 1000000L)
          .otherwise(floor((col("syd") - col("nm") / col("dx")
            * col("sxd")) / col("k") / 100 * 1000000L + 0.5) / 1000000L)
          .as("qq_intercept"),
        when(col("dx") <= 0 || col("dy") <= 0, lit(0.0))
          .otherwise(floor(col("nm") * col("nm")
            / (col("dx") * col("dy")) * 1000000L + 0.5) / 1000000L)
          .as("qq_r2"))
  }

  /** Dickey-Fuller mean-reversion regression per event type — OLS of
    * the daily change on yesterday's level (delta_y = a + b*y_lag on
    * consecutive calendar days, stated gap policy), reporting b and
    * its t-ratio (the DF statistic). b near 0 = unit root (shocks
    * PERSIST: yesterday's level tells you nothing about today's
    * correction); b << 0 = mean reversion. The stationarity gate
    * under q111 (EWMA converges), q123 (seasonal z is meaningful),
    * and q173/q250 (changepoints assume level-stable segments). DF
    * critical values are nonstandard (Dickey & Fuller 1979) — the
    * statistic is the deliverable, the threshold is the reader's
    * (stated).
    *
    * Exactness: levels on the 1e-6 daily-mean grid; all five
    * regression moments are exact decimal sums of integer products;
    * b, SSE, and the t-ratio are ONE mirrored double chain. n < 3,
    * zero level variance, or zero residual variance degrade to 0
    * (stated).
    *
    * Scale shape: the q277 (type, day) metadata frame; the lag pair
    * is one window per type over its own day cells; moments are a
    * single agg. */
  val q289DickeyFuller: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |lg AS (
      |  SELECT t, day, m6,
      |    lag(day) OVER (PARTITION BY t ORDER BY day) AS dp,
      |    lag(m6) OVER (PARTITION BY t ORDER BY day) AS mp
      |  FROM dm),
      |pr AS (
      |  SELECT t, mp AS x, m6 - mp AS dd FROM lg WHERE dp = day - 1),
      |mo AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(dd AS HUGEINT)) AS sd,
      |    sum(CAST(x AS HUGEINT) * dd) AS sxd,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(dd AS HUGEINT) * dd) AS sdd
      |  FROM pr GROUP BY 1),
      |f AS (
      |  SELECT t, n,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
      |    CAST(n * sdd - sd * sd AS DOUBLE) AS cdd,
      |    CAST(n * sxd - sx * sd AS DOUBLE) AS cxd
      |  FROM mo)
      |SELECT t AS event_type, n AS n_obs,
      |  CASE WHEN cxx <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(cxd / cxx * 1000000 + 0.5) / 1000000 END AS beta,
      |  CASE WHEN cxx <= 0 OR n < 3
      |      OR cdd - cxd / cxx * cxd <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((cxd / cxx)
      |      / sqrt((cdd - cxd / cxx * cxd) / (n - 2) / cxx)
      |      * 1000000 + 0.5) / 1000000 END AS df_stat
      |FROM f""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dm = SeriesFrames.dailyMean6(s, d)
    val wd = Window.partitionBy(col("t")).orderBy(col("day"))
    val pr = dm.select(col("t"), col("day"), col("m6"),
        lag(col("day"), 1).over(wd).as("dp"),
        lag(col("m6"), 1).over(wd).as("mp"))
      .filter(col("dp") === col("day") - 1)
      .select(col("t"), col("mp").as("x"),
        (col("m6") - col("mp")).as("dd"))
    val mo = pr.groupBy(col("t")).agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("dd"))).as("sd"),
      sum(dec(col("x")) * col("dd")).as("sxd"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("dd")) * col("dd")).as("sdd"))
    val f = mo.select(col("t"), col("n"),
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        .as("cxx"),
      (col("n") * col("sdd") - col("sd") * col("sd")).cast("double")
        .as("cdd"),
      (col("n") * col("sxd") - col("sx") * col("sd")).cast("double")
        .as("cxd"))
    f.select(col("t").as("event_type"), col("n").as("n_obs"),
      when(col("cxx") <= 0, lit(0.0))
        .otherwise(floor(col("cxd") / col("cxx") * 1000000L + 0.5)
          / 1000000L).as("beta"),
      when(col("cxx") <= 0 || col("n") < 3 ||
          col("cdd") - col("cxd") / col("cxx") * col("cxd") <= 0,
          lit(0.0))
        .otherwise(floor((col("cxd") / col("cxx"))
          / sqrt((col("cdd") - col("cxd") / col("cxx") * col("cxd"))
            / (col("n") - 2) / col("cxx"))
          * 1000000L + 0.5) / 1000000L).as("df_stat"))
  }

  /** Trend and seasonal strength per event type — Hyndman's
    * variance-ratio measures on a lightweight STL: trend = centered
    * 7-day moving average (complete, gap-checked windows only),
    * seasonal = day-of-week mean of the detrended series, F_T =
    * max(0, 1 - Var(R)/Var(T+R)) and F_S = max(0, 1 - Var(R)/Var(S+R)).
    * One number each for "is this series mostly calendar" — the
    * decision between q123's seasonal-z anomaly model (needs high
    * F_S) and plain level monitoring (q173/q250).
    *
    * Exactness: the 7-day sum keeps the detrended series integer
    * (r7 = 7*y - window sum); r7/7 and the per-dow means quantize
    * once to the 1e-6 grid; all four variances are exact decimal
    * n*sum(z^2)-(sum z)^2 forms whose n factors cancel in the ratio —
    * ONE double division per F. Short series (no complete window)
    * emit no row; zero denominators degrade to 0 (stated).
    *
    * Scale shape: the (type, day) metadata frame; the MA is a
    * 7-row-bounded window per type; the dow means are an 8-cell agg;
    * everything else is per-type scalars. */
  val q290SeasonalStrength: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |ma AS (
      |  SELECT t, day, m6,
      |    sum(m6) OVER (PARTITION BY t ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
      |    count(*) OVER (PARTITION BY t ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7,
      |    max(day) OVER (PARTITION BY t ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |    - min(day) OVER (PARTITION BY t ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w7
      |  FROM dm),
      |dt AS (
      |  SELECT t, day, m6, 7 * m6 - CAST(s7 AS BIGINT) AS r7,
      |    CAST(floor(CAST(7 * m6 - s7 AS DOUBLE) / 7 + 0.5) AS BIGINT)
      |      AS rq,
      |    (day + 4) % 7 AS dow
      |  FROM ma WHERE c7 = 7 AND w7 = 6),
      |sw AS (
      |  SELECT t, dow,
      |    CAST(floor(CAST(sum(r7) AS DOUBLE) / (7 * count(*)) + 0.5)
      |      AS BIGINT) AS sq
      |  FROM dt GROUP BY 1, 2),
      |z AS (
      |  SELECT dt.t, dt.rq, sw.sq, dt.rq - sw.sq AS rr,
      |    dt.m6 - sw.sq AS ts
      |  FROM dt JOIN sw ON sw.t = dt.t AND sw.dow = dt.dow),
      |vv AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    count(*) * sum(CAST(rr AS HUGEINT) * rr)
      |      - sum(CAST(rr AS HUGEINT)) * sum(CAST(rr AS HUGEINT)) AS vr,
      |    count(*) * sum(CAST(rq AS HUGEINT) * rq)
      |      - sum(CAST(rq AS HUGEINT)) * sum(CAST(rq AS HUGEINT)) AS vsr,
      |    count(*) * sum(CAST(ts AS HUGEINT) * ts)
      |      - sum(CAST(ts AS HUGEINT)) * sum(CAST(ts AS HUGEINT)) AS vtr
      |  FROM z GROUP BY 1)
      |SELECT t AS event_type, n AS n_days_used,
      |  CASE WHEN vtr <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(greatest(0, 1 - CAST(vr AS DOUBLE) / vtr)
      |      * 1000000 + 0.5) / 1000000 END AS f_trend,
      |  CASE WHEN vsr <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(greatest(0, 1 - CAST(vr AS DOUBLE) / vsr)
      |      * 1000000 + 0.5) / 1000000 END AS f_seasonal
      |FROM vv""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dm = SeriesFrames.dailyMean6(s, d)
    val w7 = Window.partitionBy(col("t")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val ma = dm.select(col("t"), col("day"), col("m6"),
      sum(col("m6")).over(w7).as("s7"),
      count(lit(1)).over(w7).as("c7"),
      (max(col("day")).over(w7) - min(col("day")).over(w7)).as("wspan"))
    val dt = ma.filter(col("c7") === 7 && col("wspan") === 6)
      .select(col("t"), col("day"), col("m6"),
        (lit(7) * col("m6") - col("s7").cast("long")).as("r7"),
        floor((lit(7) * col("m6") - col("s7")).cast("double") / 7 + 0.5)
          .cast("long").as("rq"),
        pmod(col("day") + 4, lit(7)).as("dow"))
      .cache() // dow means and the variance agg reuse it
    val sw = dt.groupBy(col("t"), col("dow"))
      .agg(floor(sum(col("r7")).cast("double")
        / (lit(7) * count(lit(1))) + 0.5).cast("long").as("sq"))
    val z = dt.join(sw, Seq("t", "dow"))
      .select(col("t"), col("rq"), (col("rq") - col("sq")).as("rr"),
        (col("m6") - col("sq")).as("ts"))
    val vv = z.groupBy(col("t")).agg(count(lit(1)).as("n"),
      (count(lit(1)) * sum(dec(col("rr")) * col("rr"))
        - sum(dec(col("rr"))) * sum(dec(col("rr")))).as("vr"),
      (count(lit(1)) * sum(dec(col("rq")) * col("rq"))
        - sum(dec(col("rq"))) * sum(dec(col("rq")))).as("vsr"),
      (count(lit(1)) * sum(dec(col("ts")) * col("ts"))
        - sum(dec(col("ts"))) * sum(dec(col("ts")))).as("vtr"))
    vv.select(col("t").as("event_type"), col("n").as("n_days_used"),
      when(col("vtr") <= 0, lit(0.0))
        .otherwise(floor(greatest(lit(0),
          lit(1) - col("vr").cast("double") / col("vtr")) * 1000000L
          + 0.5) / 1000000L).as("f_trend"),
      when(col("vsr") <= 0, lit(0.0))
        .otherwise(floor(greatest(lit(0),
          lit(1) - col("vr").cast("double") / col("vsr")) * 1000000L
          + 0.5) / 1000000L).as("f_seasonal"))
  }

  /** Hurst exponent by rescaled-range analysis per event type —
    * complete 8/16/32-hour blocks of the hourly-mean series, per-block
    * R/S (range of cumulative deviations over the block sd), and H as
    * the log-log slope across the three dyadic sizes (evenly spaced
    * in ln, so the 3-point OLS slope collapses to
    * (ln rs32 - ln rs8) / (2 ln 2) — a shared literal, no fit
    * machinery). H > 0.5 = persistent long memory (shocks compound —
    * q277's whiteness rejection is SCALE-FREE, not a lag-1 artifact),
    * H < 0.5 = anti-persistent churn. The number that says how far
    * q279's Allan tau profile extrapolates.
    *
    * Exactness: the block-SUM device squared — cumulative deviations
    * scale by the block size (dev_k = size*cum_k - k*S, exact int:
    * the k=size term is 0, so the conventional 0 anchor is included),
    * and R/S = R_int / sqrt(size*sum(x^2) - S^2) because the size
    * factors cancel (stated algebra) — per-block R/S is ONE double
    * division over exact integers, quantized 1e-6 before the exact
    * per-size mean. Zero-variance blocks are excluded (stated); a
    * type missing any size reports H = 0.
    *
    * Scale shape: ONE events pass -> (type, hour) cells; blocks ride
    * a broadcast 3-row size explode; the cum walk is a window per
    * (type, size, block) — <= 32 rows by construction. Everything
    * after the per-block rollup is <= 3 rows per type. */
  val q291HurstRs: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.hourlySql},
      |sz AS (SELECT unnest([8, 16, 32]) AS size),
      |bl AS (
      |  SELECT t, size, h, m6, h // size AS bi,
      |    CAST(count(*) OVER (PARTITION BY t, size, h // size)
      |      AS BIGINT) AS nh,
      |    CAST(sum(m6) OVER (PARTITION BY t, size, h // size)
      |      AS BIGINT) AS sb,
      |    sum(CAST(m6 AS HUGEINT) * m6)
      |      OVER (PARTITION BY t, size, h // size) AS qb,
      |    CAST(sum(m6) OVER (PARTITION BY t, size, h // size
      |      ORDER BY h) AS BIGINT) AS cum,
      |    CAST(row_number() OVER (PARTITION BY t, size, h // size
      |      ORDER BY h) AS BIGINT) AS k
      |  FROM hm CROSS JOIN sz),
      |dv AS (
      |  SELECT t, size, bi, sb, qb, size * cum - k * sb AS dev
      |  FROM bl WHERE nh = size),
      |rb AS (
      |  SELECT t, size, bi, max(dev) - min(dev) AS rint,
      |    CAST(max(size) AS HUGEINT) * max(qb)
      |      - CAST(max(sb) AS HUGEINT) * max(sb) AS vterm
      |  FROM dv GROUP BY 1, 2, 3),
      |rs AS (
      |  SELECT t, size,
      |    CAST(floor(CAST(rint AS DOUBLE) / sqrt(CAST(vterm AS DOUBLE))
      |      * 1000000 + 0.5) AS BIGINT) AS rs6
      |  FROM rb WHERE vterm > 0),
      |mz AS (
      |  SELECT t, size, CAST(sum(rs6) AS BIGINT) AS s6,
      |    CAST(count(*) AS BIGINT) AS nb
      |  FROM rs GROUP BY 1, 2),
      |pv AS (
      |  SELECT t,
      |    max(CASE WHEN size = 8 THEN CAST(s6 AS DOUBLE) / nb / 1000000
      |      END) AS rs8,
      |    max(CASE WHEN size = 16 THEN CAST(s6 AS DOUBLE) / nb / 1000000
      |      END) AS rs16,
      |    max(CASE WHEN size = 32 THEN CAST(s6 AS DOUBLE) / nb / 1000000
      |      END) AS rs32
      |  FROM mz GROUP BY 1)
      |SELECT t AS event_type,
      |  floor(coalesce(rs8, 0) * 1000000 + 0.5) / 1000000 AS rs8,
      |  floor(coalesce(rs16, 0) * 1000000 + 0.5) / 1000000 AS rs16,
      |  floor(coalesce(rs32, 0) * 1000000 + 0.5) / 1000000 AS rs32,
      |  CASE WHEN rs8 IS NULL OR rs16 IS NULL OR rs32 IS NULL
      |      OR rs8 <= 0 OR rs32 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((ln(rs32) - ln(rs8)) / (2 * 0.6931471805599453)
      |      * 1000000 + 0.5) / 1000000 END AS hurst
      |FROM pv""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val hm = SeriesFrames.hourlyMean6(s, d)
    val sz = s.createDataFrame(Seq(Tuple1(8L), Tuple1(16L),
      Tuple1(32L))).toDF("size")
    val withBi = hm.crossJoin(broadcast(sz))
      .withColumn("bi", call_function("div",
        col("h") - pmod(col("h"), col("size")), col("size")))
    val wb = Window.partitionBy(col("t"), col("size"), col("bi"))
    val wo = wb.orderBy(col("h"))
    val bl = withBi.select(col("t"), col("size"), col("bi"), col("m6"),
      count(lit(1)).over(wb).cast("long").as("nh"),
      sum(col("m6")).over(wb).cast("long").as("sb"),
      sum(dec(col("m6")) * col("m6")).over(wb).as("qb"),
      sum(col("m6")).over(wo).cast("long").as("cum"),
      row_number().over(wo).cast("long").as("k"))
    val dv = bl.filter(col("nh") === col("size"))
      .select(col("t"), col("size"), col("bi"), col("sb"), col("qb"),
        (col("size") * col("cum") - col("k") * col("sb")).as("dev"))
    val rb = dv.groupBy(col("t"), col("size"), col("bi"))
      .agg((max(col("dev")) - min(col("dev"))).as("rint"),
        (dec(max(col("size"))) * max(col("qb"))
          - dec(max(col("sb"))) * max(col("sb"))).as("vterm"))
    val rs = rb.filter(col("vterm") > 0)
      .select(col("t"), col("size"),
        floor(col("rint").cast("double")
          / sqrt(col("vterm").cast("double")) * 1000000L + 0.5)
          .cast("long").as("rs6"))
    val mz = rs.groupBy(col("t"), col("size"))
      .agg(sum(col("rs6")).cast("long").as("s6"),
        count(lit(1)).as("nb"))
    val pv = mz.groupBy(col("t")).agg(
      max(when(col("size") === 8,
        col("s6").cast("double") / col("nb") / 1000000L)).as("rs8"),
      max(when(col("size") === 16,
        col("s6").cast("double") / col("nb") / 1000000L)).as("rs16"),
      max(when(col("size") === 32,
        col("s6").cast("double") / col("nb") / 1000000L)).as("rs32"))
    pv.select(col("t").as("event_type"),
      (floor(coalesce(col("rs8"), lit(0)) * 1000000L + 0.5) / 1000000L)
        .as("rs8"),
      (floor(coalesce(col("rs16"), lit(0)) * 1000000L + 0.5) / 1000000L)
        .as("rs16"),
      (floor(coalesce(col("rs32"), lit(0)) * 1000000L + 0.5) / 1000000L)
        .as("rs32"),
      when(col("rs8").isNull || col("rs16").isNull ||
          col("rs32").isNull || col("rs8") <= 0 || col("rs32") <= 0,
          lit(0.0))
        .otherwise(floor((log(col("rs32")) - log(col("rs8")))
          / (lit(2) * lit(Ln2)) * 1000000L + 0.5) / 1000000L)
        .as("hurst"))
  }

  val all: Map[String, QueryDef] = Map(
    "q287_grubbs" -> q287Grubbs,
    "q288_qq_drift_fit" -> q288QqDriftFit,
    "q289_dickey_fuller" -> q289DickeyFuller,
    "q290_seasonal_strength" -> q290SeasonalStrength,
    "q291_hurst_rs" -> q291HurstRs)
}
