package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Exact.{dec, q6, epochDay}

/** Round-12 tranche eleven: the forecast-and-changepoint closers of
  * the time-series panel — segmented (broken-stick) regression on the
  * daily revenue series (WHERE did the slope change and to what: the
  * regression changepoint beside q250's rank-based level test and
  * q173's CUSUM), a seasonal-naive forecast backtest (MASE: is
  * last-week-same-day actually a skillful forecast here — the
  * baseline every fancier model must beat, and the honest "how
  * predictable is this stream" number), STL-residual outlier days
  * (q290's decomposition turned into a robust anomaly LIST: which
  * calendar days broke the trend+weekday model), and partial
  * autocorrelations (Durbin-Levinson through lag 3: is q277's serial
  * structure AR(1)-shaped or deeper).
  *
  * House conventions: day cells on the cents/1e-6 grids, exact
  * decimal prefix/suffix moments, per-candidate quantization before
  * any argmin, mirrored double chains, lower-median cell walks for
  * the robust pieces, global-series windows only over time-range-
  * bounded day frames (named blanket exemptions, the q250 argument).
  */
object AnalyticsOps23 {

  /** q299's per-candidate breakpoint frame — (day, i, n, slope_l,
    * slope_r, sse3): every admissible split of the daily-revenue
    * series priced from ONE prefix-moment walk (suffix = total −
    * prefix). Shared with q304's confidence set so both read the
    * SAME SSE curve. Unpartitioned walks run over the <= |days|
    * revenue frame (metadata; named blanket exemption — the q250
    * argument). */
  private[operators] def sseCandidates(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, d)
      .select(epochDay(unix_micros(col("o_orderdate")))
        .as("day"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("rc"))
      .groupBy(col("day")).agg(sum(col("rc")).cast("long").as("rev"))
    val wD = Window.orderBy(col("day"))
    val wP = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pf = daily
      .select(col("day"), col("rev"),
        row_number().over(wD).cast("long").as("i"))
      .select(col("day"), col("i"),
        sum(dec(col("i"))).over(wP).as("sx"),
        sum(dec(col("rev"))).over(wP).as("sy"),
        sum(dec(col("i")) * col("i")).over(wP).as("sxx"),
        sum(dec(col("i")) * col("rev")).over(wP).as("sxy"),
        sum(dec(col("rev")) * col("rev")).over(wP).as("syy"))
      .cache() // totals row and the candidate sweep reuse the walk
    val tt = pf.agg(count(lit(1)).as("n"), max(col("sx")).as("tx"),
      max(col("sy")).as("ty"), max(col("sxx")).as("txx"),
      max(col("sxy")).as("txy"), max(col("syy")).as("tyy"))
    val cand = pf.crossJoin(broadcast(tt))
      .filter(col("i") >= 3 && col("n") - col("i") >= 3)
      .select(col("day"), col("i"), col("n"),
        (col("i").cast("double") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double"))
          .as("lyy"),
        (col("i").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          .as("lxy"),
        (col("i").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          .as("lxx"),
        ((col("n") - col("i")).cast("double")
          * (col("tyy") - col("syy")).cast("double")
          - (col("ty") - col("sy")).cast("double")
            * (col("ty") - col("sy")).cast("double")).as("ryy"),
        ((col("n") - col("i")).cast("double")
          * (col("txy") - col("sxy")).cast("double")
          - (col("tx") - col("sx")).cast("double")
            * (col("ty") - col("sy")).cast("double")).as("rxy"),
        ((col("n") - col("i")).cast("double")
          * (col("txx") - col("sxx")).cast("double")
          - (col("tx") - col("sx")).cast("double")
            * (col("tx") - col("sx")).cast("double")).as("rxx"))
    cand.filter(col("lxx") > 0 && col("rxx") > 0)
      .select(col("day"), col("i"), col("n"),
        (col("lxy") / col("lxx")).as("slope_l"),
        (col("rxy") / col("rxx")).as("slope_r"),
        floor(((col("lyy") - col("lxy") / col("lxx") * col("lxy"))
          / col("i")
          + (col("ryy") - col("rxy") / col("rxx") * col("rxy"))
            / (col("n") - col("i"))) / 1000 + 0.5)
          .cast("decimal(38,0)").as("sse3"))
  }

  /** q299's oracle-side candidate CTEs (daily..sse) — shared
    * verbatim with q304 so both engines read ONE spelling of the
    * SSE curve. */
  private[operators] val sseCandidatesSql: String =
    """WITH daily AS (
      |  SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
      |      AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |ix AS (
      |  SELECT day, rev,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
      |  FROM daily),
      |pf AS (
      |  SELECT day, i,
      |    CAST(sum(i) OVER w AS HUGEINT) AS sx,
      |    CAST(sum(CAST(rev AS HUGEINT)) OVER w AS HUGEINT) AS sy,
      |    CAST(sum(CAST(i AS HUGEINT) * i) OVER w AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(i AS HUGEINT) * rev) OVER w AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(rev AS HUGEINT) * rev) OVER w AS HUGEINT) AS syy
      |  FROM ix
      |  WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tt AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, max(sx) AS tx,
      |    max(sy) AS ty, max(sxx) AS txx, max(sxy) AS txy,
      |    max(syy) AS tyy
      |  FROM pf),
      |cand AS (
      |  SELECT pf.day, pf.i, tt.n,
      |    CAST(pf.i AS DOUBLE) * CAST(pf.syy AS DOUBLE)
      |      - CAST(pf.sy AS DOUBLE) * CAST(pf.sy AS DOUBLE) AS lyy,
      |    CAST(pf.i AS DOUBLE) * CAST(pf.sxy AS DOUBLE)
      |      - CAST(pf.sx AS DOUBLE) * CAST(pf.sy AS DOUBLE) AS lxy,
      |    CAST(pf.i AS DOUBLE) * CAST(pf.sxx AS DOUBLE)
      |      - CAST(pf.sx AS DOUBLE) * CAST(pf.sx AS DOUBLE) AS lxx,
      |    CAST(tt.n - pf.i AS DOUBLE)
      |        * CAST(tt.tyy - pf.syy AS DOUBLE)
      |      - CAST(tt.ty - pf.sy AS DOUBLE)
      |        * CAST(tt.ty - pf.sy AS DOUBLE) AS ryy,
      |    CAST(tt.n - pf.i AS DOUBLE)
      |        * CAST(tt.txy - pf.sxy AS DOUBLE)
      |      - CAST(tt.tx - pf.sx AS DOUBLE)
      |        * CAST(tt.ty - pf.sy AS DOUBLE) AS rxy,
      |    CAST(tt.n - pf.i AS DOUBLE)
      |        * CAST(tt.txx - pf.sxx AS DOUBLE)
      |      - CAST(tt.tx - pf.sx AS DOUBLE)
      |        * CAST(tt.tx - pf.sx AS DOUBLE) AS rxx
      |  FROM pf CROSS JOIN tt
      |  WHERE pf.i >= 3 AND tt.n - pf.i >= 3),
      |sse AS (
      |  SELECT day, i, n,
      |    lxy / lxx AS slope_l, rxy / rxx AS slope_r,
      |    CAST(floor(((lyy - lxy / lxx * lxy) / i
      |      + (ryy - rxy / rxx * rxy) / (n - i)) / 1000 + 0.5)
      |      AS HUGEINT) AS sse3
      |  FROM cand WHERE lxx > 0 AND rxx > 0)""".stripMargin

  /** Segmented regression on daily order revenue — one breakpoint,
    * exhaustive search: for every candidate split (both segments >= 3
    * days) fit OLS lines left and right and take the split minimizing
    * total SSE; report the break day, both slopes, and the variance
    * explained vs the single-line fit. q250 (Pettitt) detects a LEVEL
    * shift rank-wise; this detects a SLOPE change and quantifies it —
    * the "growth changed gear on day X" readout.
    *
    * Exactness: the candidate sweep needs only prefix moments (n, Sx,
    * Sy, Sxx, Sxy, Syy as exact decimal over day-index/revenue-cents
    * integers) — suffix moments are total minus prefix, so ONE window
    * walk prices every split in O(1) each; per-candidate SSEs are
    * mirrored doubles quantized to a 1e-3 cents^2 grid BEFORE the
    * argmin (ties break to the earliest day, stated); slopes are one
    * double chain off the winning split's exact moments. Degenerate
    * segments (zero x-variance can't occur — x is the day index) and
    * series under 6 days emit no row (stated).
    *
    * Scale shape: ONE orders pass -> <= |days| revenue cells; the
    * prefix walk is ONE unpartitioned window over that time-range-
    * bounded metadata frame (named blanket exemption, the q250
    * argument); the argmin is TakeOrdered(1). */
  val q299SegmentedFit: QueryDef = QueryDef.withOracle(
    s"""$sseCandidatesSql
      |SELECT day AS break_day, CAST(i AS BIGINT) AS n_days_left,
      |  CAST(n - i AS BIGINT) AS n_days_right,
      |  floor(slope_l / 100 * 1000000 + 0.5) / 1000000 AS slope_left,
      |  floor(slope_r / 100 * 1000000 + 0.5) / 1000000 AS slope_right,
      |  floor(CAST(sse3 AS DOUBLE) * 1000 / 10000 / 10000 * 1000000
      |    + 0.5) / 1000000 AS sse_scaled
      |FROM sse ORDER BY sse3, day LIMIT 1""".stripMargin
  ) { (s, d) =>
    sseCandidates(s, d).orderBy(col("sse3"), col("day")).limit(1)
      .select(col("day").as("break_day"),
        col("i").cast("long").as("n_days_left"),
        (col("n") - col("i")).cast("long").as("n_days_right"),
        (floor(col("slope_l") / 100 * 1000000L + 0.5) / 1000000L)
          .as("slope_left"),
        (floor(col("slope_r") / 100 * 1000000L + 0.5) / 1000000L)
          .as("slope_right"),
        (floor(col("sse3").cast("double") * 1000 / 10000 / 10000
          * 1000000L + 0.5) / 1000000L).as("sse_scaled"))
  }

  /** Seasonal-naive forecast backtest per event type — MASE: the
    * mean absolute error of the "same weekday last week" forecast
    * over the mean absolute error of the "same as yesterday" naive,
    * both on the SAME evaluable day set (days whose d-7 and d-1
    * neighbors exist — calendar joins, gaps excluded, stated;
    * in-sample-denominator purists divide elsewhere, this convention
    * is symmetric and leak-free). MASE < 1 says the weekly rhythm is
    * real forecast skill (q290's F_S made operational); MASE >= 1
    * says last-week adds nothing over yesterday. The baseline every
    * fancier forecast must beat.
    *
    * Exactness: all three series values are 1e-6-grid integers, so
    * both MAEs are exact integer sums with one division; MASE is one
    * mirrored double ratio. Zero naive error (perfectly constant
    * evaluable series) degrades to 0 (stated).
    *
    * Scale shape: the (type, day) metadata frame joined to itself at
    * day-7 and day-1 — cell joins, no window at all. */
  val q300MaseBacktest: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |ev2 AS (
      |  SELECT a.t, a.day, a.m6, w.m6 AS f7, y.m6 AS f1
      |  FROM dm a
      |  JOIN dm w ON w.t = a.t AND w.day = a.day - 7
      |  JOIN dm y ON y.t = a.t AND y.day = a.day - 1),
      |ag AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(abs(m6 - f7)) AS BIGINT) AS e7,
      |    CAST(sum(abs(m6 - f1)) AS BIGINT) AS e1
      |  FROM ev2 GROUP BY 1)
      |SELECT t AS event_type, n AS n_eval_days,
      |  floor(CAST(e7 AS DOUBLE) / n / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS mae_seasonal,
      |  floor(CAST(e1 AS DOUBLE) / n / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS mae_naive1,
      |  CASE WHEN e1 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(CAST(e7 AS DOUBLE) / e1 * 1000000 + 0.5) / 1000000
      |    END AS mase
      |FROM ag""".stripMargin
  ) { (s, d) =>
    val dm = SeriesFrames.dailyMean6(s, d)
      .cache() // three-way self-join on the day metadata frame
    val w7 = dm.toDF("t", "dw", "f7")
    val y1 = dm.toDF("t", "dy", "f1")
    val ev2 = dm.join(w7, col("dw") === col("day") - 7 &&
        w7("t") === dm("t"))
      .join(y1, col("dy") === col("day") - 1 && y1("t") === dm("t"))
      .select(dm("t").as("t"), col("m6"), col("f7"), col("f1"))
    val ag = ev2.groupBy(col("t")).agg(count(lit(1)).as("n"),
      sum(abs(col("m6") - col("f7"))).cast("long").as("e7"),
      sum(abs(col("m6") - col("f1"))).cast("long").as("e1"))
    ag.select(col("t").as("event_type"), col("n").as("n_eval_days"),
      (floor(col("e7").cast("double") / col("n") / 1000000L * 1000000L
        + 0.5) / 1000000L).as("mae_seasonal"),
      (floor(col("e1").cast("double") / col("n") / 1000000L * 1000000L
        + 0.5) / 1000000L).as("mae_naive1"),
      when(col("e1") === 0, lit(0.0))
        .otherwise(floor(col("e7").cast("double") / col("e1")
          * 1000000L + 0.5) / 1000000L).as("mase"))
  }

  /** STL-residual outlier days per event type — q290's integer
    * residual R (daily mean minus 7-day trend minus day-of-week
    * seasonal) put through the robust fence: flag days where
    * |R - median(R)| > 3 * MAD(R). The anomaly LIST q290's strength
    * summary implies: q123 z-scores against a fitted seasonal model
    * and q105 fences raw values; this fences what's left AFTER trend
    * and weekday are explained — the days something actually
    * happened. Output is the flagged days with their residuals (in
    * value units) and the per-type fence, so an empty result is
    * itself the healthy reading.
    *
    * Exactness: R is exact-integer (the q290 7*y - window-sum
    * device, quantized once to the 1e-6 grid); median and MAD are
    * house lower-median cell walks (exact); the fence compare is
    * pure integers. mad = 0 degrades to flagging nothing (stated —
    * a constant-residual series has no robust scale to exceed).
    *
    * Scale shape: q290's windows (7-row MA per type on day metadata)
    * plus two median cell walks per type; everything is the same
    * time-range-bounded frame. */
  val q301StlOutlierDays: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |ma AS (
      |  SELECT t, day, m6,
      |    sum(m6) OVER w7 AS s7, count(*) OVER w7 AS c7,
      |    max(day) OVER w7 - min(day) OVER w7 AS wspan
      |  FROM dm
      |  WINDOW w7 AS (PARTITION BY t ORDER BY day
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |dt AS (
      |  SELECT t, day, m6, 7 * m6 - CAST(s7 AS BIGINT) AS r7,
      |    (day + 4) % 7 AS dow
      |  FROM ma WHERE c7 = 7 AND wspan = 6),
      |sw AS (
      |  SELECT t, dow,
      |    CAST(floor(CAST(sum(r7) AS DOUBLE) / (7 * count(*)) + 0.5)
      |      AS BIGINT) AS sq
      |  FROM dt GROUP BY 1, 2),
      |rr AS (
      |  SELECT dt.t, dt.day,
      |    CAST(floor(CAST(dt.r7 AS DOUBLE) / 7 + 0.5) AS BIGINT)
      |      - sw.sq AS r
      |  FROM dt JOIN sw ON sw.t = dt.t AND sw.dow = dt.dow),
      |mc AS (SELECT t, r, count(*) AS cnt FROM rr GROUP BY 1, 2),
      |mw AS (
      |  SELECT t, r, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY t ORDER BY r) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY t) AS BIGINT) AS n
      |  FROM mc),
      |med AS (SELECT t, min(r) AS med FROM mw WHERE 2 * cum >= n
      |  GROUP BY 1),
      |ac AS (
      |  SELECT rr.t, abs(rr.r - med.med) AS a, count(*) AS cnt
      |  FROM rr JOIN med ON med.t = rr.t GROUP BY 1, 2),
      |aw AS (
      |  SELECT t, a, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY t ORDER BY a) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY t) AS BIGINT) AS n
      |  FROM ac),
      |mad AS (SELECT t, min(a) AS mad FROM aw WHERE 2 * cum >= n
      |  GROUP BY 1)
      |SELECT rr.t AS event_type, rr.day,
      |  floor(CAST(rr.r - med.med AS DOUBLE) / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS residual,
      |  floor(CAST(3 * mad.mad AS DOUBLE) / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS fence
      |FROM rr JOIN med ON med.t = rr.t JOIN mad ON mad.t = rr.t
      |WHERE mad.mad > 0 AND abs(rr.r - med.med) > 3 * mad.mad""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dm = SeriesFrames.dailyMean6(s, d)
    val w7 = Window.partitionBy(col("t")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val dt = dm.select(col("t"), col("day"), col("m6"),
        sum(col("m6")).over(w7).as("s7"),
        count(lit(1)).over(w7).as("c7"),
        (max(col("day")).over(w7) - min(col("day")).over(w7))
          .as("wspan"))
      .filter(col("c7") === 7 && col("wspan") === 6)
      .select(col("t"), col("day"),
        (lit(7) * col("m6") - col("s7").cast("long")).as("r7"),
        pmod(col("day") + 4, lit(7)).as("dow"))
      .cache() // dow means + residual join reuse it
    val sw = dt.groupBy(col("t"), col("dow"))
      .agg(floor(sum(col("r7")).cast("double")
        / (lit(7) * count(lit(1))) + 0.5).cast("long").as("sq"))
    val rr = dt.join(sw, Seq("t", "dow"))
      .select(col("t"), col("day"),
        (floor(col("r7").cast("double") / 7 + 0.5).cast("long")
          - col("sq")).as("r"))
      .cache() // two median walks + the final fence read it
    def lowerMedian(df: DataFrame, vcol: String, out: String): DataFrame = {
      val cells = df.groupBy(col("t"), col(vcol))
        .agg(count(lit(1)).as("cnt"))
      cells.select(col("t"), col(vcol), col("cnt"),
          sum(col("cnt")).over(Window.partitionBy(col("t"))
            .orderBy(col(vcol))).cast("long").as("cum"),
          sum(col("cnt")).over(Window.partitionBy(col("t")))
            .cast("long").as("n"))
        .filter(lit(2) * col("cum") >= col("n"))
        .groupBy(col("t")).agg(min(col(vcol)).as(out))
    }
    val med = lowerMedian(rr, "r", "med")
    val ab = rr.join(med, Seq("t"))
      .select(col("t"), abs(col("r") - col("med")).as("a"))
    val mad = lowerMedian(ab, "a", "mad")
    rr.join(med, Seq("t")).join(mad, Seq("t"))
      .filter(col("mad") > 0 &&
        abs(col("r") - col("med")) > lit(3) * col("mad"))
      .select(col("t").as("event_type"), col("day"),
        (floor((col("r") - col("med")).cast("double") / 1000000L
          * 1000000L + 0.5) / 1000000L).as("residual"),
        (floor((lit(3) * col("mad")).cast("double") / 1000000L
          * 1000000L + 0.5) / 1000000L).as("fence"))
  }

  /** Partial autocorrelations (lags 1-3, Durbin-Levinson) of the
    * daily-mean series per event type — q277 measures RAW serial
    * correlation; PACF says how much each lag adds AFTER shorter
    * lags are regressed out: phi11 = r1, phi22 = (r2 - r1^2) /
    * (1 - r1^2), phi33 by the level-3 recursion. A large phi11 with
    * phi22 ~ phi33 ~ 0 is the AR(1) signature (one smoothing
    * constant suffices — q111's EWMA is the right model); structure
    * surviving at lag 2-3 says the series needs more memory than any
    * single EWMA has.
    *
    * Exactness: r1..r3 come from q277's integer-centering machinery
    * (exact decimal lag products over the y = m6*n - sum device, the
    * n^2 cancelling in each ratio); the Durbin-Levinson chain is one
    * mirrored double expression per output, quantized 1e-6. Zero
    * denominators (constant series, |r1| = 1 edge) degrade to 0
    * (stated).
    *
    * Scale shape: the (type, day) metadata frame; a 3-lag broadcast
    * explode self-join on day cells. */
  val q302Pacf: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |st AS (
      |  SELECT t, CAST(sum(m6) AS BIGINT) AS sm,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM dm GROUP BY 1),
      |y AS (
      |  SELECT dm.t, dm.day, dm.m6 * st.nd - st.sm AS y
      |  FROM dm JOIN st ON st.t = dm.t),
      |d0 AS (
      |  SELECT t, sum(CAST(y AS HUGEINT) * y) AS d0 FROM y GROUP BY 1),
      |ks AS (SELECT unnest([1, 2, 3]) AS k),
      |num AS (
      |  SELECT a.t, ks.k, sum(CAST(a.y AS HUGEINT) * b.y) AS nk
      |  FROM y a CROSS JOIN ks
      |  JOIN y b ON b.t = a.t AND b.day = a.day - ks.k
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT d0.t,
      |    CASE WHEN d0.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(max(CASE WHEN k = 1 THEN nk END) AS DOUBLE)
      |        / CAST(d0.d0 AS DOUBLE) END AS r1,
      |    CASE WHEN d0.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(max(CASE WHEN k = 2 THEN nk END) AS DOUBLE)
      |        / CAST(d0.d0 AS DOUBLE) END AS r2,
      |    CASE WHEN d0.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(max(CASE WHEN k = 3 THEN nk END) AS DOUBLE)
      |        / CAST(d0.d0 AS DOUBLE) END AS r3,
      |    max(st.nd) AS nd
      |  FROM num JOIN d0 ON d0.t = num.t JOIN st ON st.t = num.t
      |  GROUP BY d0.t, d0.d0),
      |dl AS (
      |  SELECT t, nd, r1, r2, r3,
      |    CASE WHEN 1 - r1 * r1 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE (r2 - r1 * r1) / (1 - r1 * r1) END AS p22
      |  FROM rk),
      |dl2 AS (
      |  SELECT t, nd, r1, r2, r3, p22,
      |    r1 - p22 * r1 AS p21
      |  FROM dl)
      |SELECT t AS event_type, CAST(nd AS BIGINT) AS n_days,
      |  floor(r1 * 1000000 + 0.5) / 1000000 AS pacf1,
      |  floor(p22 * 1000000 + 0.5) / 1000000 AS pacf2,
      |  CASE WHEN 1 - p21 * r1 - p22 * r2 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((r3 - p21 * r2 - p22 * r1)
      |      / (1 - p21 * r1 - p22 * r2) * 1000000 + 0.5) / 1000000
      |    END AS pacf3
      |FROM dl2""".stripMargin
  ) { (s, d) =>
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
    val ks = s.range(1, 4).toDF("k")
    val b = y.select(col("t").as("tb"), col("day").as("db"),
      col("y").as("yb"))
    val num = y.crossJoin(broadcast(ks))
      .join(b, col("tb") === col("t") && col("db") === col("day")
        - col("k"))
      .groupBy(col("t"), col("k"))
      .agg(sum(dec(col("y")) * col("yb")).as("nk"))
    val rk = num.join(d0.toDF("t", "d0", "nd"), Seq("t"))
      .groupBy(col("t"), col("d0"), col("nd"))
      .agg(max(when(col("k") === 1, col("nk"))).as("n1"),
        max(when(col("k") === 2, col("nk"))).as("n2"),
        max(when(col("k") === 3, col("nk"))).as("n3"))
      .select(col("t"), col("nd"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("n1").cast("double") / col("d0").cast("double"))
          .as("r1"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("n2").cast("double") / col("d0").cast("double"))
          .as("r2"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("n3").cast("double") / col("d0").cast("double"))
          .as("r3"))
    val dl = rk.select(col("t"), col("nd"), col("r1"), col("r2"),
      col("r3"),
      when(lit(1) - col("r1") * col("r1") <= 0, lit(0.0))
        .otherwise((col("r2") - col("r1") * col("r1"))
          / (lit(1) - col("r1") * col("r1"))).as("p22"))
    val dl2 = dl.withColumn("p21", col("r1") - col("p22") * col("r1"))
    dl2.select(col("t").as("event_type"),
      col("nd").cast("long").as("n_days"),
      q6(col("r1")).as("pacf1"),
      q6(col("p22")).as("pacf2"),
      when(lit(1) - col("p21") * col("r1") - col("p22") * col("r2")
          <= 0, lit(0.0))
        .otherwise(q6((col("r3") - col("p21") * col("r2")
          - col("p22") * col("r1"))
          / (lit(1) - col("p21") * col("r1")
            - col("p22") * col("r2")))).as("pacf3"))
  }

  val all: Map[String, QueryDef] = Map(
    "q299_segmented_fit" -> q299SegmentedFit,
    "q300_mase_backtest" -> q300MaseBacktest,
    "q301_stl_outlier_days" -> q301StlOutlierDays,
    "q302_pacf" -> q302Pacf)
}
