package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Exact.{dec, cents, q6}

/** Round-12 tranche six: the time-series health statistics a
  * telemetry-backed training pipeline reports per stream, plus two
  * corpus/graph structure numbers — Yule's K (the frequency-of-
  * frequencies vocabulary-concentration constant that, unlike q240's
  * Simpson over the same cells, is length-invariant by construction),
  * Jarque-Bera normality (the one-pass skew/kurtosis gate that says
  * whether q123/q105's z-score anomaly thresholds are even
  * calibrated), the Ljung-Box portmanteau (is the daily series white
  * noise — the precondition q104/q226's iid-variance A/B math quietly
  * assumes), the Wald-Wolfowitz runs test (the nonparametric twin:
  * sign-pattern randomness against the daily median), Allan variance
  * (the dedicated sensor-stability statistic: WHICH averaging window
  * tau minimizes drift — the number behind q111's EWMA half-life
  * choice), and the rich-club coefficient (do high-degree parts in
  * the co-purchase graph preferentially interlink — the hub-collusion
  * structure q148's degree histogram and q227's local clustering both
  * miss).
  *
  * House conventions throughout: ONE data pass into integer cell
  * frames (cents grid for `value`, 1e-6 grid for daily/hourly means),
  * all order-dependent sums as exact decimal(38,0)/HUGEINT over those
  * integers, ONE double expression at the end written in the same
  * operation order in both engines, quantized 1e-6. Windows only over
  * metadata-sized frames (per-type day/hour-block cells), always
  * partitioned by the stream key.
  */
object AnalyticsOps18 {

  /** Yule's characteristic K per source — the classic vocabulary-
    * concentration constant K = 10^4 * (sum_f V(f) * f^2 - N) / N^2
    * over the frequency-of-frequencies spectrum (Yule 1944). Unlike
    * raw TTR (falls with length mechanically) and q240's Simpson
    * (which this is an affine transform of ONLY at equal N), K is
    * designed to be length-invariant, so per-source values are
    * directly comparable across sources of different corpus sizes —
    * the repetitiveness number stylometry and template-farm triage
    * both read.
    *
    * Exactness: pure integer until the single final division — N and
    * sum(f^2) are exact HUGEINT/decimal(38,0) sums over word-count
    * cells; one double expression, quantized 1e-6.
    *
    * Scale shape: ONE tokenization pass -> (source, word) count cells
    * (the q39/q234 frame); the spectrum collapse is a second agg over
    * cells. No window, no join. At 100 TB the cell frame is
    * Heaps-bounded vocabulary, not tokens. */
  val q275YuleK: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |wc AS (SELECT source, w, count(*) AS f FROM t GROUP BY 1, 2),
      |m AS (
      |  SELECT source, CAST(sum(f) AS BIGINT) AS n,
      |    count(*) AS v, sum(CAST(f AS HUGEINT) * f) AS s2
      |  FROM wc GROUP BY 1)
      |SELECT source, n AS n_tokens, CAST(v AS BIGINT) AS n_types,
      |  floor(10000.0 * (CAST(s2 AS DOUBLE) - n)
      |    / (CAST(n AS DOUBLE) * n) * 1000000 + 0.5) / 1000000 AS yule_k
      |FROM m""".stripMargin
  ) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
    val wc = t.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("f"))
    wc.groupBy(col("source"))
      .agg(sum(col("f")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(dec(col("f")) * col("f")).as("s2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        q6(lit(10000.0) * (col("s2").cast("double") - col("n_tokens"))
          / (col("n_tokens").cast("double") * col("n_tokens")))
          .as("yule_k"))
  }

  /** Jarque-Bera normality test per event type — skewness, excess
    * kurtosis, and JB = n/6 * (S^2 + K^2/4) from one pass of exact
    * raw power sums over the cents grid. JB is the cheapest "are
    * z-scores meaningful here" gate: q105's MAD outliers and q123's
    * seasonal z-anomalies both threshold in sigma units, and a large
    * JB says those units are miscalibrated (heavy tail or skew).
    * Skew/kurtosis are scale-invariant, so the cents grid IS the
    * value grid for them.
    *
    * Exactness: S1..S4 are exact decimal(38,0)/HUGEINT sums of
    * cnt*v^k over (type, cents) cells (|v| <= ~5e4 -> v^4 <= ~6e18,
    * times 1e12 rows stays < 1e38 — stated bound); the central-moment
    * assembly is ONE double expression per output, identical token
    * order both engines, quantized 1e-6. Zero variance degrades to
    * all-zero outputs (stated).
    *
    * Scale shape: ONE events pass -> cents cells -> 5 power sums per
    * type; everything downstream is |types| rows. No window, no
    * join. */
  val q276JarqueBera: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |c AS (SELECT t, v, count(*) AS cnt FROM ev GROUP BY 1, 2),
      |m AS (
      |  SELECT t, CAST(sum(cnt) AS BIGINT) AS n,
      |    sum(CAST(cnt AS HUGEINT) * v) AS s1,
      |    sum(CAST(cnt AS HUGEINT) * v * v) AS s2,
      |    sum(CAST(cnt AS HUGEINT) * v * v * v) AS s3,
      |    sum(CAST(cnt AS HUGEINT) * v * v * v * v) AS s4
      |  FROM c GROUP BY 1),
      |f AS (
      |  SELECT t, n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS a2,
      |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS a3,
      |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS a4
      |  FROM m),
      |g AS (
      |  SELECT t, n, mu,
      |    a2 - mu * mu AS m2,
      |    a3 - 3 * mu * a2 + 2 * mu * mu * mu AS m3,
      |    a4 - 4 * mu * a3 + 6 * mu * mu * a2
      |      - 3 * mu * mu * mu * mu AS m4
      |  FROM f)
      |SELECT t AS event_type, n,
      |  CASE WHEN m2 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(m3 / (m2 * sqrt(m2)) * 1000000 + 0.5) / 1000000
      |    END AS skewness,
      |  CASE WHEN m2 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((m4 / (m2 * m2) - 3) * 1000000 + 0.5) / 1000000
      |    END AS ex_kurtosis,
      |  CASE WHEN m2 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(CAST(n AS DOUBLE) / 6
      |      * (m3 / (m2 * sqrt(m2)) * (m3 / (m2 * sqrt(m2)))
      |        + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4)
      |      * 1000000 + 0.5) / 1000000 END AS jarque_bera
      |FROM g""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type").as("t"), cents)
    val c = ev.groupBy(col("t"), col("v")).agg(count(lit(1)).as("cnt"))
    val m = c.groupBy(col("t")).agg(
      sum(col("cnt")).cast("long").as("n"),
      sum(dec(col("cnt")) * col("v")).as("s1"),
      sum(dec(col("cnt")) * col("v") * col("v")).as("s2"),
      sum(dec(col("cnt")) * col("v") * col("v") * col("v")).as("s3"),
      sum(dec(col("cnt")) * col("v") * col("v") * col("v") * col("v"))
        .as("s4"))
    val nD = col("n").cast("double")
    val f = m.select(col("t"), col("n"),
      (col("s1").cast("double") / nD).as("mu"),
      (col("s2").cast("double") / nD).as("a2"),
      (col("s3").cast("double") / nD).as("a3"),
      (col("s4").cast("double") / nD).as("a4"))
    val g = f.select(col("t"), col("n"), col("mu"),
      (col("a2") - col("mu") * col("mu")).as("m2"),
      (col("a3") - lit(3) * col("mu") * col("a2")
        + lit(2) * col("mu") * col("mu") * col("mu")).as("m3"),
      (col("a4") - lit(4) * col("mu") * col("a3")
        + lit(6) * col("mu") * col("mu") * col("a2")
        - lit(3) * col("mu") * col("mu") * col("mu") * col("mu")).as("m4"))
    val sk = col("m3") / (col("m2") * sqrt(col("m2")))
    val ek = col("m4") / (col("m2") * col("m2")) - 3
    g.select(col("t").as("event_type"), col("n"),
      when(col("m2") <= 0, lit(0.0)).otherwise(q6(sk)).as("skewness"),
      when(col("m2") <= 0, lit(0.0)).otherwise(q6(ek)).as("ex_kurtosis"),
      when(col("m2") <= 0, lit(0.0))
        .otherwise(q6(col("n").cast("double") / lit(6)
          * (sk * sk + ek * ek / lit(4)))).as("jarque_bera"))
  }

  /** Ljung-Box portmanteau (lags 1..7) on the daily-mean series per
    * event type — Q = n(n+2) * sum_k r_k^2/(n-k), the "is this series
    * white noise" test. A significant Q says daily observations are
    * serially dependent, so any variance computed under iid (q104's
    * A/B z, q226's SRM, q263's MDE) understates uncertainty — this is
    * the precondition gate for the whole daily-stats family. r_1 is
    * also reported (the lag the eye checks first).
    *
    * Exactness: daily means land on the 1e-6 grid (m6 integer); the
    * centering trick keeps everything integer — y_d = m6*n_days -
    * sum(m6) is exact, and r_k = sum(y_t*y_{t-k}) / sum(y^2) because
    * the n_days^2 scale factor cancels in the ratio. Numerators are
    * decimal(38,0) sums of integer products; each lag's Q-term is
    * quantized to 1e-12 before the 7-term sum (the q266 convention),
    * so the only unquantized float work is one product per lag.
    * Zero-variance series degrade to 0 (stated).
    *
    * Scale shape: ONE events pass -> (type, day) cells; the day index
    * is a row_number partitioned BY TYPE over the per-type day cells
    * (|days| rows per partition — metadata, never events); the lag
    * pairing is a 7-way self-join of that same cell frame. At 10
    * years of days this is 3 650 rows per type. */
  val q277LjungBox: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |ix AS (
      |  SELECT t, m6,
      |    row_number() OVER (PARTITION BY t ORDER BY day) AS idx
      |  FROM dm),
      |st AS (
      |  SELECT t, CAST(sum(m6) AS BIGINT) AS sm,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM ix GROUP BY 1),
      |y AS (
      |  SELECT ix.t, ix.idx, ix.m6 * st.nd - st.sm AS y, st.nd
      |  FROM ix JOIN st ON st.t = ix.t),
      |den AS (
      |  SELECT t, sum(CAST(y AS HUGEINT) * y) AS d0, any_value(nd) AS nd
      |  FROM y GROUP BY 1),
      |ks AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS k),
      |num AS (
      |  SELECT a.t, ks.k, sum(CAST(a.y AS HUGEINT) * b.y) AS nk
      |  FROM y a CROSS JOIN ks
      |  JOIN y b ON b.t = a.t AND b.idx = a.idx - ks.k
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT num.t, num.k, den.nd,
      |    CASE WHEN den.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(nk AS DOUBLE) / CAST(d0 AS DOUBLE) END AS r
      |  FROM num JOIN den ON den.t = num.t),
      |qt AS (
      |  SELECT t, nd,
      |    CAST(sum(CASE WHEN k = 1
      |      THEN CAST(floor(r * 1000000 + 0.5) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS r1_6,
      |    CAST(sum(CAST(floor(r * r / (nd - k) * 1000000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS qsum12
      |  FROM rk WHERE nd > k GROUP BY 1, 2)
      |SELECT t AS event_type, nd AS n_days,
      |  CAST(r1_6 AS DOUBLE) / 1000000 AS r1,
      |  floor(CAST(nd * (nd + 2) AS DOUBLE) * qsum12 / 1000000000000
      |    * 1000000 + 0.5) / 1000000 AS q_lb
      |FROM qt""".stripMargin
  ) { (s, d) =>
    val dm = SeriesFrames.dailyMean6(s, d)
    import org.apache.spark.sql.expressions.Window
    // per-type day index: |days|-sized partitions (metadata frame)
    val ix = dm.select(col("t"), col("m6"), row_number()
        .over(Window.partitionBy(col("t")).orderBy(col("day")))
        .cast("long").as("idx"))
      .cache() // one daily frame; center join + 7 lag joins reuse it
    val st = ix.groupBy(col("t"))
      .agg(sum(col("m6")).cast("long").as("sm"),
        count(lit(1)).as("nd"))
    val y = ix.join(st, Seq("t"))
      .select(col("t"), col("idx"),
        (col("m6") * col("nd") - col("sm")).as("y"), col("nd"))
      .cache()
    val den = y.groupBy(col("t"))
      .agg(sum(dec(col("y")) * col("y")).as("d0"),
        first(col("nd")).as("nd"))
    val ks = s.range(1, 8).toDF("k")
    val b = y.select(col("t").as("tb"), col("idx").as("ib"),
      col("y").as("yb"))
    val num = y.crossJoin(broadcast(ks))
      .join(b, col("tb") === col("t") && col("ib") === col("idx") - col("k"))
      .groupBy(col("t"), col("k"))
      .agg(sum(dec(col("y")) * col("yb")).as("nk"))
    val rk = num.join(den.withColumnRenamed("t", "td"),
        col("td") === col("t"))
      .select(col("t"), col("k"), col("nd"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("nk").cast("double") / col("d0").cast("double"))
          .as("r"))
    val qt = rk.filter(col("nd") > col("k"))
      .groupBy(col("t"), col("nd"))
      .agg(sum(when(col("k") === 1,
          floor(col("r") * 1000000L + 0.5).cast("long")).otherwise(0L))
          .cast("long").as("r1_6"),
        sum(floor(col("r") * col("r") / (col("nd") - col("k"))
          * 1000000000000L + 0.5).cast("long")).cast("long").as("qsum12"))
    qt.select(col("t").as("event_type"), col("nd").as("n_days"),
      (col("r1_6").cast("double") / 1000000L).as("r1"),
      (floor((col("nd") * (col("nd") + 2)).cast("double") * col("qsum12")
        / 1000000000000L * 1000000L + 0.5) / 1000000L).as("q_lb"))
  }

  /** Wald-Wolfowitz runs test per event type — the nonparametric
    * randomness check on the daily-mean series: sign each day against
    * the per-type lower median (ties dropped, the standard
    * convention), count sign runs, and z-score against the
    * 2*n1*n2/n + 1 null. Complements q277: Ljung-Box sees linear
    * autocorrelation, the runs test sees ANY sign-pattern structure
    * (level shifts, slow cycles) without assuming a correlation
    * model.
    *
    * Exactness: daily means on the 1e-6 integer grid; median by the
    * house lower-median cumulative-count walk (2*cum >= n) over
    * (type, m6) cells; runs/n1/n2 are exact integers; one double z
    * expression, quantized 1e-6. Degenerate splits (n1 or n2 = 0, or
    * n < 2) report z = 0 (stated).
    *
    * Scale shape: same (type, day) metadata frame as q277; the sign
    * sequence walk is a lag window partitioned by type over |days|
    * rows. */
  val q278RunsTest: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |mc AS (SELECT t, m6, count(*) AS cnt FROM dm GROUP BY 1, 2),
      |mw AS (
      |  SELECT t, m6, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY t ORDER BY m6) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY t) AS BIGINT) AS n
      |  FROM mc),
      |med AS (SELECT t, min(m6) AS med FROM mw WHERE 2 * cum >= n
      |  GROUP BY 1),
      |sg AS (
      |  SELECT dm.t, dm.day,
      |    CASE WHEN dm.m6 > med.med THEN 1 ELSE -1 END AS s
      |  FROM dm JOIN med ON med.t = dm.t WHERE dm.m6 <> med.med),
      |rn AS (
      |  SELECT t, s,
      |    lag(s) OVER (PARTITION BY t ORDER BY day) AS sp
      |  FROM sg),
      |agg AS (
      |  SELECT t,
      |    CAST(sum(CASE WHEN sp IS NULL OR s <> sp THEN 1 ELSE 0 END)
      |      AS BIGINT) AS runs,
      |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM rn GROUP BY 1)
      |SELECT t AS event_type, n1 AS n_pos, n2 AS n_neg, runs AS n_runs,
      |  CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 < 2 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(runs AS DOUBLE)
      |      - (2.0 * n1 * n2 / (n1 + n2) + 1))
      |      / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
      |        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)))
      |      * 1000000 + 0.5) / 1000000 END AS z
      |FROM agg""".stripMargin
  ) { (s, d) =>
    val dm = SeriesFrames.dailyMean6(s, d)
      .cache() // daily metadata frame: median walk + sign walk reuse
    import org.apache.spark.sql.expressions.Window
    val mc = dm.groupBy(col("t"), col("m6")).agg(count(lit(1)).as("cnt"))
    // house lower-median walk over per-type value cells (metadata)
    val mw = mc.select(col("t"), col("m6"), col("cnt"),
      sum(col("cnt")).over(Window.partitionBy(col("t")).orderBy(col("m6")))
        .cast("long").as("cum"),
      sum(col("cnt")).over(Window.partitionBy(col("t")))
        .cast("long").as("n"))
    val med = mw.filter(lit(2) * col("cum") >= col("n"))
      .groupBy(col("t")).agg(min(col("m6")).as("med"))
    val sg = dm.join(med, Seq("t")).filter(col("m6") =!= col("med"))
      .select(col("t"), col("day"),
        when(col("m6") > col("med"), lit(1)).otherwise(lit(-1)).as("s"))
    val rn = sg.select(col("t"), col("s"),
      lag(col("s"), 1).over(
        Window.partitionBy(col("t")).orderBy(col("day"))).as("sp"))
    val agg = rn.groupBy(col("t")).agg(
      sum(when(col("sp").isNull || col("s") =!= col("sp"), 1).otherwise(0))
        .cast("long").as("runs"),
      sum(when(col("s") === 1, 1).otherwise(0)).cast("long").as("n1"),
      sum(when(col("s") === -1, 1).otherwise(0)).cast("long").as("n2"))
    val nT = col("n1") + col("n2")
    val mu = lit(2.0) * col("n1") * col("n2") / nT + 1
    val vr = lit(2.0) * col("n1") * col("n2") *
      (lit(2.0) * col("n1") * col("n2") - nT) /
      (nT.cast("double") * nT * (nT - 1))
    agg.select(col("t").as("event_type"), col("n1").as("n_pos"),
      col("n2").as("n_neg"), col("runs").as("n_runs"),
      when(col("n1") === 0 || col("n2") === 0 || nT < 2, lit(0.0))
        .otherwise(q6((col("runs").cast("double") - mu) / sqrt(vr)))
        .as("z"))
  }

  /** Allan variance per event type at tau = 1/2/4/8-hour averaging
    * windows — sigma^2(tau) = sum (ybar_{i+1} - ybar_i)^2 / (2(M-1))
    * over adjacent complete tau-hour block means. THE sensor-
    * stability statistic (Allan 1966): white noise falls as 1/tau,
    * flicker floors, random-walk drift RISES — the tau profile says
    * which averaging window q111's EWMA (and any telemetry smoothing)
    * should use. Only complete blocks (all tau hours present) and
    * adjacent block pairs (consecutive indices) enter, so gaps in
    * the hour grid exclude pairs instead of biasing them (stated).
    *
    * Exactness: hourly means on the 1e-6 grid; a block SUM of tau
    * integers stays integer, and since ybar = S/tau, sigma^2(tau) =
    * sum (S_{i+1}-S_i)^2 / (2(M-1)tau^2) — the numerator is an exact
    * decimal(38,0) sum of squared integer diffs; ONE double division,
    * quantized 1e-6.
    *
    * Scale shape: ONE events pass -> (type, hour) cells; blocks and
    * adjacency are windows partitioned by (type, tau) over hour-block
    * cells (metadata: 8 766 rows/type/year at tau=1). The 4 taus ride
    * a broadcast 4-row explode of the SAME hourly frame. */
  val q279AllanVariance: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.hourlySql},
      |taus AS (SELECT unnest([1, 2, 4, 8]) AS tau),
      |bl AS (
      |  SELECT t, tau, h // tau AS bi, CAST(sum(m6) AS BIGINT) AS sb,
      |    count(*) AS nh
      |  FROM hm CROSS JOIN taus GROUP BY 1, 2, 3),
      |cb AS (SELECT t, tau, bi, sb FROM bl WHERE nh = tau),
      |ad AS (
      |  SELECT t, tau, bi, sb,
      |    lag(bi) OVER (PARTITION BY t, tau ORDER BY bi) AS bip,
      |    lag(sb) OVER (PARTITION BY t, tau ORDER BY bi) AS sbp
      |  FROM cb),
      |df AS (
      |  SELECT t, tau, sb - sbp AS dd FROM ad WHERE bip = bi - 1),
      |ag AS (
      |  SELECT t, tau, CAST(count(*) AS BIGINT) AS pairs,
      |    sum(CAST(dd AS HUGEINT) * dd) AS sd2
      |  FROM df GROUP BY 1, 2)
      |SELECT t AS event_type, CAST(tau AS BIGINT) AS tau_hours, pairs
      |    AS n_pairs,
      |  floor(CAST(sd2 AS DOUBLE)
      |    / (2.0 * pairs * tau * tau) / 1000000000000
      |    * 1000000 + 0.5) / 1000000 AS allan_var
      |FROM ag WHERE pairs >= 1""".stripMargin
  ) { (s, d) =>
    val hm = SeriesFrames.hourlyMean6(s, d)
    val taus = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(4L),
      Tuple1(8L))).toDF("tau")
    val bl = hm.crossJoin(broadcast(taus))
      .groupBy(col("t"), col("tau"),
        call_function("div", col("h") - pmod(col("h"), col("tau")),
          col("tau")).as("bi"))
      .agg(sum(col("m6")).cast("long").as("sb"), count(lit(1)).as("nh"))
    val cb = bl.filter(col("nh") === col("tau"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("t"), col("tau")).orderBy(col("bi"))
    val ad = cb.select(col("t"), col("tau"), col("bi"), col("sb"),
      lag(col("bi"), 1).over(w).as("bip"),
      lag(col("sb"), 1).over(w).as("sbp"))
    val df = ad.filter(col("bip") === col("bi") - 1)
      .select(col("t"), col("tau"), (col("sb") - col("sbp")).as("dd"))
    val ag = df.groupBy(col("t"), col("tau"))
      .agg(count(lit(1)).as("pairs"), sum(dec(col("dd")) * col("dd"))
        .as("sd2"))
    ag.filter(col("pairs") >= 1)
      .select(col("t").as("event_type"), col("tau").as("tau_hours"),
        col("pairs").as("n_pairs"),
        (floor(col("sd2").cast("double")
          / (lit(2.0) * col("pairs") * col("tau") * col("tau"))
          / 1000000000000L * 1000000L + 0.5) / 1000000L).as("allan_var"))
  }

  /** Rich-club coefficient of the co-purchase graph at degree
    * thresholds k in {1,2,4,8,16,32} — phi(k) = 2*E_k / (N_k(N_k-1))
    * where N_k counts nodes of degree > k and E_k edges with BOTH
    * endpoints of degree > k (Zhou & Mondragon 2004). A rising phi(k)
    * says hubs preferentially interlink — the "popular parts all
    * co-sell with each other" structure that q148's degree histogram
    * (no linking info) and q227's local clustering (per-node, not
    * stratified by degree) both miss; in curation terms it is the
    * spam-ring / coordinated-boilerplate shape at the source-graph
    * level.
    *
    * Exactness: pure integer counting — degrees, threshold rollups,
    * and edge-minimum-degree cells are exact; one double phi per
    * threshold row, quantized 1e-6. Thresholds with N_k < 2 are
    * dropped (phi undefined; stated).
    *
    * Scale shape: the q227 edge list (distinct bipartite projection,
    * fan-out capped 2..1000, pair support >= 2 — the pair join is the
    * documented q86-class candidate generator); degrees are one agg
    * over edges; E_k needs NO per-k edge pass — edges collapse to
    * min-degree cells (<= |distinct degrees| rows) and each of the 6
    * thresholds sums cells above it, same for N_k over the degree
    * histogram. Everything after the edge list is metadata-sized cell
    * algebra. */
  val q280RichClub: QueryDef = QueryDef.withOracle(
    """WITH bp AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ok AS (SELECT o FROM bp GROUP BY o
      |  HAVING count(*) BETWEEN 2 AND 1000),
      |qb AS (SELECT bp.o, bp.p FROM bp JOIN ok USING (o)),
      |pc AS (
      |  SELECT a.p AS u, b.p AS v, count(*) AS n
      |  FROM qb a JOIN qb b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |e AS (SELECT u, v FROM pc WHERE n >= 2),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM
      |  (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      |  GROUP BY 1),
      |em AS (
      |  SELECT least(du.d, dv.d) AS m, count(*) AS cnt
      |  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      |  GROUP BY 1),
      |dn AS (SELECT d, count(*) AS cnt FROM deg GROUP BY 1),
      |ks AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS k),
      |nk AS (
      |  SELECT ks.k, CAST(sum(CASE WHEN dn.d > ks.k THEN dn.cnt ELSE 0
      |    END) AS BIGINT) AS n_nodes
      |  FROM ks CROSS JOIN dn GROUP BY 1),
      |ek AS (
      |  SELECT ks.k, CAST(sum(CASE WHEN em.m > ks.k THEN em.cnt ELSE 0
      |    END) AS BIGINT) AS n_edges
      |  FROM ks CROSS JOIN em GROUP BY 1)
      |SELECT CAST(nk.k AS BIGINT) AS k, nk.n_nodes,
      |  coalesce(ek.n_edges, 0) AS n_edges,
      |  floor(2.0 * coalesce(ek.n_edges, 0)
      |    / (CAST(nk.n_nodes AS DOUBLE) * (nk.n_nodes - 1))
      |    * 1000000 + 0.5) / 1000000 AS phi
      |FROM nk LEFT JOIN ek ON ek.k = nk.k
      |WHERE nk.n_nodes >= 2""".stripMargin
  ) { (s, d) =>
    // the edge list IS q86's capped map-side pair generator (r13
    // port; guide §2.4) — the old inline distinct / sizes / join-back
    // / self-join chain re-paid four data-sized exchanges for it
    val e = GraphOps.basketPairs(s, d).filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
      .cache() // edge list reused by the degree agg and the em cells
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val du = deg.toDF("u", "du")
    val dv = deg.toDF("v", "dv")
    val em = e.join(du, Seq("u")).join(dv, Seq("v"))
      .groupBy(least(col("du"), col("dv")).as("m"))
      .agg(count(lit(1)).as("cnt"))
    val dn = deg.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
    val ks = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(4L),
      Tuple1(8L), Tuple1(16L), Tuple1(32L))).toDF("k")
    val nk = broadcast(ks).crossJoin(dn)
      .groupBy(col("k"))
      .agg(sum(when(col("d") > col("k"), col("cnt")).otherwise(0L))
        .cast("long").as("n_nodes"))
    val ek = broadcast(ks).crossJoin(em)
      .groupBy(col("k"))
      .agg(sum(when(col("m") > col("k"), col("cnt")).otherwise(0L))
        .cast("long").as("n_edges"))
    nk.join(ek.withColumnRenamed("k", "k2"), col("k2") === col("k"),
        "left")
      .filter(col("n_nodes") >= 2)
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        q6(lit(2.0) * coalesce(col("n_edges"), lit(0L))
          / (col("n_nodes").cast("double") * (col("n_nodes") - 1)))
          .as("phi"))
  }

  val all: Map[String, QueryDef] = Map(
    "q275_yule_k" -> q275YuleK,
    "q276_jarque_bera" -> q276JarqueBera,
    "q277_ljung_box" -> q277LjungBox,
    "q278_runs_test" -> q278RunsTest,
    "q279_allan_variance" -> q279AllanVariance,
    "q280_rich_club" -> q280RichClub)
}
