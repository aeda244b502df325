package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, ErfA1, ErfA2, ErfA3, ErfA4, ErfA5, ErfT, Sqrt2}

/** Round-12 tranche two: multiple-testing control, hierarchical
  * shrinkage, multivariate outliers, and extreme-value analysis —
  * Benjamini-Hochberg FDR over the per-day purchase-rate z-tests (one
  * drifting day out of 30 should survive; 30 uncorrected 5% tests
  * produce ~1.5 false alarms EVERY window — the correction IS the
  * monitoring product), empirical-Bayes beta-binomial shrinkage of
  * per-source rates (the small-n sources a dashboard ranks are exactly
  * the ones whose raw rates are noise; shrink toward the corpus prior
  * before ranking), Mahalanobis multivariate outliers over document
  * shape features (q105's MAD is univariate; a doc can be normal in
  * every margin and absurd in the joint), and Gumbel block-maxima
  * return levels for daily revenue (capacity planning reads "the
  * monthly-max you'll see once a year", not a mean — beside q241's
  * Hill tail exponent).
  *
  * House conventions: one data pass → cells; count/moment products in
  * decimal(38,0)/HUGEINT; IEEE chains in identical op order both
  * engines, quantized before any order-dependent sum; irrational
  * constants (z_95, Euler-Mascheroni, √6/π, the erf polynomial) are
  * shared literals, never cross-engine libm calls (the ln-19 device).
  */
object AnalyticsOps14 {

  /** Benjamini-Hochberg FDR over per-day purchase-rate drift tests —
    * each day's two-proportion z against the pooled rest, p-values via
    * the shared A&S erfc polynomial, then the BH step-up adjustment at
    * q = 0.05. The multiple-testing layer q117/q153/q187 (which score
    * ONE comparison) never had: a 30-day dashboard running 30
    * uncorrected 5% tests false-alarms ~1.5 days per window by
    * construction; BH caps the expected false-discovery FRACTION.
    *
    * Exactness: day cells are exact counts; z is one IEEE chain on
    * exact ints (sqrt is correctly rounded, so cross-engine-stable),
    * floored 1e-6; p quantizes to the 1e-9 int grid BEFORE ranking, so
    * the BH sweep (rank, q_i = p_i·m/i, reverse cummin, cap at 1) is
    * deterministic integer/fixed-point algebra; reject compares
    * adjusted-p9 ≤ 5e7 exactly. Degenerate margins (pooled rate 0 or
    * 1, or an empty rest) degrade to z = 0, p = 1 (stated).
    *
    * Scale shape: ONE events pass → ≤|days| day cells (time-range-
    * bounded metadata); the two BH windows ride that frame (named
    * exemption, the q243 argument). */
  val q254BhFdr: QueryDef = QueryDef.withOracle(
    s"""WITH cell AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(k) AS BIGINT) AS kt,
      |    CAST(count(*) AS BIGINT) AS m
      |  FROM cell),
      |z AS (
      |  SELECT day, n, k,
      |    CASE WHEN kt = 0 OR kt = nt OR nt - n = 0 THEN CAST(0 AS DOUBLE)
      |      ELSE (CAST(k AS DOUBLE) / n
      |          - CAST(kt - k AS DOUBLE) / (nt - n))
      |        / sqrt((CAST(kt AS DOUBLE) / nt)
      |          * (1 - CAST(kt AS DOUBLE) / nt)
      |          * (CAST(1 AS DOUBLE) / n + CAST(1 AS DOUBLE) / (nt - n)))
      |      END AS zv, m
      |  FROM cell CROSS JOIN tot),
      |p AS (
      |  SELECT day, n, k, zv, m,
      |    CAST(floor((1 / (1 + $ErfT * (abs(zv) / $Sqrt2)))
      |      * ($ErfA1 + (1 / (1 + $ErfT * (abs(zv) / $Sqrt2)))
      |        * ($ErfA2 + (1 / (1 + $ErfT * (abs(zv) / $Sqrt2)))
      |          * ($ErfA3 + (1 / (1 + $ErfT * (abs(zv) / $Sqrt2)))
      |            * ($ErfA4 + (1 / (1 + $ErfT * (abs(zv) / $Sqrt2)))
      |              * $ErfA5))))
      |      * exp(-(abs(zv) / $Sqrt2) * (abs(zv) / $Sqrt2))
      |      * 1000000000 + 0.5) AS BIGINT) AS p9
      |  FROM z),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY p9, day) AS BIGINT)
      |    AS rk
      |  FROM p),
      |q AS (
      |  SELECT *, CAST(floor(CAST(p9 AS DOUBLE) * m / rk + 0.5)
      |    AS BIGINT) AS q9
      |  FROM r),
      |adj AS (
      |  SELECT day, n, k, zv, p9,
      |    CASE WHEN min(q9) OVER (ORDER BY rk DESC) > 1000000000
      |      THEN 1000000000
      |      ELSE min(q9) OVER (ORDER BY rk DESC) END AS a9
      |  FROM q)
      |SELECT day, n, k,
      |  floor(zv * 1000000 + 0.5) / 1000000 AS z,
      |  CAST(p9 AS DOUBLE) / 1000000000 AS p_raw,
      |  CAST(a9 AS DOUBLE) / 1000000000 AS p_bh,
      |  a9 <= 50000000 AS reject
      |FROM adj""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum((col("event_type") === "purchase").cast("long"))
          .cast("long").as("k"))
      .cache() // one events pass; totals and the BH sweep reuse it
    val tot = cell.agg(sum(col("n")).cast("long").as("nt"),
      sum(col("k")).cast("long").as("kt"),
      count(lit(1)).as("m"))
    val pp = col("kt").cast("double") / col("nt")
    val zv = when(col("kt") === 0 || col("kt") === col("nt")
        || col("nt") - col("n") === 0, lit(0.0))
      .otherwise((col("k").cast("double") / col("n")
        - (col("kt") - col("k")).cast("double") / (col("nt") - col("n")))
        / sqrt(pp * (lit(1) - pp)
          * (lit(1).cast("double") / col("n")
            + lit(1).cast("double") / (col("nt") - col("n")))))
    val z = cell.crossJoin(broadcast(tot))
      .select(col("day"), col("n"), col("k"), zv.as("zv"), col("m"))
    val t = lit(1) / (lit(1) + lit(ErfT) * (abs(col("zv")) / Sqrt2))
    val poly = t * (lit(ErfA1) + t * (lit(ErfA2) + t * (lit(ErfA3)
      + t * (lit(ErfA4) + t * lit(ErfA5)))))
    val p = z.withColumn("p9",
      floor(poly * exp(-(abs(col("zv")) / Sqrt2)
        * (abs(col("zv")) / Sqrt2)) * 1000000000L + 0.5).cast("long"))
    val r = p.withColumn("rk",
      row_number().over(Window.orderBy(col("p9"), col("day")))
        .cast("long"))
    val q = r.withColumn("q9",
      floor(col("p9").cast("double") * col("m") / col("rk") + 0.5)
        .cast("long"))
    val a9m = min(col("q9")).over(Window.orderBy(col("rk").desc)
      .rowsBetween(Window.unboundedPreceding, 0))
    val adj = q.select(col("day"), col("n"), col("k"), col("zv"),
      col("p9"),
      when(a9m > 1000000000L, 1000000000L).otherwise(a9m).as("a9"))
    adj.select(col("day"), col("n"), col("k"),
      (floor(col("zv") * 1000000L + 0.5) / 1000000L).as("z"),
      (col("p9").cast("double") / 1000000000L).as("p_raw"),
      (col("a9").cast("double") / 1000000000L).as("p_bh"),
      (col("a9") <= 50000000L).as("reject"))
  }

  /** Empirical-Bayes beta-binomial shrinkage of each source's English
    * share — method-of-moments prior (α, β) fit across sources, then
    * shrunk_s = (k_s + α)/(n_s + α + β). THE ranking fix for small-n
    * groups: a 10-doc source at 9/10 English outranks a 10k-doc source
    * at 85% on raw rate and underranks it after shrinkage, which is
    * the order a curation decision actually wants (Robinson's classic
    * batting-average treatment, applied to corpus composition beside
    * q137's Wilson interval — the CI says "uncertain", shrinkage says
    * "here is the defensible point estimate").
    *
    * Exactness: per-source rates quantize to the 1e-9 int grid, so the
    * cross-source moment sums are exact integer algebra; the MoM
    * chain m(1−m)/v − 1 and the shrunk rate are IEEE chains in fixed
    * order, floored 1e-6. Degenerate prior (≤1 source, zero variance,
    * or non-positive α+β) degrades to shrunk = raw (stated).
    *
    * Scale shape: ONE documents pass → ≤|sources| cells; the prior fit
    * is a 1-row aggregate broadcast back. */
  val q255EbShrinkage: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT source, count(*) AS n,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS k
      |  FROM documents GROUP BY 1),
      |r AS (
      |  SELECT source, n, k,
      |    CAST(floor((CAST(k AS DOUBLE) / n) * 1000000000 + 0.5)
      |      AS BIGINT) AS r9
      |  FROM c),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS ns,
      |    CAST(sum(r9) AS BIGINT) AS sr,
      |    sum(CAST(r9 AS HUGEINT) * r9) AS srr
      |  FROM r),
      |ab AS (
      |  SELECT ns,
      |    CAST(sr AS DOUBLE) / ns / 1000000000 AS mean,
      |    CASE WHEN ns <= 1 THEN CAST(0 AS DOUBLE)
      |      ELSE (CAST(srr AS DOUBLE) / 1000000000000000000
      |        - (CAST(sr AS DOUBLE) / 1000000000)
      |          * (CAST(sr AS DOUBLE) / 1000000000) / ns) / (ns - 1)
      |      END AS varr
      |  FROM m),
      |prior AS (
      |  SELECT ns, mean, varr,
      |    CASE WHEN ns <= 1 OR varr <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE mean * (1 - mean) / varr - 1 END AS s0
      |  FROM ab)
      |SELECT r.source, r.n AS n_docs, r.k AS k_en,
      |  floor((CAST(r.k AS DOUBLE) / r.n) * 1000000 + 0.5) / 1000000
      |    AS rate,
      |  CASE WHEN prior.s0 <= 0
      |    THEN floor((CAST(r.k AS DOUBLE) / r.n) * 1000000 + 0.5)
      |      / 1000000
      |    ELSE floor(((r.k + prior.mean * prior.s0) / (r.n + prior.s0))
      |      * 1000000 + 0.5) / 1000000 END AS shrunk_rate
      |FROM r CROSS JOIN prior""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum((col("lang") === "en").cast("long")).cast("long").as("k"))
    val r = c.withColumn("r9",
      floor((col("k").cast("double") / col("n")) * 1000000000L + 0.5)
        .cast("long"))
      .cache() // ≤|sources| cells feed the prior fit and the output
    val m = r.agg(count(lit(1)).as("ns"),
      sum(col("r9")).cast("long").as("sr"),
      sum(dec(col("r9")) * col("r9")).as("srr"))
    val mean = col("sr").cast("double") / col("ns") / 1000000000L
    val varr = when(col("ns") <= 1, lit(0.0))
      .otherwise((col("srr").cast("double") / 1.0e18
        - (col("sr").cast("double") / 1000000000L)
        * (col("sr").cast("double") / 1000000000L) / col("ns"))
        / (col("ns") - 1))
    val ab = m.select(col("ns"), mean.as("mean"), varr.as("varr"))
    val prior = ab.select(col("ns"), col("mean"), col("varr"),
      when(col("ns") <= 1 || col("varr") <= 0, lit(0.0))
        .otherwise(col("mean") * (lit(1) - col("mean")) / col("varr")
          - 1).as("s0"))
    val raw6 = floor((col("k").cast("double") / col("n"))
      * 1000000L + 0.5) / 1000000L
    r.crossJoin(broadcast(prior))
      .select(col("source"), col("n").as("n_docs"), col("k").as("k_en"),
        raw6.as("rate"),
        when(col("s0") <= 0, raw6)
          .otherwise(floor(((col("k") + col("mean") * col("s0"))
            / (col("n") + col("s0"))) * 1000000L + 0.5) / 1000000L)
          .as("shrunk_rate"))
  }

  /** χ²₃ 0.999 cut on the 1e-6 d² grid — the same literal both
    * engines (16.2662361962381 · 1e6, floored). */
  private val Chi3Cut = 16266236L

  /** The shared document shape-feature frame (q256/q270): chars,
    * tokens, chars-per-token on a 1e-3 int grid. */
  private[operators] def docShapeFeatures(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), col("n_chars").cast("long").as("x1"),
        size(split(col("text"), " ", -1)).cast("long").as("x2"))
      .withColumn("x3", floor((col("x1").cast("double") / col("x2"))
        * 1000 + 0.5).cast("long"))

  /** Means + the six 1e-6-quantized sample covariances of the shape
    * features, as ONE row (decimal moment sums — the q236
    * convention). Shared by q256's Mahalanobis inverse and q270's
    * partial correlations so the two panels read the same matrix. */
  private[operators] def docShapeCovariance(f: DataFrame): DataFrame = {
    val m = f.agg(count(lit(1)).as("n"),
      sum(dec(col("x1"))).as("s1"), sum(dec(col("x2"))).as("s2"),
      sum(dec(col("x3"))).as("s3"),
      sum(dec(col("x1")) * col("x1")).as("s11"),
      sum(dec(col("x2")) * col("x2")).as("s22"),
      sum(dec(col("x3")) * col("x3")).as("s33"),
      sum(dec(col("x1")) * col("x2")).as("s12"),
      sum(dec(col("x1")) * col("x3")).as("s13"),
      sum(dec(col("x2")) * col("x3")).as("s23"))
    def cov(sij: String, si: String, sj: String): Column =
      floor((col(sij).cast("double")
        - (col(si).cast("double") / col("n")) * col(sj))
        / (col("n") - 1) * 1000000L + 0.5) / 1000000L
    m.filter(col("n") > 1)
      .select(col("n"),
        (col("s1").cast("double") / col("n")).as("m1"),
        (col("s2").cast("double") / col("n")).as("m2"),
        (col("s3").cast("double") / col("n")).as("m3"),
        cov("s11", "s1", "s1").as("c11"),
        cov("s22", "s2", "s2").as("c22"),
        cov("s33", "s3", "s3").as("c33"),
        cov("s12", "s1", "s2").as("c12"),
        cov("s13", "s1", "s3").as("c13"),
        cov("s23", "s2", "s3").as("c23"))
  }

  /** Mahalanobis multivariate outlier panel over three document shape
    * features (chars, tokens, chars-per-token): per-source count of
    * docs whose squared Mahalanobis distance clears the χ²₃ 99.9%
    * cut, plus the max. q105's MAD screen is univariate — a doc can
    * sit inside every marginal band and still be jointly absurd (10
    * chars, 2000 tokens); the covariance-corrected distance is the
    * standard joint screen (and the statistic behind curation's
    * "weird shape" bucket).
    *
    * Exactness: features are exact ints (chars-per-token quantized
    * 1e-3); moment sums in decimal(38,0); the 6 covariance entries
    * quantize to 1e-6 BEFORE the closed-form 3×3 inverse, so det and
    * the inverse entries are identical IEEE chains in both engines;
    * per-doc d² is one fixed-order chain quantized 1e-6, and the cut
    * compares integers. Singular covariance (det quantized ≤ 0 on the
    * 1e-9 grid) or n ≤ 3 degrades every d² to 0 (stated).
    *
    * Scale shape: one documents pass builds the feature frame
    * (cached); the moment rollup is a 1-row aggregate; scoring is the
    * SAME cached frame × one broadcast parameter row — two data
    * passes total, no shuffle beyond the ≤|sources| rollup. */
  val q256Mahalanobis: QueryDef = QueryDef.withOracle(
    s"""WITH f AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS x1,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x2,
      |    CAST(floor((CAST(n_chars AS DOUBLE)
      |      / len(string_split(text, ' '))) * 1000 + 0.5) AS BIGINT)
      |      AS x3
      |  FROM documents),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x2 AS HUGEINT)) AS s2,
      |    sum(CAST(x3 AS HUGEINT)) AS s3,
      |    sum(CAST(x1 AS HUGEINT) * x1) AS s11,
      |    sum(CAST(x2 AS HUGEINT) * x2) AS s22,
      |    sum(CAST(x3 AS HUGEINT) * x3) AS s33,
      |    sum(CAST(x1 AS HUGEINT) * x2) AS s12,
      |    sum(CAST(x1 AS HUGEINT) * x3) AS s13,
      |    sum(CAST(x2 AS HUGEINT) * x3) AS s23
      |  FROM f),
      |cv AS (
      |  SELECT n,
      |    CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
      |    CAST(s3 AS DOUBLE) / n AS m3,
      |    floor((CAST(s11 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * s1)
      |      / (n - 1) * 1000000 + 0.5) / 1000000 AS c11,
      |    floor((CAST(s22 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n) * s2)
      |      / (n - 1) * 1000000 + 0.5) / 1000000 AS c22,
      |    floor((CAST(s33 AS DOUBLE) - (CAST(s3 AS DOUBLE) / n) * s3)
      |      / (n - 1) * 1000000 + 0.5) / 1000000 AS c33,
      |    floor((CAST(s12 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * s2)
      |      / (n - 1) * 1000000 + 0.5) / 1000000 AS c12,
      |    floor((CAST(s13 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * s3)
      |      / (n - 1) * 1000000 + 0.5) / 1000000 AS c13,
      |    floor((CAST(s23 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n) * s3)
      |      / (n - 1) * 1000000 + 0.5) / 1000000 AS c23
      |  FROM m WHERE n > 1),
      |inv AS (
      |  SELECT n, m1, m2, m3,
      |    c11 * (c22 * c33 - c23 * c23) - c12 * (c12 * c33 - c23 * c13)
      |      + c13 * (c12 * c23 - c22 * c13) AS det,
      |    c22 * c33 - c23 * c23 AS a11,
      |    c13 * c23 - c12 * c33 AS a12,
      |    c12 * c23 - c13 * c22 AS a13,
      |    c11 * c33 - c13 * c13 AS a22,
      |    c12 * c13 - c11 * c23 AS a23,
      |    c11 * c22 - c12 * c12 AS a33
      |  FROM cv),
      |sc AS (
      |  SELECT f.source,
      |    CASE WHEN inv.n <= 3
      |        OR floor(inv.det * 1000000000 + 0.5) <= 0
      |      THEN CAST(0 AS BIGINT)
      |      ELSE CAST(floor((
      |        (f.x1 - m1) * (f.x1 - m1) * (a11 / det)
      |        + (f.x2 - m2) * (f.x2 - m2) * (a22 / det)
      |        + (f.x3 - m3) * (f.x3 - m3) * (a33 / det)
      |        + 2 * ((f.x1 - m1) * (f.x2 - m2)) * (a12 / det)
      |        + 2 * ((f.x1 - m1) * (f.x3 - m3)) * (a13 / det)
      |        + 2 * ((f.x2 - m2) * (f.x3 - m3)) * (a23 / det))
      |        * 1000000 + 0.5) AS BIGINT) END AS d6
      |  FROM f CROSS JOIN inv)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN d6 > $Chi3Cut THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  floor((CAST(max(d6) AS DOUBLE) / 1000000) * 1000000 + 0.5)
      |    / 1000000 AS max_d2
      |FROM sc GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val f = docShapeFeatures(s, d)
      .cache() // one pass builds features; moments and scoring reuse it
    val cv = docShapeCovariance(f)
    val inv = cv.select(col("n"), col("m1"), col("m2"), col("m3"),
      (col("c11") * (col("c22") * col("c33") - col("c23") * col("c23"))
        - col("c12") * (col("c12") * col("c33") - col("c23") * col("c13"))
        + col("c13") * (col("c12") * col("c23") - col("c22") * col("c13")))
        .as("det"),
      (col("c22") * col("c33") - col("c23") * col("c23")).as("a11"),
      (col("c13") * col("c23") - col("c12") * col("c33")).as("a12"),
      (col("c12") * col("c23") - col("c13") * col("c22")).as("a13"),
      (col("c11") * col("c33") - col("c13") * col("c13")).as("a22"),
      (col("c12") * col("c13") - col("c11") * col("c23")).as("a23"),
      (col("c11") * col("c22") - col("c12") * col("c12")).as("a33"))
    val dx1 = col("x1") - col("m1")
    val dx2 = col("x2") - col("m2")
    val dx3 = col("x3") - col("m3")
    val d2 = dx1 * dx1 * (col("a11") / col("det")) +
      dx2 * dx2 * (col("a22") / col("det")) +
      dx3 * dx3 * (col("a33") / col("det")) +
      lit(2) * (dx1 * dx2) * (col("a12") / col("det")) +
      lit(2) * (dx1 * dx3) * (col("a13") / col("det")) +
      lit(2) * (dx2 * dx3) * (col("a23") / col("det"))
    val sc = f.crossJoin(broadcast(inv))
      .select(col("source"),
        when(col("n") <= 3
            || floor(col("det") * 1000000000L + 0.5) <= 0, lit(0L))
          .otherwise(floor(d2 * 1000000L + 0.5).cast("long")).as("d6"))
    sc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("d6") > Chi3Cut, 1L).otherwise(0L)).cast("long")
          .as("n_outliers"),
        (floor((max(col("d6")).cast("double") / 1000000L)
          * 1000000L + 0.5) / 1000000L).as("max_d2"))
  }

  /** Euler-Mascheroni γ and √6/π — shared literals (the ln-19
    * device). */
  private val EulerGamma = 0.5772156649015329
  private val Sqrt6OverPi = 0.7796968012336761

  /** ln(−ln(1 − 1/12)): the 12-block Gumbel return-level constant,
    * computed once driver-side and embedded in both engines. */
  private val Rl12C = math.log(-math.log(11.0 / 12.0))

  /** Gumbel block-maxima fit on monthly maxima of daily revenue, with
    * the 12-block return level — "the monthly-max day you should see
    * about once a year" (classical Gumbel method-of-moments: β̂ =
    * s·√6/π, μ̂ = x̄ − γβ̂; return level x_T = μ − β·ln(−ln(1−1/T))).
    * Capacity planning reads THIS number, not a mean: q241's Hill
    * exponent says how heavy the tail is, this converts it into the
    * load figure a provisioning decision uses.
    *
    * Exactness: daily revenues are exact cents sums; monthly maxima
    * are exact integer maxima over the ≤|days| cell frame; the MoM
    * chain runs on decimal moment sums in fixed IEEE order, floored
    * 1e-2 (cents precision — the outputs are cents-scale, so a 1e-6
    * grid would overflow floor's int64 at fleet scale). n_blocks ≤ 1
    * degrades β to 0 and every level to the mean (stated).
    *
    * Scale shape: ONE orders pass → day cells → ≤|months| block
    * maxima (metadata); everything after is a 1-row chain. */
  val q257GumbelMaxima: QueryDef = QueryDef.withOracle(
    s"""WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |mon AS (
      |  SELECT date_trunc('month', day) AS month,
      |    CAST(max(rev) AS BIGINT) AS mx
      |  FROM daily GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nb,
      |    sum(CAST(mx AS HUGEINT)) AS s1,
      |    sum(CAST(mx AS HUGEINT) * mx) AS s2
      |  FROM mon),
      |fit AS (
      |  SELECT nb, CAST(s1 AS DOUBLE) / nb AS mean,
      |    CASE WHEN nb <= 1 THEN CAST(0 AS DOUBLE)
      |      ELSE sqrt((CAST(s2 AS DOUBLE)
      |        - (CAST(s1 AS DOUBLE) / nb) * s1) / (nb - 1))
      |      * $Sqrt6OverPi END AS beta
      |  FROM m)
      |SELECT nb AS n_blocks,
      |  floor(mean * 100 + 0.5) / 100 AS mean_max_cents,
      |  floor((mean - $EulerGamma * beta) * 100 + 0.5) / 100
      |    AS gumbel_mu,
      |  floor(beta * 100 + 0.5) / 100 AS gumbel_beta,
      |  floor(((mean - $EulerGamma * beta) - beta * $Rl12C) * 100
      |    + 0.5) / 100 AS return_level_12
      |FROM fit""".stripMargin
  ) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long").as("rev"))
    val mon = daily.groupBy(date_trunc("month", col("day")).as("month"))
      .agg(max(col("rev")).cast("long").as("mx"))
    val m = mon.agg(count(lit(1)).as("nb"),
      sum(dec(col("mx"))).as("s1"),
      sum(dec(col("mx")) * col("mx")).as("s2"))
    val mean = col("s1").cast("double") / col("nb")
    val beta = when(col("nb") <= 1, lit(0.0))
      .otherwise(sqrt((col("s2").cast("double")
        - (col("s1").cast("double") / col("nb")) * col("s1"))
        / (col("nb") - 1)) * Sqrt6OverPi)
    val mu = mean - lit(EulerGamma) * beta
    m.select(col("nb").as("n_blocks"),
      (floor(mean * 100 + 0.5) / 100).as("mean_max_cents"),
      (floor(mu * 100 + 0.5) / 100).as("gumbel_mu"),
      (floor(beta * 100 + 0.5) / 100).as("gumbel_beta"),
      (floor((mu - beta * Rl12C) * 100 + 0.5) / 100)
        .as("return_level_12"))
  }

  val all: Map[String, QueryDef] = Map(
    "q254_bh_fdr" -> q254BhFdr,
    "q255_eb_shrinkage" -> q255EbShrinkage,
    "q256_mahalanobis" -> q256Mahalanobis,
    "q257_gumbel_maxima" -> q257GumbelMaxima
  )
}
