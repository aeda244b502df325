package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, cents, q6, epochDay, ErfA1, ErfA2, ErfA3, ErfA4, ErfA5, ErfT, Sqrt2}
import Kernels.PreEnd

/** Statistics over the warehouse and corpus tables: descriptive,
  * robust and multivariate statistics; association measures;
  * hypothesis tests and effect sizes; confidence intervals and
  * multiple-testing control; and the drift and divergence family
  * (distances between the periods, halves or arms of one
  * distribution). Sections below follow that order.
  *
  * House conventions: ONE data pass collapses rows to (group, value)
  * cells, and every rank walk, CDF walk and window rides the cell
  * frame (value-range- or time-range-bounded metadata, or the
  * two-phase prefix in `Kernels` where pooled). The cross-engine
  * arithmetic rules are `Exact`'s.
  */
object StatsOps {

  // ---- Descriptive, robust and multivariate statistics ----

  /** Group-wise simple linear regression (price on size, per brand)
    * from EXACT integer moment sums: slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²) and the analogous intercept ratio, each a single
    * IEEE division of two exactly-accumulated int64s — merge-order
    * cannot perturb a bit, unlike a float-accumulated regr_slope
    * (the q2o moment-stat convention, extended to the fit itself).
    * One partial+final aggregate; nothing else. Int64 bounds: with
    * cents ≤ 2×10⁷ and x ≤ 50 per row, nΣxy stays < 2⁶³ up to ~10⁹
    * rows per group — document and shard beyond that. */
  val q97GroupRegression: QueryDef = QueryDef.withOracle(
    """WITH m AS (
      |  SELECT p_brand, count(*) AS n,
      |    CAST(sum(p_size) AS BIGINT) AS sx,
      |    CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS sy,
      |    CAST(sum(CAST(p_size AS BIGINT) * p_size) AS BIGINT) AS sxx,
      |    CAST(sum(p_size * CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS sxy
      |  FROM part GROUP BY 1)
      |SELECT p_brand, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents,
      |  CAST(sy * sxx - sx * sxy AS DOUBLE) /
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS intercept_cents
      |FROM m""".stripMargin
  ) { (s, d) =>
    val cents = floor(col("p_retailprice") * 100 + 0.5).cast("long")
    Tables.part(s, d)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("p_size").cast("long")).as("sx"),
        sum(cents).as("sy"),
        sum(col("p_size").cast("long") * col("p_size")).as("sxx"),
        sum(col("p_size") * cents).as("sxy"))
      .select(col("p_brand"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_cents"),
        ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("intercept_cents"))
  }

  /** Robust outlier report per metric: exact median, exact MAD
    * (median absolute deviation), and the count of points beyond
    * 3·1.4826·MAD — the robust-statistics alternative to the z-score
    * anomaly pass (q2l), immune to the outliers it is hunting.
    *
    * Exact medians come from ORDER STATISTICS, not interpolating
    * percentile built-ins: Spark's `percentile` and DuckDB's
    * `quantile_cont` interpolate with differently-associated FP
    * expressions, so their bits can disagree. row_number against the
    * group count picks the middle element(s) — (n+1) div 2 and
    * (n+2) div 2, equal when n is odd — and avg over ≤2 values is
    * (a+b)/2, bit-identical in both engines. Both the median and the
    * MAD pass run this selection; the deviation input |v − med| and
    * the 4.4478·mad threshold are single correctly-rounded ops.
    *
    * Scale: the selection sorts WITHIN each group (per-group window,
    * groups in parallel — the q96 equi-depth convention). Group
    * cardinality bounds single-task size here (5 types × n/5 rows);
    * for huge single groups the exact path degrades to a per-group
    * sort and q74's approx sketch is the right tool — exactness is
    * this operator's contract. */
  val q105MadOutliers: QueryDef = QueryDef.withOracle(
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |med AS (
      |  SELECT event_type, avg(value) AS med FROM r
      |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      |  GROUP BY 1),
      |dev AS (
      |  SELECT r.event_type, abs(r.value - m.med) AS adev, m.med,
      |    row_number() OVER (PARTITION BY r.event_type
      |      ORDER BY abs(r.value - m.med), r.rn) AS drn,
      |    count(*) OVER (PARTITION BY r.event_type) AS n
      |  FROM r JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, avg(adev) AS mad FROM dev
      |  WHERE drn = (n + 1) // 2 OR drn = (n + 2) // 2
      |  GROUP BY 1)
      |SELECT d.event_type, max(d.n) AS n, max(d.med) AS med,
      |  max(a.mad) AS mad,
      |  count(*) FILTER (WHERE d.adev > a.mad * 4.4478) AS n_out
      |FROM dev d JOIN mad a USING (event_type)
      |GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val byType = Window.partitionBy(col("event_type"))
    // cached: consumed by both the median pick and the deviation
    // pass — without it Spark re-scans and re-sorts events per
    // consumer (the q42-sigs convention)
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(
        byType.orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(byType))
      .cache()
    val med = ev
      .filter(col("rn") === expr("(n + 1) div 2") ||
              col("rn") === expr("(n + 2) div 2"))
      .groupBy(col("event_type")).agg(avg(col("value")).as("med"))
    // cached for the mad pick + the final count. Under AQE a cached
    // plan reports unknown partitioning, so the deviation sort does
    // re-exchange — two type-keyed shuffles total, the inherent cost
    // of two dependent selection passes (vs 4 scans + 4 shuffles
    // uncached)
    val dev = ev.join(med, "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
      .withColumn("drn", row_number().over(
        byType.orderBy(col("adev"), col("rn"))))
      .cache()
    val mad = dev
      .filter(col("drn") === expr("(n + 1) div 2") ||
              col("drn") === expr("(n + 2) div 2"))
      .groupBy(col("event_type")).agg(avg(col("adev")).as("mad"))
    dev.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        count(when(col("adev") > col("mad") * 4.4478, 1)).as("n_out"))
  }

  /** Gini coefficient of customer spend per market segment — the
    * revenue-concentration scorecard (who owns the tail matters for
    * sampling weights and fairness audits alike). Rank-sum identity
    * on ascending spend:
    *
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),  x ascending, i = 1..n
    *
    * Σ i·xᵢ is invariant to how ties are ordered (a tie block's ranks
    * sum to a constant), so the custkey tiebreak only pins
    * determinism, not the value. Numerator and denominator stay exact
    * int64 (bound: Σ i·x ≤ n²·x̄ — int64-safe through n ≈ 3·10⁶ at
    * ~$1k average spend; beyond, pre-divide cents by a common 10ᵏ,
    * the q2o convention); the final G is ONE IEEE division.
    *
    * Scale shape: spend rollup is one custkey partial+final
    * aggregate; the segment attach is a key equi-join; the per-
    * segment rank is the GROUPED two-phase prefix (segment leads the
    * range key — `Window.partitionBy(segment)` over 5 segment values
    * would be 5 single-reducer sorts); the finish is a 5-row rollup. */
  val q134Gini: QueryDef = QueryDef.withOracle(
    """WITH s AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |x AS (
      |  SELECT c.c_mktsegment AS segment, s.cents, s.o_custkey
      |  FROM s JOIN customer c ON c.c_custkey = s.o_custkey),
      |r AS (
      |  SELECT segment, cents,
      |    row_number() OVER (PARTITION BY segment
      |      ORDER BY cents, o_custkey) AS i
      |  FROM x),
      |g AS (
      |  SELECT segment, count(*) AS n_customers,
      |    CAST(sum(cents) AS BIGINT) AS total_cents,
      |    CAST(sum(i * cents) AS BIGINT) AS swi
      |  FROM r GROUP BY 1)
      |SELECT segment, n_customers, total_cents,
      |  CAST(2 * swi - (n_customers + 1) * total_cents AS DOUBLE)
      |    / CAST(n_customers * total_cents AS DOUBLE) AS gini
      |FROM g""".stripMargin
  ) { (s, d) =>
    val spend = Tables.orders(s, d)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("c0"))
      .groupBy(col("o_custkey")).agg(sum(col("c0")).as("cents"))
    val x = spend.join(
      Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment")),
      Seq("o_custkey"))
    val r = Kernels.groupedPrefixSum(x, Seq("segment"),
      Seq(col("cents"), col("o_custkey")), lit(1L), "i", "__n")
    r.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        sum(col("i") * col("cents")).as("swi"))
      .select(col("segment"), col("n_customers"), col("total_cents"),
        ((lit(2L) * col("swi") -
          (col("n_customers") + 1) * col("total_cents")).cast("double") /
          (col("n_customers") * col("total_cents")).cast("double"))
          .as("gini"))
  }

  /** Quantity-weighted median extended price per return flag — the
    * volume-weighted price statistic (the plain median over-weights
    * one-unit lines). LOWER weighted median by integer threshold:
    * the smallest price whose inclusive cumulative weight reaches
    * T = (W+1) div 2 — an actual price from the data, no
    * interpolation, and the threshold is exact int math in both
    * engines.
    *
    * Scale shape: the (flag, price) compression aggregate collapses
    * lineitem to its distinct-price frame FIRST (one partial+final
    * exchange); the cumulative weight is the grouped two-phase prefix
    * over that frame (flag has 3 values — a flag-partitioned window
    * would be 3 single tasks); the crossing pick and final rollup are
    * metadata-sized. */
  val q135WeightedMedian: QueryDef = QueryDef.withOracle(
    """WITH b AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
      |  FROM lineitem),
      |g AS (
      |  SELECT flag, cents, CAST(sum(w) AS BIGINT) AS w
      |  FROM b GROUP BY 1, 2),
      |c AS (
      |  SELECT flag, cents, w,
      |    CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS total_w
      |  FROM g)
      |SELECT flag, total_w,
      |  CAST(min(cents) AS BIGINT) AS wmedian_cents,
      |  CAST(min(cents) AS DOUBLE) / 100.0 AS wmedian
      |FROM c
      |WHERE cum >= (total_w + 1) // 2 AND cum - w < (total_w + 1) // 2
      |GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val g = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
        floor(col("l_quantity") + 0.5).cast("long").as("w0"))
      .groupBy(col("flag"), col("cents")).agg(sum(col("w0")).as("w"))
    val c = Kernels.groupedPrefixSum(g, Seq("flag"),
      Seq(col("cents")), col("w"), "cum", "total_w")
    val t = expr("(total_w + 1) div 2")
    c.filter(col("cum") >= t && col("cum") - col("w") < t)
      .groupBy(col("flag"), col("total_w"))
      .agg(min(col("cents")).as("wmedian_cents"))
      .select(col("flag"), col("total_w"), col("wmedian_cents"),
        (col("wmedian_cents").cast("double") / 100.0).as("wmedian"))
  }

  /** Exact 10%-trimmed mean of event value per type — the robust
    * location estimate beside q105's MAD (outlier-resistant where the
    * plain mean is one fat-finger away from garbage), trimming
    * k = n div 10 rows from each tail in (v, event_id) rank order.
    *
    * The exact answer needs rank-RANGE sums, not just a rank pick —
    * and the q187/q166 cell argument extends: a value run covering
    * ranks (cum−cnt, cum] contributes min(cum, n−k) − max(cum−cnt, k)
    * rows (clamped at 0) to the kept middle, independent of the
    * row-level tiebreak. So the whole statistic folds over the
    * collapsed (type, v, cnt) frame: ONE raw-data pass (a
    * map-side-combined count bounded by value cardinality), the
    * grouped two-phase prefix over cells, then exact int64 clamp
    * algebra; the trimmed mean is one final IEEE division of exact
    * integers — no rounding needed on either engine. */
  val q189TrimmedMean: QueryDef = QueryDef.withOracle(
    """WITH v AS (
      |  SELECT event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v, event_id
      |  FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY v, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM v)
      |SELECT event_type, max(n) AS n, max(n) // 10 AS k,
      |  CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
      |    THEN v ELSE 0 END) AS BIGINT) AS sum_cents,
      |  CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
      |    THEN v ELSE 0 END) AS DOUBLE)
      |    / (max(n) - 2 * (max(n) // 10)) AS trimmed_mean_cents
      |FROM r GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val c = Kernels.groupedPrefixSums(cells, Seq("event_type"),
      Seq(col("v")), Seq((col("cnt"), "cum", Some("n"))))
    // rows of this value run kept by the trim: overlap of the run's
    // rank interval (cum-cnt, cum] with the kept interval (k, n-k]
    val k = expr("n div 10")
    val kept = greatest(
      least(col("cum"), col("n") - k) - greatest(col("cum") - col("cnt"), k),
      lit(0L))
    c.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(k).as("k"),
        sum(kept * col("v")).as("sum_cents"))
      .select(col("event_type"), col("n"), col("k"), col("sum_cents"),
        (col("sum_cents").cast("double") / (col("n") - lit(2) * col("k")))
          .as("trimmed_mean_cents"))
  }

  /** Hill tail-index estimator on order totals — the upper-tail
    * exponent beside q129's full-distribution Zipf fit: α̂ =
    * k / Σ_{i≤k} ln(x_(i)/x_(k+1)-ish threshold), over the top
    * k = max(10, 1%) order statistics. A pipeline uses it to decide
    * whether value-weighted sampling (q91) or mixture caps (q194)
    * have finite-variance footing: α ≤ 2 means heavy-tail budgets
    * must clamp, α > 2 means means converge.
    *
    * Exactness: the threshold x_(k) — the k-th largest value — is an
    * exact integer order statistic off the (value) cells (first cell
    * whose descending cumulative count reaches k, so it exists even
    * when one value holds more than k rows); order statistics at
    * positions after the last v > x_(k) EQUAL x_(k), so their
    * ln(x_i/x_(k)) terms are exactly 0 and the sum reduces to full-
    * weight cells above the threshold — no fractional boundary
    * weight exists. Per-cell terms cnt·ln(v/x_k) quantize at 1e-9
    * and int-sum (order-free); α̂ is one division, floored 1e-6.
    *
    * Scale shape: ONE orders pass → value cells; the rank walk is a
    * window over cells (value-cardinality, the q166 argument);
    * output is one row. The
    * threshold walk is the two-phase descending prefix (q231's idiom). */
  val q241HillTail: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
      |    count(*) AS cnt
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
      |k AS (
      |  SELECT n, least(greatest(10, n // 100), n - 1) AS k FROM n),
      |w AS (
      |  SELECT v, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY v DESC) AS BIGINT) AS cum
      |  FROM c),
      |xk AS (
      |  SELECT max(w.v) AS xk FROM w CROSS JOIN k WHERE w.cum >= k.k),
      |t AS (
      |  SELECT sum(
      |    CAST(w.cnt AS HUGEINT)
      |    * CAST(floor(ln(CAST(w.v AS DOUBLE) / xk.xk) * 1000000000
      |        + 0.5) AS BIGINT)) AS s9
      |  FROM w CROSS JOIN xk
      |  WHERE w.v > xk.xk)
      |SELECT k.n AS n_orders, CAST(k.k AS BIGINT) AS k,
      |  xk.xk AS xk_cents,
      |  CASE WHEN coalesce(s9, 0) = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(k.k AS DOUBLE) / (CAST(s9 AS DOUBLE)
      |      / 1000000000)) * 1000000 + 0.5) / 1000000 END AS hill_alpha
      |FROM k CROSS JOIN xk CROSS JOIN t""".stripMargin
  ) { (s, d) =>
    val c = Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // one orders pass; the walk and the terms reuse it
    val n = c.agg(sum(col("cnt")).cast("long").as("n"))
    val k = n.select(col("n"),
      least(greatest(lit(10L), expr("n div 100")), col("n") - 1).as("k"))
    // two-phase descending prefix (the q231 idiom) over the value cells
    val w = Kernels.groupedPrefixSums(c, Seq.empty,
      Seq(col("v").desc), Seq((col("cnt"), "cum", None)))
    val xk = w.crossJoin(broadcast(k))
      .filter(col("cum") >= col("k"))
      .agg(max(col("v")).as("xk"))
    val t = w.crossJoin(broadcast(xk))
      .filter(col("v") > col("xk"))
      // decimal: a single cell's cnt·(ln·1e9) crosses int64 when one
      // value holds ~1e9 of the top-k rows at fleet scale
      .select((dec(col("cnt"))
        * floor(log(col("v").cast("double") / col("xk")) * 1000000000L
          + 0.5).cast("long")).as("term"))
      .agg(sum(col("term")).as("s9"))
    k.crossJoin(broadcast(xk)).crossJoin(broadcast(t))
      .select(col("n").as("n_orders"), col("k").cast("long").as("k"),
        col("xk").as("xk_cents"),
        when(coalesce(col("s9"), dec(lit(0))) === dec(lit(0)), lit(0.0))
          .otherwise(floor((col("k").cast("double")
            / (col("s9").cast("double") / 1000000000L)) * 1000000L + 0.5)
            / 1000000L).as("hill_alpha"))
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

  /** Partial correlations of the document shape features — q256's
    * covariance matrix read as structure: r(chars, tokens | chars-
    * per-token) etc. A raw chars↔tokens correlation near 1 is
    * tautological (length drives both); the partials say which
    * pairwise links survive conditioning on the third, i.e. which
    * shape signals are independently informative for a quality model
    * (q31/q147 feature selection).
    *
    * Exactness: rides the SAME 1e-6-quantized covariance row as q256
    * (shared helper — the two panels read one matrix by
    * construction); each r and each partial is one double chain,
    * floored 1e-6; zero variances or |r| = 1 denominators degrade to
    * 0 (stated).
    *
    * Scale shape: one documents pass → one moment row → a 1-row
    * chain. */
  val q270PartialCorr: QueryDef = QueryDef.withOracle(
    """WITH f AS (
      |  SELECT CAST(n_chars AS BIGINT) AS x1,
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
      |r AS (
      |  SELECT n,
      |    CASE WHEN c11 <= 0 OR c22 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE c12 / sqrt(c11 * c22) END AS r12,
      |    CASE WHEN c11 <= 0 OR c33 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE c13 / sqrt(c11 * c33) END AS r13,
      |    CASE WHEN c22 <= 0 OR c33 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE c23 / sqrt(c22 * c33) END AS r23
      |  FROM cv)
      |SELECT n AS n_docs,
      |  floor(r12 * 1000000 + 0.5) / 1000000 AS r12,
      |  floor(r13 * 1000000 + 0.5) / 1000000 AS r13,
      |  floor(r23 * 1000000 + 0.5) / 1000000 AS r23,
      |  CASE WHEN (1 - r13 * r13) * (1 - r23 * r23) <= 0
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((r12 - r13 * r23)
      |      / sqrt((1 - r13 * r13) * (1 - r23 * r23)))
      |      * 1000000 + 0.5) / 1000000 END AS r12_given_3,
      |  CASE WHEN (1 - r12 * r12) * (1 - r23 * r23) <= 0
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((r13 - r12 * r23)
      |      / sqrt((1 - r12 * r12) * (1 - r23 * r23)))
      |      * 1000000 + 0.5) / 1000000 END AS r13_given_2,
      |  CASE WHEN (1 - r12 * r12) * (1 - r13 * r13) <= 0
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((r23 - r12 * r13)
      |      / sqrt((1 - r12 * r12) * (1 - r13 * r13)))
      |      * 1000000 + 0.5) / 1000000 END AS r23_given_1
      |FROM r""".stripMargin
  ) { (s, d) =>
    val cv = docShapeCovariance(
      docShapeFeatures(s, d))
    def rr(cij: String, cii: String, cjj: String): Column =
      when(col(cii) <= 0 || col(cjj) <= 0, lit(0.0))
        .otherwise(col(cij) / sqrt(col(cii) * col(cjj)))
    val r = cv.select(col("n"), rr("c12", "c11", "c22").as("r12"),
      rr("c13", "c11", "c33").as("r13"),
      rr("c23", "c22", "c33").as("r23"))
    def part(rij: String, rik: String, rjk: String): Column = {
      val den = (lit(1) - col(rik) * col(rik)) *
        (lit(1) - col(rjk) * col(rjk))
      when(den <= 0, lit(0.0))
        .otherwise(floor(((col(rij) - col(rik) * col(rjk)) / sqrt(den))
          * 1000000L + 0.5) / 1000000L)
    }
    r.select(col("n").as("n_docs"),
      (floor(col("r12") * 1000000L + 0.5) / 1000000L).as("r12"),
      (floor(col("r13") * 1000000L + 0.5) / 1000000L).as("r13"),
      (floor(col("r23") * 1000000L + 0.5) / 1000000L).as("r23"),
      part("r12", "r13", "r23").as("r12_given_3"),
      part("r13", "r12", "r23").as("r13_given_2"),
      part("r23", "r12", "r13").as("r23_given_1"))
  }

  // ---- Association and correlation ----

  /** Mutual information between event_type and hour-of-day — the
    * feature-relevance screen (does WHEN depend on WHAT?) computed
    * exactly from one contingency rollup: MI and both entropies in
    * nats, plus the normalized coefficient MI / min(H_x, H_y).
    *
    * Scale shape: ONE (type, hour) partial+final count (≤ |types|·24
    * cells); margins, entropies, and the MI fold all run on that
    * metadata frame. Float discipline: each cell's ln term quantizes
    * at 1e-9 fixed point before the int64 sum (order-free), finals
    * round at 1e-6. */
  val q184MutualInfo: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT event_type AS x,
      |    (epoch_us(ts) % 86400000000) // 3600000000 AS y, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |mx AS (SELECT x, sum(n) AS nx FROM cell GROUP BY 1),
      |my AS (SELECT y, sum(n) AS ny FROM cell GROUP BY 1),
      |tot AS (SELECT sum(n) AS nn FROM cell),
      |mi AS (
      |  SELECT sum(CAST(floor((CAST(cell.n AS DOUBLE) / nn)
      |    * ln((CAST(cell.n AS DOUBLE) * nn)
      |      / (CAST(mx.nx AS DOUBLE) * my.ny)) * 1000000000 + 0.5)
      |    AS BIGINT)) AS mi_fp
      |  FROM cell JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
      |hx AS (
      |  SELECT sum(CAST(floor(-(CAST(nx AS DOUBLE) / nn)
      |    * ln(CAST(nx AS DOUBLE) / nn) * 1000000000 + 0.5) AS BIGINT))
      |    AS hx_fp
      |  FROM mx CROSS JOIN tot),
      |hy AS (
      |  SELECT sum(CAST(floor(-(CAST(ny AS DOUBLE) / nn)
      |    * ln(CAST(ny AS DOUBLE) / nn) * 1000000000 + 0.5) AS BIGINT))
      |    AS hy_fp
      |  FROM my CROSS JOIN tot)
      |SELECT
      |  floor(CAST(mi_fp AS DOUBLE) / 1000 + 0.5) / 1000000 AS mi_nats,
      |  floor(CAST(hx_fp AS DOUBLE) / 1000 + 0.5) / 1000000 AS h_type,
      |  floor(CAST(hy_fp AS DOUBLE) / 1000 + 0.5) / 1000000 AS h_hour,
      |  CASE WHEN least(hx_fp, hy_fp) = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(mi_fp AS DOUBLE) / least(hx_fp, hy_fp))
      |      * 1000000 + 0.5) / 1000000 END AS nmi
      |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(col("event_type").as("x"),
        expr("pmod(unix_micros(ts), 86400000000) div 3600000000").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
      .cache() // <= |types| * 24 cells
    val mx = cell.groupBy(col("x")).agg(sum(col("n")).as("nx"))
    val my = cell.groupBy(col("y")).agg(sum(col("n")).as("ny"))
    val tot = cell.agg(sum(col("n")).as("nn"))
    val mi = cell.join(broadcast(mx), Seq("x")).join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(tot))
      .agg(sum(floor((col("n").cast("double") / col("nn")) *
        log((col("n").cast("double") * col("nn")) /
          (col("nx").cast("double") * col("ny"))) * 1000000000 + 0.5)
        .cast("long")).as("mi_fp"))
    val hx = mx.crossJoin(broadcast(tot))
      .agg(sum(floor(-(col("nx").cast("double") / col("nn")) *
        log(col("nx").cast("double") / col("nn")) * 1000000000 + 0.5)
        .cast("long")).as("hx_fp"))
    val hy = my.crossJoin(broadcast(tot))
      .agg(sum(floor(-(col("ny").cast("double") / col("nn")) *
        log(col("ny").cast("double") / col("nn")) * 1000000000 + 0.5)
        .cast("long")).as("hy_fp"))
    mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(
        (floor(col("mi_fp").cast("double") / 1000 + 0.5) / 1000000)
          .as("mi_nats"),
        (floor(col("hx_fp").cast("double") / 1000 + 0.5) / 1000000)
          .as("h_type"),
        (floor(col("hy_fp").cast("double") / 1000 + 0.5) / 1000000)
          .as("h_hour"),
        // a constant margin (single type, or all events in one hour)
        // has zero entropy: MI is 0 too, so define nmi = 0
        when(least(col("hx_fp"), col("hy_fp")) === 0, lit(0.0))
          .otherwise(floor((col("mi_fp").cast("double") /
            least(col("hx_fp"), col("hy_fp"))) * 1000000 + 0.5) / 1000000)
          .as("nmi"))
  }

  /** Spearman rank correlation between document length in characters
    * and in tokens, per source — the tie-aware monotone-association
    * check a curation report needs where Pearson (q97's machinery) is
    * skewed by heavy-tailed lengths. Ties are everywhere in integer
    * lengths, so this uses average ranks (doubled to stay integral:
    * R2 = 2·cum_before + run + 1) and the Pearson-on-ranks form — the
    * textbook 1−6Σd²/… shortcut is WRONG under ties.
    *
    * Exactness: everything up to the last division is integer: rank
    * sums Σ R2 = n(n+1) in closed form (average ranks preserve the
    * rank-sum), and Σ R2x·R2y / Σ R2x² / Σ R2y² accumulate in
    * decimal(38,0)/HUGEINT off the JOINT (x, y) cell frame (products
    * reach 4n³ per source — past int64 at ~10⁶ docs/source, the q172
    * lesson applied before it bites; decimal(38,0) holds to n ≈ 10⁹).
    * ρ = num / (√da·√db) is one double expression in identical op
    * order on both engines, floored at 1e-6.
    *
    * Scale shape: ONE data pass builds the joint (source, chars,
    * tokens) cell frame (bounded by value cardinality, not corpus
    * size); marginal ranks are windows over the ≤|cells| marginal
    * frames; the moment sums ride the joint cells with two broadcast
    * marginal joins. Nothing downstream of the first aggregate is
    * data-sized. */
  val q200Spearman: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT source, n_chars AS x,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |  FROM documents),
      |j AS (SELECT source, x, y, count(*) AS cnt FROM d GROUP BY 1, 2, 3),
      |mx AS (
      |  SELECT source, x, CAST(sum(cnt) AS BIGINT) AS cx
      |  FROM j GROUP BY 1, 2),
      |rx AS (
      |  SELECT source, x,
      |    2 * CAST(sum(cx) OVER (PARTITION BY source ORDER BY x)
      |      AS BIGINT) - cx + 1 AS r2x
      |  FROM mx),
      |my AS (
      |  SELECT source, y, CAST(sum(cnt) AS BIGINT) AS cy
      |  FROM j GROUP BY 1, 2),
      |ry AS (
      |  SELECT source, y,
      |    2 * CAST(sum(cy) OVER (PARTITION BY source ORDER BY y)
      |      AS BIGINT) - cy + 1 AS r2y
      |  FROM my),
      |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM j GROUP BY 1),
      |s AS (
      |  SELECT j.source,
      |    sum(CAST(j.cnt AS HUGEINT) * rx.r2x * ry.r2y) AS sxy,
      |    sum(CAST(j.cnt AS HUGEINT) * rx.r2x * rx.r2x) AS sxx,
      |    sum(CAST(j.cnt AS HUGEINT) * ry.r2y * ry.r2y) AS syy
      |  FROM j JOIN rx USING (source, x) JOIN ry USING (source, y)
      |  GROUP BY 1),
      |f AS (
      |  SELECT n.source, n.n,
      |    CAST(n.n AS HUGEINT) * s.sxy
      |      - (CAST(n.n AS HUGEINT) * (n.n + 1))
      |        * (CAST(n.n AS HUGEINT) * (n.n + 1)) AS num,
      |    CAST(n.n AS HUGEINT) * s.sxx
      |      - (CAST(n.n AS HUGEINT) * (n.n + 1))
      |        * (CAST(n.n AS HUGEINT) * (n.n + 1)) AS da,
      |    CAST(n.n AS HUGEINT) * s.syy
      |      - (CAST(n.n AS HUGEINT) * (n.n + 1))
      |        * (CAST(n.n AS HUGEINT) * (n.n + 1)) AS db
      |  FROM n JOIN s USING (source))
      |SELECT source, n AS n_docs,
      |  CASE WHEN da = 0 OR db = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(num AS DOUBLE)
      |      / (sqrt(CAST(da AS DOUBLE)) * sqrt(CAST(db AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 END AS rho
      |FROM f""".stripMargin
  ) { (s, d) =>
    spearmanOn(Tables.documents(s, d)
      .select(col("source"), col("n_chars").as("x"),
        size(split(col("text"), " ", -1)).cast("long").as("y")))
  }

  /** q200's tie-aware Spearman over a (source, x, y) row frame —
    * extracted so AnalyticsOps7Spec can check the doubled-average-rank
    * algebra against a brute Pearson-on-ranks reference on
    * adversarial tie patterns the corpus never produces. */
  private[operators] def spearmanOn(rows: DataFrame): DataFrame = {
    val j = rows
      .groupBy(col("source"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // joint cells — bounded by value cardinality
    def doubledRanks(v: String, c: String, r: String): DataFrame =
      j.groupBy(col("source"), col(v))
        .agg(sum(col("cnt")).as(c))
        .withColumn(r,
          lit(2) * sum(col(c)).over(
            Window.partitionBy(col("source")).orderBy(col(v)))
            - col(c) + 1)
        .select(col("source"), col(v), col(r))
    val rx = doubledRanks("x", "cx", "r2x")
    val ry = doubledRanks("y", "cy", "r2y")
    val n = j.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val sums = j
      .join(broadcast(rx), Seq("source", "x"))
      .join(broadcast(ry), Seq("source", "y"))
      .groupBy(col("source"))
      .agg(sum(dec(col("cnt")) * col("r2x") * col("r2y")).as("sxy"),
        sum(dec(col("cnt")) * col("r2x") * col("r2x")).as("sxx"),
        sum(dec(col("cnt")) * col("r2y") * col("r2y")).as("syy"))
    val sr = dec(col("n")) * (col("n") + 1) // Σ R2 = n(n+1), closed form
    n.join(broadcast(sums), Seq("source"))
      .select(col("source"), col("n"),
        (dec(col("n")) * col("sxy") - sr * sr).as("num"),
        (dec(col("n")) * col("sxx") - sr * sr).as("da"),
        (dec(col("n")) * col("syy") - sr * sr).as("db"))
      .select(col("source"), col("n").as("n_docs"),
        when(col("da") === dec(lit(0)) || col("db") === dec(lit(0)),
          lit(0.0))
          .otherwise(floor((col("num").cast("double") /
            (sqrt(col("da").cast("double")) *
              sqrt(col("db").cast("double")))) * 1000000 + 0.5) / 1000000)
          .as("rho"))
  }

  /** Grid-quantized Kendall τ-b between document length in chars and
    * in tokens, per source — the CONCORDANCE companion to q200's
    * Spearman: τ asks "of all pairs, how many agree in direction",
    * is interpretable as a probability difference, and is the
    * estimator robust literature prefers under heavy ties. Exact τ
    * is inherently pairwise (O(n log n) needs a merge-tree, which is
    * not a relational shape), so the operator contract is τ-b on a
    * per-source 64×64 min-max grid: xb = (x−min)·64 div (max−min+1).
    * Quantization only ever MERGES neighbouring values into ties, so
    * the grid τ is the exact τ-b of the banded data — a deterministic,
    * oracle-able estimator whose work is bounded by the grid, not the
    * corpus.
    *
    * Exactness: concordant-minus-discordant S sums c_a·c_b·sign over
    * distinct-cell pairs in decimal(38,0)/HUGEINT (S ≤ n², past int64
    * at ~10¹⁰ rows/source); tie terms n(n−1) − Σc(c−1) likewise;
    * τ = 2S / (√da·√db) is one double expression in identical op
    * order, floored at 1e-6.
    *
    * Scale shape: ONE data pass builds the raw (source, x, y) joint
    * cells (value-cardinality-bounded); the per-source min/max frame
    * (≤|sources| rows) broadcasts back; banded cells are ≤ 64² = 4096
    * per source BY CONSTRUCTION, so the lexicographic self-join is
    * ≤ 8.4M pairs per source — fixed metadata work at ANY corpus
    * size. Nothing downstream of the first aggregate is data-sized. */
  val q204KendallTau: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT source, n_chars AS x,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |  FROM documents),
      |rc AS (SELECT source, x, y, count(*) AS cnt FROM d GROUP BY 1, 2, 3),
      |mm AS (
      |  SELECT source, min(x) AS nx, max(x) AS mx,
      |    min(y) AS ny, max(y) AS my
      |  FROM rc GROUP BY 1),
      |j AS (
      |  SELECT rc.source,
      |    ((rc.x - mm.nx) * 64) // (mm.mx - mm.nx + 1) AS xb,
      |    ((rc.y - mm.ny) * 64) // (mm.my - mm.ny + 1) AS yb,
      |    CAST(sum(cnt) AS BIGINT) AS c
      |  FROM rc JOIN mm USING (source) GROUP BY 1, 2, 3),
      |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM j GROUP BY 1),
      |s AS (
      |  SELECT a.source,
      |    sum(CAST(a.c AS HUGEINT) * b.c *
      |      CASE WHEN b.yb > a.yb THEN 1
      |           WHEN b.yb < a.yb THEN -1 ELSE 0 END) AS s
      |  FROM j a JOIN j b ON a.source = b.source AND a.xb < b.xb
      |  GROUP BY 1),
      |tx AS (
      |  SELECT source, sum(CAST(cx AS HUGEINT) * (cx - 1)) AS t1
      |  FROM (SELECT source, xb, CAST(sum(c) AS BIGINT) AS cx
      |        FROM j GROUP BY 1, 2) GROUP BY 1),
      |ty AS (
      |  SELECT source, sum(CAST(cy AS HUGEINT) * (cy - 1)) AS t2
      |  FROM (SELECT source, yb, CAST(sum(c) AS BIGINT) AS cy
      |        FROM j GROUP BY 1, 2) GROUP BY 1),
      |f AS (
      |  SELECT n.source, n.n, coalesce(s.s, 0) AS s,
      |    CAST(n.n AS HUGEINT) * (n.n - 1) - tx.t1 AS da,
      |    CAST(n.n AS HUGEINT) * (n.n - 1) - ty.t2 AS db
      |  FROM n LEFT JOIN s ON n.source = s.source
      |  JOIN tx ON n.source = tx.source
      |  JOIN ty ON n.source = ty.source)
      |SELECT source, n AS n_docs,
      |  CASE WHEN da = 0 OR db = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((2 * CAST(s AS DOUBLE)
      |      / (sqrt(CAST(da AS DOUBLE)) * sqrt(CAST(db AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 END AS tau_b
      |FROM f""".stripMargin
  ) { (s, d) =>
    kendallOn(Tables.documents(s, d)
      .select(col("source"), col("n_chars").as("x"),
        size(split(col("text"), " ", -1)).cast("long").as("y")))
  }

  /** q204's grid τ-b over a (source, x, y) row frame — extracted so
    * AnalyticsOps8Spec can check the pair algebra against a brute
    * all-pairs reference on adversarial tie patterns (perfect
    * concordance/discordance, all-tied axes, single row). */
  private[operators] def kendallOn(rows: DataFrame): DataFrame = {
    val rc = rows.groupBy(col("source"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // raw joint cells — ONE data pass feeds mm AND the band
    val mm = rc.groupBy(col("source"))
      .agg(min(col("x")).as("nx"), max(col("x")).as("mx"),
        min(col("y")).as("ny"), max(col("y")).as("my"))
    val j = rc.join(broadcast(mm), Seq("source"))
      .groupBy(col("source"),
        expr("((x - nx) * 64) div (mx - nx + 1)").as("xb"),
        expr("((y - ny) * 64) div (my - ny + 1)").as("yb"))
      .agg(sum(col("cnt")).as("c"))
      .cache() // banded cells: ≤ 64² per source by construction
    val n = j.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val a = j.toDF("source", "xa", "ya", "ca")
    val b = j.toDF("source", "xb", "yb", "cb")
    val sdf = a.join(b, Seq("source"))
      .filter(col("xa") < col("xb"))
      .groupBy(col("source"))
      .agg(sum(dec(col("ca")) * col("cb") *
        when(col("yb") > col("ya"), 1)
          .when(col("yb") < col("ya"), -1).otherwise(0)).as("s"))
    def tie(v: String): DataFrame =
      j.groupBy(col("source"), col(v)).agg(sum(col("c")).as("cc"))
        .groupBy(col("source"))
        .agg(sum(dec(col("cc")) * (col("cc") - 1)).as(s"t_$v"))
    n.join(sdf, Seq("source"), "left")
      .join(broadcast(tie("xb")), Seq("source"))
      .join(broadcast(tie("yb")), Seq("source"))
      .select(col("source"), col("n"),
        coalesce(col("s"), dec(lit(0))).as("s"),
        (dec(col("n")) * (col("n") - 1) - col("t_xb")).as("da"),
        (dec(col("n")) * (col("n") - 1) - col("t_yb")).as("db"))
      .select(col("source"), col("n").as("n_docs"),
        when(col("da") === dec(lit(0)) || col("db") === dec(lit(0)),
          lit(0.0))
          .otherwise(floor((lit(2) * col("s").cast("double") /
            (sqrt(col("da").cast("double")) *
              sqrt(col("db").cast("double")))) * 1000000 + 0.5) / 1000000)
          .as("tau_b"))
  }

  /** Theil's uncertainty coefficient between `lang` and `source` —
    * the NORMALIZED, asymmetric association beside q184's raw mutual
    * information: U(lang|source) = (H(lang) − H(lang|source)) /
    * H(lang) reads as "what fraction of language uncertainty does
    * knowing the source remove" (and the transposed direction answers
    * the converse), on a calibrated [0,1] scale a curation report can
    * threshold. Both directions share one MI numerator by the chain
    * rule; entropies are plug-in (no smoothing — this measures, it
    * doesn't model).
    *
    * Exactness: every probability is a ratio of exact int64 counts;
    * each entropy term quantizes to 1e-9 fixed point per cell before
    * its int64 sum (order-free); U is one division of two int64 sums,
    * floored 1e-6.
    *
    * Scale shape: ONE (lang, source) partial+final count collapses
    * the corpus (≤|langs|·|sources| cells); margins, totals, and all
    * four entropy sums ride that frame with broadcast joins. The
    * q178/q186 posture. */
  val q212TheilU: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
      |nl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM cell GROUP BY 1),
      |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cell GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cell),
      |hl AS (
      |  SELECT CAST(sum(CAST(floor((CAST(nl AS DOUBLE) / n)
      |    * ln(CAST(n AS DOUBLE) / nl) * 1000000000 + 0.5) AS BIGINT))
      |    AS BIGINT) AS hl_fp
      |  FROM nl CROSS JOIN tot),
      |hs AS (
      |  SELECT CAST(sum(CAST(floor((CAST(ns AS DOUBLE) / n)
      |    * ln(CAST(n AS DOUBLE) / ns) * 1000000000 + 0.5) AS BIGINT))
      |    AS BIGINT) AS hs_fp
      |  FROM ns CROSS JOIN tot),
      |hc AS (
      |  SELECT
      |    CAST(sum(CAST(floor((CAST(c AS DOUBLE) / n)
      |      * ln(CAST(ns AS DOUBLE) / c) * 1000000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS hls_fp,
      |    CAST(sum(CAST(floor((CAST(c AS DOUBLE) / n)
      |      * ln(CAST(nl AS DOUBLE) / c) * 1000000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS hsl_fp
      |  FROM cell JOIN nl USING (lang) JOIN ns USING (source)
      |  CROSS JOIN tot)
      |SELECT tot.n AS n_docs,
      |  CAST(hl_fp AS DOUBLE) / 1000000000 AS h_lang,
      |  CAST(hs_fp AS DOUBLE) / 1000000000 AS h_source,
      |  CASE WHEN hl_fp = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(hl_fp - hls_fp AS DOUBLE) / hl_fp) * 1000000
      |      + 0.5) / 1000000 END AS u_lang_given_source,
      |  CASE WHEN hs_fp = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(hs_fp - hsl_fp AS DOUBLE) / hs_fp) * 1000000
      |      + 0.5) / 1000000 END AS u_source_given_lang
      |FROM tot CROSS JOIN hl CROSS JOIN hs CROSS JOIN hc""".stripMargin
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
      .cache() // one corpus pass feeds margins, totals, both entropies
    val nl = cell.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    val ns = cell.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val tot = cell.agg(sum(col("c")).as("n"))
    def hFp(margin: DataFrame, m: String): DataFrame =
      margin.crossJoin(broadcast(tot))
        .select(floor((col(m).cast("double") / col("n")) *
          log(col("n").cast("double") / col(m)) * 1000000000L + 0.5)
          .cast("long").as("t"))
        .agg(sum(col("t")).as(s"h${m}_fp"))
    val hl = hFp(nl, "nl")
    val hs = hFp(ns, "ns")
    val hc = cell.join(broadcast(nl), Seq("lang"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(
        floor((col("c").cast("double") / col("n")) *
          log(col("ns").cast("double") / col("c")) * 1000000000L + 0.5)
          .cast("long").as("tls"),
        floor((col("c").cast("double") / col("n")) *
          log(col("nl").cast("double") / col("c")) * 1000000000L + 0.5)
          .cast("long").as("tsl"))
      .agg(sum(col("tls")).as("hls_fp"), sum(col("tsl")).as("hsl_fp"))
    tot.crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .crossJoin(broadcast(hc))
      .select(col("n").as("n_docs"),
        (col("hnl_fp").cast("double") / 1000000000L).as("h_lang"),
        (col("hns_fp").cast("double") / 1000000000L).as("h_source"),
        when(col("hnl_fp") === 0, lit(0.0))
          .otherwise(floor(((col("hnl_fp") - col("hls_fp")).cast("double")
            / col("hnl_fp")) * 1000000 + 0.5) / 1000000)
          .as("u_lang_given_source"),
        when(col("hns_fp") === 0, lit(0.0))
          .otherwise(floor(((col("hns_fp") - col("hsl_fp")).cast("double")
            / col("hns_fp")) * 1000000 + 0.5) / 1000000)
          .as("u_source_given_lang"))
  }

  /** Bias-corrected Cramér's V between lang and source — the
    * NORMALIZED χ² association on a [0,1] scale, closing the
    * association family: q184 raw mutual information, q212 Theil's U
    * (asymmetric, entropy-based), this one symmetric and
    * χ²-based with the Bergsma–Wicher small-sample correction (the
    * uncorrected V systematically overstates association when the
    * table is sparse relative to N).
    *
    * χ² sums over OBSERVED cells only via the zero-cell identity
    * χ² = Σ_obs((o−e)²/e − e) + N — the unobserved cells' Σe folds
    * into N, so no dense lang×source grid is ever materialized. Each
    * cell term quantizes to 1e-9 fixed point (≤|langs|·|sources|
    * cells, order-free); expected counts are divisions of exact int64
    * margins; both V's are single sqrt's of ratios of deterministic
    * doubles, 1e-6-floored.
    *
    * Scale shape: ONE (lang, source) count collapses the corpus;
    * margins and totals ride the cell frame with broadcast joins —
    * the q212/q178 posture. */
  val q224CramersV: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
      |nl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM cell GROUP BY 1),
      |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cell GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |    count(DISTINCT lang) AS r, count(DISTINCT source) AS cc
      |  FROM cell),
      |x2 AS (
      |  SELECT CAST(sum(CAST(floor(
      |    ((c - (CAST(nl AS DOUBLE) * ns) / n)
      |      * (c - (CAST(nl AS DOUBLE) * ns) / n)
      |      / ((CAST(nl AS DOUBLE) * ns) / n)
      |      - (CAST(nl AS DOUBLE) * ns) / n) * 1000000000 + 0.5)
      |    AS BIGINT)) AS BIGINT) AS t_fp
      |  FROM cell JOIN nl USING (lang) JOIN ns USING (source)
      |  CROSS JOIN tot)
      |SELECT n AS n_docs, r AS n_langs, cc AS n_sources,
      |  CAST(t_fp AS DOUBLE) / 1000000000 + n AS chi2,
      |  floor(sqrt((CAST(t_fp AS DOUBLE) / 1000000000 + n) / n
      |      / least(r - 1, cc - 1)) * 1000000 + 0.5) / 1000000 AS v,
      |  floor(sqrt(
      |    greatest(0, (CAST(t_fp AS DOUBLE) / 1000000000 + n) / n
      |      - CAST((r - 1) * (cc - 1) AS DOUBLE) / (n - 1))
      |    / least(r - CAST((r - 1) * (r - 1) AS DOUBLE) / (n - 1) - 1,
      |            cc - CAST((cc - 1) * (cc - 1) AS DOUBLE) / (n - 1) - 1))
      |    * 1000000 + 0.5) / 1000000 AS v_corrected
      |FROM tot CROSS JOIN x2""".stripMargin
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
      .cache() // one corpus pass feeds margins, totals, and χ²
    val nl = cell.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    val ns = cell.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val tot = cell.agg(sum(col("c")).cast("long").as("n"),
      countDistinct(col("lang")).as("r"),
      countDistinct(col("source")).as("cc"))
    val e = (col("nl").cast("double") * col("ns")) / col("n")
    val x2 = cell.join(broadcast(nl), Seq("lang"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(floor(((col("c") - e) * (col("c") - e) / e - e)
        * 1000000000L + 0.5).cast("long").as("t"))
      .agg(sum(col("t")).as("t_fp"))
    val chi2 = col("t_fp").cast("double") / 1000000000L + col("n")
    val phi2 = chi2 / col("n")
    val corrPhi2 = greatest(lit(0), phi2
      - ((col("r") - 1) * (col("cc") - 1)).cast("double") / (col("n") - 1))
    val rTilde = (col("r")
      - ((col("r") - 1) * (col("r") - 1)).cast("double") / (col("n") - 1))
    val cTilde = (col("cc")
      - ((col("cc") - 1) * (col("cc") - 1)).cast("double") / (col("n") - 1))
    tot.crossJoin(broadcast(x2))
      .select(col("n").as("n_docs"), col("r").as("n_langs"),
        col("cc").as("n_sources"),
        chi2.as("chi2"),
        (floor(sqrt(phi2 / least(col("r") - 1, col("cc") - 1))
          * 1000000L + 0.5) / 1000000L).as("v"),
        (floor(sqrt(corrPhi2 / least(rTilde - 1, cTilde - 1))
          * 1000000L + 0.5) / 1000000L).as("v_corrected"))
  }

  // ---- Hypothesis tests and effect sizes ----

  /** Benford first-digit audit of order totals: observed first-digit
    * distribution of the cents-exact amounts against the Benford
    * expectation log₁₀(1 + 1/d) — the fraud/data-quality screen that
    * belongs beside the expectation suite (q88). First digit is
    * taken from the INTEGER cents rendered as a string (float
    * formatting differs across engines; int64 formatting doesn't).
    * `frac` is one exact IEEE division; `expected` is a libm log of
    * nine tiny constants, rounded to 6 places to absorb any
    * last-ulp libm disagreement. */
  val q113Benford: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders WHERE o_totalprice > 0),
      |c AS (
      |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
      |    AS digit, count(*) AS n
      |  FROM t GROUP BY 1),
      |tot AS (SELECT sum(n) AS tot FROM c)
      |SELECT digit, n, CAST(n AS DOUBLE) / tot AS frac,
      |  floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000
      |    AS expected
      |FROM c CROSS JOIN tot""".stripMargin
  ) { (s, d) =>
    val c = Tables.orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = c.agg(sum(col("n")).as("tot"))
    c.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("tot")).as("frac"),
        (floor(log10(lit(1.0) + lit(1.0) / col("digit")) * 1000000 + 0.5)
          / 1000000).as("expected"))
  }

  /** Benford CONFORMITY DRIFT of order totals, per order year — the
    * year-level scorecard layer over q113's digit-level screen
    * (which emits the global observed-vs-expected rows): per year,
    * the Nigrini MAD statistic (mean absolute deviation of the nine
    * first-digit shares from log10(1 + 1/d); < 0.006 close
    * conformity, > 0.015 nonconformity), the worst digit and its
    * deviation — the shape a monitoring job alerts on, sliced by
    * time so a feed that DRIFTS into fabrication is caught even when
    * the all-time histogram still conforms.
    *
    * Parity: the leading digit comes from the decimal string of
    * exact cents (int64 renders identically on both engines); shares
    * are one IEEE division of exact int64 counts over a zero-filled
    * year×digit grid (a missing digit must contribute its full
    * expectation to MAD); the expectation rounds at 1e-6 (q113
    * convention); each |share − expected| term quantizes to 1e-9
    * fixed point BEFORE the 9-term fold (sum order differs across
    * engines), and MAD is one final division by 9e9.
    *
    * Scale shape: ONE pass — a partial+final count onto the
    * |years|·9 cell domain; the grid, year totals, and the MAD fold
    * all run on that metadata frame. No windows, no second pass. */
  val q188Benford: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5)
      |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders),
      |c AS (SELECT yr, digit, count(*) AS n_digit FROM d GROUP BY 1, 2),
      |t AS (SELECT yr, CAST(sum(n_digit) AS BIGINT) AS n_orders
      |      FROM c GROUP BY 1),
      |g AS (
      |  SELECT y.yr, ds.digit, coalesce(c.n_digit, 0) AS n_digit
      |  FROM (SELECT DISTINCT yr FROM c) y
      |  CROSS JOIN (SELECT unnest(range(1, 10)) AS digit) ds
      |  LEFT JOIN c ON c.yr = y.yr AND c.digit = ds.digit),
      |dev AS (
      |  SELECT g.yr, g.digit, t.n_orders,
      |    abs(CAST(g.n_digit AS DOUBLE) / t.n_orders
      |      - floor(log10(1 + CAST(1 AS DOUBLE) / g.digit) * 1000000 + 0.5)
      |        / 1000000) AS dv
      |  FROM g JOIN t USING (yr))
      |SELECT yr, n_orders,
      |  CAST(sum(CAST(floor(dv * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 9000000000 AS mad,
      |  max(dv) AS max_dev,
      |  max_by(digit,
      |    CAST(floor(dv * 1000000000 + 0.5) AS BIGINT) * 16 + (9 - digit))
      |    AS worst_digit
      |FROM dev GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val digits = Tables.orders(s, d).select(
      year(col("o_orderdate")).cast("long").as("yr"),
      substring(floor(col("o_totalprice") * 100 + 0.5).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
    val c = digits.groupBy(col("yr"), col("digit"))
      .agg(count(lit(1)).as("n_digit"))
      .cache() // ≤ |years| · 9 cells — everything below is metadata
    val t = c.groupBy(col("yr")).agg(sum(col("n_digit")).as("n_orders"))
    val grid = c.select(col("yr")).distinct()
      .crossJoin(broadcast(s.range(1).select(
        explode(sequence(lit(1L), lit(9L))).as("digit"))))
      .join(broadcast(c), Seq("yr", "digit"), "left")
      .select(col("yr"), col("digit"),
        coalesce(col("n_digit"), lit(0L)).as("n_digit"))
    val expected =
      floor(log10(lit(1) + lit(1.0).cast("double") / col("digit"))
        * 1000000 + 0.5) / 1000000
    val dev = grid.join(broadcast(t), Seq("yr"))
      .select(col("yr"), col("digit"), col("n_orders"),
        abs(col("n_digit").cast("double") / col("n_orders") - expected)
          .as("dv"))
    dev.groupBy(col("yr"), col("n_orders"))
      .agg(
        (sum(floor(col("dv") * 1000000000 + 0.5).cast("long")).cast("double")
          / 9000000000L).as("mad"),
        max(col("dv")).as("max_dev"),
        max_by(col("digit"),
          floor(col("dv") * 1000000000 + 0.5).cast("long") * 16
            + (lit(9L) - col("digit"))).as("worst_digit"))
      .select(col("yr"), col("n_orders"), col("mad"), col("max_dev"),
        col("worst_digit"))
  }

  /** Pairwise Mann-Whitney U (Wilcoxon rank-sum) between every pair
    * of sources on document length — the nonparametric TEST beside
    * the distances (q153 KS, q201 W1): it answers "does source A
    * stochastically dominate source B, and is the shift significant",
    * with the tie-corrected normal approximation every stats package
    * uses. Output per pair: 2·U (exact int) and the z-score.
    *
    * Exactness: pooled ranks are the doubled average ranks off the
    * pair's merged (value) cells (the q200 device — integral under
    * ties); 2U = ΣcA·r2 − nA(nA+1) exact; the tie-corrected variance
    * numerator nA·nB·((n+1)n(n−1) − Σt(t²−1)) accumulates in
    * decimal(38,0)/HUGEINT (reaches n⁴ — int64 dies at ~55k rows/
    * pair, so this is mandatory, not defensive); z = (2U − nA·nB) /
    * (2·√(vnum/(12n(n−1)))) is one double chain in identical op
    * order, floored 1e-6.
    *
    * Scale shape: ONE data pass builds the (source, value) cells;
    * the |sources|² pair frame replicates CELLS (value-cardinality ×
    * pair metadata, never data); each pair's rank walk is a window
    * over its own cells. The q201 posture exactly. */
  val q205MannWhitney: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
      |p AS (
      |  SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb
      |  FROM n a JOIN n b ON a.source < b.source),
      |u AS (
      |  SELECT p.sa, p.sb, c.v, c.cnt AS ca, CAST(0 AS BIGINT) AS cb
      |  FROM p JOIN c ON c.source = p.sa
      |  UNION ALL
      |  SELECT p.sa, p.sb, c.v, CAST(0 AS BIGINT), c.cnt
      |  FROM p JOIN c ON c.source = p.sb),
      |g AS (
      |  SELECT sa, sb, v, CAST(sum(ca) AS BIGINT) AS ca,
      |    CAST(sum(cb) AS BIGINT) AS cb
      |  FROM u GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT sa, sb, v, ca, cb, ca + cb AS t,
      |    2 * CAST(sum(ca + cb) OVER (PARTITION BY sa, sb ORDER BY v)
      |      AS BIGINT) - (ca + cb) + 1 AS r2
      |  FROM g),
      |s AS (
      |  SELECT sa, sb,
      |    CAST(sum(CAST(ca AS HUGEINT) * r2) AS HUGEINT) AS r2a,
      |    sum(CAST(t AS HUGEINT) * t * t - t) AS tt
      |  FROM w GROUP BY 1, 2),
      |f AS (
      |  SELECT p.sa, p.sb, p.na, p.nb, p.na + p.nb AS n,
      |    s.r2a - CAST(p.na AS HUGEINT) * (p.na + 1) AS u2,
      |    CAST(p.na AS HUGEINT) * p.nb *
      |      (CAST(p.na + p.nb + 1 AS HUGEINT) * (p.na + p.nb)
      |        * (p.na + p.nb - 1) - s.tt) AS vnum,
      |    CAST(12 AS HUGEINT) * (p.na + p.nb)
      |      * (p.na + p.nb - 1) AS vden
      |  FROM p JOIN s USING (sa, sb))
      |SELECT sa AS source_a, sb AS source_b, na AS n_a, nb AS n_b,
      |  CAST(u2 AS BIGINT) AS u2,
      |  CASE WHEN vnum = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(u2 - CAST(na AS HUGEINT) * nb AS DOUBLE)
      |      / (2 * sqrt(CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 END AS z
      |FROM f""".stripMargin
  ) { (s, d) =>
    mannWhitneyOn(Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt")))
  }

  /** q205's pairwise rank-sum over a (source, v, cnt) cell frame —
    * extracted so AnalyticsOps8Spec can check U and the tie-corrected
    * z against brute references (disjoint supports, identical
    * distributions, heavy-tie cases). */
  private[operators] def mannWhitneyOn(cellsIn: DataFrame): DataFrame = {
    val c = cellsIn.cache() // (source, value) cells — the one data pass
    val n = c.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val p = n.toDF("sa", "na")
      .join(broadcast(n.toDF("sb", "nb")), col("sa") < col("sb"))
    val ua = c.toDF("sa", "v", "ca")
      .join(broadcast(p.select(col("sa"), col("sb"))), Seq("sa"))
      .select(col("sa"), col("sb"), col("v"), col("ca"), lit(0L).as("cb"))
    val ub = c.toDF("sb", "v", "cb")
      .join(broadcast(p.select(col("sa"), col("sb"))), Seq("sb"))
      .select(col("sa"), col("sb"), col("v"), lit(0L).as("ca"), col("cb"))
    val wn = Window.partitionBy(col("sa"), col("sb")).orderBy(col("v"))
    // ONE pair-keyed exchange serves both the merge aggregate and the
    // rank window (guide §2.4: two operations keyed the same way share
    // one exchange): hash(sa, sb) satisfies the aggregate's
    // (sa, sb, v) clustering AND the window's (sa, sb) partitioning,
    // where the default plan exchanged the pair-replicated cell
    // stream twice. Each (sa, sb, v) key holds ≤ 2 union rows, so the
    // map-side partial aggregate the explicit repartition skips was
    // collapsing nothing.
    val w = ua.unionByName(ub)
      .repartition(col("sa"), col("sb"))
      .groupBy(col("sa"), col("sb"), col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
      .withColumn("r2",
        lit(2) * sum(col("ca") + col("cb")).over(wn)
          - (col("ca") + col("cb")) + 1)
    val sums = w.groupBy(col("sa"), col("sb"))
      .agg(sum(dec(col("ca")) * col("r2")).as("r2a"),
        sum(dec(col("t")) * col("t") * col("t") - col("t")).as("tt"))
    p.join(broadcast(sums), Seq("sa", "sb"))
      .select(col("sa"), col("sb"), col("na"), col("nb"),
        (col("r2a") - dec(col("na")) * (col("na") + 1)).as("u2"),
        (dec(col("na")) * col("nb") *
          (dec(col("na") + col("nb") + 1) * (col("na") + col("nb"))
            * (col("na") + col("nb") - 1) - col("tt"))).as("vnum"),
        (dec(lit(12)) * (col("na") + col("nb"))
          * (col("na") + col("nb") - 1)).as("vden"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("u2").cast("long").as("u2"),
        when(col("vnum") === dec(lit(0)), lit(0.0))
          .otherwise(floor(((col("u2") - dec(col("na")) * col("nb"))
            .cast("double") /
            (lit(2) * sqrt(col("vnum").cast("double") /
              col("vden").cast("double")))) * 1000000 + 0.5) / 1000000)
          .as("z"))
  }

  /** One-way ANOVA F test of document length across sources — the
    * k-sample parametric member of the hypothesis-test family (q104
    * two-sample t, q205 Mann–Whitney rank-sum, q117 χ² drift): does
    * mean n_chars differ across sources more than within-source
    * variance explains? F = (SSB/(k−1)) / (SSW/(N−k)), with η² =
    * SSB/SST as the effect size a drift monitor can threshold.
    *
    * Exactness: per-source count/sum/sum-of-squares accumulate in
    * int64 and decimal(38,0)/HUGEINT (the q172 moment convention — the
    * squared sums cross 2^63 at fleet scale); group and grand means
    * are single divisions of exact integers (bit-identical); the
    * between-group terms quantize SCALE-FREE as (n_g/N)·(x̄_g − x̄)² at
    * 1e-9 fixed point — bounded by the squared value range regardless
    * of row count, so the int64 fixed-point frame never overflows —
    * and SSB = N · their sum; SST comes from the exact moments, SSW by
    * subtraction, all in identical op order.
    *
    * Scale shape: ONE documents pass into a ≤|sources| hash aggregate
    * (map-side combined); every statistic ride the k-cell frame with a
    * broadcast 1-row total. The q178/q186 posture. */
  val q220Anova: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT source, count(*) AS ng,
      |    sum(CAST(n_chars AS HUGEINT)) AS sg,
      |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS qg
      |  FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(ng) AS BIGINT) AS n, sum(sg) AS s, sum(qg) AS q,
      |    count(*) AS k FROM cell),
      |b AS (
      |  SELECT CAST(sum(CAST(floor((CAST(ng AS DOUBLE) / n)
      |      * ((CAST(sg AS DOUBLE) / ng - CAST(s AS DOUBLE) / n)
      |        * (CAST(sg AS DOUBLE) / ng - CAST(s AS DOUBLE) / n))
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS bfp
      |  FROM cell CROSS JOIN tot)
      |SELECT k AS n_groups, n AS n_docs,
      |  CAST(s AS DOUBLE) / n AS grand_mean,
      |  (CAST(bfp AS DOUBLE) / 1000000000) * n AS ssb,
      |  CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n)
      |    * (CAST(s AS DOUBLE) / n) * n
      |    - (CAST(bfp AS DOUBLE) / 1000000000) * n AS ssw,
      |  ((CAST(bfp AS DOUBLE) / 1000000000) * n / (k - 1))
      |    / ((CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n)
      |        * (CAST(s AS DOUBLE) / n) * n
      |        - (CAST(bfp AS DOUBLE) / 1000000000) * n) / (n - k))
      |    AS f_stat,
      |  ((CAST(bfp AS DOUBLE) / 1000000000) * n)
      |    / (CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n)
      |       * (CAST(s AS DOUBLE) / n) * n) AS eta_sq
      |FROM tot CROSS JOIN b""".stripMargin
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("ng"),
        sum(dec(col("n_chars"))).as("sg"),
        sum(dec(col("n_chars")) * col("n_chars")).as("qg"))
      .cache() // ONE documents pass; totals + SSB terms reuse the k cells
    val tot = cell.agg(sum(col("ng")).cast("long").as("n"),
      sum(col("sg")).as("s"), sum(col("qg")).as("q"),
      count(lit(1)).as("k"))
    val gm = col("s").cast("double") / col("n")
    val b = cell.crossJoin(broadcast(tot))
      .select(floor((col("ng").cast("double") / col("n"))
        * ((col("sg").cast("double") / col("ng") - gm)
          * (col("sg").cast("double") / col("ng") - gm))
        * 1000000000L + 0.5).cast("long").as("t"))
      .agg(sum(col("t")).as("bfp"))
    val ssb = (col("bfp").cast("double") / 1000000000L) * col("n")
    val sst = col("q").cast("double") - gm * gm * col("n")
    val ssw = sst - ssb
    tot.crossJoin(broadcast(b))
      .select(col("k").as("n_groups"), col("n").as("n_docs"),
        gm.as("grand_mean"),
        ssb.as("ssb"),
        ssw.as("ssw"),
        ((ssb / (col("k") - 1)) / (ssw / (col("n") - col("k"))))
          .as("f_stat"),
        (ssb / sst).as("eta_sq"))
  }

  /** Kruskal-Wallis H across sources on document length — the k-group
    * nonparametric test completing the triad: q220 ANOVA assumes
    * normal-ish residuals, q205 Mann-Whitney only compares PAIRS;
    * Kruskal-Wallis answers "do ANY of the k sources differ in level"
    * with no distributional assumption, which is what a curation
    * pipeline checks before trusting per-source length stats.
    *
    * Exactness: pooled doubled average ranks r2 off the global value
    * cells (integral under ties, the q205 device); per-source rank
    * sums R2_g = Σ cnt·r2 exact in decimal(38,0). Each group's H
    * contribution 3·(R2_g²/n_g)/(N(N+1)) is ONE double chain quantized
    * to 1e-6 (scale-free: the contribution is O(N), safe in int64 to
    * ~1e11 rows), summed as int64 — order-free. The tie correction
    * C = 1 − Σ(t³−t)/(N³−N) uses exact HUGEINT numerators; H_adj =
    * (Σh6/1e6 − 3(N+1))/C is the last double chain.
    *
    * Scale shape: ONE documents pass → (source, v) cells; the global
    * rank walk is a TWO-PHASE range-partitioned prefix over the pooled
    * value cells (the q166/q229 idiom — never a one-task sort); everything after is
    * ≤|sources| rows. */
  val q232KruskalWallis: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |tv AS (
      |  SELECT v, CAST(sum(cnt) AS BIGINT) AS t FROM c GROUP BY 1),
      |w AS (
      |  SELECT v, t,
      |    2 * CAST(sum(t) OVER (ORDER BY v) AS BIGINT) - t + 1 AS r2
      |  FROM tv),
      |g AS (
      |  SELECT c.source, CAST(sum(c.cnt) AS BIGINT) AS ng,
      |    sum(CAST(c.cnt AS HUGEINT) * w.r2) AS r2g
      |  FROM c JOIN w USING (v) GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n,
      |    sum(CAST(t AS HUGEINT) * t * t - t) AS tie
      |  FROM tv),
      |k AS (SELECT count(DISTINCT source) AS k FROM c),
      |hs AS (
      |  SELECT CAST(sum(CAST(floor(
      |    (3 * (CAST(r2g AS DOUBLE) / ng) * (CAST(r2g AS DOUBLE) / n)
      |      / (n + 1)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS h6
      |  FROM g CROSS JOIN tot)
      |SELECT k.k AS n_groups, tot.n AS n_docs,
      |  CASE WHEN CAST(tot.n AS HUGEINT) * tot.n * tot.n - tot.n = tie
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((CAST(h6 AS DOUBLE) / 1000000 - 3 * (tot.n + 1))
      |      / (1 - CAST(tie AS DOUBLE)
      |           / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n)))
      |      * 1000000 + 0.5) / 1000000 END AS h_stat
      |FROM tot CROSS JOIN k CROSS JOIN hs""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // one documents pass; ranks, margins, ties all reuse it
    val tv = c.groupBy(col("v")).agg(sum(col("cnt")).cast("long").as("t"))
    // two-phase prefix (the q166/q229 idiom), never a one-task sort:
    // r2 = 2·cum(t) − t + 1 off the inclusive prefix
    val w = Kernels.groupedPrefixSums(tv, Seq.empty,
      Seq(col("v")), Seq((col("t"), "cumt", None)))
      .withColumn("r2", lit(2) * col("cumt") - col("t") + 1)
    val g = c.join(w.select(col("v"), col("r2")), Seq("v"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).cast("long").as("ng"),
        sum(dec(col("cnt")) * col("r2")).as("r2g"))
    val tot = tv.agg(sum(col("t")).cast("long").as("n"),
      sum(dec(col("t")) * col("t") * col("t") - col("t")).as("tie"))
    val k = c.agg(countDistinct(col("source")).as("k"))
    // per-group contribution is scale-free (O(N)): quantize, int-sum
    val hs = g.crossJoin(broadcast(tot))
      .select(floor((lit(3) * (col("r2g").cast("double") / col("ng"))
        * (col("r2g").cast("double") / col("n")) / (col("n") + 1))
        * 1000000L + 0.5).cast("long").as("h6t"))
      .agg(sum(col("h6t")).cast("long").as("h6"))
    val allTied = dec(col("n")) * col("n") * col("n") - col("n") === col("tie")
    tot.crossJoin(broadcast(k)).crossJoin(broadcast(hs))
      .select(col("k").as("n_groups"), col("n").as("n_docs"),
        when(allTied, lit(0.0))
          .otherwise(floor(((col("h6").cast("double") / 1000000L
            - lit(3) * (col("n") + 1))
            / (lit(1) - col("tie").cast("double")
              / (col("n").cast("double") * col("n") * col("n") - col("n"))))
            * 1000000L + 0.5) / 1000000L)
          .as("h_stat"))
  }

  /** Pairwise Cohen's d (and the Hedges small-sample correction g)
    * between sources on document length — the EFFECT SIZE beside the
    * tests: q205/q232 say whether sources differ, this says by how
    * many pooled standard deviations, which is the number a curation
    * review actually thresholds ("|d| > 0.5 → investigate the source").
    *
    * Exactness: per-source moment sums (n, Σx, Σx²) in decimal(38,0)
    * — the q172/q220 convention, mandatory not defensive (Σx² reaches
    * n·v² ≈ 1e19 at fleet scale); pooled variance, d, and the Hedges
    * factor J = 1 − 3/(4m−9) form ONE double chain per pair, floored
    * 1e-6. Zero pooled variance degrades to d = 0 (stated).
    *
    * Scale shape: ONE documents pass → |sources| moment rows; the
    * pair frame is a broadcast self-join of that metadata. */
  val q236CohensD: QueryDef = QueryDef.withOracle(
    """WITH m AS (
      |  SELECT source, count(*) AS n,
      |    sum(CAST(n_chars AS HUGEINT)) AS s,
      |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS q
      |  FROM documents GROUP BY 1),
      |p AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    a.n AS na, b.n AS nb,
      |    CAST(a.s AS DOUBLE) / a.n AS ma, CAST(b.s AS DOUBLE) / b.n AS mb,
      |    CAST(a.q AS DOUBLE) - (CAST(a.s AS DOUBLE) / a.n) * a.s AS ssa,
      |    CAST(b.q AS DOUBLE) - (CAST(b.s AS DOUBLE) / b.n) * b.s AS ssb
      |  FROM m a JOIN m b ON a.source < b.source)
      |SELECT source_a, source_b, CAST(na AS BIGINT) AS n_a,
      |  CAST(nb AS BIGINT) AS n_b,
      |  CASE WHEN ssa + ssb <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((ma - mb) / sqrt((ssa + ssb) / (na + nb - 2)))
      |      * 1000000 + 0.5) / 1000000 END AS cohens_d,
      |  CASE WHEN ssa + ssb <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((ma - mb) / sqrt((ssa + ssb) / (na + nb - 2)))
      |      * (1 - CAST(3 AS DOUBLE) / (4 * (na + nb) - 9))
      |      * 1000000 + 0.5) / 1000000 END AS hedges_g
      |FROM p""".stripMargin
  ) { (s, d) =>
    val m = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(dec(col("n_chars"))).as("s"),
        sum(dec(col("n_chars")) * col("n_chars")).as("q"))
    val a = m.toDF("source_a", "na", "sa", "qa")
    val b = m.toDF("source_b", "nb", "sb", "qb")
    val p = a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        (col("sa").cast("double") / col("na")).as("ma"),
        (col("sb").cast("double") / col("nb")).as("mb"),
        (col("qa").cast("double")
          - (col("sa").cast("double") / col("na")) * col("sa")).as("ssa"),
        (col("qb").cast("double")
          - (col("sb").cast("double") / col("nb")) * col("sb")).as("ssb"))
    val dpool = (col("ma") - col("mb")) /
      sqrt((col("ssa") + col("ssb")) / (col("na") + col("nb") - 2))
    val j = lit(1) - lit(3).cast("double") /
      (lit(4) * (col("na") + col("nb")) - 9)
    p.select(col("source_a"), col("source_b"),
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      when(col("ssa") + col("ssb") <= 0, lit(0.0))
        .otherwise(floor(dpool * 1000000L + 0.5) / 1000000L).as("cohens_d"),
      when(col("ssa") + col("ssb") <= 0, lit(0.0))
        .otherwise(floor(dpool * j * 1000000L + 0.5) / 1000000L)
        .as("hedges_g"))
  }

  /** Brown-Forsythe variance-homogeneity test across sources — the
    * robust Levene variant (deviations from the MEDIAN, not the mean)
    * that checks q220's equal-variance precondition: a significant
    * F_BF says per-source length variances differ, so pooled-variance
    * statistics (q220's F, q236's pooled d) need the caveat. Median,
    * not mean, keeps the test level under the heavy-tailed length
    * distributions real corpora have (Brown & Forsythe 1974).
    *
    * Exactness: per-source lower medians come off the (source, value)
    * cells by an exact integer cumulative-count test (2·cum ≥ n);
    * absolute deviations |v − med| re-collapse to cells (still value-
    * cardinality-sized); the ANOVA on deviations is q220's machinery
    * verbatim — decimal(38,0) moment sums, SSB via 1e-9 scale-free
    * fixed point, SSW = SST − SSB. Zero within-group variance (every
    * doc in every source the same length) degrades to F = 0.
    *
    * Scale shape: ONE documents pass → cells; median walk is a window
    * per source over its own cells; the deviation re-agg stays on
    * cells; everything downstream is ≤|sources| rows. */
  val q237BrownForsythe: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |w AS (
      |  SELECT source, v, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM c),
      |med AS (
      |  SELECT source, min(v) AS med FROM w WHERE 2 * cum >= n GROUP BY 1),
      |z AS (
      |  SELECT c.source, abs(c.v - med.med) AS zv,
      |    CAST(sum(c.cnt) AS BIGINT) AS cnt
      |  FROM c JOIN med USING (source) GROUP BY 1, 2),
      |cell AS (
      |  SELECT source, CAST(sum(cnt) AS BIGINT) AS ng,
      |    sum(CAST(zv AS HUGEINT) * cnt) AS sg,
      |    sum(CAST(zv AS HUGEINT) * zv * cnt) AS qg
      |  FROM z GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(ng) AS BIGINT) AS n, sum(sg) AS s, sum(qg) AS q,
      |    count(*) AS k FROM cell),
      |b AS (
      |  SELECT CAST(sum(CAST(floor((CAST(ng AS DOUBLE) / n)
      |      * ((CAST(sg AS DOUBLE) / ng - CAST(s AS DOUBLE) / n)
      |        * (CAST(sg AS DOUBLE) / ng - CAST(s AS DOUBLE) / n))
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS bfp
      |  FROM cell CROSS JOIN tot)
      |SELECT k AS n_groups, n AS n_docs,
      |  floor((CAST(s AS DOUBLE) / n) * 1000000 + 0.5) / 1000000
      |    AS mean_absdev,
      |  CASE WHEN CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n)
      |      * (CAST(s AS DOUBLE) / n) * n
      |      - (CAST(bfp AS DOUBLE) / 1000000000) * n <= 0
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor((((CAST(bfp AS DOUBLE) / 1000000000) * n / (k - 1))
      |      / ((CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n)
      |          * (CAST(s AS DOUBLE) / n) * n
      |          - (CAST(bfp AS DOUBLE) / 1000000000) * n) / (n - k)))
      |      * 1000000 + 0.5) / 1000000 END AS f_bf
      |FROM tot CROSS JOIN b""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // one documents pass; medians and deviations reuse it
    val wn = Window.partitionBy(col("source")).orderBy(col("v"))
    val wAll = Window.partitionBy(col("source"))
    val med = c
      .withColumn("cum", sum(col("cnt")).over(wn))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .filter(lit(2) * col("cum") >= col("n"))
      .groupBy(col("source")).agg(min(col("v")).as("med"))
    val z = c.join(broadcast(med), Seq("source"))
      .groupBy(col("source"), abs(col("v") - col("med")).as("zv"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
    val cell = z.groupBy(col("source"))
      .agg(sum(col("cnt")).cast("long").as("ng"),
        sum(dec(col("zv")) * col("cnt")).as("sg"),
        sum(dec(col("zv")) * col("zv") * col("cnt")).as("qg"))
      .cache()
    val tot = cell.agg(sum(col("ng")).cast("long").as("n"),
      sum(col("sg")).as("s"), sum(col("qg")).as("q"),
      count(lit(1)).as("k"))
    val gm = col("s").cast("double") / col("n")
    val b = cell.crossJoin(broadcast(tot))
      .select(floor((col("ng").cast("double") / col("n"))
        * ((col("sg").cast("double") / col("ng") - gm)
          * (col("sg").cast("double") / col("ng") - gm))
        * 1000000000L + 0.5).cast("long").as("t"))
      .agg(sum(col("t")).as("bfp"))
    val ssb = (col("bfp").cast("double") / 1000000000L) * col("n")
    val sst = col("q").cast("double") - gm * gm * col("n")
    val ssw = sst - ssb
    tot.crossJoin(broadcast(b))
      .select(col("k").as("n_groups"), col("n").as("n_docs"),
        (floor(gm * 1000000L + 0.5) / 1000000L).as("mean_absdev"),
        when(ssw <= 0, lit(0.0))
          .otherwise(floor(((ssb / (col("k") - 1))
            / (ssw / (col("n") - col("k")))) * 1000000L + 0.5) / 1000000L)
          .as("f_bf"))
  }

  /** Cochran-Armitage trend test: is the purchase rate MONOTONE in
    * the value score, tested across q221's 20 ordered equal-width
    * bins (doses 0..19)? The trend question beside q232 (any level
    * difference, unordered) and q192's Mann-Kendall (trend in a time
    * series): a significant z here justifies using the score as a
    * RANKER at all — the precondition for q231/q245 readings.
    *
    * Exactness: all four sufficient statistics (Σwn, Σw²n, Σwk, K, N)
    * are exact integer sums over the ≤20-bin frame; cross products
    * N·Σwk, K·Σwn, (Σwn)² run in decimal(38,0)/HUGEINT (they reach
    * N² — int64 dies at ~3e9 events); z is one double chain floored
    * 1e-6. Zero variance (single bin, or p̄ ∈ {0,1}) degrades to
    * z = 0 — which includes the r = 0 degenerate score range.
    *
    * Scale shape: q221's binning — one min/max pass, one ≤20-cell
    * aggregate, one metadata rollup. Output: one row. */
  val q246CochranArmitage: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |mm AS (
      |  SELECT min(c) AS m, max(c) - min(c) AS r FROM ev),
      |cell AS (
      |  SELECT least(19, CASE WHEN r = 0 THEN 0
      |                        ELSE ((c - m) * 20) // r END) AS w,
      |    count(*) AS n, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev CROSS JOIN mm GROUP BY 1),
      |s AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk,
      |    CAST(sum(w * n) AS BIGINT) AS swn,
      |    CAST(sum(w * w * n) AS BIGINT) AS swwn,
      |    CAST(sum(w * k) AS BIGINT) AS swk
      |  FROM cell)
      |SELECT nn AS n_events, kk AS n_pos,
      |  CASE WHEN kk = 0 OR kk = nn
      |    OR CAST(nn AS HUGEINT) * swwn = CAST(swn AS HUGEINT) * swn
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor((
      |      CAST(CAST(nn AS HUGEINT) * swk
      |        - CAST(kk AS HUGEINT) * swn AS DOUBLE)
      |      / sqrt((CAST(kk AS DOUBLE) * (nn - kk))
      |        * CAST(CAST(nn AS HUGEINT) * swwn
      |            - CAST(swn AS HUGEINT) * swn AS DOUBLE) / nn))
      |      * 1000000 + 0.5) / 1000000 END AS z_trend
      |FROM s""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .cache() // one events materialization feeds min/max and the bins
    val mm = ev.agg(min(col("c")).as("m"),
      (max(col("c")) - min(col("c"))).as("r"))
    val cell = ev.crossJoin(broadcast(mm))
      .groupBy(least(lit(19),
        when(col("r") === 0, lit(0L))
          .otherwise(expr("((c - m) * 20) div r"))).as("w"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"))
    val st = cell.agg(sum(col("n")).cast("long").as("nn"),
      sum(col("k")).cast("long").as("kk"),
      sum(col("w") * col("n")).cast("long").as("swn"),
      sum(col("w") * col("w") * col("n")).cast("long").as("swwn"),
      sum(col("w") * col("k")).cast("long").as("swk"))
    val num = (dec(col("nn")) * col("swk")
      - dec(col("kk")) * col("swn")).cast("double")
    val varTerm = (col("kk").cast("double") * (col("nn") - col("kk"))) *
      (dec(col("nn")) * col("swwn") - dec(col("swn")) * col("swn"))
        .cast("double") / col("nn")
    st.select(col("nn").as("n_events"), col("kk").as("n_pos"),
      when(col("kk") === 0 || col("kk") === col("nn")
        || dec(col("nn")) * col("swwn") === dec(col("swn")) * col("swn"),
        lit(0.0))
        .otherwise(floor(num / sqrt(varTerm) * 1000000L + 0.5) / 1000000L)
        .as("z_trend"))
  }

  /** Pairwise Cliff's delta between sources on document length — the
    * ORDINAL effect size beside q236's Cohen's d: d assumes the pooled-
    * SD scale means something; Cliff's delta = P(X_a > X_b) − P(X_a <
    * X_b) is distribution-free, bounded in [−1, 1], and is the number
    * reviewers threshold when lengths are heavy-tailed (Romano 2006
    * bands attached). Consistent with q205: delta = 2U/(n_a·n_b) − 1.
    *
    * Exactness: pure integer pair-counting — gt(a,b) = Σ_v ca(v) ·
    * #{b-values strictly below v} off b's densified cumulative cell
    * frame, ties likewise; all products in decimal(38,0)/HUGEINT
    * (they reach n_a·n_b ≈ N²); ONE division per pair, floored 1e-6;
    * the magnitude band is CASE'd on the floored value.
    *
    * Scale shape: ONE documents pass → (source, v) cells; the dense
    * |grid|×|sources| frame (value-range-bounded metadata — the q244
    * cents argument, here n_chars) carries per-source cumulative
    * counts via a source-partitioned window; the pair sweep joins
    * a-cells to b-cumulative cells ON v — cells × |sources|, never
    * rows². */
  val q248CliffsDelta: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |g AS (SELECT DISTINCT v FROM c),
      |sn AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
      |       FROM c GROUP BY 1),
      |f AS (
      |  SELECT sn.source, g.v, coalesce(c.cnt, 0) AS cnt
      |  FROM g CROSS JOIN sn
      |  LEFT JOIN c ON c.source = sn.source AND c.v = g.v),
      |w AS (
      |  SELECT source, v, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v)
      |      AS BIGINT) AS cum
      |  FROM f),
      |p AS (
      |  SELECT a.source AS source_a, w.source AS source_b,
      |    sum(CAST(a.cnt AS HUGEINT) * (w.cum - w.cnt)) AS gt,
      |    sum(CAST(a.cnt AS HUGEINT) * w.cnt) AS tie
      |  FROM c a JOIN w ON a.v = w.v AND a.source < w.source
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT source_a, source_b, na.n AS n_a, nb.n AS n_b, gt,
      |    CAST(na.n AS HUGEINT) * nb.n - gt - tie AS lt
      |  FROM p JOIN sn na ON na.source = p.source_a
      |  JOIN sn nb ON nb.source = p.source_b),
      |r AS (
      |  SELECT source_a, source_b, n_a, n_b,
      |    floor((CAST(gt - lt AS DOUBLE)
      |      / (CAST(n_a AS DOUBLE) * n_b)) * 1000000 + 0.5) / 1000000
      |      AS cliffs_delta
      |  FROM d)
      |SELECT source_a, source_b, n_a, n_b, cliffs_delta,
      |  CASE WHEN abs(cliffs_delta) < 0.147 THEN 'negligible'
      |    WHEN abs(cliffs_delta) < 0.33 THEN 'small'
      |    WHEN abs(cliffs_delta) < 0.474 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM r""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // one documents pass; grid, margins, and both join sides
    val g = c.select(col("v")).distinct()
    val sn = c.groupBy(col("source"))
      .agg(sum(col("cnt")).cast("long").as("n"))
    // densify: every source gets a cell at every grid value so b-side
    // cumulative counts exist at every a-side value (0-filled)
    val f = g.crossJoin(broadcast(sn.select(col("source"))))
      .join(c, Seq("source", "v"), "left")
      .select(col("source"), col("v"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = f.withColumn("cum", sum(col("cnt")).over(
      Window.partitionBy(col("source")).orderBy(col("v"))).cast("long"))
    val a = c.select(col("source").as("source_a"), col("v"),
      col("cnt").as("ca"))
    val p = a.join(w.select(col("source").as("source_b"), col("v"),
        col("cnt").as("cb"), col("cum").as("cumb")), Seq("v"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(dec(col("ca")) * (col("cumb") - col("cb"))).as("gt"),
        sum(dec(col("ca")) * col("cb")).as("tie"))
    val na = sn.toDF("source_a", "n_a")
    val nb = sn.toDF("source_b", "n_b")
    val dd = p.join(broadcast(na), Seq("source_a"))
      .join(broadcast(nb), Seq("source_b"))
      .withColumn("lt", dec(col("n_a")) * col("n_b")
        - col("gt") - col("tie"))
    val d6 = floor(((col("gt") - col("lt")).cast("double")
      / (col("n_a").cast("double") * col("n_b"))) * 1000000L + 0.5) /
      1000000L
    dd.select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
      d6.as("cliffs_delta"),
      when(abs(d6) < 0.147, lit("negligible"))
        .when(abs(d6) < 0.33, lit("small"))
        .when(abs(d6) < 0.474, lit("medium"))
        .otherwise(lit("large")).as("magnitude"))
  }

  /** Jonckheere–Terpstra ordered-alternative test: is order value
    * stochastically INCREASING month over month? q192's Mann-Kendall
    * trends the daily MEANS; JT trends the whole per-month value
    * distributions with no aggregation loss, and against the ordered
    * alternative it dominates Kruskal-Wallis (which spends power on
    * unordered differences). J = Σ_{i<j} U_ij over month pairs.
    *
    * Exactness: J is pure integer pair-counting in doubled space
    * (J2 = Σ 2·gt + ties) off per-month cumulative counts on the
    * pooled value grid — products in decimal (reach N²); the null
    * moments are exact integer algebra: E[J] = (N² − Σn_i²)/4 and
    * the TIE-CORRECTED variance (Hollander & Wolfe 1999, eq. 6.19,
    * with t_j the pooled tie counts):
    *   Var = [N(N−1)(2N+5) − Σn_i(n_i−1)(2n_i+5)
    *            − Σt_j(t_j−1)(2t_j+5)] / 72
    *       + [Σn_i(n_i−1)(n_i−2)]·[Σt_j(t_j−1)(t_j−2)]
    *            / (36·N(N−1)(N−2))
    *       + [Σn_i(n_i−1)]·[Σt_j(t_j−1)] / (8·N(N−1))
    * (the r12 convention used the no-tie variance
    * N²(2N+3) − Σn_i²(2n_i+3))/72 — a stated mildly-conservative
    * approximation under heavy ties, upgraded per the r12 verdict;
    * the cross-products of the Σ terms can reach N⁶ so they multiply
    * in DOUBLE, stated); z floors 1e-6, Var ≤ 0 or N < 3 degrade to
    * z = 0.
    *
    * Scale shape: one orders pass → (month, cents) cells; the dense
    * |months|×|grid| frame (value-range-bounded — the q248 argument)
    * carries month-partitioned cumulative counts; the ordered-pair
    * sweep joins cells to cumulative cells ON the value. */
  val q259Jonckheere: QueryDef = QueryDef.withOracle(
    """WITH o AS (
      |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM orders),
      |c AS (SELECT mon, v, count(*) AS cnt FROM o GROUP BY 1, 2),
      |g AS (SELECT DISTINCT v FROM c),
      |mn AS (SELECT mon, CAST(sum(cnt) AS BIGINT) AS n
      |       FROM c GROUP BY 1),
      |f AS (
      |  SELECT mn.mon, g.v, coalesce(c.cnt, 0) AS cnt
      |  FROM g CROSS JOIN mn
      |  LEFT JOIN c ON c.mon = mn.mon AND c.v = g.v),
      |w AS (
      |  SELECT mon, v, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY mon ORDER BY v) AS BIGINT)
      |      AS cum
      |  FROM f),
      |j AS (
      |  SELECT sum(CAST(b.cnt AS HUGEINT)
      |      * (2 * (w.cum - w.cnt) + w.cnt)) AS j2
      |  FROM c b JOIN w ON b.v = w.v AND w.mon < b.mon),
      |tv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS tc
      |       FROM c GROUP BY 1),
      |tt AS (
      |  SELECT sum(CAST(tc AS HUGEINT) * (tc - 1) * (2 * tc + 5)) AS t25,
      |    sum(CAST(tc AS HUGEINT) * (tc - 1) * (tc - 2)) AS t3,
      |    sum(CAST(tc AS HUGEINT) * (tc - 1)) AS t2
      |  FROM tv),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nn,
      |    sum(CAST(n AS HUGEINT) * n) AS sn2,
      |    sum(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)) AS n25,
      |    sum(CAST(n AS HUGEINT) * (n - 1) * (n - 2)) AS n3,
      |    sum(CAST(n AS HUGEINT) * (n - 1)) AS n2
      |  FROM mn),
      |vv AS (
      |  SELECT CAST(CAST(nn AS HUGEINT) * (nn - 1) * (2 * nn + 5)
      |        - n25 - t25 AS DOUBLE) / 72
      |    + CAST(n3 AS DOUBLE) * CAST(t3 AS DOUBLE)
      |      / (36 * CAST(nn AS DOUBLE) * (nn - 1) * (nn - 2))
      |    + CAST(n2 AS DOUBLE) * CAST(t2 AS DOUBLE)
      |      / (8 * CAST(nn AS DOUBLE) * (nn - 1)) AS var_j
      |  FROM tot CROSS JOIN tt)
      |SELECT nn AS n_orders,
      |  (SELECT CAST(count(*) AS BIGINT) FROM mn) AS n_months,
      |  CAST(j2 AS DOUBLE) / 2 AS j_stat,
      |  CAST(CAST(nn AS HUGEINT) * nn - sn2 AS DOUBLE) / 4 AS j_null,
      |  CASE WHEN nn < 3 OR var_j <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((CAST(j2 AS DOUBLE) / 2
      |        - CAST(CAST(nn AS HUGEINT) * nn - sn2 AS DOUBLE) / 4)
      |      / sqrt(var_j))
      |      * 1000000 + 0.5) / 1000000 END AS z
      |FROM j CROSS JOIN tot CROSS JOIN vv""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
      .select(date_trunc("month", to_date(col("o_orderdate"))).as("mon"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
    val c = o.groupBy(col("mon"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // one orders pass; grid, margins, both join sides
    val g = c.select(col("v")).distinct()
    val mn = c.groupBy(col("mon")).agg(sum(col("cnt")).cast("long").as("n"))
    val f = g.crossJoin(broadcast(mn.select(col("mon"))))
      .join(c, Seq("mon", "v"), "left")
      .select(col("mon"), col("v"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = f.withColumn("cum", sum(col("cnt")).over(
      Window.partitionBy(col("mon")).orderBy(col("v"))).cast("long"))
    // earlier-months term as a SECOND window over the dense frame
    // (partition v, order mon, rows < current) instead of re-joining
    // the 150k-cell frame against the |months|×|grid| frame on v —
    // the join probed and re-emitted the full dense frame (guide
    // §2.4); distributivity over exact decimal ints keeps j2
    // bit-identical: Σ_b cb·Σ_{m<m_b}(2(cum−cnt)+cnt) term for term.
    val wp = Window.partitionBy(col("v")).orderBy(col("mon"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val j = w
      .withColumn("presum",
        sum(dec(lit(2) * (col("cum") - col("cnt")) + col("cnt"))).over(wp))
      .filter(col("cnt") > 0) // the b-cells: rows where a real cell sits
      // a cell with no earlier month has a NULL presum, a skipped term
      // as in the oracle's join: one month in all gives a NULL j2
      .agg(sum(dec(col("cnt")) * col("presum")).as("j2"))
    // pooled tie counts t_j per value cell (value-range-bounded —
    // the same grid the dense frame rides)
    val tv = c.groupBy(col("v")).agg(sum(col("cnt")).cast("long").as("tc"))
    val tt = tv.agg(
      sum(dec(col("tc")) * (col("tc") - 1) * (lit(2) * col("tc") + 5))
        .as("t25"),
      sum(dec(col("tc")) * (col("tc") - 1) * (col("tc") - 2)).as("t3"),
      sum(dec(col("tc")) * (col("tc") - 1)).as("t2"))
    val tot = mn.agg(sum(col("n")).cast("long").as("nn"),
      sum(dec(col("n")) * col("n")).as("sn2"),
      sum(dec(col("n")) * (col("n") - 1) * (lit(2) * col("n") + 5))
        .as("n25"),
      sum(dec(col("n")) * (col("n") - 1) * (col("n") - 2)).as("n3"),
      sum(dec(col("n")) * (col("n") - 1)).as("n2"))
    val months = mn.agg(count(lit(1)).as("n_months"))
    // Hollander-Wolfe tie-corrected variance; the two Σ-products can
    // reach N^6 so they multiply in DOUBLE (mirrored token order)
    val varJ = (dec(col("nn")) * (col("nn") - 1)
        * (lit(2) * col("nn") + 5) - col("n25") - col("t25"))
        .cast("double") / 72 +
      col("n3").cast("double") * col("t3").cast("double") /
        (lit(36) * col("nn").cast("double") * (col("nn") - 1)
          * (col("nn") - 2)) +
      col("n2").cast("double") * col("t2").cast("double") /
        (lit(8) * col("nn").cast("double") * (col("nn") - 1))
    val jNull = (dec(col("nn")) * col("nn") - col("sn2")).cast("double") / 4
    j.crossJoin(broadcast(tot)).crossJoin(broadcast(tt))
      .crossJoin(broadcast(months))
      .select(col("nn").as("n_orders"), col("n_months"),
        (col("j2").cast("double") / 2).as("j_stat"),
        jNull.as("j_null"),
        when(col("nn") < 3 || varJ <= 0, lit(0.0))
          .otherwise(floor(((col("j2").cast("double") / 2 - jNull)
            / sqrt(varJ)) * 1000000L + 0.5)
            / 1000000L).as("z"))
  }

  /** Kendall's W — do the sources AGREE on how the corpus-head
    * vocabulary ranks? Each source ranks the corpus top-20 words by
    * its own counts (midranks under ties); W ∈ [0, 1] is the
    * concordance of those k rankings. Near 1 says the head ranking is
    * corpus-global (a single tokenizer budget per q39/q210 is safe);
    * near 0 says per-source vocabularies disagree and a shared budget
    * under-serves someone. χ² = k(m−1)W attached.
    *
    * Exactness: doubled midranks off per-source count cells (r2 =
    * 2·cum − t + 1, exact under ties); R2_i sums and the deviation
    * sum S2 = Σ(R2_i − k(m+1))² are exact ints (S = S2/4 folds into
    * the 12→3 constant); tie terms Σ(t³−t) exact per source; W is ONE
    * division floored 1e-6. All-tied denominator degrades to 0.
    *
    * Scale shape: one tokenization pass → word cells; the top-20 pick
    * is limit-then-rank (TakeOrderedAndProject); everything after
    * rides a ≤20·|sources| dense frame (the q238 grid). */
  val q260KendallsW: QueryDef = QueryDef.withOracle(
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |cw AS (SELECT source, word, count(*) AS a FROM tok GROUP BY 1, 2),
      |top AS (
      |  SELECT word FROM (
      |    SELECT word, row_number() OVER
      |      (ORDER BY sum(a) DESC, word) AS rk
      |    FROM cw GROUP BY word) WHERE rk <= 20),
      |srcs AS (SELECT DISTINCT source FROM cw),
      |f AS (
      |  SELECT srcs.source, top.word, coalesce(cw.a, 0) AS a
      |  FROM top CROSS JOIN srcs
      |  LEFT JOIN cw ON cw.source = srcs.source AND cw.word = top.word),
      |vc AS (SELECT source, a, count(*) AS t FROM f GROUP BY 1, 2),
      |vr AS (
      |  SELECT source, a,
      |    2 * CAST(sum(t) OVER (PARTITION BY source ORDER BY a)
      |      AS BIGINT) - t + 1 AS r2, t
      |  FROM vc),
      |ri AS (
      |  SELECT f.word, CAST(sum(vr.r2) AS BIGINT) AS r2i
      |  FROM f JOIN vr ON vr.source = f.source AND vr.a = f.a
      |  GROUP BY 1),
      |km AS (
      |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM srcs) AS k,
      |    (SELECT CAST(count(*) AS BIGINT) FROM top) AS m),
      |s2 AS (
      |  SELECT sum(CAST(r2i - k * (m + 1) AS HUGEINT)
      |    * (r2i - k * (m + 1))) AS s2
      |  FROM ri CROSS JOIN km),
      |tie AS (
      |  SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
      |    AS tt
      |  FROM vc),
      |w AS (
      |  SELECT k, m, s2, tt,
      |    CAST(k AS HUGEINT) * k * (CAST(m AS HUGEINT) * m * m - m)
      |      - k * tt AS den
      |  FROM km CROSS JOIN s2 CROSS JOIN tie)
      |SELECT k AS n_sources, m AS n_words,
      |  CASE WHEN den = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((3 * CAST(s2 AS DOUBLE) / CAST(den AS DOUBLE))
      |      * 1000000 + 0.5) / 1000000 END AS w,
      |  CASE WHEN den = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((k * (m - 1)
      |        * (3 * CAST(s2 AS DOUBLE) / CAST(den AS DOUBLE)))
      |      * 1000000 + 0.5) / 1000000 END AS chi2
      |FROM w""".stripMargin
  ) { (s, d) =>
    val cw = Tables.documents(s, d)
      .select(col("source"),
        explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("a"))
      .cache() // one tokenization pass; top pick, grid, ranks reuse it
    val top = Kernels.topKByCount(
        cw.groupBy(col("word")).agg(sum(col("a")).as("mw")),
        Seq(col("mw").desc, col("word")), 20)
      .select(col("word"))
    val srcs = cw.select(col("source")).distinct()
    val f = top.crossJoin(broadcast(srcs))
      .join(cw, Seq("source", "word"), "left")
      .select(col("source"), col("word"),
        coalesce(col("a"), lit(0L)).as("a"))
      .cache() // 20×|sources| dense grid: rank cells + R_i reuse it
    val vc = f.groupBy(col("source"), col("a"))
      .agg(count(lit(1)).as("t"))
    val vr = vc.withColumn("r2",
      lit(2) * sum(col("t")).over(
        Window.partitionBy(col("source")).orderBy(col("a")))
        .cast("long") - col("t") + 1)
    val ri = f.join(vr.select(col("source"), col("a"), col("r2")),
        Seq("source", "a"))
      .groupBy(col("word"))
      .agg(sum(col("r2")).cast("long").as("r2i"))
    val km = srcs.agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(top.agg(count(lit(1)).as("m"))))
    val s2 = ri.crossJoin(broadcast(km))
      .agg(sum(dec(col("r2i") - col("k") * (col("m") + 1))
        * (col("r2i") - col("k") * (col("m") + 1))).as("s2"))
    val tie = vc.agg(sum(dec(col("t")) * col("t") * col("t") - col("t"))
      .as("tt"))
    val den = dec(col("k")) * col("k") *
      (dec(col("m")) * col("m") * col("m") - col("m")) -
      col("k") * col("tt")
    val wv = lit(3) * col("s2").cast("double") / den.cast("double")
    km.crossJoin(broadcast(s2)).crossJoin(broadcast(tie))
      .select(col("k").as("n_sources"), col("m").as("n_words"),
        when(den === dec(lit(0)), lit(0.0))
          .otherwise(floor(wv * 1000000L + 0.5) / 1000000L).as("w"),
        when(den === dec(lit(0)), lit(0.0))
          .otherwise(floor((col("k") * (col("m") - 1) * wv)
            * 1000000L + 0.5) / 1000000L).as("chi2"))
  }

  /** Cochran's Q across three binary document quality heuristics
    * (long doc: chars > 1000; contains a digit; long tokens: chars >
    * 6·tokens) — "do the flags mark the SAME documents or different
    * ones": a significant Q says the heuristics disagree beyond their
    * marginal rates, so a curation rule combining them (q88's
    * expectations, q31's score) is mixing signals, not duplicating
    * one. The k-related-samples test the binary-flag suite lacked
    * (q195's kappa compares exactly two).
    *
    * Exactness: all three flags are exact integer predicates (the
    * token-length flag compares chars > 6·tokens in int space — no
    * division); Q's numerator/denominator are exact decimal sums
    * (column totals reach N); ONE division floored 1e-6. All-or-
    * nothing rows (every R_i ∈ {0, 3}) zero the denominator and
    * degrade Q to 0 (stated).
    *
    * Scale shape: ONE documents pass → a 5-number aggregate. */
  val q262CochransQ: QueryDef = QueryDef.withOracle(
    """WITH f AS (
      |  SELECT CASE WHEN n_chars > 1000 THEN 1 ELSE 0 END AS h1,
      |    CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END
      |      AS h2,
      |    CASE WHEN n_chars > 6 * len(string_split(text, ' '))
      |      THEN 1 ELSE 0 END AS h3
      |  FROM documents),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(h1) AS BIGINT) AS c1, CAST(sum(h2) AS BIGINT) AS c2,
      |    CAST(sum(h3) AS BIGINT) AS c3,
      |    CAST(sum((h1 + h2 + h3) * (h1 + h2 + h3)) AS BIGINT) AS sr2
      |  FROM f)
      |SELECT n AS n_docs, c1 AS n_long, c2 AS n_digit, c3 AS n_longtok,
      |  CASE WHEN 3 * (c1 + c2 + c3) - sr2 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((2 * CAST(3 * (CAST(c1 AS HUGEINT) * c1
      |          + CAST(c2 AS HUGEINT) * c2 + CAST(c3 AS HUGEINT) * c3)
      |        - CAST(c1 + c2 + c3 AS HUGEINT) * (c1 + c2 + c3)
      |        AS DOUBLE)
      |      / (3 * CAST(c1 + c2 + c3 AS DOUBLE) - sr2))
      |      * 1000000 + 0.5) / 1000000 END AS q_stat
      |FROM m""".stripMargin
  ) { (s, d) =>
    val f = Tables.documents(s, d)
      .select((col("n_chars") > 1000).cast("long").as("h1"),
        col("text").rlike("[0-9]").cast("long").as("h2"),
        (col("n_chars") > lit(6)
          * size(split(col("text"), " ", -1))).cast("long").as("h3"))
    val m = f.agg(count(lit(1)).as("n"),
      sum(col("h1")).cast("long").as("c1"),
      sum(col("h2")).cast("long").as("c2"),
      sum(col("h3")).cast("long").as("c3"),
      sum((col("h1") + col("h2") + col("h3"))
        * (col("h1") + col("h2") + col("h3"))).cast("long").as("sr2"))
    val csum = col("c1") + col("c2") + col("c3")
    val den = lit(3) * csum - col("sr2")
    m.select(col("n").as("n_docs"), col("c1").as("n_long"),
      col("c2").as("n_digit"), col("c3").as("n_longtok"),
      when(den === 0, lit(0.0))
        .otherwise(floor((lit(2) * (lit(3)
          * (dec(col("c1")) * col("c1") + dec(col("c2")) * col("c2")
            + dec(col("c3")) * col("c3"))
          - dec(csum) * csum).cast("double")
          / (lit(3) * csum.cast("double") - col("sr2")))
          * 1000000L + 0.5) / 1000000L).as("q_stat"))
  }

  /** k-sample Anderson–Darling test (Scholz-Stephens 1987, the
    * midrank/tie-adjusted A²akN) across sources on document length —
    * the TAIL-sensitive k-group distributional test beside q232's
    * Kruskal-Wallis (location only) and q237's Brown-Forsythe (spread
    * only): AD weights CDF discrepancies by 1/(F(1−F)), so a source
    * whose lengths differ only in the tails still registers.
    *
    * Exactness: the doubled-count device makes every M and B term
    * exact int (M2 = 2·cum_i − l_i, B2 = 2·cum − l); the per-(source,
    * value) numerator N·M2 − n_i·B2 is exact decimal, squared in
    * double; each term quantizes 1e-9 and int-sums per source
    * (order-free); the 1/n_i weighting and (N−1)/N scaling are the
    * final chain, floored 1e-6. All-values-tied (L = 1) zeroes every
    * denominator's guard and degrades A² to 0 (stated).
    *
    * Scale shape: one documents pass → (source, v) cells; the dense
    * |sources|×|grid| frame (the q248 device) carries per-source and
    * pooled cumulative counts; everything is cell algebra. */
  val q264KSampleAd: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |g AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS l FROM c GROUP BY 1),
      |sn AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
      |       FROM c GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(l) AS BIGINT) AS nn,
      |    CAST(count(*) AS BIGINT) AS nv
      |  FROM g),
      |gw AS (
      |  SELECT v, l,
      |    2 * CAST(sum(l) OVER (ORDER BY v) AS BIGINT) - l AS b2
      |  FROM g),
      |f AS (
      |  SELECT sn.source, sn.n, gw.v, gw.l, gw.b2,
      |    coalesce(c.cnt, 0) AS cnt
      |  FROM gw CROSS JOIN sn
      |  LEFT JOIN c ON c.source = sn.source AND c.v = gw.v),
      |w AS (
      |  SELECT source, n, v, l, b2, cnt,
      |    2 * CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v)
      |      AS BIGINT) - cnt AS m2
      |  FROM f),
      |terms AS (
      |  SELECT source, n,
      |    sum(CAST(CAST(floor(
      |      ((CAST(l AS DOUBLE) / nn)
      |        * (CAST(CAST(nn AS HUGEINT) * m2 - CAST(n AS HUGEINT)
      |            * b2 AS DOUBLE)
      |          * CAST(CAST(nn AS HUGEINT) * m2 - CAST(n AS HUGEINT)
      |            * b2 AS DOUBLE))
      |        / CAST(CAST(b2 AS HUGEINT) * (2 * nn - b2)
      |            - CAST(nn AS HUGEINT) * l AS DOUBLE))
      |      * 1000000 + 0.5) AS BIGINT) AS HUGEINT)) AS s6
      |  FROM w CROSS JOIN tot WHERE nv > 1 GROUP BY 1, 2),
      |a AS (
      |  SELECT sum(CAST(floor((CAST(s6 AS DOUBLE) / 1000000 / n)
      |    * 1000000000 + 0.5) AS BIGINT)) AS a9
      |  FROM terms)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM sn) AS n_sources,
      |  (SELECT nn FROM tot) AS n_docs,
      |  CASE WHEN (SELECT nv FROM tot) <= 1 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((CAST((SELECT nn FROM tot) AS DOUBLE) - 1)
      |        / (SELECT nn FROM tot)
      |        * (CAST(a9 AS DOUBLE) / 1000000000))
      |      * 1000000 + 0.5) / 1000000 END AS a2_stat
      |FROM a""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // one documents pass; grid, margins, dense frame
    val g = c.groupBy(col("v")).agg(sum(col("cnt")).cast("long").as("l"))
    val sn = c.groupBy(col("source"))
      .agg(sum(col("cnt")).cast("long").as("n"))
    val tot = g.agg(sum(col("l")).cast("long").as("nn"),
      count(lit(1)).as("nv"))
    // pooled cumulative walk on the two-phase prefix (the q232/q251
    // convention for POOLED value-grid walks — per-source walks below
    // stay plain windows, keyed on a real attribute)
    val gw = Kernels.groupedPrefixSums(g, Seq.empty,
        Seq(col("v")), Seq((col("l"), "cuml", None)))
      .withColumn("b2", lit(2) * col("cuml") - col("l"))
      .select(col("v"), col("l"), col("b2"))
    val f = gw.crossJoin(broadcast(sn))
      .join(c, Seq("source", "v"), "left")
      .select(col("source"), col("n"), col("v"), col("l"), col("b2"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = f.withColumn("m2",
      lit(2) * sum(col("cnt")).over(
        Window.partitionBy(col("source")).orderBy(col("v")))
        .cast("long") - col("cnt"))
    val dnum = (dec(col("nn")) * col("m2") - dec(col("n")) * col("b2"))
      .cast("double")
    val dden = (dec(col("b2")) * (lit(2) * col("nn") - col("b2")) -
      dec(col("nn")) * col("l")).cast("double")
    // per-(source, value) terms quantize at 1e-6 (they are bounded by
    // ~4·n_i — a 1e-9 grid would overflow floor's int64 at fleet
    // scale) and sum in decimal; the 1/n_i weighting re-quantizes at
    // 1e-9 on the per-source sums
    val terms = w.crossJoin(broadcast(tot))
      .filter(col("nv") > 1)
      .groupBy(col("source"), col("n"))
      .agg(sum(floor(((col("l").cast("double") / col("nn"))
        * (dnum * dnum) / dden) * 1000000L + 0.5)
        .cast("decimal(38,0)")).as("s6"))
    val a = terms.agg(sum(floor((col("s6").cast("double") / 1000000L
      / col("n")) * 1000000000L + 0.5).cast("long")).as("a9"))
    val kRow = sn.agg(count(lit(1)).as("n_sources"))
    kRow.crossJoin(broadcast(tot)).crossJoin(broadcast(a))
      .select(col("n_sources"), col("nn").as("n_docs"),
        when(col("nv") <= 1, lit(0.0))
          .otherwise(floor(((col("nn").cast("double") - 1) / col("nn")
            * (col("a9").cast("double") / 1000000000L))
            * 1000000L + 0.5) / 1000000L).as("a2_stat"))
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

  /** Index-of-dispersion test on daily event counts per type — VMR =
    * s^2/mean over the observed days and the chi-square form D =
    * (n-1)*VMR against dof n-1 (Poisson => D ~ chi2, VMR ~ 1). The
    * count-data twin of q276: a VMR of 4 says daily volume swings 4x
    * more than a Poisson process — alert thresholds and capacity
    * plans sized under "counts are Poisson" are miscalibrated by
    * exactly that factor. Sample variance (n-1), observed days only
    * (the zero-day policy belongs to q297's coverage audit — stated).
    *
    * Exactness: daily counts are exact integers; moment sums are
    * decimal; VMR and D are one mirrored double chain; n < 2 or
    * zero mean degrade to 0 (stated).
    *
    * Scale shape: ONE events pass -> (type, day) count cells -> one
    * agg. No window, no join. */
  val q296CountDispersion: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |  FROM events),
      |dc AS (
      |  SELECT t, day, CAST(count(*) AS BIGINT) AS c
      |  FROM ev GROUP BY 1, 2),
      |m AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s1,
      |    sum(CAST(c AS HUGEINT) * c) AS s2
      |  FROM dc GROUP BY 1)
      |SELECT t AS event_type, n AS n_days, s1 AS n_events,
      |  CASE WHEN n < 2 OR s1 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
      |      / (n - 1) / (CAST(s1 AS DOUBLE) / n) * 1000000 + 0.5)
      |      / 1000000 END AS vmr,
      |  CASE WHEN n < 2 OR s1 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
      |      / (CAST(s1 AS DOUBLE) / n) * 1000000 + 0.5) / 1000000
      |    END AS dispersion_stat
      |FROM m""".stripMargin
  ) { (s, d) =>
    val dc = Tables.events(s, d).select(col("event_type").as("t"),
        epochDay(unix_micros(col("ts"))).as("day"))
      .groupBy(col("t"), col("day")).agg(count(lit(1)).as("c"))
    val m = dc.groupBy(col("t")).agg(count(lit(1)).as("n"),
      sum(col("c")).cast("long").as("s1"),
      sum(dec(col("c")) * col("c")).as("s2"))
    // parenthesized: a bare continuation line starting with `-` would
    // parse as a discarded unary-minus statement (caught by the gate)
    val css = (col("s2").cast("double")
      - col("s1").cast("double") / col("n") * col("s1"))
    val mean = col("s1").cast("double") / col("n")
    m.select(col("t").as("event_type"), col("n").as("n_days"),
      col("s1").as("n_events"),
      when(col("n") < 2 || col("s1") === 0, lit(0.0))
        .otherwise(floor(css / (col("n") - 1) / mean * 1000000L + 0.5)
          / 1000000L).as("vmr"),
      when(col("n") < 2 || col("s1") === 0, lit(0.0))
        .otherwise(floor(css / mean * 1000000L + 0.5) / 1000000L)
        .as("dispersion_stat"))
  }

  // ---- Confidence intervals and multiple testing ----

  /** Wilson score intervals for the per-type event-share proportions
    * — the uncertainty-aware companion to the raw mix (q117 flags
    * drift; this says how sure the mix estimate is, which is what a
    * sampling-ratio decision actually needs). z = 1.96 (95%):
    *
    *   center = (p̂ + z²/2n) / (1 + z²/n)
    *   half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)
    *
    * p̂ = k/n is ONE IEEE division of exact counts; the formula is
    * written in the IDENTICAL op order in both engines (division,
    * multiply, sqrt are all correctly-rounded IEEE, so same inputs +
    * same order = same bits).
    *
    * Scale shape: one partial+final count aggregate over the scan;
    * the total attaches as a broadcast 1-row frame; everything after
    * is a ≤|types|-row projection. */
  val q137WilsonCi: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT event_type, count(*) AS k FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(k) AS BIGINT) AS n FROM c)
      |SELECT event_type, k, n,
      |  CAST(k AS DOUBLE) / n AS p_hat,
      |  (CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * n))
      |    / (1 + 1.96 * 1.96 / n)
      |    - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
      |        * (1 - CAST(k AS DOUBLE) / n) / n
      |        + 1.96 * 1.96 / (4.0 * n * n))
      |      / (1 + 1.96 * 1.96 / n) AS wilson_lo,
      |  (CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * n))
      |    / (1 + 1.96 * 1.96 / n)
      |    + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
      |        * (1 - CAST(k AS DOUBLE) / n) / n
      |        + 1.96 * 1.96 / (4.0 * n * n))
      |      / (1 + 1.96 * 1.96 / n) AS wilson_hi
      |FROM c CROSS JOIN t""".stripMargin
  ) { (s, d) =>
    val c = Tables.events(s, d)
      .groupBy(col("event_type")).agg(count(lit(1)).as("k"))
    val t = c.agg(sum(col("k")).as("n"))
    val p = col("k").cast("double") / col("n")
    val z2n = lit(1.96) * lit(1.96) / col("n")
    val denom = lit(1) + z2n
    val center = (p + lit(1.96) * lit(1.96) / (lit(2) * col("n"))) / denom
    val half = lit(1.96) * sqrt(p * (lit(1) - p) / col("n") +
      lit(1.96) * lit(1.96) / (lit(4.0) * col("n") * col("n"))) / denom
    c.crossJoin(broadcast(t))
      .select(col("event_type"), col("k"), col("n"),
        p.as("p_hat"),
        (center - half).as("wilson_lo"),
        (center + half).as("wilson_hi"))
  }

  /** Split-conformal prediction intervals on event value per type —
    * the distribution-free uncertainty layer a model-scoring pipeline
    * ships with: calibration half (pre-period) sets the 90% residual
    * quantile around the calibration mean; the eval half reports the
    * achieved coverage (guaranteed ≥ 90% in expectation by
    * exchangeability, no distributional assumption).
    *
    * Exactness: everything is INTEGER until the last two divisions —
    * residuals are scaled through the calibration count
    * (r = |n·y − S| avoids the mean division), the conformal rank is
    * k = ⌈0.9(n+1)⌉ via integer ceil-div, and the eval-side coverage
    * test compares the same scaled integers. The k-th smallest
    * residual rides the GROUPED two-phase prefix over the COLLAPSED
    * (type, r) cell frame, not raw rows (the q187/q166 argument: r is
    * a pure function of cents given the per-type (n, S) constants, so
    * equal-r rows are contiguous under the oracle's (r, event_id)
    * tiebreak and the rank-k VALUE is the unique r run whose
    * cumulative count straddles k — the row-level tiebreak can't
    * change the selected value). ONE raw pass builds the (type,
    * cents) count; the prefix sorts value-cardinality cells, which at
    * sf100 replaces the spill-bound range sort of the raw calibration
    * rows (the q166 5.3× move). The oracle keeps the row-level rank
    * form. */
  val q176ConformalInterval: QueryDef = QueryDef.withOracle(
    s"""WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS t,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |cal AS (SELECT * FROM e WHERE t < $PreEnd),
      |cs AS (
      |  SELECT event_type, count(*) AS n, sum(cents) AS s,
      |    (9 * (count(*) + 1) + 9) // 10 AS k
      |  FROM cal GROUP BY 1),
      |cr AS (
      |  SELECT cal.event_type,
      |    abs(cs.n * cal.cents - cs.s) AS r, cal.event_id,
      |    row_number() OVER (PARTITION BY cal.event_type
      |      ORDER BY abs(cs.n * cal.cents - cs.s), cal.event_id) AS rn
      |  FROM cal JOIN cs USING (event_type)),
      |qh AS (
      |  SELECT cr.event_type, cr.r AS qhat
      |  FROM cr JOIN cs ON cs.event_type = cr.event_type
      |    AND cr.rn = cs.k),
      |ev AS (
      |  SELECT e.event_type, count(*) AS n_eval,
      |    sum(CASE WHEN abs(cs.n * e.cents - cs.s) <= qh.qhat
      |      THEN 1 ELSE 0 END) AS covered
      |  FROM e JOIN cs USING (event_type) JOIN qh USING (event_type)
      |  WHERE e.t >= $PreEnd GROUP BY 1)
      |SELECT ev.event_type, cs.n AS n_cal, ev.n_eval,
      |  floor((CAST(qh.qhat AS DOUBLE) / cs.n) * 1000000 + 0.5) / 1000000
      |    AS qhat_cents,
      |  floor((CAST(ev.covered AS DOUBLE) / ev.n_eval) * 1000000 + 0.5)
      |    / 1000000 AS coverage
      |FROM ev JOIN cs USING (event_type) JOIN qh USING (event_type)""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"), col("event_id"),
      unix_micros(col("ts")).as("t"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val cal = e.filter(col("t") < PreEnd)
    val cs = cal.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .withColumn("k", expr("(9 * (n + 1) + 9) div 10"))
    // cells, not rows: ONE (type, cents) count bounds the exchange by
    // value cardinality; symmetric cents values that map to the same r
    // merge in a second metadata-sized agg
    val rcells = cal.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(cs), Seq("event_type"))
      .select(col("event_type"),
        abs(col("n") * col("cents") - col("s")).as("r"), col("cnt"))
      .groupBy(col("event_type"), col("r"))
      .agg(sum(col("cnt")).as("cnt"))
    val ranked = Kernels.groupedPrefixSums(rcells,
      Seq("event_type"), Seq(col("r")), Seq((col("cnt"), "cum", None)))
    val qh = ranked.join(broadcast(cs.select(col("event_type"), col("k"))),
        Seq("event_type"))
      .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("event_type"), col("r").as("qhat"))
    val evd = e.filter(col("t") >= PreEnd)
      .join(broadcast(cs.select(col("event_type"), col("n"), col("s"))),
        Seq("event_type"))
      .join(broadcast(qh), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(abs(col("n") * col("cents") - col("s")) <= col("qhat"),
          1L).otherwise(0L)).as("covered"))
    evd.join(broadcast(cs.select(col("event_type"), col("n"))),
        Seq("event_type"))
      .join(broadcast(qh), Seq("event_type"))
      .select(col("event_type"), col("n").as("n_cal"), col("n_eval"),
        (floor((col("qhat").cast("double") / col("n")) * 1000000 + 0.5)
          / 1000000).as("qhat_cents"),
        (floor((col("covered").cast("double") / col("n_eval")) * 1000000
          + 0.5) / 1000000).as("coverage"))
  }

  /** z for two-sided 95% intervals — the same literal in engine and
    * oracle (the ln-19 convention of q243). */
  private val Z95 = 1.959963984540054

  /** DeLong standard error and 95% CI for the ROC-AUC of the value
    * score against purchase labels — q115 reports the POINT estimate;
    * a model-promotion gate needs the interval (DeLong 1988: the AUC
    * is a two-sample U-statistic; its variance decomposes into the
    * per-positive and per-negative structural components V10/V01).
    *
    * Exactness: V10 per positive = (#neg below + ½·#neg tied)/n_neg —
    * in doubled space v10₂ = 2·negBelow + negTie, pure int64 off the
    * cents-cell prefix; AUC = Σ pos·v10₂ / (2·n_pos·n_neg) with an
    * exact decimal numerator; each variance term pos·(v10₂/(2n_neg) −
    * auc)² quantizes to the 1e-9 grid into decimal(38,0) (weights
    * reach n_pos) and the two sums are order-free; se and the CI are
    * one final double chain floored 1e-6. One of n_pos, n_neg ≤ 1
    * degrades se/CI-width to 0 (stated).
    *
    * Scale shape: ONE events pass → cents cells; the prefix walk is
    * the two-phase range-partitioned idiom (q247's device); everything
    * after rides the cell frame + one broadcast totals row. */
  val q251DelongAuc: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS p,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
      |      AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT c, p, n,
      |    CAST(sum(p) OVER (ORDER BY c) AS BIGINT) AS cump,
      |    CAST(sum(n) OVER (ORDER BY c) AS BIGINT) AS cumn
      |  FROM cell),
      |tot AS (
      |  SELECT CAST(sum(p) AS BIGINT) AS np, CAST(sum(n) AS BIGINT) AS nn
      |  FROM cell),
      |v AS (
      |  SELECT p, n, 2 * (cumn - n) + n AS v10_2,
      |    2 * (np - cump) + p AS v01_2, np, nn
      |  FROM w CROSS JOIN tot),
      |a AS (
      |  SELECT np, nn,
      |    CAST(sum(CAST(p AS HUGEINT) * v10_2) AS DOUBLE)
      |      / (2 * CAST(np AS DOUBLE) * nn) AS auc
      |  FROM v GROUP BY 1, 2),
      |vt AS (
      |  SELECT sum(CAST(p AS HUGEINT)
      |      * CAST(floor(((CAST(v10_2 AS DOUBLE) / (2 * nn) - auc)
      |        * (CAST(v10_2 AS DOUBLE) / (2 * nn) - auc))
      |        * 1000000000 + 0.5) AS BIGINT)) AS s10,
      |    sum(CAST(n AS HUGEINT)
      |      * CAST(floor(((CAST(v01_2 AS DOUBLE) / (2 * np) - auc)
      |        * (CAST(v01_2 AS DOUBLE) / (2 * np) - auc))
      |        * 1000000000 + 0.5) AS BIGINT)) AS s01
      |  FROM v CROSS JOIN (SELECT auc FROM a) aa),
      |se AS (
      |  SELECT np, nn, auc,
      |    CASE WHEN np <= 1 OR nn <= 1 THEN CAST(0 AS DOUBLE)
      |      ELSE sqrt((CAST(s10 AS DOUBLE) / 1000000000 / (np - 1)) / np
      |        + (CAST(s01 AS DOUBLE) / 1000000000 / (nn - 1)) / nn)
      |      END AS sed
      |  FROM a CROSS JOIN vt)
      |SELECT np AS n_pos, nn AS n_neg,
      |  floor(auc * 1000000 + 0.5) / 1000000 AS auc,
      |  floor(sed * 1000000 + 0.5) / 1000000 AS se,
      |  floor((auc - 1.959963984540054 * sed) * 1000000 + 0.5)
      |    / 1000000 AS ci_lo,
      |  floor((auc + 1.959963984540054 * sed) * 1000000 + 0.5)
      |    / 1000000 AS ci_hi
      |FROM se""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("c"))
      .agg(sum(col("y")).cast("long").as("p"),
        sum(lit(1L) - col("y")).cast("long").as("n"))
      .cache() // one events pass; prefix + totals reuse the cells
    val w = Kernels.groupedPrefixSums(cell, Seq.empty,
      Seq(col("c")),
      Seq((col("p"), "cump", Some("np")), (col("n"), "cumn", Some("nn"))))
    val v = w.select(col("p"), col("n"),
      (lit(2) * (col("cumn") - col("n")) + col("n")).as("v10_2"),
      (lit(2) * (col("np") - col("cump")) + col("p")).as("v01_2"),
      col("np"), col("nn"))
      .cache() // consumed by the AUC numerator and both variance sums
    val a = v.groupBy(col("np"), col("nn"))
      .agg((sum(dec(col("p")) * col("v10_2")).cast("double")
        / (lit(2) * col("np").cast("double") * col("nn"))).as("auc"))
    val d10 = col("v10_2").cast("double") / (lit(2) * col("nn")) -
      col("auc")
    val d01 = col("v01_2").cast("double") / (lit(2) * col("np")) -
      col("auc")
    // quantize the squared deviation FIRST (≤ 1e9, always fits), then
    // weight by the exact count in decimal — p·(…)·1e9 inside floor
    // would overflow floor's long output at fleet-scale n_pos
    val vt = v.crossJoin(broadcast(a.select(col("auc"))))
      .agg(sum(dec(col("p"))
        * floor((d10 * d10) * 1000000000L + 0.5)).as("s10"),
        sum(dec(col("n"))
          * floor((d01 * d01) * 1000000000L + 0.5)).as("s01"))
    val sed = when(col("np") <= 1 || col("nn") <= 1, lit(0.0))
      .otherwise(sqrt(
        (col("s10").cast("double") / 1000000000L / (col("np") - 1))
          / col("np")
          + (col("s01").cast("double") / 1000000000L / (col("nn") - 1))
          / col("nn")))
    a.crossJoin(broadcast(vt))
      .select(col("np").as("n_pos"), col("nn").as("n_neg"),
        (floor(col("auc") * 1000000L + 0.5) / 1000000L).as("auc"),
        (floor(sed * 1000000L + 0.5) / 1000000L).as("se"),
        (floor((col("auc") - lit(Z95) * sed) * 1000000L + 0.5)
          / 1000000L).as("ci_lo"),
        (floor((col("auc") + lit(Z95) * sed) * 1000000L + 0.5)
          / 1000000L).as("ci_hi"))
  }

  /** Delta-method 95% CI for the ratio metric "purchase revenue per
    * event" with USER-level clustering — the experimentation
    * workhorse (Deng et al. 2017): per-event averages understate the
    * variance because events within a user correlate; the correct
    * unit is the user, and Var(X̄/Ȳ) ≈ (s_xx − 2R·s_xy + R²·s_yy) /
    * (n·ȳ²) by the delta method. Beside q172 (CUPED adjusts a mean),
    * this is the RATIO-metric interval a dashboard prints.
    *
    * Exactness: per-user (revenue cents, event count) rolls up in one
    * pass; the five moment sums accumulate in decimal(38,0) (Σx²
    * reaches n·v² ≈ 1e19+ at fleet scale — the q236 convention); the
    * ratio, covariances, se, and CI are ONE double chain in identical
    * op order, floored 1e-6 (ratio in cents/event). n ≤ 1 or Σy = 0
    * degrades se/CI-width to 0 (stated).
    *
    * Scale shape: one events pass → user cells (data-sized groupBy on
    * the natural key) → one 6-number moment aggregate; everything
    * after is a 1-row frame. */
  val q252RatioDeltaCi: QueryDef = QueryDef.withOracle(
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS x,
      |    count(*) AS y
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM u),
      |c AS (
      |  SELECT n, sx, sy,
      |    CAST(sx AS DOUBLE) / sy AS r,
      |    (CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * sx)
      |      / (n - 1) AS cxx,
      |    (CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) / n) * sy)
      |      / (n - 1) AS cyy,
      |    (CAST(sxy AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * sy)
      |      / (n - 1) AS cxy,
      |    CAST(sy AS DOUBLE) / n AS yb
      |  FROM m WHERE n > 0),
      |se AS (
      |  SELECT n, r,
      |    CASE WHEN n <= 1 OR sy = 0 THEN CAST(0 AS DOUBLE)
      |      ELSE sqrt((cxx - 2 * r * cxy + r * r * cyy)
      |        / (n * (yb * yb))) END AS sed
      |  FROM c)
      |SELECT n AS n_users,
      |  floor(r * 1000000 + 0.5) / 1000000 AS ratio_cents_per_event,
      |  floor(sed * 1000000 + 0.5) / 1000000 AS se,
      |  floor((r - 1.959963984540054 * sed) * 1000000 + 0.5)
      |    / 1000000 AS ci_lo,
      |  floor((r + 1.959963984540054 * sed) * 1000000 + 0.5)
      |    / 1000000 AS ci_hi
      |FROM se""".stripMargin
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .select(col("user_id"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)
          .as("xv"))
      .groupBy(col("user_id"))
      .agg(sum(col("xv")).cast("long").as("x"),
        count(lit(1)).as("y"))
    val m = u.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("y")) * col("y")).as("syy"),
      sum(dec(col("x")) * col("y")).as("sxy"))
    val r = col("sx").cast("double") / col("sy")
    val cxx = (col("sxx").cast("double")
      - (col("sx").cast("double") / col("n")) * col("sx")) / (col("n") - 1)
    val cyy = (col("syy").cast("double")
      - (col("sy").cast("double") / col("n")) * col("sy")) / (col("n") - 1)
    val cxy = (col("sxy").cast("double")
      - (col("sx").cast("double") / col("n")) * col("sy")) / (col("n") - 1)
    val yb = col("sy").cast("double") / col("n")
    val c = m.filter(col("n") > 0)
      .select(col("n"), col("sy"), r.as("r"), cxx.as("cxx"),
        cyy.as("cyy"), cxy.as("cxy"), yb.as("yb"))
    val sed = when(col("n") <= 1 || col("sy") === dec(lit(0)), lit(0.0))
      .otherwise(sqrt((col("cxx") - lit(2) * col("r") * col("cxy")
        + col("r") * col("r") * col("cyy"))
        / (col("n") * (col("yb") * col("yb")))))
    c.select(col("n").as("n_users"),
      (floor(col("r") * 1000000L + 0.5) / 1000000L)
        .as("ratio_cents_per_event"),
      (floor(sed * 1000000L + 0.5) / 1000000L).as("se"),
      (floor((col("r") - lit(Z95) * sed) * 1000000L + 0.5) / 1000000L)
        .as("ci_lo"),
      (floor((col("r") + lit(Z95) * sed) * 1000000L + 0.5) / 1000000L)
        .as("ci_hi"))
  }

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

  // ---- Drift and divergence ----

  /** χ² independence audit of event mix × day-of-week — the
    * distribution-drift screen beside the expectation suite (q88) and
    * the A/B scorecard (q104): a shifted (event_type, weekday) mix is
    * the classic sign of a broken producer or a bot wave. Emits ONE
    * ROW PER CELL (observed, expected, χ² contribution) rather than a
    * summed statistic — consumers threshold per-cell contributions to
    * find WHICH cell drifted, and the gate never hashes an
    * order-dependent float fold.
    *
    * Cross-engine determinism: day-of-week is pure int64 epoch math —
    * (days since 1970-01-01 + 4) mod 7, 0 = Sunday — because Spark
    * and DuckDB number dayofweek() differently; expected = r·c/N is
    * one IEEE division of exact int64 products (needs N < ~3·10⁹ rows
    * — the q2o convention — beyond which pre-divide the margins);
    * o − e, square, divide are then the same IEEE sequence in both
    * engines.
    *
    * Scale shape: ONE data-sized hash aggregate (the cell counts,
    * partial+final, 35-cell domain); margins and N derive from the
    * 35-row cell frame, so everything after the first exchange is
    * metadata-sized (two broadcast joins of ≤7-row frames). */
  val q117Chi2Drift: QueryDef = QueryDef.withOracle(
    """WITH cells AS (
      |  SELECT event_type,
      |    ((epoch_us(ts) // 86400000000 + 4) % 7 + 7) % 7 AS dow,
      |    count(*) AS o
      |  FROM events GROUP BY 1, 2),
      |rows_ AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
      |  FROM cells GROUP BY 1),
      |cols_ AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
      |SELECT event_type, dow, o,
      |  CAST(r * c AS DOUBLE) / n AS expected,
      |  (o - CAST(r * c AS DOUBLE) / n) * (o - CAST(r * c AS DOUBLE) / n)
      |    / (CAST(r * c AS DOUBLE) / n) AS contrib
      |FROM cells JOIN rows_ USING (event_type) JOIN cols_ USING (dow)
      |CROSS JOIN n""".stripMargin
  ) { (s, d) =>
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        // sign-safe epoch→dow: the shared epochDay floordiv then pmod
        // for the mod-7 — the oracle mirrors with ((x % 7) + 7) % 7,
        // so both engines agree for pre-1970 epochs too
        pmod(epochDay(unix_micros(col("ts"))) + 4, lit(7)).as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols = cells.groupBy(col("dow")).agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"))
    val e = (col("r") * col("c")).cast("double") / col("n")
    cells.join(broadcast(rows), Seq("event_type"))
      .join(broadcast(cols), Seq("dow"))
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("dow"), col("o"),
        e.as("expected"),
        ((col("o") - e) * (col("o") - e) / e).as("contrib"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the
    * even-id and odd-id halves of the event value distribution — the
    * nonparametric drift test beside q117's χ² (χ² needs bins; KS
    * compares whole CDFs):
    *
    *   KS = max over distinct scores x of |F₁(x) − F₂(x)|
    *
    * computed EXACTLY: per-score counts collapse the stream to its
    * distinct-score frame; both cumulative counts come from ONE
    * range-partitioned two-phase prefix pass (the q115 shape, carrying
    * two running sums over the same partition stamp); the CDF gap is
    * the cross-multiplied integer |c₁·N₂ − c₂·N₁| — no per-row
    * division, so max() compares exact int64 (bound: N₁·N₂ < 2⁶³
    * holds through ~3·10⁹ rows per side; beyond, pre-divide the
    * counts by a common 2ᵏ — the q2o convention). The final KS is ONE
    * IEEE division.
    *
    * A deterministic id-parity split, not a random one: the gate
    * needs identical halves in both engines, and parity is as
    * arbitrary as any hash for synthetic drift detection (a real
    * deployment splits by time window — swap the predicate). */
  val q153KsDrift: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT value AS score, CAST(event_id % 2 AS BIGINT) AS grp
      |  FROM events),
      |g AS (
      |  SELECT score,
      |    CAST(sum(1 - grp) AS BIGINT) AS n1,
      |    CAST(sum(grp) AS BIGINT) AS n2
      |  FROM t GROUP BY 1),
      |c AS (
      |  SELECT score,
      |    CAST(sum(n1) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS c1,
      |    CAST(sum(n2) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS c2
      |  FROM g),
      |tot AS (
      |  SELECT CAST(sum(n1) AS BIGINT) AS na, CAST(sum(n2) AS BIGINT) AS nb
      |  FROM g)
      |SELECT na, nb,
      |  CAST(max(abs(c1 * nb - c2 * na)) AS BIGINT) AS ks_num,
      |  CAST(max(abs(c1 * nb - c2 * na)) AS DOUBLE) / na / nb AS ks
      |FROM c CROSS JOIN tot GROUP BY na, nb""".stripMargin
  ) { (s, d) =>
    val g = Tables.events(s, d)
      .select(col("value").as("score"),
        (col("event_id") % 2).cast("long").as("grp"))
      .groupBy(col("score"))
      .agg(sum(lit(1L) - col("grp")).as("n1"), sum(col("grp")).as("n2"))
    // both CDFs + both totals from ONE call of the TESTED N-measure
    // two-phase prefix helper (TwoPhasePrefixSpec pins it): one range
    // shuffle, one pinned partition stamp, one physical Window node
    // carrying both running sums — a second groupedPrefixSum call
    // would pay a second range shuffle + cache for the same order
    val c = Kernels.groupedPrefixSums(g, Seq.empty,
      Seq(col("score")),
      Seq((col("n1"), "c1", Some("na")), (col("n2"), "c2", Some("nb"))))
    c.groupBy(col("na"), col("nb"))
      .agg(max(abs(col("c1") * col("nb") - col("c2") * col("na")))
        .as("ks_num"))
      .select(col("na"), col("nb"), col("ks_num"),
        (col("ks_num").cast("double") / col("na") / col("nb")).as("ks"))
  }

  /** Population Stability Index of the value distribution, pre- vs
    * post-period per event type — the industry-standard model-input
    * drift monitor (PSI < 0.1 stable, > 0.25 action), completing the
    * drift triad: q117's χ² (binned counts test), q153's exact KS
    * (max CDF gap), and now the binned-share log statistic scorecards
    * actually alert on. Bins are the PRE period's own deciles (the
    * baseline defines the grid), ranks picked exactly via the
    * GROUPED two-phase prefix; shares are Laplace-smoothed
    * ((c+1)/(n+10), so a post-period bin emptied by drift contributes
    * a finite, engine-identical term); each (p−q)·ln(p/q) term
    * quantizes at 1e-9 fixed point before the int64 fold.
    *
    * Scale shape: ONE data pass — the (type, period, cents) count,
    * whose exchange is bounded by value cardinality, not rows. The
    * oracle's row-level rank pick collapses onto the cell frame:
    * rows with equal cents are contiguous in (cents, event_id)
    * order, so the rank-t value is the unique cents run whose
    * cumulative count straddles t — the grouped two-phase prefix
    * runs over cells, not rows (sf100: 12.9 s vs 49.4 s for the
    * row-ranked variant, same hashes). Binning joins the collapsed
    * value frame against 9 broadcast cuts; the PSI fold runs on
    * |types|·10 cells. */
  val q187PsiDrift: QueryDef = QueryDef.withOracle(
    s"""WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    CASE WHEN epoch_us(ts) < $PreEnd THEN 'pre' ELSE 'post' END
      |      AS period
      |  FROM events),
      |pre AS (
      |  SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM e WHERE period = 'pre'),
      |cuts AS (
      |  SELECT DISTINCT pre.event_type, i.i, pre.cents AS cut
      |  FROM pre JOIN (SELECT unnest(range(1, 10)) AS i) i
      |    ON pre.rn = (i.i * pre.n + 9) // 10),
      |vc AS (
      |  SELECT event_type, period, cents, count(*) AS cnt
      |  FROM e GROUP BY 1, 2, 3),
      |vb AS (
      |  SELECT vc.event_type, vc.period, vc.cnt,
      |    (SELECT count(*) FROM cuts c
      |     WHERE c.event_type = vc.event_type AND vc.cents > c.cut)
      |      AS bin
      |  FROM vc),
      |bc AS (
      |  SELECT event_type, period, bin, sum(cnt) AS c
      |  FROM vb GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT t.event_type, b.bin
      |  FROM (SELECT DISTINCT event_type FROM e) t
      |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b),
      |tot AS (
      |  SELECT event_type, period, CAST(sum(c) AS BIGINT) AS n
      |  FROM bc GROUP BY 1, 2),
      |sh AS (
      |  SELECT g.event_type, g.bin,
      |    (CAST(coalesce(p.c, 0) + 1 AS DOUBLE) / (tp.n + 10)) AS p,
      |    (CAST(coalesce(q.c, 0) + 1 AS DOUBLE) / (tq.n + 10)) AS q
      |  FROM grid g
      |  LEFT JOIN bc p ON p.event_type = g.event_type
      |    AND p.bin = g.bin AND p.period = 'pre'
      |  LEFT JOIN bc q ON q.event_type = g.event_type
      |    AND q.bin = g.bin AND q.period = 'post'
      |  JOIN tot tp ON tp.event_type = g.event_type AND tp.period = 'pre'
      |  JOIN tot tq ON tq.event_type = g.event_type AND tq.period = 'post')
      |SELECT sh.event_type, tp.n AS n_pre, tq.n AS n_post,
      |  floor(CAST(sum(CAST(floor((p - q) * ln(p / q) * 1000000000 + 0.5)
      |    AS BIGINT)) AS DOUBLE) / 1000 + 0.5) / 1000000 AS psi
      |FROM sh
      |JOIN tot tp ON tp.event_type = sh.event_type AND tp.period = 'pre'
      |JOIN tot tq ON tq.event_type = sh.event_type AND tq.period = 'post'
      |GROUP BY 1, 2, 3""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"), col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"),
      when(unix_micros(col("ts")) < PreEnd, "pre").otherwise("post")
        .as("period"))
    val vc = e.groupBy(col("event_type"), col("period"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // ≤ |types| · 2 · |distinct cents| cells — the only data pass
    // cum = running pre-period count in cents order; the oracle's
    // rank-(i·n+9)//10 row has the unique cents whose run straddles
    // the target (equal-cents rows are contiguous under the oracle's
    // (cents, event_id) tiebreak, so the tiebreak can't change the
    // selected VALUE) — the prefix runs over cells, never raw rows.
    val ranked = Kernels.groupedPrefixSums(
      vc.filter(col("period") === "pre")
        .select(col("event_type"), col("cents"), col("cnt")),
      Seq("event_type"), Seq(col("cents")),
      Seq((col("cnt"), "cum", Some("n"))))
    val is = s.range(1).select(explode(sequence(lit(1L), lit(9L))).as("i"))
    val cuts = ranked.crossJoin(broadcast(is))
      .withColumn("t", expr("(i * n + 9) div 10"))
      .filter(col("cum") >= col("t") && col("cum") - col("cnt") < col("t"))
      .select(col("event_type"), col("cents").as("cut"))
    val vb = vc.join(broadcast(cuts.select(col("event_type"), col("cut"))),
        Seq("event_type"), "left")
      .groupBy(col("event_type"), col("period"), col("cents"), col("cnt"))
      .agg(sum(when(col("cents") > col("cut"), 1L).otherwise(0L)).as("bin"))
    val bc = vb.groupBy(col("event_type"), col("period"), col("bin"))
      .agg(sum(col("cnt")).as("c"))
      .cache() // ≤ |types| · 2 · 10 cells
    val grid = vc.select(col("event_type")).distinct()
      .crossJoin(broadcast(s.range(1).select(
        explode(sequence(lit(0L), lit(9L))).as("bin"))))
    val tot = bc.groupBy(col("event_type"), col("period"))
      .agg(sum(col("c")).as("n"))
    val pSide = bc.filter(col("period") === "pre")
      .select(col("event_type"), col("bin"), col("c").as("cp"))
    val qSide = bc.filter(col("period") === "post")
      .select(col("event_type"), col("bin"), col("c").as("cq"))
    val sh = grid
      .join(broadcast(pSide), Seq("event_type", "bin"), "left")
      .join(broadcast(qSide), Seq("event_type", "bin"), "left")
      .join(broadcast(tot.filter(col("period") === "pre")
        .select(col("event_type"), col("n").as("n_pre"))), Seq("event_type"))
      .join(broadcast(tot.filter(col("period") === "post")
        .select(col("event_type"), col("n").as("n_post"))), Seq("event_type"))
      .select(col("event_type"), col("n_pre"), col("n_post"),
        ((coalesce(col("cp"), lit(0L)) + 1).cast("double") /
          (col("n_pre") + 10)).as("p"),
        ((coalesce(col("cq"), lit(0L)) + 1).cast("double") /
          (col("n_post") + 10)).as("q"))
    sh.groupBy(col("event_type"), col("n_pre"), col("n_post"))
      .agg(sum(floor((col("p") - col("q")) * log(col("p") / col("q"))
        * 1000000000 + 0.5).cast("long")).as("psi_fp"))
      .select(col("event_type"), col("n_pre"), col("n_post"),
        (floor(col("psi_fp").cast("double") / 1000 + 0.5) / 1000000)
          .as("psi"))
  }

  /** Exact 1-D Wasserstein-1 (earth mover's) distance between every
    * pair of event types' `value` distributions — the INTEGRAL drift
    * measure beside q153's KS max-deviation and q187's binned PSI:
    * W1 = ∫|F_A − F_B| dv reads as "average value-units of work to
    * morph one distribution into the other", is in the data's units,
    * and unlike KS it sees WHERE the mass differs, not just the worst
    * point.
    *
    * Exactness: on the cents grid the CDF is a step function, so the
    * integral is the exact finite sum Σ |cumA·nB − cumB·nA|·Δv over
    * consecutive distinct values of the pair's union (cross-multiplied
    * to stay integral — the q194 saturation-test recipe); terms
    * accumulate in decimal(38,0)/HUGEINT (cum·n reaches n² ≈ 10¹⁸ at
    * 10⁹ rows/type — int64's edge); ONE double division by nA·nB·100
    * at the end, floored at 1e-6.
    *
    * Scale shape: ONE data pass builds the (type, cents) cell frame;
    * the pair union replicates CELLS (|cells|·(|types|−1) rows —
    * value-cardinality-bounded metadata, never data), and each pair's
    * merged CDF walk is a window over its own cells. */
  val q201Wasserstein: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |c AS (SELECT t, v, count(*) AS cnt FROM ev GROUP BY 1, 2),
      |n AS (SELECT t, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
      |p AS (
      |  SELECT a.t AS ta, b.t AS tb, a.n AS na, b.n AS nb
      |  FROM n a JOIN n b ON a.t < b.t),
      |u AS (
      |  SELECT p.ta, p.tb, c.v, c.cnt AS ca, CAST(0 AS BIGINT) AS cb
      |  FROM p JOIN c ON c.t = p.ta
      |  UNION ALL
      |  SELECT p.ta, p.tb, c.v, CAST(0 AS BIGINT), c.cnt
      |  FROM p JOIN c ON c.t = p.tb),
      |g AS (
      |  SELECT ta, tb, v, CAST(sum(ca) AS BIGINT) AS ca,
      |    CAST(sum(cb) AS BIGINT) AS cb
      |  FROM u GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT ta, tb, v,
      |    CAST(sum(ca) OVER (PARTITION BY ta, tb ORDER BY v) AS BIGINT)
      |      AS cuma,
      |    CAST(sum(cb) OVER (PARTITION BY ta, tb ORDER BY v) AS BIGINT)
      |      AS cumb,
      |    lead(v) OVER (PARTITION BY ta, tb ORDER BY v) AS nv
      |  FROM g),
      |s AS (
      |  SELECT w.ta, w.tb,
      |    sum(abs(CAST(cuma AS HUGEINT) * p.nb
      |        - CAST(cumb AS HUGEINT) * p.na)
      |      * (coalesce(nv, v) - v)) AS sterm
      |  FROM w JOIN p USING (ta, tb)
      |  GROUP BY 1, 2)
      |SELECT s.ta AS type_a, s.tb AS type_b, p.na AS n_a, p.nb AS n_b,
      |  floor((CAST(sterm AS DOUBLE)
      |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |      * CAST(100 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS w1
      |FROM s JOIN p USING (ta, tb)""".stripMargin
  ) { (s, d) =>
    wassersteinOn(Tables.events(s, d)
      .select(col("event_type").as("t"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .groupBy(col("t"), col("v"))
      .agg(count(lit(1)).as("cnt")))
  }

  /** q201's exact pairwise W1 over a (t, v, cnt) cell frame (v in
    * cents) — extracted so AnalyticsOps7Spec can check the merged-CDF
    * walk against hand-computed distances and the metric's invariants
    * (identity ⇒ 0, translation invariance of a co-shifted pair). */
  private[operators] def wassersteinOn(cellsIn: DataFrame): DataFrame = {
    val c = cellsIn.cache() // (type, cents) cells — the one data pass
    val n = c.groupBy(col("t")).agg(sum(col("cnt")).as("n"))
    // |types|² pair frame: a broadcast inequality join over the
    // ≤|types|-row totals — metadata by construction
    val p = n.toDF("ta", "na")
      .join(broadcast(n.toDF("tb", "nb")), col("ta") < col("tb"))
    val sa = c.toDF("ta", "v", "ca")
      .join(broadcast(p.select(col("ta"), col("tb"))), Seq("ta"))
      .select(col("ta"), col("tb"), col("v"), col("ca"),
        lit(0L).as("cb"))
    val sb = c.toDF("tb", "v", "cb")
      .join(broadcast(p.select(col("ta"), col("tb"))), Seq("tb"))
      .select(col("ta"), col("tb"), col("v"), lit(0L).as("ca"),
        col("cb"))
    val wn = Window.partitionBy(col("ta"), col("tb")).orderBy(col("v"))
    val w = sa.unionByName(sb)
      .groupBy(col("ta"), col("tb"), col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .withColumn("cuma", sum(col("ca")).over(wn))
      .withColumn("cumb", sum(col("cb")).over(wn))
      .withColumn("nv", lead(col("v"), 1).over(wn))
    w.join(broadcast(p), Seq("ta", "tb"))
      .groupBy(col("ta"), col("tb"), col("na"), col("nb"))
      .agg(sum(abs(dec(col("cuma")) * col("nb")
          - dec(col("cumb")) * col("na"))
        * (coalesce(col("nv"), col("v")) - col("v"))).as("sterm"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        (floor((col("sterm").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")
            * lit(100.0))) * 1000000 + 0.5) / 1000000).as("w1"))
  }

  /** Cross-source quantile normalization of document length: map each
    * source's n_chars distribution onto the POOLED distribution by
    * rank — the batch-effect correction a multi-source corpus needs
    * before length-based curation rules (a "long" doc from a
    * short-doc source should compare at its pooled quantile, not its
    * raw value). Output: per (source, n_chars) cell, the pooled value
    * at the same quantile.
    *
    * Exactness: pure integer throughout — the pick "smallest pooled
    * value vP with cumP/nP ≥ cumS/nS" is evaluated CROSS-MULTIPLIED
    * (cumP·nS ≥ cumS·nP in decimal(38,0)/HUGEINT, the q194 recipe),
    * so there is no division anywhere and the gate hashes exact
    * int64s.
    *
    * Scale shape: ONE data pass builds the (source, chars) cells;
    * the pooled frame aggregates FROM those cells (no second scan);
    * the quantile match is the union+suffix-window as-of idiom on
    * |cells| + |sources|·|pooled| metadata rows. The per-source
    * window partitions on a data column over a cell-sized frame —
    * a metadata sort, not a data funnel (locked in PlanSpec). */
  val q202QuantileNormalize: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |sc AS (
      |  SELECT source, v, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
      |      AS cums
      |  FROM c),
      |ns AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS ns
      |       FROM c GROUP BY 1),
      |pc AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS pcnt FROM c GROUP BY 1),
      |pp AS (
      |  SELECT v AS vp, CAST(sum(pcnt) OVER (ORDER BY v) AS BIGINT)
      |    AS cump
      |  FROM pc),
      |np AS (SELECT CAST(sum(cnt) AS BIGINT) AS np FROM c),
      |q AS (
      |  SELECT sc.source, sc.v, CAST(sc.cnt AS BIGINT) AS cnt,
      |    CAST(sc.cums AS HUGEINT) * np.np AS key, 1 AS is_q,
      |    CAST(NULL AS BIGINT) AS vp
      |  FROM sc CROSS JOIN np),
      |r AS (
      |  SELECT ns.source, CAST(NULL AS BIGINT) AS v,
      |    CAST(NULL AS BIGINT) AS cnt,
      |    CAST(pp.cump AS HUGEINT) * ns.ns AS key, 0 AS is_q, pp.vp
      |  FROM ns CROSS JOIN pp),
      |u AS (SELECT * FROM q UNION ALL SELECT * FROM r),
      |m AS (
      |  SELECT source, v, cnt, is_q,
      |    min(vp) OVER (PARTITION BY source
      |      ORDER BY key ASC, is_q DESC
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS mapped
      |  FROM u)
      |SELECT source, v AS n_chars, cnt AS n_rows, mapped AS mapped_chars
      |FROM m WHERE is_q = 1""".stripMargin
  ) { (s, d) =>
    quantileNormalizeOn(Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt")))
      .select(col("source"), col("v").as("n_chars"),
        col("cnt").as("n_rows"), col("mapped").as("mapped_chars"))
  }

  /** q202's rank-matched quantile normalization over a (source, v,
    * cnt) cell frame — extracted so AnalyticsOps7Spec can check the
    * cross-multiplied straddle's invariants (single source maps to
    * itself, mapping is monotone, mapped values come from the pool). */
  private[operators] def quantileNormalizeOn(cellsIn: DataFrame)
      : DataFrame = {
    val c = cellsIn.cache() // (source, v) cells — the one data pass
    val sc = c.withColumn("cums", sum(col("cnt")).over(
      Window.partitionBy(col("source")).orderBy(col("v"))))
    val ns = c.groupBy(col("source")).agg(sum(col("cnt")).as("ns"))
    val pp = c.groupBy(col("v")).agg(sum(col("cnt")).as("pcnt"))
      // pooled cells: ≤|values| rows — the unpartitioned prefix window
      // is a metadata sort (same argument as q194's water-fill rank)
      .withColumn("cump", sum(col("pcnt")).over(Window.orderBy(col("v"))))
      .select(col("v").as("vp"), col("cump"))
    val np = c.agg(sum(col("cnt")).as("np"))
    val q = sc.crossJoin(broadcast(np))
      .select(col("source"), col("v"), col("cnt"),
        (dec(col("cums")) * col("np")).as("key"), lit(1).as("is_q"),
        lit(null).cast("long").as("vp"))
    val r = ns.crossJoin(broadcast(pp))
      .select(col("source"), lit(null).cast("long").as("v"),
        lit(null).cast("long").as("cnt"),
        (dec(col("cump")) * col("ns")).as("key"), lit(0).as("is_q"),
        col("vp"))
    q.unionByName(r)
      .withColumn("mapped", min(col("vp")).over(
        Window.partitionBy(col("source"))
          .orderBy(col("key").asc, col("is_q").desc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("is_q") === 1)
      .select(col("source"), col("v"), col("cnt"), col("mapped"))
  }

  /** t-closeness audit — the third privacy lens after q178's
    * k-anonymity (class sizes) and q186's l-diversity (distinct
    * sensitive values): a class can be large AND diverse yet still
    * leak if its sensitive-value MIX differs sharply from the
    * release-wide mix (the skewness attack — "90% of this class is
    * lang X" is a disclosure even with l = 5). Per equivalence class
    * over the q186 quasi-identifier (source, 100-char length band)
    * with sensitive attribute `lang`, t = total-variation distance
    * between the class's lang distribution and the global one
    * (the categorical-attribute EMD of the t-closeness paper); report
    * the standard bands with row shares and each band's worst t.
    *
    * Exactness: t = Σ|c·N − N_l·k| / (2kN) — the numerator
    * accumulates in decimal(38,0)/HUGEINT (c·N reaches n²), band
    * assignment is the CROSS-MULTIPLIED integer test 10·tvn vs 2kN /
    * 6kN (no division decides a band), and only the reported max_t
    * divides, floored 1e-6.
    *
    * Scale shape: ONE (QI, lang) partial+final count collapses the
    * corpus; the dense class×lang frame is classes × ≤|langs| rows
    * (metadata) via broadcast of the lang margin; the band rollup
    * runs on the class-sized frame. The q178/q186 posture. */
  val q207TCloseness: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT source, (n_chars - n_chars % 100) // 100 AS len_band,
      |    lang, count(*) AS c
      |  FROM documents GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT source, len_band, CAST(sum(c) AS BIGINT) AS k
      |  FROM cell GROUP BY 1, 2),
      |gl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM cell GROUP BY 1),
      |tot AS (SELECT CAST(sum(nl) AS BIGINT) AS n FROM gl),
      |dense AS (
      |  SELECT cls.source, cls.len_band, cls.k, gl.lang, gl.nl, tot.n,
      |    coalesce(cell.c, 0) AS c
      |  FROM cls CROSS JOIN gl CROSS JOIN tot
      |  LEFT JOIN cell ON cell.source = cls.source
      |    AND cell.len_band = cls.len_band AND cell.lang = gl.lang),
      |tv AS (
      |  SELECT source, len_band, max(k) AS k, max(n) AS n,
      |    sum(abs(CAST(c AS HUGEINT) * n - CAST(nl AS HUGEINT) * k))
      |      AS tvn
      |  FROM dense GROUP BY 1, 2),
      |b AS (
      |  SELECT CASE
      |    WHEN tvn * 10 <= CAST(2 AS HUGEINT) * k * n THEN 't<=0.1'
      |    WHEN tvn * 10 <= CAST(6 AS HUGEINT) * k * n THEN 't<=0.3'
      |    ELSE 't>0.3' END AS t_band,
      |    count(*) AS n_classes, CAST(sum(k) AS BIGINT) AS n_rows,
      |    max(floor((CAST(tvn AS DOUBLE)
      |      / (2 * CAST(k AS DOUBLE) * CAST(n AS DOUBLE)))
      |      * 1000000 + 0.5) / 1000000) AS max_t
      |  FROM tv GROUP BY 1),
      |t AS (SELECT sum(n_rows) AS tot FROM b)
      |SELECT t_band, n_classes, n_rows,
      |  floor((CAST(n_rows AS DOUBLE) / tot) * 1000000 + 0.5) / 1000000
      |    AS row_share, max_t
      |FROM b CROSS JOIN t""".stripMargin
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .groupBy(col("source"),
        expr("(n_chars - n_chars % 100) div 100").as("len_band"),
        col("lang"))
      .agg(count(lit(1)).as("c"))
      .cache() // one corpus pass feeds cls/gl/tot and the dense join
    val cls = cell.groupBy(col("source"), col("len_band"))
      .agg(sum(col("c")).as("k"))
    val gl = cell.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    val tot = gl.agg(sum(col("nl")).as("n"))
    val tv = cls.crossJoin(broadcast(gl)).crossJoin(broadcast(tot))
      .join(cell, Seq("source", "len_band", "lang"), "left")
      .na.fill(0L, Seq("c"))
      .groupBy(col("source"), col("len_band"))
      .agg(max(col("k")).as("k"), max(col("n")).as("n"),
        sum(abs(dec(col("c")) * col("n") - dec(col("nl")) * col("k")))
          .as("tvn"))
    val bands = tv
      .groupBy(when(col("tvn") * 10 <= dec(lit(2)) * col("k") * col("n"),
        "t<=0.1")
        .when(col("tvn") * 10 <= dec(lit(6)) * col("k") * col("n"),
          "t<=0.3")
        .otherwise("t>0.3").as("t_band"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).cast("long").as("n_rows"),
        max(floor((col("tvn").cast("double") /
          (lit(2) * col("k").cast("double") * col("n").cast("double")))
          * 1000000 + 0.5) / 1000000).as("max_t"))
    val t = bands.agg(sum(col("n_rows")).as("tot"))
    bands.crossJoin(broadcast(t))
      .select(col("t_band"), col("n_classes"), col("n_rows"),
        (floor((col("n_rows").cast("double") / col("tot")) * 1000000
          + 0.5) / 1000000).as("row_share"), col("max_t"))
  }

  /** Hellinger distance between each event type's pre- and post-period
    * value histograms — the bounded METRIC drift score: q206's JSD is
    * bounded but not a metric, q201's W1 is a metric but unbounded and
    * scale-dependent, q187's PSI is the industry dial but unbounded;
    * Hellinger ∈ [0,1] satisfies the triangle inequality, so per-type
    * scores compose across releases. Shares q187's pre/post instant
    * and q221's 20-equal-width-bin device (per-type pooled range).
    *
    * Exactness: bin counts are exact int64; the Bhattacharyya terms
    * √(p_k·q_k) quantize to 1e-9 per bin (≤20, int-summed, order-
    * free); H = √(1 − BC) is the last chain, floored 1e-6, with a
    * greatest(0,·) clamp so BC's quantization jitter at H = 0 can't
    * produce NaN. Zero range (one distinct value) degrades to the
    * single-bin path: p = q = 1, BC = 1, H = 0 — the q221 guard.
    *
    * Scale shape: ONE events pass → (type, period, cents) cells;
    * per-type min/max off the cells; everything downstream is ≤
    * |types|·2·20 rows. Types seen in only one period are excluded
    * (H is undefined without both distributions) — stated, not
    * silent. */
  val q235HellingerDrift: QueryDef = QueryDef.withOracle(
    s"""WITH e AS (
      |  SELECT event_type,
      |    CASE WHEN epoch_us(ts) < $PreEnd THEN 0 ELSE 1 END AS period,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2, 3),
      |mm AS (
      |  SELECT event_type, min(c) AS m, max(c) - min(c) AS r
      |  FROM e GROUP BY 1),
      |np AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN period = 0 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS n_pre,
      |    CAST(sum(CASE WHEN period = 1 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS n_post
      |  FROM e GROUP BY 1),
      |b AS (
      |  SELECT e.event_type, e.period,
      |    least(19, CASE WHEN mm.r = 0 THEN 0
      |              ELSE ((e.c - mm.m) * 20) // mm.r END) AS k,
      |    CAST(sum(e.cnt) AS BIGINT) AS cnt
      |  FROM e JOIN mm USING (event_type) GROUP BY 1, 2, 3),
      |pq AS (
      |  SELECT b.event_type, b.k,
      |    CAST(sum(CASE WHEN period = 0 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS ck_pre,
      |    CAST(sum(CASE WHEN period = 1 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS ck_post
      |  FROM b GROUP BY 1, 2),
      |bc AS (
      |  SELECT pq.event_type,
      |    CAST(sum(CAST(floor(sqrt(
      |      (CAST(ck_pre AS DOUBLE) / n_pre)
      |        * (CAST(ck_post AS DOUBLE) / n_post))
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS bc9
      |  FROM pq JOIN np USING (event_type)
      |  WHERE n_pre > 0 AND n_post > 0
      |  GROUP BY 1)
      |SELECT np.event_type, np.n_pre, np.n_post,
      |  floor((CAST(bc9 AS DOUBLE) / 1000000000) * 1000000 + 0.5)
      |    / 1000000 AS bhattacharyya,
      |  floor(sqrt(greatest(0, 1 - CAST(bc9 AS DOUBLE) / 1000000000))
      |    * 1000000 + 0.5) / 1000000 AS hellinger
      |FROM bc JOIN np USING (event_type)""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"),
        when(unix_micros(col("ts")) < PreEnd, lit(0)).otherwise(lit(1))
          .as("period"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("event_type"), col("period"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // one events pass; ranges, margins, bins reuse the cells
    val mm = e.groupBy(col("event_type"))
      .agg(min(col("c")).as("m"), (max(col("c")) - min(col("c"))).as("r"))
    val np = e.groupBy(col("event_type"))
      .agg(sum(when(col("period") === 0, col("cnt")).otherwise(0L))
        .cast("long").as("n_pre"),
        sum(when(col("period") === 1, col("cnt")).otherwise(0L))
          .cast("long").as("n_post"))
    val pq = e.join(broadcast(mm), Seq("event_type"))
      .groupBy(col("event_type"), col("period"),
        least(lit(19), when(col("r") === 0, lit(0L))
          .otherwise(expr("((c - m) * 20) div r"))).as("k"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .groupBy(col("event_type"), col("k"))
      .agg(sum(when(col("period") === 0, col("cnt")).otherwise(0L))
        .cast("long").as("ck_pre"),
        sum(when(col("period") === 1, col("cnt")).otherwise(0L))
          .cast("long").as("ck_post"))
    val bc = pq.join(broadcast(np), Seq("event_type"))
      .filter(col("n_pre") > 0 && col("n_post") > 0)
      .groupBy(col("event_type"))
      .agg(sum(floor(sqrt(
        (col("ck_pre").cast("double") / col("n_pre"))
          * (col("ck_post").cast("double") / col("n_post")))
        * 1000000000L + 0.5).cast("long")).cast("long").as("bc9"))
    bc.join(broadcast(np), Seq("event_type"))
      .select(col("event_type"), col("n_pre"), col("n_post"),
        (floor((col("bc9").cast("double") / 1000000000L) * 1000000L + 0.5)
          / 1000000L).as("bhattacharyya"),
        (floor(sqrt(greatest(lit(0),
          lit(1) - col("bc9").cast("double") / 1000000000L))
          * 1000000L + 0.5) / 1000000L).as("hellinger"))
  }

  /** Two-sample Cramér–von Mises criterion on the q153 A/B split —
    * T = (n·m/N²)·Σ_z t_z·(F(z) − G(z))² over the pooled distinct
    * values. KS (q153) reports the single largest CDF gap; CvM
    * integrates the squared gap over the WHOLE distribution, so a
    * drift spread thinly across the range (which KS under-weights)
    * still registers. Same split, same cells — a dashboard shows the
    * pair.
    *
    * Exactness: the CDF gap cross-multiplies exact ints (c1·nb −
    * c2·na, decimal — reaches N²); the squared normalized gap
    * quantizes to 1e-9 and weights by the exact pooled cell count in
    * decimal (order-free); the final (n·m/N²) scaling is one double
    * chain floored 1e-6.
    *
    * Scale shape: one events pass → score cells; ONE two-phase
    * range-partitioned prefix carries both CDFs (the q153 device);
    * everything after is cell-frame algebra. */
  val q258CvmDrift: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT value AS score, CAST(event_id % 2 AS BIGINT) AS grp
      |  FROM events),
      |g AS (
      |  SELECT score,
      |    CAST(sum(1 - grp) AS BIGINT) AS n1,
      |    CAST(sum(grp) AS BIGINT) AS n2
      |  FROM t GROUP BY 1),
      |c AS (
      |  SELECT score, n1, n2,
      |    CAST(sum(n1) OVER (ORDER BY score) AS BIGINT) AS c1,
      |    CAST(sum(n2) OVER (ORDER BY score) AS BIGINT) AS c2
      |  FROM g),
      |tot AS (
      |  SELECT CAST(sum(n1) AS BIGINT) AS na, CAST(sum(n2) AS BIGINT)
      |    AS nb
      |  FROM g),
      |s AS (
      |  SELECT na, nb,
      |    sum(CAST(n1 + n2 AS HUGEINT)
      |      * CAST(floor(((CAST(c1 * CAST(nb AS HUGEINT)
      |            - c2 * CAST(na AS HUGEINT) AS DOUBLE)
      |          / na / nb)
      |        * (CAST(c1 * CAST(nb AS HUGEINT)
      |            - c2 * CAST(na AS HUGEINT) AS DOUBLE) / na / nb))
      |        * 1000000000 + 0.5) AS BIGINT)) AS s9
      |  FROM c CROSS JOIN tot GROUP BY 1, 2)
      |SELECT na AS n_a, nb AS n_b,
      |  floor(((CAST(na AS DOUBLE) * nb
      |      / ((CAST(na AS DOUBLE) + nb) * (CAST(na AS DOUBLE) + nb)))
      |    * (CAST(s9 AS DOUBLE) / 1000000000)) * 1000000 + 0.5)
      |    / 1000000 AS cvm_t
      |FROM s""".stripMargin
  ) { (s, d) =>
    val g = Tables.events(s, d)
      .select(col("value").as("score"),
        (col("event_id") % 2).cast("long").as("grp"))
      .groupBy(col("score"))
      .agg(sum(lit(1L) - col("grp")).as("n1"), sum(col("grp")).as("n2"))
    val c = Kernels.groupedPrefixSums(g, Seq.empty,
      Seq(col("score")),
      Seq((col("n1"), "c1", Some("na")), (col("n2"), "c2", Some("nb"))))
    // normalized CDF gap per cell: exact decimal cross-product, one
    // double division chain, squared and quantized 1e-9
    val gap = (dec(col("c1")) * col("nb") - dec(col("c2")) * col("na"))
      .cast("double") / col("na") / col("nb")
    val sRow = c.groupBy(col("na"), col("nb"))
      .agg(sum(dec(col("n1") + col("n2"))
        * floor((gap * gap) * 1000000000L + 0.5)).as("s9"))
    sRow.select(col("na").as("n_a"), col("nb").as("n_b"),
      (floor(((col("na").cast("double") * col("nb")
        / ((col("na").cast("double") + col("nb"))
          * (col("na").cast("double") + col("nb"))))
        * (col("s9").cast("double") / 1000000000L)) * 1000000L + 0.5)
        / 1000000L).as("cvm_t"))
  }

  /** Maximum mean discrepancy (RBF kernel) between each event type's
    * early-half and late-half value distributions — the kernel
    * two-sample test (Gretton et al. 2012) beside the CDF family
    * (q153 KS, q258 CvM), the bin family (q187 PSI, q206 JSD, q235
    * Hellinger), and the transport family (q201 Wasserstein): MMD
    * weighs distribution SHAPE through a smooth kernel, so it sees
    * multi-modal drift that CDF suprema underweight. Split at the
    * global midpoint day (temporal drift, unlike q153's parity A/A);
    * values land in 64 equi-width bins over each type's own cents
    * range, and the bandwidth is fixed at range/8, which makes the
    * kernel exp(-(bi-bj)^2/128) — a pure bin-index function, no
    * float bandwidth anywhere (stated design).
    *
    * Exactness: bin assignment is pure integer math; per-bin
    * frequency gaps quantize to 1e-12 int; each of the <= 64^2 pair
    * terms quantizes to 1e-12 before the integer sum; MMD^2 reports
    * on the 1e-9 grid (the statistic is ~1e-4-sized). Types seen on
    * only one side of the split are excluded (stated).
    *
    * Scale shape: ONE events pass -> (type, bin) cells; the pair
    * sweep is a 64x64 cell self-join per type — metadata. The only
    * broadcast is the per-type min/max/split frame. */
  val q284MmdDrift: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |sp AS (
      |  SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
      |mm AS (
      |  SELECT t, min(v) AS mn, max(v) - min(v) + 1 AS r FROM ev
      |  GROUP BY 1),
      |bc AS (
      |  SELECT ev.t, (ev.v - mm.mn) * 64 // mm.r AS b,
      |    CAST(sum(CASE WHEN ev.day <= sp.mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN ev.day > sp.mid THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM ev JOIN mm ON mm.t = ev.t CROSS JOIN sp
      |  GROUP BY 1, 2),
      |nn AS (
      |  SELECT t, CAST(sum(ca) AS BIGINT) AS na,
      |    CAST(sum(cb) AS BIGINT) AS nb
      |  FROM bc GROUP BY 1),
      |dd AS (
      |  SELECT bc.t, bc.b,
      |    CAST(floor((CAST(bc.ca AS DOUBLE) / nn.na
      |      - CAST(bc.cb AS DOUBLE) / nn.nb) * 1000000000000 + 0.5)
      |      AS BIGINT) AS dg
      |  FROM bc JOIN nn ON nn.t = bc.t
      |  WHERE nn.na > 0 AND nn.nb > 0),
      |pw AS (
      |  SELECT a.t,
      |    CAST(floor(CAST(a.dg AS DOUBLE) * b.dg
      |      * exp(-CAST((a.b - b.b) * (a.b - b.b) AS DOUBLE) / 128)
      |      / 1000000000000 + 0.5) AS BIGINT) AS t12
      |  FROM dd a JOIN dd b ON b.t = a.t),
      |ag AS (
      |  SELECT t, CAST(sum(t12) AS BIGINT) AS s12 FROM pw GROUP BY 1)
      |SELECT ag.t AS event_type, nn.na AS n_early, nn.nb AS n_late,
      |  floor(CAST(s12 AS DOUBLE) / 1000000000000 * 1000000000 + 0.5)
      |    / 1000000000 AS mmd2
      |FROM ag JOIN nn ON nn.t = ag.t""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type").as("t"),
      epochDay(unix_micros(col("ts"))).as("day"),
      floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .cache() // one pass: split scalar, ranges, and bins reuse it
    val sp = ev.agg(call_function("div",
      min(col("day")) + max(col("day"))
        - pmod(min(col("day")) + max(col("day")), lit(2L)),
      lit(2L)).as("mid"))
    val mm = ev.groupBy(col("t"))
      .agg(min(col("v")).as("mn"), (max(col("v")) - min(col("v")) + 1)
        .as("r"))
    val bc = ev.join(broadcast(mm.withColumnRenamed("t", "tm")),
        col("tm") === col("t"))
      .crossJoin(broadcast(sp))
      .groupBy(col("t"), call_function("div",
        (col("v") - col("mn")) * 64
          - pmod((col("v") - col("mn")) * 64, col("r")), col("r"))
        .as("b"))
      .agg(sum(when(col("day") <= col("mid"), 1).otherwise(0))
          .cast("long").as("ca"),
        sum(when(col("day") > col("mid"), 1).otherwise(0))
          .cast("long").as("cb"))
      .cache() // totals and gap cells reuse the bin frame
    val nn = bc.groupBy(col("t"))
      .agg(sum(col("ca")).cast("long").as("na"),
        sum(col("cb")).cast("long").as("nb"))
    val dd = bc.join(nn.withColumnRenamed("t", "tn"),
        col("tn") === col("t"))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("t"), col("b"),
        floor((col("ca").cast("double") / col("na")
          - col("cb").cast("double") / col("nb")) * 1000000000000L + 0.5)
          .cast("long").as("dg"))
    val b2 = dd.toDF("t2", "bb", "dg2")
    val ag = dd.join(b2, col("t2") === col("t"))
      .select(col("t"),
        floor(col("dg").cast("double") * col("dg2")
          * exp(-((col("b") - col("bb")) * (col("b") - col("bb")))
            .cast("double") / 128)
          / 1000000000000L + 0.5).cast("long").as("t12"))
      .groupBy(col("t")).agg(sum(col("t12")).cast("long").as("s12"))
    ag.join(nn, ag("t") === nn("t"))
      .select(ag("t").as("event_type"), col("na").as("n_early"),
        col("nb").as("n_late"),
        (floor(col("s12").cast("double") / 1000000000000L
          * 1000000000L + 0.5) / 1000000000L).as("mmd2"))
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

  val all: Map[String, QueryDef] = Map(
    "q97_group_regression" -> q97GroupRegression,
    "q105_mad_outliers" -> q105MadOutliers,
    "q134_gini" -> q134Gini,
    "q135_weighted_median" -> q135WeightedMedian,
    "q189_trimmed_mean" -> q189TrimmedMean,
    "q241_hill_tail" -> q241HillTail,
    "q255_eb_shrinkage" -> q255EbShrinkage,
    "q256_mahalanobis" -> q256Mahalanobis,
    "q257_gumbel_maxima" -> q257GumbelMaxima,
    "q270_partial_corr" -> q270PartialCorr,
    "q184_mutual_info" -> q184MutualInfo,
    "q200_spearman" -> q200Spearman,
    "q204_kendall_tau" -> q204KendallTau,
    "q212_theil_u" -> q212TheilU,
    "q224_cramers_v" -> q224CramersV,
    "q113_benford" -> q113Benford,
    "q188_benford" -> q188Benford,
    "q205_mann_whitney" -> q205MannWhitney,
    "q220_anova" -> q220Anova,
    "q232_kruskal_wallis" -> q232KruskalWallis,
    "q236_cohens_d" -> q236CohensD,
    "q237_brown_forsythe" -> q237BrownForsythe,
    "q246_cochran_armitage" -> q246CochranArmitage,
    "q248_cliffs_delta" -> q248CliffsDelta,
    "q259_jonckheere" -> q259Jonckheere,
    "q260_kendalls_w" -> q260KendallsW,
    "q262_cochrans_q" -> q262CochransQ,
    "q264_k_sample_ad" -> q264KSampleAd,
    "q276_jarque_bera" -> q276JarqueBera,
    "q287_grubbs" -> q287Grubbs,
    "q296_count_dispersion" -> q296CountDispersion,
    "q137_wilson_ci" -> q137WilsonCi,
    "q176_conformal_interval" -> q176ConformalInterval,
    "q251_delong_auc" -> q251DelongAuc,
    "q252_ratio_delta_ci" -> q252RatioDeltaCi,
    "q254_bh_fdr" -> q254BhFdr,
    "q117_chi2_drift" -> q117Chi2Drift,
    "q153_ks_drift" -> q153KsDrift,
    "q187_psi_drift" -> q187PsiDrift,
    "q201_wasserstein" -> q201Wasserstein,
    "q202_quantile_normalize" -> q202QuantileNormalize,
    "q207_t_closeness" -> q207TCloseness,
    "q235_hellinger_drift" -> q235HellingerDrift,
    "q258_cvm_drift" -> q258CvmDrift,
    "q284_mmd_drift" -> q284MmdDrift,
    "q288_qq_drift_fit" -> q288QqDriftFit)
}
