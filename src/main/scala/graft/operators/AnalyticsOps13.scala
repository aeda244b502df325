package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.dec

/** Round-12 tranche one: effect sizes, ranking stability, change-point
  * detection, and uncertainty quantification for the evaluation suite —
  * Cliff's delta (the ordinal effect size that pairs with q205's
  * Mann-Whitney test and q236's parametric d), rank-biased overlap (how
  * STABLE is a top-k ranking across corpus halves — the list-similarity
  * metric beside q214/q222 which score lists against relevance), the
  * Pettitt change-point test (the nonparametric "did the level shift,
  * and WHEN" beside q173's CUSUM and q192's Mann-Kendall trend), DeLong
  * standard error + CI for ROC-AUC (q115 reports the point estimate;
  * a model gate needs the interval), the delta-method CI for a ratio
  * metric (THE experimentation workhorse for revenue-per-event style
  * metrics, beside q172's CUPED), and a simplified silhouette over the
  * embedding labels (are the labeled clusters SEPARABLE in embedding
  * space — the geometry check beside q146's label-purity view).
  *
  * House conventions (the q200/q205 device): ONE data pass collapses
  * rows to cells; rank/prefix walks ride cell frames (value-range- or
  * time-range-bounded metadata, or the two-phase prefix for pooled
  * walks); count products accumulate in decimal(38,0)/HUGEINT; IEEE
  * double chains are written in identical op order in engine and
  * oracle and quantized to a fixed grid before any order-dependent
  * sum.
  */
object AnalyticsOps13 {

  /** z for two-sided 95% intervals — the same literal in engine and
    * oracle (the ln-19 convention of q243). */
  private val Z95 = 1.959963984540054

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

  /** RBO weights p^(d−1) at p = 0.9, quantized to a 1e-9 int grid
    * DRIVER-SIDE and embedded as literals in BOTH engines (the ln-19
    * device of q243): cross-engine pow() parity is not guaranteed, a
    * shared literal table is. */
  private val RboK = 50
  private val RboWeights: Seq[(Int, Long)] = (1 to RboK).map(dd =>
    (dd, math.floor(math.pow(0.9, dd - 1) * 1e9 + 0.5).toLong))

  /** Rank-biased overlap (Webber 2010, p = 0.9) between the top-50
    * word rankings of the corpus's two doc_id-parity halves — "is the
    * vocabulary ranking STABLE under resampling": RBO near 1 says the
    * head vocabulary is a property of the corpus, near 0 says the
    * top-k is sampling noise and any tokenizer-budget decision built
    * on it (q39/q210) is fragile. Top-weighted by construction — the
    * d-th depth contributes (1−p)p^(d−1)·|A_d ∩ B_d|/d.
    *
    * Exactness: both rankings are exact integer counts with word
    * tiebreak; the agreement curve a_d = #{word: max(rank_a, rank_b)
    * ≤ d} is pure integer counting; each depth term quantizes p9·a_d/d
    * to the 1e-9 grid and int-sums (order-free); the final (1−p)
    * scaling is one double op, floored 1e-6.
    *
    * Scale shape: ONE tokenization pass → per-word conditional counts
    * for both halves (the q210 device); each top-50 pick is
    * limit-then-rank (TakeOrderedAndProject, map-side capped); the
    * agreement join and depth sweep run on ≤50-row frames. */
  val q249Rbo: QueryDef = QueryDef.withOracle(
    s"""WITH tok AS (
      |  SELECT doc_id % 2 = 0 AS h,
      |    unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |cells AS (
      |  SELECT word,
      |    CAST(sum(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN h THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM tok GROUP BY 1),
      |ta AS (
      |  SELECT word, rn AS ra FROM (
      |    SELECT word, row_number() OVER (ORDER BY ca DESC, word) AS rn
      |    FROM cells WHERE ca > 0) WHERE rn <= $RboK),
      |tb AS (
      |  SELECT word, rn AS rb FROM (
      |    SELECT word, row_number() OVER (ORDER BY cb DESC, word) AS rn
      |    FROM cells WHERE cb > 0) WHERE rn <= $RboK),
      |m AS (
      |  SELECT CASE WHEN ra >= rb THEN ra ELSE rb END AS mx
      |  FROM ta JOIN tb USING (word)),
      |wt(d, p9) AS (VALUES ${RboWeights.map { case (dd, p9) =>
        s"($dd, ${p9})" }.mkString(", ")}),
      |ad AS (
      |  SELECT wt.d, wt.p9, count(m.mx) AS a_d
      |  FROM wt LEFT JOIN m ON m.mx <= wt.d GROUP BY 1, 2),
      |t AS (
      |  SELECT CAST(sum(CAST(floor(CAST(p9 AS DOUBLE) * a_d / d + 0.5)
      |    AS BIGINT)) AS BIGINT) AS s9,
      |    CAST(max(CASE WHEN d = $RboK THEN a_d END) AS BIGINT) AS a_k
      |  FROM ad),
      |na AS (SELECT count(*) AS n_a FROM ta),
      |nb AS (SELECT count(*) AS n_b FROM tb)
      |SELECT n_a, n_b, a_k AS overlap_at_k,
      |  floor((0.1 * (CAST(s9 AS DOUBLE) / 1000000000))
      |    * 1000000 + 0.5) / 1000000 AS rbo
      |FROM t CROSS JOIN na CROSS JOIN nb""".stripMargin
  ) { (s, d) =>
    val cells = Tables.documents(s, d)
      .select((col("doc_id") % 2 === 0).as("h"),
        explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("word"))
      .agg(sum(when(col("h"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("h"), 0L).otherwise(1L)).as("cb"))
      .cache() // one tokenization pass feeds both half-rankings
    val ta = AnalyticsOps2.topKByCount(cells.filter(col("ca") > 0),
      Seq(col("ca").desc, col("word")), RboK, Some("ra"))
      .select(col("word"), col("ra"))
    val tb = AnalyticsOps2.topKByCount(cells.filter(col("cb") > 0),
      Seq(col("cb").desc, col("word")), RboK, Some("rb"))
      .select(col("word"), col("rb"))
    val m = ta.join(tb, Seq("word"))
      .select(greatest(col("ra"), col("rb")).as("mx"))
    val wt = s.createDataFrame(RboWeights).toDF("d", "p9")
    val ad = broadcast(wt).join(m, col("mx") <= col("d"), "left")
      .groupBy(col("d"), col("p9")).agg(count(col("mx")).as("a_d"))
    val t = ad.agg(
      sum(floor(col("p9").cast("double") * col("a_d") / col("d") + 0.5)
        .cast("long")).cast("long").as("s9"),
      max(when(col("d") === RboK, col("a_d"))).cast("long").as("a_k"))
    val na = ta.agg(count(lit(1)).as("n_a"))
    val nb = tb.agg(count(lit(1)).as("n_b"))
    t.crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("n_a"), col("n_b"), col("a_k").as("overlap_at_k"),
        (floor((lit(0.1) * (col("s9").cast("double") / 1000000000L))
          * 1000000L + 0.5) / 1000000L).as("rbo"))
  }

  /** Pettitt change-point test on daily order revenue — the
    * nonparametric "did the level SHIFT, and on which day" (Pettitt
    * 1979): U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j) via midranks, K =
    * max|U_t|, with the standard p ≈ 2·exp(−6K²/(T³+T²)). Completes
    * the monitoring triad: q173's CUSUM needs a known baseline,
    * q192's Mann-Kendall detects monotone TREND; Pettitt localizes a
    * single abrupt shift with no distributional assumption.
    *
    * Exactness: daily revenues are exact cents sums; midranks use the
    * doubled-rank device (r2 = 2·cum − t + 1, integral under ties —
    * the q205/q232 convention), and since Pettitt's rank identity is
    * U_t = 2·S_t − t(T+1), the doubled ranks cancel the 2 exactly:
    * u2 = Σr2 − t(T+1) IS U_t, pure int64 algebra (|U| ≤ T², safe to
    * T ≈ 3e9 days); the arg-max day is TakeOrdered(1) with (|U| desc,
    * day) tiebreak; the p-approximation is one exp() chain floored
    * 1e-9.
    *
    * Scale shape: ONE orders pass → ≤|days| daily cells (time-range-
    * bounded metadata); the rank and prefix windows ride that
    * metadata frame (named exemption, the q243 argument). */
  val q250Pettitt: QueryDef = QueryDef.withOracle(
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |vc AS (SELECT rev, count(*) AS t FROM daily GROUP BY 1),
      |vr AS (
      |  SELECT rev,
      |    2 * CAST(sum(t) OVER (ORDER BY rev) AS BIGINT) - t + 1 AS r2
      |  FROM vc),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS tn FROM daily),
      |wk AS (
      |  SELECT day,
      |    CAST(sum(r2) OVER (ORDER BY day) AS BIGINT) AS s2,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS ti
      |  FROM daily JOIN vr USING (rev)),
      |u AS (
      |  SELECT day, s2 - ti * (tn + 1) AS u2, ti, tn
      |  FROM wk CROSS JOIN tt WHERE ti < tn)
      |SELECT tn AS n_days, day AS change_day,
      |  CAST(abs(u2) AS DOUBLE) AS k_stat,
      |  floor((2 * exp(-6 * (CAST(u2 AS DOUBLE) * u2)
      |    / (CAST(tn AS DOUBLE) * tn * tn + CAST(tn AS DOUBLE) * tn)))
      |    * 1000000000 + 0.5) / 1000000000 AS p_approx
      |FROM u ORDER BY abs(u2) DESC, day LIMIT 1""".stripMargin
  ) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long").as("rev"))
      .cache() // ≤|days| cells: ranks and the walk both reuse it
    val vc = daily.groupBy(col("rev")).agg(count(lit(1)).as("t"))
    val vr = vc.withColumn("r2",
      lit(2) * sum(col("t")).over(Window.orderBy(col("rev")))
        .cast("long") - col("t") + 1)
    val tt = daily.agg(count(lit(1)).as("tn"))
    val wk = daily.join(vr.select(col("rev"), col("r2")), Seq("rev"))
      .select(col("day"),
        sum(col("r2")).over(Window.orderBy(col("day")))
          .cast("long").as("s2"),
        row_number().over(Window.orderBy(col("day")))
          .cast("long").as("ti"))
    val u = wk.crossJoin(broadcast(tt))
      .filter(col("ti") < col("tn"))
      .select(col("day"), (col("s2") - col("ti") * (col("tn") + 1))
        .as("u2"), col("tn"))
    u.orderBy(abs(col("u2")).desc, col("day")).limit(1)
      .select(col("tn").as("n_days"), col("day").as("change_day"),
        abs(col("u2")).cast("double").as("k_stat"),
        (floor((lit(2) * exp(lit(-6) * (col("u2").cast("double")
          * col("u2")) / (col("tn").cast("double") * col("tn")
          * col("tn") + col("tn").cast("double") * col("tn"))))
          * 1000000000L + 0.5) / 1000000000L).as("p_approx"))
  }

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
    val w = AnalyticsOps2.groupedPrefixSums(cell, Seq.empty,
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

  /** Simplified (centroid-based) silhouette per embedding label — "are
    * the labeled clusters SEPARABLE in embedding space": a(v) = ‖v −
    * centroid(own label)‖, b(v) = min over other labels, s = (b −
    * a)/max(a, b), averaged per label. The geometry companion to
    * q146's purity (which needs a clustering to compare against) and
    * q161's drift (which tracks centroids over time); near-zero or
    * negative mean silhouette flags labels that embedding-based
    * curation (q81) cannot possibly respect. Uses the standard
    * centroid simplification (Hruschka 2004) — O(n·k·dim), one
    * k-means-iteration cost, never the O(n²) pairwise original.
    *
    * Exactness: vector components quantize to the 1e-9 int grid
    * FIRST, so centroid sums are exact integer algebra and centroids
    * are one division each; per-(vector, label) squared distances
    * int-sum 1e-9-quantized per-dimension terms (order-free — the
    * array dimension order is fixed); s quantizes to 1e-6 and the
    * per-label mean is an exact int sum with one final division. A
    * singleton label has a = 0, s = 1 by this construction (stated;
    * sklearn's full silhouette defines 0 — the centroid variant
    * legitimately differs).
    *
    * Scale shape: one embeddings pass posexplodes to (vec, dim)
    * terms; centroids are a (label × dim) metadata aggregate joined
    * back BROADCAST on dim cells; the n·k distance frame collapses
    * map-side into per-(vec, label) sums — no shuffle carries a
    * vector twice. */
  val q253Silhouette: QueryDef = QueryDef.withOracle(
    """WITH e AS (
      |  SELECT vec_id, label,
      |    unnest(generate_series(1, len(embedding))) AS pos,
      |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000000
      |      + 0.5) AS BIGINT) AS xq
      |  FROM embeddings),
      |cent AS (
      |  SELECT label AS clabel, pos,
      |    CAST(sum(xq) AS DOUBLE) / count(*) AS c
      |  FROM e GROUP BY 1, 2),
      |d2 AS (
      |  SELECT e.vec_id, e.label, cent.clabel,
      |    CAST(sum(CAST(floor(((e.xq - cent.c) / 1000000000)
      |      * ((e.xq - cent.c) / 1000000000) * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS d9
      |  FROM e JOIN cent USING (pos) GROUP BY 1, 2, 3),
      |ab AS (
      |  SELECT vec_id, label,
      |    CAST(max(CASE WHEN clabel = label THEN d9 END) AS BIGINT) AS a9,
      |    CAST(min(CASE WHEN clabel <> label THEN d9 END) AS BIGINT) AS b9
      |  FROM d2 GROUP BY 1, 2),
      |sil AS (
      |  SELECT label,
      |    CASE WHEN b9 IS NULL OR a9 = b9 THEN CAST(0 AS BIGINT)
      |      ELSE CAST(floor(((sqrt(CAST(b9 AS DOUBLE) / 1000000000)
      |          - sqrt(CAST(a9 AS DOUBLE) / 1000000000))
      |        / (CASE WHEN a9 >= b9
      |            THEN sqrt(CAST(a9 AS DOUBLE) / 1000000000)
      |            ELSE sqrt(CAST(b9 AS DOUBLE) / 1000000000) END))
      |        * 1000000 + 0.5) AS BIGINT) END AS s6
      |  FROM ab)
      |SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
      |  floor((CAST(sum(s6) AS DOUBLE) / count(*) / 1000000)
      |    * 1000000 + 0.5) / 1000000 AS mean_silhouette
      |FROM sil GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"), col("label"),
        (col("pos0") + 1).as("pos"),
        floor(col("x").cast("double") * 1000000000L + 0.5)
          .cast("long").as("xq"))
      .cache() // one embeddings pass; centroids and distances reuse it
    val cent = e.groupBy(col("label").as("clabel"), col("pos"))
      .agg((sum(col("xq")).cast("double") / count(lit(1))).as("c"))
    val d2 = e.join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum(floor(((col("xq") - col("c")) / 1000000000L)
        * ((col("xq") - col("c")) / 1000000000L) * 1000000000L + 0.5)
        .cast("long")).cast("long").as("d9"))
    val ab = d2.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("d9")))
        .cast("long").as("a9"),
        min(when(col("clabel") =!= col("label"), col("d9")))
          .cast("long").as("b9"))
    val ad = sqrt(col("a9").cast("double") / 1000000000L)
    val bd = sqrt(col("b9").cast("double") / 1000000000L)
    // b9 null = single-label corpus (no "other" centroid): degrade to 0
    val sil = ab.select(col("label"),
      when(col("b9").isNull || col("a9") === col("b9"), lit(0L))
        .otherwise(floor(((bd - ad)
          / when(col("a9") >= col("b9"), ad).otherwise(bd))
          * 1000000L + 0.5).cast("long")).as("s6"))
    sil.groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"),
        (floor((sum(col("s6")).cast("double") / count(lit(1))
          / 1000000L) * 1000000L + 0.5) / 1000000L)
          .as("mean_silhouette"))
  }

  val all: Map[String, QueryDef] = Map(
    "q248_cliffs_delta" -> q248CliffsDelta,
    "q249_rbo" -> q249Rbo,
    "q250_pettitt" -> q250Pettitt,
    "q251_delong_auc" -> q251DelongAuc,
    "q252_ratio_delta_ci" -> q252RatioDeltaCi,
    "q253_silhouette" -> q253Silhouette
  )
}
