package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.dec

/** Round-12 tranche three: the remaining distributional tests and
  * design-of-experiments panels — Cramér–von Mises (the WHOLE-CDF
  * companion to q153's KS max-gap on the same A/B split: KS sees one
  * point of divergence, CvM integrates all of it), Jonckheere–Terpstra
  * (the ORDERED-alternative k-group test: q232's Kruskal-Wallis asks
  * "do months differ", JT asks "do they trend"), Kendall's W (do the
  * sources AGREE on the head-vocabulary ranking — the concordance
  * behind trusting corpus-global token budgets), Chapman
  * capture-recapture (estimate the true user population from two
  * activity samples, with the truth printed beside it — the estimator
  * audits itself), Cochran's Q (do three binary quality heuristics
  * flag the SAME docs or different ones), a minimum-detectable-effect
  * / required-sample-size panel for the md5 A/B split (the number a
  * team reads BEFORE launching the experiment q104/q243 analyze), and
  * the k-sample Anderson–Darling test (the tail-sensitive k-group
  * distributional test beside q232's location-only H).
  *
  * House conventions: one data pass → cells; rank/CDF walks on
  * value-range- or time-range-bounded cell frames (two-phase prefix
  * where pooled); count products in decimal(38,0)/HUGEINT; IEEE
  * chains in identical op order both engines, quantized before any
  * order-dependent sum; irrational constants are shared literals.
  */
object AnalyticsOps15 {

  private val Z975 = 1.959963984540054
  /** z for 80% power (Φ⁻¹(0.8)) — shared literal. */
  private val Z80 = 0.8416212335729143

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
    val c = AnalyticsOps2.groupedPrefixSums(g, Seq.empty,
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
    val top = AnalyticsOps2.topKByCount(
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

  /** Chapman capture-recapture estimate of the active user population
    * from two activity samples (even- vs odd-calendar-day users), with
    * the TRUE distinct count printed beside it — the estimator audits
    * itself on this data. The production use is populations you can't
    * enumerate (the user base behind sampled logs, vocabulary behind
    * sampled shards): Chapman's (n1+1)(n2+1)/(m+1) − 1 is the
    * bias-corrected Lincoln-Petersen, with its standard SE.
    *
    * Exactness: the three counts are exact (one pass → per-user
    * even/odd flags → conditional counts); the estimate and SE are
    * one double chain each, floored 1e-6. m = 0 still works (the +1
    * correction IS the guard — stated).
    *
    * Scale shape: one events pass → per-user flag cells (data-sized
    * groupBy on the natural key) → one 4-number aggregate. */
  val q261CaptureRecapture: QueryDef = QueryDef.withOracle(
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN date_part('day', CAST(ts AS DATE)) % 2 = 0
      |      THEN 1 ELSE 0 END) AS e,
      |    max(CASE WHEN date_part('day', CAST(ts AS DATE)) % 2 = 1
      |      THEN 1 ELSE 0 END) AS o
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT CAST(sum(e) AS BIGINT) AS n1, CAST(sum(o) AS BIGINT) AS n2,
      |    CAST(sum(e * o) AS BIGINT) AS m,
      |    CAST(count(*) AS BIGINT) AS n_true
      |  FROM u)
      |SELECT n1 AS n_even, n2 AS n_odd, m AS n_both, n_true,
      |  floor(((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1)
      |    * 1000000 + 0.5) / 1000000 AS n_hat,
      |  floor(sqrt((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m)
      |      * (n2 - m))
      |    / ((CAST(m + 1 AS DOUBLE) * (m + 1)) * (m + 2)))
      |    * 1000000 + 0.5) / 1000000 AS se
      |FROM c""".stripMargin
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .select(col("user_id"),
        (dayofmonth(to_date(col("ts"))) % 2 === 0).cast("long").as("ef"),
        (dayofmonth(to_date(col("ts"))) % 2 === 1).cast("long").as("of"))
      .groupBy(col("user_id"))
      .agg(max(col("ef")).as("e"), max(col("of")).as("o"))
    val c = u.agg(sum(col("e")).cast("long").as("n1"),
      sum(col("o")).cast("long").as("n2"),
      sum(col("e") * col("o")).cast("long").as("m"),
      count(lit(1)).as("n_true"))
    c.select(col("n1").as("n_even"), col("n2").as("n_odd"),
      col("m").as("n_both"), col("n_true"),
      (floor((((col("n1") + 1).cast("double") * (col("n2") + 1))
        / (col("m") + 1) - 1) * 1000000L + 0.5) / 1000000L).as("n_hat"),
      (floor(sqrt(((col("n1") + 1).cast("double") * (col("n2") + 1)
        * (col("n1") - col("m")) * (col("n2") - col("m")))
        / (((col("m") + 1).cast("double") * (col("m") + 1))
          * (col("m") + 2))) * 1000000L + 0.5) / 1000000L).as("se"))
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

  /** Minimum-detectable-effect / required-sample panel for the md5
    * A/B split — the number a team reads BEFORE launching the
    * experiment q104 analyzes and q243 monitors: at α = 5% (two-
    * sided) and 80% power, what absolute/relative purchase-rate lift
    * is detectable with arm B's current volume, and how many days
    * until a 5%-relative lift becomes detectable. Standard normal-
    * approximation design formulas (z_{α/2} + z_β factors as shared
    * literals).
    *
    * Exactness: counts are exact; every reported number is one IEEE
    * chain on exact ints, floored 1e-6; the day horizon is an exact
    * integer ceil. Degenerate base rates (0 or 1) degrade the panel
    * to zeros (stated).
    *
    * Scale shape: ONE events pass → (arm, day) cells (the q243
    * frame) → a 1-row chain. */
  val q263MdePower: QueryDef = QueryDef.withOracle(
    s"""WITH ev AS (
      |  SELECT CASE WHEN ('0x' || substring(md5(CAST(user_id AS
      |      VARCHAR)), 1, 15))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END
      |      AS arm,
      |    CAST(ts AS DATE) AS day,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |cell AS (
      |  SELECT arm, day, count(*) AS n, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev GROUP BY 1, 2),
      |m AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 'A' THEN n ELSE 0 END) AS BIGINT)
      |      AS na,
      |    CAST(sum(CASE WHEN arm = 'A' THEN k ELSE 0 END) AS BIGINT)
      |      AS ka,
      |    CAST(sum(CASE WHEN arm = 'B' THEN n ELSE 0 END) AS BIGINT)
      |      AS nb,
      |    CAST(count(DISTINCT CASE WHEN arm = 'B' THEN day END)
      |      AS BIGINT) AS days
      |  FROM cell),
      |p AS (
      |  SELECT na, ka, nb, days, CAST(ka AS DOUBLE) / na AS pb
      |  FROM m)
      |SELECT na AS n_a, nb AS n_b, days AS n_days,
      |  floor(pb * 1000000 + 0.5) / 1000000 AS p_base,
      |  CASE WHEN ka = 0 OR ka = na THEN CAST(0 AS DOUBLE)
      |    ELSE floor((($Z975 + $Z80) * sqrt(2 * pb * (1 - pb) / nb))
      |      * 1000000 + 0.5) / 1000000 END AS mde_abs,
      |  CASE WHEN ka = 0 OR ka = na THEN CAST(0 AS DOUBLE)
      |    ELSE floor((($Z975 + $Z80) * sqrt(2 * pb * (1 - pb) / nb)
      |      / pb) * 1000000 + 0.5) / 1000000 END AS mde_rel,
      |  CASE WHEN ka = 0 OR ka = na THEN CAST(0 AS BIGINT)
      |    ELSE CAST(ceil(2 * pb * (1 - pb)
      |      * (($Z975 + $Z80) * ($Z975 + $Z80))
      |      / ((0.05 * pb) * (0.05 * pb))) AS BIGINT) END
      |    AS n_req_per_arm,
      |  CASE WHEN ka = 0 OR ka = na OR nb = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(ceil(2 * pb * (1 - pb)
      |      * (($Z975 + $Z80) * ($Z975 + $Z80))
      |      / ((0.05 * pb) * (0.05 * pb))
      |      / (CAST(nb AS DOUBLE) / days)) AS BIGINT) END
      |    AS days_required
      |FROM p""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(when(expr(
        "conv(substring(md5(cast(user_id AS string)), 1, 15), 16, 10)")
        .cast("long") % 2 === 0, lit("A")).otherwise(lit("B")).as("arm"),
        to_date(col("ts")).as("day"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("arm"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"))
    val m = ev.agg(
      sum(when(col("arm") === "A", col("n")).otherwise(0L))
        .cast("long").as("na"),
      sum(when(col("arm") === "A", col("k")).otherwise(0L))
        .cast("long").as("ka"),
      sum(when(col("arm") === "B", col("n")).otherwise(0L))
        .cast("long").as("nb"),
      countDistinct(when(col("arm") === "B", col("day")))
        .cast("long").as("days"))
    val pb = col("ka").cast("double") / col("na")
    val zsum = lit(Z975) + lit(Z80)
    val degenerate = col("ka") === 0 || col("ka") === col("na")
    val mdeAbs = zsum * sqrt(lit(2) * pb * (lit(1) - pb) / col("nb"))
    val nReq = lit(2) * pb * (lit(1) - pb) * (zsum * zsum) /
      ((lit(0.05) * pb) * (lit(0.05) * pb))
    m.select(col("na").as("n_a"), col("nb").as("n_b"),
      col("days").as("n_days"),
      (floor(pb * 1000000L + 0.5) / 1000000L).as("p_base"),
      when(degenerate, lit(0.0))
        .otherwise(floor(mdeAbs * 1000000L + 0.5) / 1000000L)
        .as("mde_abs"),
      when(degenerate, lit(0.0))
        .otherwise(floor(mdeAbs / pb * 1000000L + 0.5) / 1000000L)
        .as("mde_rel"),
      when(degenerate, lit(0L))
        .otherwise(ceil(nReq).cast("long")).as("n_req_per_arm"),
      when(degenerate || col("nb") === 0, lit(0L))
        .otherwise(ceil(nReq / (col("nb").cast("double") / col("days")))
          .cast("long")).as("days_required"))
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
    val gw = AnalyticsOps2.groupedPrefixSums(g, Seq.empty,
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

  val all: Map[String, QueryDef] = Map(
    "q258_cvm_drift" -> q258CvmDrift,
    "q259_jonckheere" -> q259Jonckheere,
    "q260_kendalls_w" -> q260KendallsW,
    "q261_capture_recapture" -> q261CaptureRecapture,
    "q262_cochrans_q" -> q262CochransQ,
    "q263_mde_power" -> q263MdePower,
    "q264_k_sample_ad" -> q264KSampleAd
  )
}
