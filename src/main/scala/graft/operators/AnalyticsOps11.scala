package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.dec

/** Round-11 tranche five: the nonparametric-inference and corpus-
  * composition block that rounds out the stats family — Kruskal-Wallis
  * (the k-group rank test beside q205's pairwise rank-sum and q220's
  * parametric ANOVA), Dunning log-likelihood keyness (the corpus-
  * linguistics "what words mark this source" beside q109's PMI),
  * Good-Turing unseen mass (the frequency-of-frequencies companion to
  * q230's Chao1 and q219's Heaps), Hellinger drift (the bounded metric
  * distance beside q206 JSD / q201 W1 / q187 PSI), Cohen's d effect
  * sizes (q104's t-test answers IS there a shift; this answers HOW BIG
  * in pooled-SD units), Brown-Forsythe variance homogeneity (the
  * robust precondition check for q220), Burrows' Delta stylometry,
  * bitmask vocabulary Jaccard, Simpson/Shannon diversity, and the Hill
  * tail-index (the upper-tail exponent beside q129's Zipf fit).
  *
  * House conventions throughout (the q200/q205 device): ONE data pass
  * collapses rows to (group, value) cells; every rank walk and window
  * rides the cell frame (value-cardinality-sized, never data-sized);
  * count algebra accumulates in decimal(38,0)/HUGEINT; IEEE double
  * chains are written in identical op order in engine and oracle and
  * quantized to a fixed-point grid BEFORE any order-dependent sum.
  */
object AnalyticsOps11 {

  /** Pre/post split instant shared with q172/q187 (AnalyticsOps6) so
    * the drift family reads the same two periods. */
  private val PreEnd = 1705363200000000L

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
    val w = AnalyticsOps2.groupedPrefixSums(tv, Seq.empty,
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

  /** Dunning log-likelihood (G²) keyness: the top-10 words that mark
    * each source against the rest of the corpus — the corpus-
    * linguistics standard (Dunning 1993) for "what is this source
    * ABOUT", robust at low counts where q109's PMI explodes. Only
    * over-represented words (a·N > n_g·m_w, an exact integer test)
    * are ranked: keyness reads "characteristic of", not "absent from".
    *
    * Exactness: all four 2×2 cells and margins are exact int64 counts;
    * G² = 2·Σ o·ln(o/e) over the four cells (zero-count terms are 0 by
    * the x·ln x → 0 limit) is ONE double chain per (source, word) row
    * — no cross-row float sum anywhere — quantized to 1e-6; ranking
    * orders by (g2 desc, word) so ties are deterministic.
    *
    * Scale shape: ONE tokenization pass → (source, word) cells; word
    * margins are a second agg over cells joined back ON word (vocab-
    * sized shuffle, never data-sized); source margins and the grand
    * total ride a broadcast ≤|sources| frame; the top-10 window
    * partitions by source over the quantized score. */
  val q233LlrKeyness: QueryDef = QueryDef.withOracle(
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |c AS (SELECT source, word, count(*) AS a FROM tok GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(a) AS BIGINT) AS ng FROM c GROUP BY 1),
      |mw AS (SELECT word, CAST(sum(a) AS BIGINT) AS mw FROM c GROUP BY 1),
      |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n FROM c),
      |sc AS (
      |  SELECT c.source, c.word, c.a, ns.ng, mw.mw, tot.n,
      |    mw.mw - c.a AS b, ns.ng - c.a AS cc,
      |    tot.n - mw.mw - ns.ng + c.a AS dd
      |  FROM c JOIN ns USING (source) JOIN mw USING (word) CROSS JOIN tot
      |  WHERE CAST(c.a AS HUGEINT) * tot.n
      |    > CAST(ns.ng AS HUGEINT) * mw.mw),
      |g2 AS (
      |  SELECT source, word, a,
      |    floor(2 * (
      |      CASE WHEN a = 0 THEN 0 ELSE a * ln(CAST(a AS DOUBLE) * n
      |        / (CAST(ng AS DOUBLE) * mw)) END
      |      + CASE WHEN b = 0 THEN 0 ELSE b * ln(CAST(b AS DOUBLE) * n
      |        / (CAST(n - ng AS DOUBLE) * mw)) END
      |      + CASE WHEN cc = 0 THEN 0 ELSE cc * ln(CAST(cc AS DOUBLE) * n
      |        / (CAST(ng AS DOUBLE) * (n - mw))) END
      |      + CASE WHEN dd = 0 THEN 0 ELSE dd * ln(CAST(dd AS DOUBLE) * n
      |        / (CAST(n - ng AS DOUBLE) * (n - mw))) END
      |    ) * 1000000 + 0.5) / 1000000 AS g2
      |  FROM sc)
      |SELECT source, word, a AS cnt, g2,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY source
      |        ORDER BY g2 DESC, word) AS rnk FROM g2)
      |WHERE rnk <= 10""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .select(col("source"),
        explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("a"))
      .cache() // one tokenization pass; both margins re-agg the cells
    val ns = c.groupBy(col("source")).agg(sum(col("a")).cast("long").as("ng"))
    val tot = c.agg(sum(col("a")).cast("long").as("n"))
    // word margin as a partition window over the cells themselves
    // (guide §2.4): same sum over the same cells as the old
    // groupBy(word) margin frame, but the separate margin aggregate
    // and the cell⋈margin re-shuffle collapse into the one word-keyed
    // exchange the attachment needed anyway
    val sc = c
      .withColumn("mw", sum(col("a")).over(
        Window.partitionBy(col("word"))).cast("long"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      // decimal, not int64: a·N reaches ~1e25 at fleet token counts
      .filter(dec(col("a")) * col("n") > dec(col("ng")) * col("mw"))
      .withColumn("b", col("mw") - col("a"))
      .withColumn("cc", col("ng") - col("a"))
      .withColumn("dd", col("n") - col("mw") - col("ng") + col("a"))
    def term(o: Column, num: Column, den: Column): Column =
      when(o === 0, lit(0.0))
        .otherwise(o * log(o.cast("double") * num / den))
    val g2 = sc.select(col("source"), col("word"), col("a"),
      (floor(lit(2) * (
        term(col("a"), col("n"), col("ng").cast("double") * col("mw"))
          + term(col("b"), col("n"),
            (col("n") - col("ng")).cast("double") * col("mw"))
          + term(col("cc"), col("n"),
            col("ng").cast("double") * (col("n") - col("mw")))
          + term(col("dd"), col("n"),
            (col("n") - col("ng")).cast("double") * (col("n") - col("mw")))
        ) * 1000000L + 0.5) / 1000000L).as("g2"))
    val wn = Window.partitionBy(col("source"))
      .orderBy(col("g2").desc, col("word"))
    g2.withColumn("rnk", row_number().over(wn))
      .filter(col("rnk") <= 10)
      .select(col("source"), col("word"), col("a").as("cnt"),
        col("g2"), col("rnk").cast("long").as("rnk"))
  }

  /** Good-Turing frequency-of-frequencies on word BIGRAMS: the
    * unseen-mass estimate P(next bigram is NEW) = N1/N and the
    * Turing-adjusted counts r* = (r+1)·N_{r+1}/N_r for r ≤ 5 — the
    * smoothing view beside q230's Chao1 (how many unseen TYPES) and
    * q219's Heaps (how vocab GROWS): this is exactly the mass Katz
    * backoff reserves for unseen n-grams. Bigram types, not unigrams,
    * because that is where the open tail lives (the unigram vocabulary
    * saturates — q219 measures that — leaving no r ≤ 5 band to
    * smooth; the n-gram level is also where GT is used in practice).
    * Uses q215's bigram construction so the two views agree.
    *
    * Exactness: the frequency-of-frequencies table is two exact
    * aggregations (bigram counts, then counts-of-counts); every output
    * is a ratio of exact int64s, one division each, quantized 1e-6.
    *
    * Scale shape: tokenization pass → bigram cells (type-space-sized)
    * → (r, N_r) cells (≤ max-frequency rows, metadata-sized); the
    * lead for N_{r+1} is a window over that tiny frame. */
  val q234GoodTuring: QueryDef = QueryDef.withOracle(
    """WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |b AS (
      |  SELECT toks[i] || ' ' || toks[i + 1] AS bigram
      |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
      |        FROM d WHERE len(toks) >= 2)),
      |wc AS (SELECT bigram, count(*) AS r FROM b GROUP BY 1),
      |ff AS (SELECT r, count(*) AS nr FROM wc GROUP BY 1),
      |tot AS (SELECT CAST(sum(r * nr) AS BIGINT) AS n FROM ff),
      |led AS (
      |  SELECT r, nr, lead(nr) OVER (ORDER BY r) AS nr1,
      |    lead(r) OVER (ORDER BY r) AS rnext
      |  FROM ff)
      |SELECT r, CAST(nr AS BIGINT) AS n_words,
      |  floor((CAST(r AS DOUBLE) * nr / n) * 1000000 + 0.5) / 1000000
      |    AS raw_mass,
      |  CASE WHEN rnext = r + 1
      |    THEN floor((CAST(r + 1 AS DOUBLE) * nr1 / nr) * 1000000 + 0.5)
      |      / 1000000
      |    ELSE CAST(0 AS DOUBLE) END AS gt_count
      |FROM led CROSS JOIN tot
      |WHERE r <= 5
      |UNION ALL
      |SELECT 0 AS r, CAST(0 AS BIGINT) AS n_words,
      |  floor((CAST(coalesce((SELECT nr FROM ff WHERE r = 1), 0) AS DOUBLE)
      |    / n) * 1000000 + 0.5) / 1000000 AS raw_mass,
      |  CAST(0 AS DOUBLE) AS gt_count
      |FROM tot""".stripMargin
  ) { (s, d) =>
    val wc = Tables.documents(s, d)
      .select(split(col("text"), " ", -1).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i + 1]))")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("r"))
    val ff = wc.groupBy(col("r")).agg(count(lit(1)).as("nr")).cache()
    val tot = ff.agg(sum(col("r") * col("nr")).cast("long").as("n"))
    val wn = Window.orderBy(col("r"))
    val led = ff
      .withColumn("nr1", lead(col("nr"), 1).over(wn))
      .withColumn("rnext", lead(col("r"), 1).over(wn))
    val body = led.crossJoin(broadcast(tot))
      .filter(col("r") <= 5)
      .select(col("r"), col("nr").cast("long").as("n_words"),
        (floor((col("r").cast("double") * col("nr") / col("n"))
          * 1000000L + 0.5) / 1000000L).as("raw_mass"),
        when(col("rnext") === col("r") + 1,
          floor(((col("r") + 1).cast("double") * col("nr1") / col("nr"))
            * 1000000L + 0.5) / 1000000L)
          .otherwise(lit(0.0)).as("gt_count"))
    val n1 = ff.filter(col("r") === 1)
      .agg(coalesce(sum(col("nr")), lit(0L)).as("n1"))
    val unseen = tot.crossJoin(broadcast(n1))
      .select(lit(0L).as("r"), lit(0L).as("n_words"),
        (floor((col("n1").cast("double") / col("n")) * 1000000L + 0.5)
          / 1000000L).as("raw_mass"),
        lit(0.0).as("gt_count"))
    body.unionByName(unseen)
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

  /** Burrows' Delta between every pair of sources — the stylometry
    * standard (Burrows 2002): z-score each source's relative frequency
    * of the corpus's top-30 words against the cross-source mean/SD,
    * then Delta(a,b) = mean |z_a − z_b|. Low Delta = same "authorial
    * fingerprint"; in a training-data pipeline it flags source pairs
    * that are the same upstream corpus under two labels (template
    * farms, mirrors) even when exact/near-dup (q40/q42) miss them
    * because the TEXTS differ — the style doesn't.
    *
    * Exactness: relative frequencies quantize to a 1e-9 int grid
    * FIRST, so the cross-source mean and population SD are exact
    * integer algebra (order-free); z quantizes to 1e-6; Delta is an
    * int sum of |z6 differences| over the marker words (30, or the
    * full vocabulary when it is smaller — the divisor is the actual
    * joined word count, not a literal), one division. A word with
    * zero cross-source variance contributes z = 0.
    *
    * Scale shape: ONE tokenization pass → (source, word) cells; the
    * top-30 pick is limit-then-rank (TakeOrderedAndProject — the
    * Heaps-bounded word margin is capped map-side, never funneled
    * through a one-reducer global rank: the r11 verdict fix) and the
    * 30-row result is broadcast; the dense 30×|sources| grid, the
    * per-word stats, and the |sources|² pair frame are all metadata-
    * sized. */
  val q238BurrowsDelta: QueryDef = QueryDef.withOracle(
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |c AS (SELECT source, word, count(*) AS a FROM tok GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(a) AS BIGINT) AS ng FROM c GROUP BY 1),
      |top AS (
      |  SELECT word FROM (
      |    SELECT word, CAST(sum(a) AS BIGINT) AS mw,
      |      row_number() OVER (ORDER BY sum(a) DESC, word) AS rk
      |    FROM c GROUP BY 1) WHERE rk <= 30),
      |f AS (
      |  SELECT ns.source, top.word,
      |    CAST(floor((CAST(coalesce(c.a, 0) AS DOUBLE) / ns.ng)
      |      * 1000000000 + 0.5) AS BIGINT) AS f9
      |  FROM ns CROSS JOIN top
      |  LEFT JOIN c ON c.source = ns.source AND c.word = top.word),
      |st AS (
      |  SELECT word, count(*) AS g, CAST(sum(f9) AS BIGINT) AS sf,
      |    sum(CAST(f9 AS HUGEINT) * f9) AS qf
      |  FROM f GROUP BY 1),
      |z AS (
      |  SELECT f.source, f.word,
      |    CASE WHEN CAST(st.g AS HUGEINT) * st.qf
      |        = CAST(st.sf AS HUGEINT) * st.sf THEN CAST(0 AS BIGINT)
      |      ELSE CAST(floor(((f.f9 - CAST(st.sf AS DOUBLE) / st.g)
      |        / sqrt((CAST(st.qf AS DOUBLE)
      |          - (CAST(st.sf AS DOUBLE) / st.g) * st.sf) / st.g))
      |        * 1000000 + 0.5) AS BIGINT) END AS z6
      |  FROM f JOIN st USING (word))
      |SELECT a.source AS source_a, b.source AS source_b,
      |  floor((CAST(sum(abs(a.z6 - b.z6)) AS DOUBLE) / count(*)
      |    / 1000000) * 1000000 + 0.5) / 1000000 AS delta
      |FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
      |GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .select(col("source"),
        explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("a"))
      .cache() // one tokenization pass; totals and the top-30 reuse it
    val ns = c.groupBy(col("source")).agg(sum(col("a")).cast("long").as("ng"))
    // limit-then-rank (r11 verdict #1): TakeOrderedAndProject caps the
    // Heaps-bounded word-margin frame map-side; the old rank-then-
    // filter hid an uncapped global row_number behind the cache
    val top = AnalyticsOps2.topKByCount(
        c.groupBy(col("word")).agg(sum(col("a")).as("mw")),
        Seq(col("mw").desc, col("word")), 30)
      .select(col("word"))
    val f = ns.crossJoin(broadcast(top))
      .join(c, Seq("source", "word"), "left")
      .select(col("source"), col("word"),
        floor((coalesce(col("a"), lit(0L)).cast("double") / col("ng"))
          * 1000000000L + 0.5).cast("long").as("f9"))
      .cache() // 30×|sources| dense grid
    val st = f.groupBy(col("word"))
      .agg(count(lit(1)).as("g"), sum(col("f9")).cast("long").as("sf"),
        sum(dec(col("f9")) * col("f9")).as("qf"))
    val z = f.join(broadcast(st), Seq("word"))
      .select(col("source"), col("word"),
        when(dec(col("g")) * col("qf") === dec(col("sf")) * col("sf"),
          lit(0L))
          .otherwise(floor(((col("f9") - col("sf").cast("double") / col("g"))
            / sqrt((col("qf").cast("double")
              - (col("sf").cast("double") / col("g")) * col("sf"))
              / col("g"))) * 1000000L + 0.5).cast("long"))
          .as("z6"))
    val za = z.toDF("source_a", "word", "za")
    val zb = z.toDF("source_b", "word", "zb")
    za.join(zb, za("word") === zb("word")
      && col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      // mean over the ACTUAL joined marker-word count (= |top|, which
      // is < 30 only when the corpus vocabulary is), not the literal
      // 30 — the r11 ADVICE small-vocabulary deflation fix
      .agg((floor((sum(abs(col("za") - col("zb"))).cast("double")
        / count(lit(1)) / 1000000L) * 1000000L + 0.5) / 1000000L)
        .as("delta"))
  }

  /** Pairwise vocabulary Jaccard between sources via a bitmask
    * rollup — "how much WORD INVENTORY do two sources share",
    * complementing q238 (style), q158/q206 (distribution shape), and
    * q141 (document-level cross-source dups). The trick is the scale
    * story: instead of a vocab×vocab self-join, each word folds to ONE
    * row carrying the bitmask of sources that use it; the mask
    * histogram (≤2^|sources| rows) then answers EVERY pair's
    * intersection by exact integer filters — the pair sweep never
    * touches the vocabulary again.
    *
    * Exactness: pure integer counting end to end; Jaccard is one
    * division, floored 1e-6.
    *
    * Scale shape: tokenization pass → (source, word) distinct cells →
    * per-word bit_or (vocab-sized agg) → mask histogram (metadata) →
    * broadcast pair × mask cross sweep (≤ |sources|²·2^|sources|
    * rows of pure metadata). Hard-guarded to ≤63 sources (bit width):
    * source #64 raises an error in BOTH engines instead of silently
    * overflowing the mask. */
  val q239VocabJaccard: QueryDef = QueryDef.withOracle(
    """WITH src AS (
      |  SELECT source,
      |    CASE WHEN row_number() OVER (ORDER BY source) - 1 > 62
      |      THEN CAST(error('q239: >63 sources overflow the bitmask')
      |        AS BIGINT)
      |      ELSE row_number() OVER (ORDER BY source) - 1 END AS bit
      |  FROM (SELECT DISTINCT source FROM documents)),
      |wm AS (
      |  SELECT t.word, CAST(bit_or(CAST(1 AS BIGINT) << src.bit) AS BIGINT) AS mask
      |  FROM (SELECT DISTINCT source, unnest(string_split(text, ' '))
      |          AS word FROM documents) t
      |  JOIN src USING (source) GROUP BY 1),
      |mh AS (SELECT mask, count(*) AS cnt FROM wm GROUP BY 1),
      |p AS (
      |  SELECT a.source AS source_a, a.bit AS ba,
      |    b.source AS source_b, b.bit AS bb
      |  FROM src a JOIN src b ON a.source < b.source),
      |agg AS (
      |  SELECT source_a, source_b,
      |    CAST(sum(CASE WHEN (mask & (CAST(1 AS BIGINT) << ba)) != 0 THEN cnt ELSE 0 END)
      |      AS BIGINT) AS va,
      |    CAST(sum(CASE WHEN (mask & (CAST(1 AS BIGINT) << bb)) != 0 THEN cnt ELSE 0 END)
      |      AS BIGINT) AS vb,
      |    CAST(sum(CASE WHEN (mask & (CAST(1 AS BIGINT) << ba)) != 0
      |      AND (mask & (CAST(1 AS BIGINT) << bb)) != 0 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS vcommon
      |  FROM p CROSS JOIN mh GROUP BY 1, 2)
      |SELECT source_a, source_b, va AS vocab_a, vb AS vocab_b,
      |  vcommon AS vocab_common,
      |  floor((CAST(vcommon AS DOUBLE) / (va + vb - vcommon))
      |    * 1000000 + 0.5) / 1000000 AS jaccard
      |FROM agg""".stripMargin
  ) { (s, d) =>
    val srcs = Tables.documents(s, d).select(col("source")).distinct()
      .withColumn("bit",
        row_number().over(Window.orderBy(col("source"))) - 1)
      // hard width guard (r11 ADVICE): a 64th source must raise, not
      // silently overflow the int64 mask — both engines throw
      .withColumn("bit", when(col("bit") > 62,
        raise_error(lit("q239: >63 sources overflow the bitmask")))
        .otherwise(col("bit")))
    val wm = Tables.documents(s, d)
      .select(col("source"),
        explode(split(col("text"), " ", -1)).as("word"))
      .distinct()
      .join(broadcast(srcs), Seq("source"))
      .groupBy(col("word"))
      .agg(bit_or(expr("shiftleft(1L, cast(bit AS int))"))
        .cast("long").as("mask"))
    val mh = wm.groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
    val a = srcs.toDF("source_a", "ba")
    val b = srcs.toDF("source_b", "bb")
    val p = a.join(broadcast(b), col("source_a") < col("source_b"))
    val hasA = col("mask")
      .bitwiseAND(expr("shiftleft(1L, cast(ba AS int))")) =!= 0
    val hasB = col("mask")
      .bitwiseAND(expr("shiftleft(1L, cast(bb AS int))")) =!= 0
    p.crossJoin(broadcast(mh))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(when(hasA, col("cnt")).otherwise(0L))
        .cast("long").as("va"),
        sum(when(hasB, col("cnt")).otherwise(0L)).cast("long").as("vb"),
        sum(when(hasA && hasB, col("cnt")).otherwise(0L))
          .cast("long").as("vcommon"))
      .select(col("source_a"), col("source_b"),
        col("va").as("vocab_a"), col("vb").as("vocab_b"),
        col("vcommon").as("vocab_common"),
        (floor((col("vcommon").cast("double")
          / (col("va") + col("vb") - col("vcommon"))) * 1000000L + 0.5)
          / 1000000L).as("jaccard"))
  }

  /** Per-source lexical diversity: unbiased Simpson concentration
    * λ = Σc(c−1)/(n(n−1)), inverse-Simpson effective vocabulary,
    * Shannon entropy, and exp(H) — the "how many words does this
    * source REALLY use" panel beside q230 (how many it HASN'T used
    * yet) and q215 (sequence-level branching). Simpson weights common
    * words, Shannon weights the whole distribution; a big gap between
    * exp(H) and 1/λ is itself a diagnostic (a spiky head over a long
    * tail — template text with filler).
    *
    * Exactness: λ is a ratio of exact decimal(38,0) sums (Σc(c−1)
    * reaches n² — int64 dies at ~3e9 tokens/source, so decimal is
    * mandatory); Shannon terms −(c/n)·ln(c/n) quantize per word at
    * 1e-9 and int-sum (order-free, the q158/q215 device); the exp
    * and reciprocal are final one-row chains, floored 1e-6.
    *
    * Scale shape: ONE tokenization pass → (source, word) cells →
    * per-source aggregate; nothing after the cells is data-sized. */
  val q240SimpsonDiversity: QueryDef = QueryDef.withOracle(
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |c AS (SELECT source, word, count(*) AS a FROM tok GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(a) AS BIGINT) AS n,
      |         count(*) AS vocab FROM c GROUP BY 1),
      |agg AS (
      |  SELECT c.source,
      |    sum(CAST(c.a AS HUGEINT) * (c.a - 1)) AS pairsum,
      |    CAST(sum(CAST(floor(-(CAST(c.a AS DOUBLE) / ns.n)
      |      * ln(CAST(c.a AS DOUBLE) / ns.n) * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS h9
      |  FROM c JOIN ns USING (source) GROUP BY 1)
      |SELECT ns.source, ns.n AS n_tokens, CAST(ns.vocab AS BIGINT) AS vocab,
      |  CASE WHEN ns.n <= 1 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(pairsum AS DOUBLE) / (CAST(ns.n AS DOUBLE)
      |      * (ns.n - 1))) * 1000000 + 0.5) / 1000000 END AS simpson,
      |  CASE WHEN pairsum = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(ns.n AS DOUBLE) * (ns.n - 1)
      |      / CAST(pairsum AS DOUBLE)) * 1000000 + 0.5) / 1000000 END
      |    AS inv_simpson,
      |  floor((CAST(h9 AS DOUBLE) / 1000000000) * 1000000 + 0.5)
      |    / 1000000 AS shannon,
      |  floor(exp(floor((CAST(h9 AS DOUBLE) / 1000000000) * 1000000
      |    + 0.5) / 1000000) * 1000000 + 0.5) / 1000000 AS eff_vocab
      |FROM agg JOIN ns USING (source)""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .select(col("source"),
        explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("a"))
      .cache() // one tokenization pass; margins and terms reuse it
    val ns = c.groupBy(col("source"))
      .agg(sum(col("a")).cast("long").as("n"),
        count(lit(1)).as("vocab"))
    val agg = c.join(broadcast(ns), Seq("source"))
      .groupBy(col("source"))
      .agg(sum(dec(col("a")) * (col("a") - 1)).as("pairsum"),
        sum(floor(-(col("a").cast("double") / col("n"))
          * log(col("a").cast("double") / col("n")) * 1000000000L + 0.5)
          .cast("long")).cast("long").as("h9"))
    val shannon = floor((col("h9").cast("double") / 1000000000L)
      * 1000000L + 0.5) / 1000000L
    agg.join(broadcast(ns), Seq("source"))
      .select(col("source"), col("n").as("n_tokens"),
        col("vocab").cast("long").as("vocab"),
        // n ≤ 1 → 0/0: degrade to 0, never NaN (the inv_simpson
        // convention — r11 ADVICE)
        when(col("n") <= 1, lit(0.0))
          .otherwise(floor((col("pairsum").cast("double")
            / (col("n").cast("double") * (col("n") - 1))) * 1000000L + 0.5)
            / 1000000L).as("simpson"),
        when(col("pairsum") === dec(lit(0)), lit(0.0))
          .otherwise(floor((col("n").cast("double") * (col("n") - 1)
            / col("pairsum").cast("double")) * 1000000L + 0.5) / 1000000L)
          .as("inv_simpson"),
        shannon.as("shannon"),
        (floor(exp(shannon) * 1000000L + 0.5) / 1000000L).as("eff_vocab"))
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
    val w = AnalyticsOps2.groupedPrefixSums(c, Seq.empty,
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

  val all: Map[String, QueryDef] = Map(
    "q232_kruskal_wallis" -> q232KruskalWallis,
    "q233_llr_keyness" -> q233LlrKeyness,
    "q234_good_turing" -> q234GoodTuring,
    "q235_hellinger_drift" -> q235HellingerDrift,
    "q236_cohens_d" -> q236CohensD,
    "q237_brown_forsythe" -> q237BrownForsythe,
    "q238_burrows_delta" -> q238BurrowsDelta,
    "q239_vocab_jaccard" -> q239VocabJaccard,
    "q240_simpson_diversity" -> q240SimpsonDiversity,
    "q241_hill_tail" -> q241HillTail)
}
