package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Exact.{dec, q6, epochDay}

/** Round-12 tranche seven: the model-side statistics that sit one
  * level above tranche six's stream health — a real smoothed language
  * model (interpolated Kneser-Ney bigrams, the LM the add-1 unigram
  * q209 is a placeholder for), the moving-average type-token ratio
  * (MATTR — the windowed lexical diversity that, unlike q272's STTR,
  * has no block-boundary artifacts), linear CKA between embedding
  * dimension halves (representation-similarity: did the two halves
  * of the vector learn the same geometry), a kernel two-sample drift
  * test (MMD — detects distribution changes KS/PSI/Wasserstein can
  * miss because it weighs SHAPE, not just CDF distance), an optimizer
  * statistics audit (equi-width-histogram selectivity and
  * distinct-count join-cardinality estimates printed against exact
  * truth — the numbers a cost-based planner lives or dies by), and
  * the lagged cross-correlation function between event-type daily
  * series (which stream LEADS which).
  *
  * House conventions: integer cell frames off one data pass, decimal
  * for anything that can reach N², per-term 1e-9/1e-12 quantization
  * before order-dependent float sums, ONE mirrored double expression
  * at the end, outputs on the 1e-6 grid (1e-9 where the statistic
  * itself is ~1e-4-sized, stated per query).
  */
object AnalyticsOps19 {

  /** The q170/q37/q209 split convention (shared md5 bucket). */
  private val bucketCol = expr(
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) " +
      "AS BIGINT) % 100")
  private val bucketSql =
    "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"

  /** Interpolated Kneser-Ney bigram cross-entropy per source — a real
    * smoothed LM scored on the held-out 20% split (q209's bucket
    * convention), trained POOLED on the 80% corpus: P(w2|w1) =
    * (max(c(w1,w2)-D, 0) + D*N1+(w1,.)*Pc(w2)) / c(w1) with D = 0.75
    * and the continuation unigram Pc(w2) = (N1+(.,w2)+1)/(B+Vc+1)
    * (add-1 on the continuation spectrum — the stated OOV floor, so
    * unseen test words score finite); an unseen CONTEXT backs off to
    * Pc(w2) directly (Chen & Goodman 1999, interpolated form). The
    * per-source number beside q209's add-1 unigram says how much of
    * each source's mass is PHRASE-predictable, not just
    * word-predictable.
    *
    * Exactness: all counts (c, c1, N1+ margins, B, Vc) are exact
    * integers off one pooled bigram cell frame; each test bigram's
    * cv*ln(P) quantizes to 1e-9 before the integer sum (the q209
    * convention); one exp at the end.
    *
    * Scale shape: ONE tokenization pass -> train/test bigram cells;
    * scoring is three bigram/unigram-keyed cell joins (gram
    * cardinality, never tokens^2) plus one broadcast 1-row totals
    * frame. */
  val q281KneserNey: QueryDef = QueryDef.withOracle(
    s"""WITH d AS (
      |  SELECT doc_id, source, $bucketSql AS b,
      |    string_split(text, ' ') AS toks
      |  FROM documents),
      |pr AS (
      |  SELECT source, b, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM (SELECT source, b, toks, unnest(range(1, len(toks))) AS i
      |        FROM d WHERE len(toks) >= 2)),
      |tr AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      |  FROM pr WHERE b < 80 GROUP BY 1, 2),
      |te AS (
      |  SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS cv
      |  FROM pr WHERE b >= 80 GROUP BY 1, 2, 3),
      |ctx AS (
      |  SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
      |    CAST(count(*) AS BIGINT) AS n1f
      |  FROM tr GROUP BY 1),
      |cont AS (
      |  SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM tr GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(n1p) AS BIGINT) AS bb,
      |    CAST(count(*) AS BIGINT) AS vc
      |  FROM cont),
      |sc AS (
      |  SELECT te.source, te.cv,
      |    CASE WHEN ctx.c1 IS NULL
      |      THEN CAST(coalesce(cont.n1p, 0) + 1 AS DOUBLE)
      |        / (tot.bb + tot.vc + 1)
      |      ELSE (greatest(CAST(coalesce(tr.c, 0) AS DOUBLE) - 0.75, 0)
      |        + 0.75 * ctx.n1f
      |          * (CAST(coalesce(cont.n1p, 0) + 1 AS DOUBLE)
      |            / (tot.bb + tot.vc + 1))) / ctx.c1 END AS p
      |  FROM te
      |  LEFT JOIN tr ON tr.w1 = te.w1 AND tr.w2 = te.w2
      |  LEFT JOIN ctx ON ctx.w1 = te.w1
      |  LEFT JOIN cont ON cont.w2 = te.w2
      |  CROSS JOIN tot),
      |f AS (
      |  SELECT source, CAST(sum(cv) AS BIGINT) AS n_test,
      |    CAST(sum(CAST(floor(cv * ln(p) * 1000000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS sfp
      |  FROM sc GROUP BY 1),
      |h AS (
      |  SELECT source, n_test,
      |    floor((-CAST(sfp AS DOUBLE)
      |      / (CAST(n_test AS DOUBLE) * 1000000000)) * 1000000 + 0.5)
      |      / 1000000 AS kn_cross_entropy
      |  FROM f)
      |SELECT source, n_test AS n_test_bigrams, kn_cross_entropy,
      |  floor(exp(kn_cross_entropy) * 1000000 + 0.5) / 1000000
      |    AS kn_perplexity
      |FROM h""".stripMargin
  ) { (s, d) =>
    // bucket projected BEFORE the pair explode (the q209 lesson:
    // md5 above a Generate recomputes per token, not per doc)
    val pr = Tables.documents(s, d)
      .select(col("source"), bucketCol.as("b"),
        split(col("text"), " ", -1).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("source"), col("b"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> " +
          "struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("g"))
      .select(col("source"), col("b"), col("g.w1").as("w1"),
        col("g.w2").as("w2"))
      .cache() // one pair pass feeds both splits
    val tr = pr.filter(col("b") < 80)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .cache() // three margins read it
    val te = pr.filter(col("b") >= 80)
      .groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cv"))
    val ctx = tr.groupBy(col("w1"))
      .agg(sum(col("c")).cast("long").as("c1"),
        count(lit(1)).as("n1f"))
    val cont = tr.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val tot = cont.agg(sum(col("n1p")).cast("long").as("bb"),
      count(lit(1)).as("vc"))
    val pc = (coalesce(col("n1p"), lit(0L)) + 1).cast("double") /
      (col("bb") + col("vc") + 1)
    val p = when(col("c1").isNull, pc)
      .otherwise((greatest(coalesce(col("c"), lit(0L)).cast("double")
        - 0.75, lit(0)) + lit(0.75) * col("n1f") * pc) / col("c1"))
    val f = te
      .join(tr.withColumnRenamed("w1", "tw1").withColumnRenamed("w2", "tw2"),
        col("tw1") === col("w1") && col("tw2") === col("w2"), "left")
      .join(ctx.withColumnRenamed("w1", "cw1"),
        col("cw1") === col("w1"), "left")
      .join(cont.withColumnRenamed("w2", "ow2"),
        col("ow2") === col("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("cv"),
        floor(col("cv") * log(p) * 1000000000L + 0.5).cast("long")
          .as("term_fp"))
      .groupBy(col("source"))
      .agg(sum(col("cv")).cast("long").as("n_test"),
        // decimal from the start: per-term 1e-9 ints can sum past
        // int64 at fleet-scale test splits (the q304 sse3 class);
        // DuckDB's sum(BIGINT) already promotes to HUGEINT
        sum(dec(col("term_fp"))).as("sfp"))
    val h = f.select(col("source"), col("n_test"),
      (floor((-col("sfp").cast("double")
        / (col("n_test").cast("double") * 1000000000L)) * 1000000L + 0.5)
        / 1000000L).as("kn_cross_entropy"))
    h.select(col("source"), col("n_test").as("n_test_bigrams"),
      col("kn_cross_entropy"),
      (floor(exp(col("kn_cross_entropy")) * 1000000L + 0.5) / 1000000L)
        .as("kn_perplexity"))
  }

  /** Moving-average type-token ratio (MATTR, window 25) per source —
    * the windowed lexical diversity (Covington & McFall 2010): every
    * 25-token sliding window's TTR, averaged. Unlike q272's STTR
    * (disjoint blocks: a 49-token doc wastes 24 tokens and block
    * boundaries are arbitrary), MATTR uses every position, so it is
    * the stable diversity number for SHORT documents — exactly this
    * corpus. Docs under 25 tokens are excluded and counted (stated).
    *
    * Exactness: per-window distinct counts are exact integers;
    * per-doc MATTR quantizes to 1e-6 and the source mean is an exact
    * integer sum with one division (the q271 pattern).
    *
    * Scale shape: ONE tokenization pass; each token lands in <= 25
    * windows via a broadcast 25-row offset explode — the shuffle is
    * 25x tokens into (doc, window-start) groups, NEVER doc-length^2;
    * everything after the distinct-count agg is per-doc rows. */
  val q282Mattr: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id, source, len(toks) AS n, toks[i] AS tok, i AS pos
      |  FROM (SELECT doc_id, source, toks,
      |          unnest(generate_series(1, len(toks))) AS i
      |        FROM d WHERE len(toks) >= 25)),
      |wn AS (
      |  SELECT doc_id, source, n, tok, pos - off.o AS st
      |  FROM tk CROSS JOIN
      |    (SELECT unnest(generate_series(0, 24)) AS o) off
      |  WHERE pos - off.o >= 1 AND pos - off.o <= n - 24),
      |wu AS (
      |  SELECT doc_id, source, st, count(DISTINCT tok) AS u
      |  FROM wn GROUP BY 1, 2, 3),
      |pd AS (
      |  SELECT doc_id, source,
      |    CAST(floor(CAST(sum(u) AS DOUBLE) / count(*) / 25
      |      * 1000000 + 0.5) AS BIGINT) AS m6
      |  FROM wu GROUP BY 1, 2),
      |ex AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_short
      |  FROM d WHERE len(toks) < 25 GROUP BY 1),
      |ag AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_scored,
      |    CAST(sum(m6) AS BIGINT) AS sm6
      |  FROM pd GROUP BY 1)
      |SELECT ag.source, ag.n_docs_scored,
      |  coalesce(ex.n_docs_short, 0) AS n_docs_short,
      |  floor(CAST(sm6 AS DOUBLE) / n_docs_scored / 1000000
      |    * 1000000 + 0.5) / 1000000 AS mattr
      |FROM ag LEFT JOIN ex ON ex.source = ag.source""".stripMargin
  ) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        split(col("text"), " ", -1).as("toks"))
      .cache() // one tokenization; scored and short splits reuse it
    val tk = base.filter(size(col("toks")) >= 25)
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n"),
        posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("source"), col("n"), col("tok"),
        (col("p0") + 1).cast("long").as("pos"))
    val off = s.range(0, 25).toDF("o")
    val wn = tk.crossJoin(broadcast(off))
      .filter(col("pos") - col("o") >= 1 &&
        col("pos") - col("o") <= col("n") - 24)
      .select(col("doc_id"), col("source"),
        (col("pos") - col("o")).as("st"), col("tok"))
    val wu = wn.groupBy(col("doc_id"), col("source"), col("st"))
      .agg(countDistinct(col("tok")).as("u"))
    val pd = wu.groupBy(col("doc_id"), col("source"))
      .agg(floor(sum(col("u")).cast("double") / count(lit(1)) / 25
        * 1000000L + 0.5).cast("long").as("m6"))
    val ex = base.filter(size(col("toks")) < 25)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs_short"))
    val ag = pd.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_scored"),
        sum(col("m6")).cast("long").as("sm6"))
    ag.join(ex.withColumnRenamed("source", "s2"),
        col("s2") === col("source"), "left")
      .select(col("source"), col("n_docs_scored"),
        coalesce(col("n_docs_short"), lit(0L)).as("n_docs_short"),
        (floor(col("sm6").cast("double") / col("n_docs_scored")
          / 1000000L * 1000000L + 0.5) / 1000000L).as("mattr"))
  }

  /** Linear CKA between the two 32-dimension halves of the embedding,
    * per label — centered kernel alignment (Kornblith et al. 2019):
    * CKA = ||Cxy||_F^2 / (||Cxx||_F * ||Cyy||_F) over the centered
    * cross-covariance blocks. High CKA says the two halves encode the
    * SAME geometry (redundant width — q225's dim-truncation recall
    * read a related signal through retrieval); low CKA says the
    * halves specialize. Per label, so a single collapsed class can't
    * hide behind the corpus average.
    *
    * Exactness: the q144 gram convention — per-row products quantize
    * to 1e-9 int BEFORE summing, component sums likewise; covariance
    * entries assemble in ONE mirrored double expression, re-quantize
    * to 1e-9 int (the q266 convention), and all three Frobenius sums
    * are exact decimal sums of int squares; one sqrt-divide at the
    * end. Degenerate blocks (zero variance) report 0 (stated).
    *
    * Scale shape: ONE embeddings pass -> per-label (i<=j) product
    * cells (2 080 cells/label — metadata) + per-label component sums;
    * everything downstream is cell algebra. No pair-of-rows join
    * anywhere. */
  val q283CkaHalves: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |pz AS (
      |  SELECT label, i.i AS i, j.j AS j,
      |    CAST(floor(emb[i.i + 1] * emb[j.j + 1] * 1000000000 + 0.5)
      |      AS BIGINT) AS fp
      |  FROM c,
      |    LATERAL (SELECT unnest(range(0, len(emb))) AS i) i,
      |    LATERAL (SELECT unnest(range(0, len(emb))) AS j) j
      |  WHERE j.j >= i.i),
      |pg AS (
      |  SELECT label, i, j, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(fp) AS BIGINT) AS sfp
      |  FROM pz GROUP BY 1, 2, 3),
      |sz AS (
      |  SELECT label, i.i AS i,
      |    CAST(floor(emb[i.i + 1] * 1000000000 + 0.5) AS BIGINT) AS sp
      |  FROM c, LATERAL (SELECT unnest(range(0, len(emb))) AS i) i),
      |sg AS (
      |  SELECT label, i, CAST(sum(sp) AS BIGINT) AS ssp
      |  FROM sz GROUP BY 1, 2),
      |cv AS (
      |  SELECT pg.label, pg.i, pg.j,
      |    CAST(floor((CAST(pg.sfp AS DOUBLE) / pg.n / 1000000000
      |      - (CAST(a.ssp AS DOUBLE) / pg.n / 1000000000)
      |        * (CAST(b.ssp AS DOUBLE) / pg.n / 1000000000))
      |      * 1000000000 + 0.5) AS BIGINT) AS c9
      |  FROM pg
      |  JOIN sg a ON a.label = pg.label AND a.i = pg.i
      |  JOIN sg b ON b.label = pg.label AND b.i = pg.j),
      |fr AS (
      |  SELECT label,
      |    sum(CASE WHEN j < 32 THEN
      |      (CASE WHEN i = j THEN 1 ELSE 2 END) * CAST(c9 AS HUGEINT)
      |        * c9 ELSE 0 END) AS sxx,
      |    sum(CASE WHEN i >= 32 THEN
      |      (CASE WHEN i = j THEN 1 ELSE 2 END) * CAST(c9 AS HUGEINT)
      |        * c9 ELSE 0 END) AS syy,
      |    sum(CASE WHEN i < 32 AND j >= 32 THEN CAST(c9 AS HUGEINT)
      |        * c9 ELSE 0 END) AS sxy,
      |    max(n) AS n_vecs
      |  FROM cv JOIN (SELECT label AS l2, max(n) AS n FROM pg GROUP BY 1)
      |    ON l2 = label
      |  GROUP BY 1)
      |SELECT CAST(label AS BIGINT) AS label, CAST(n_vecs AS BIGINT)
      |    AS n_vecs,
      |  CASE WHEN sxx <= 0 OR syy <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(CAST(sxy AS DOUBLE)
      |      / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE)))
      |      * 1000000 + 0.5) / 1000000 END AS cka
      |FROM fr""".stripMargin
  ) { (s, d) =>
    val c = Tables.embeddings(s, d)
      .select(col("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x)")
          .as("emb"))
      .cache() // one pass feeds pair cells and component sums
    // r13: per-label gram cells via the GramCells aggregate (one FMA
    // loop per row, 128-bit accumulation emitted as decimal(38,0) —
    // the q304 int64-headroom convention preserved by construction);
    // identical summands, exact in any partial/merge order
    val pg = c.groupBy(col("label"))
      .agg(graft.functions.GramAggregate.gramCells(col("emb")).as("cells"))
      .select(col("label"), explode(col("cells")).as("t"))
      .select(col("label"), col("t.i").as("i"), col("t.j").as("j"),
        col("t.n").as("n"), col("t.fp").as("sfp"))
    val sg = c.select(col("label"), explode(expr(
        """transform(sequence(0, size(emb) - 1), i ->
          |  struct(i AS i,
          |    CAST(floor(emb[i] * 1000000000D + 0.5D) AS BIGINT)
          |      AS sp))""".stripMargin)).as("t"))
      .select(col("label"), col("t.i").as("i"), col("t.sp").as("sp"))
      .groupBy(col("label"), col("i"))
      .agg(sum(dec(col("sp"))).as("ssp"))
    val cv = pg
      .join(sg.toDF("label", "i", "sspa"), Seq("label", "i"))
      .join(sg.toDF("label", "j", "sspb"), Seq("label", "j"))
      .select(col("label"), col("i"), col("j"), col("n"),
        floor((col("sfp").cast("double") / col("n") / 1000000000L
          - (col("sspa").cast("double") / col("n") / 1000000000L)
            * (col("sspb").cast("double") / col("n") / 1000000000L))
          * 1000000000L + 0.5).cast("long").as("c9"))
    val fr = cv.groupBy(col("label")).agg(
      sum(when(col("j") < 32,
        when(col("i") === col("j"), lit(1)).otherwise(lit(2))
          * dec(col("c9")) * col("c9")).otherwise(lit(0)))
        .as("sxx"),
      sum(when(col("i") >= 32,
        when(col("i") === col("j"), lit(1)).otherwise(lit(2))
          * dec(col("c9")) * col("c9")).otherwise(lit(0)))
        .as("syy"),
      sum(when(col("i") < 32 && col("j") >= 32,
        dec(col("c9")) * col("c9")).otherwise(lit(0))).as("sxy"),
      max(col("n")).as("n_vecs"))
    fr.select(col("label").cast("long").as("label"),
      col("n_vecs").cast("long").as("n_vecs"),
      when(col("sxx") <= 0 || col("syy") <= 0, lit(0.0))
        .otherwise(floor(col("sxy").cast("double")
          / (sqrt(col("sxx").cast("double"))
            * sqrt(col("syy").cast("double"))) * 1000000L + 0.5)
          / 1000000L).as("cka"))
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

  /** Optimizer-statistics quality audit — the two estimates a
    * cost-based planner runs on, printed against exact truth from the
    * SAME cell frames: (a) range-predicate selectivity on
    * l_extendedprice through a 64-bin equi-width histogram with
    * uniform fill-in (9 overlapping 20%-of-range probes), and (b)
    * equi-join cardinality |orders JOIN lineitem| through the
    * textbook |L|*|O| / max(ndv_L, ndv_O) distinct-count formula.
    * The q_error column (max/min ratio, floored at 1 event) is the
    * planner-accuracy currency — a q_error of 3 on a probe says any
    * plan choice hinging on that cardinality is a coin flip. This is
    * the engine auditing its own planning statistics, the same layer
    * q180 (join skew) and q165 (dataset card) report on.
    *
    * Exactness: histogram boundaries, bin assignment, and actual
    * counts are pure integer math on the cents grid; each bin's
    * estimate term (overlap fraction * bin count, a mirrored double)
    * quantizes to a 1e-6 integer BEFORE the sum (the q277/q284
    * per-term convention — r12 ADVICE: a raw double sum is partial-
    * agg-order-dependent) with ONE divide at the end; the estimator's
    * internal floor-boundary convention is stated as part of the
    * estimator, so both engines audit the SAME estimator.
    *
    * Scale shape: ONE lineitem pass -> price-cents cells (the 9
    * probes sum the SAME cell frame under different predicates — no
    * re-scan) + one orderkey-cells pass per side for (b); actual join
    * cardinality is a key-cells join (never a row join). */
  val q285SelectivityAudit: QueryDef = QueryDef.withOracle(
    """WITH pv AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |mm AS (
      |  SELECT min(v) AS mn, max(v) - min(v) + 1 AS r,
      |    CAST(sum(cnt) AS BIGINT) AS n
      |  FROM pv),
      |hb AS (
      |  SELECT (pv.v - mm.mn) * 64 // mm.r AS b,
      |    CAST(sum(cnt) AS BIGINT) AS hcnt
      |  FROM pv CROSS JOIN mm GROUP BY 1),
      |pr AS (
      |  SELECT j.j, mm.mn + j.j * mm.r // 10 AS lo,
      |    mm.mn + (j.j + 2) * mm.r // 10 AS hi
      |  FROM (SELECT unnest(range(0, 9)) AS j) j CROSS JOIN mm),
      |es AS (
      |  SELECT pr.j, pr.lo, pr.hi,
      |    sum(CAST(floor((CASE WHEN mm.mn + (hb.b + 1) * mm.r // 64
      |          - (mm.mn + hb.b * mm.r // 64) <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(greatest(0, least(pr.hi,
      |          mm.mn + (hb.b + 1) * mm.r // 64)
      |        - greatest(pr.lo, mm.mn + hb.b * mm.r // 64)) AS DOUBLE)
      |        / (mm.mn + (hb.b + 1) * mm.r // 64
      |          - (mm.mn + hb.b * mm.r // 64)) * hb.hcnt END)
      |      * 1000000 + 0.5) AS BIGINT)) AS e6
      |  FROM pr CROSS JOIN mm CROSS JOIN hb
      |  GROUP BY 1, 2, 3),
      |ac AS (
      |  SELECT pr.j, CAST(coalesce(sum(pv.cnt), 0) AS BIGINT) AS act
      |  FROM pr LEFT JOIN pv ON pv.v >= pr.lo AND pv.v < pr.hi
      |  GROUP BY 1),
      |sel AS (
      |  SELECT 'sel_0' || CAST(es.j AS VARCHAR) AS probe,
      |    CAST(es.e6 AS DOUBLE) / 1000000 AS est_rows,
      |    ac.act AS actual_rows
      |  FROM es JOIN ac ON ac.j = es.j),
      |lk AS (
      |  SELECT l_orderkey AS k, count(*) AS cl FROM lineitem GROUP BY 1),
      |okc AS (
      |  SELECT o_orderkey AS k, count(*) AS co FROM orders GROUP BY 1),
      |jm AS (
      |  SELECT (SELECT CAST(sum(cl) AS BIGINT) FROM lk) AS nl,
      |    (SELECT CAST(sum(co) AS BIGINT) FROM okc) AS no,
      |    (SELECT CAST(count(*) AS BIGINT) FROM lk) AS ndvl,
      |    (SELECT CAST(count(*) AS BIGINT) FROM okc) AS ndvo,
      |    (SELECT CAST(coalesce(sum(lk.cl * okc.co), 0) AS BIGINT)
      |     FROM lk JOIN okc ON okc.k = lk.k) AS act),
      |jr AS (
      |  SELECT 'join_orderkey' AS probe,
      |    floor(CAST(nl AS DOUBLE) * no / greatest(ndvl, ndvo)
      |      * 1000000 + 0.5) / 1000000 AS est_rows,
      |    act AS actual_rows
      |  FROM jm),
      |un AS (SELECT * FROM sel UNION ALL SELECT * FROM jr)
      |SELECT probe, est_rows, actual_rows,
      |  floor(greatest(greatest(est_rows, 1.0),
      |      greatest(CAST(actual_rows AS DOUBLE), 1.0))
      |    / least(greatest(est_rows, 1.0),
      |      greatest(CAST(actual_rows AS DOUBLE), 1.0))
      |    * 1000000 + 0.5) / 1000000 AS q_error
      |FROM un""".stripMargin
  ) { (s, d) =>
    val pv = Tables.lineitem(s, d)
      .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long")
        .as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .cache() // one price pass: histogram, probes, totals reuse it
    val mm = pv.agg(min(col("v")).as("mn"),
      (max(col("v")) - min(col("v")) + 1).as("r"),
      sum(col("cnt")).cast("long").as("n"))
    def idiv(a: Column, b: Column): Column =
      call_function("div", a - pmod(a, b), b)
    val hb = pv.crossJoin(broadcast(mm))
      .groupBy(idiv((col("v") - col("mn")) * 64, col("r")).as("b"))
      .agg(sum(col("cnt")).cast("long").as("hcnt"))
    val js = s.range(0, 9).toDF("j")
    val pr = broadcast(js).crossJoin(broadcast(mm))
      .select(col("j"),
        (col("mn") + idiv(col("j") * col("r"), lit(10L))).as("lo"),
        (col("mn") + idiv((col("j") + 2) * col("r"), lit(10L))).as("hi"))
    val bl = col("mn") + idiv(col("b") * col("r"), lit(64L))
    val bh = col("mn") + idiv((col("b") + 1) * col("r"), lit(64L))
    val es = pr.crossJoin(broadcast(mm)).crossJoin(hb)
      .groupBy(col("j"), col("lo"), col("hi"))
      // per-term 1e-6 quantization BEFORE the order-dependent sum
      // (the q277/q284 house convention): partial-agg order is not
      // guaranteed to match DuckDB's, so each bin's fractional
      // contribution rounds to an integer first and the sum is exact
      .agg(sum(dec(floor(when(bh - bl <= 0, lit(0.0))
        .otherwise(greatest(lit(0L), least(col("hi"), bh)
          - greatest(col("lo"), bl)).cast("double")
          / (bh - bl) * col("hcnt")) * 1000000L + 0.5).cast("long")))
        .as("e6"))
    val ac = pr.join(pv,
        col("v") >= col("lo") && col("v") < col("hi"), "left")
      .groupBy(col("j"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).cast("long").as("act"))
    val sel = es.join(ac, Seq("j"))
      .select(concat(lit("sel_0"), col("j").cast("string")).as("probe"),
        (col("e6").cast("double") / 1000000L).as("est_rows"),
        col("act").as("actual_rows"))
    val lk = Tables.lineitem(s, d).groupBy(col("l_orderkey").as("k"))
      .agg(count(lit(1)).as("cl"))
    val okc = Tables.orders(s, d).groupBy(col("o_orderkey").as("k"))
      .agg(count(lit(1)).as("co"))
    val lm = lk.agg(sum(col("cl")).cast("long").as("nl"),
      count(lit(1)).as("ndvl"))
    val om = okc.agg(sum(col("co")).cast("long").as("no"),
      count(lit(1)).as("ndvo"))
    val aj = lk.join(okc.withColumnRenamed("k", "k2"),
        col("k2") === col("k"))
      .agg(coalesce(sum(col("cl") * col("co")), lit(0L)).cast("long")
        .as("act"))
    val jr = lm.crossJoin(om).crossJoin(aj)
      .select(lit("join_orderkey").as("probe"),
        (floor(col("nl").cast("double") * col("no")
          / greatest(col("ndvl"), col("ndvo")) * 1000000L + 0.5)
          / 1000000L).as("est_rows"),
        col("act").as("actual_rows"))
    val un = sel.unionByName(jr)
    un.select(col("probe"), col("est_rows"), col("actual_rows"),
      (floor(greatest(greatest(col("est_rows"), lit(1.0)),
        greatest(col("actual_rows").cast("double"), lit(1.0)))
        / least(greatest(col("est_rows"), lit(1.0)),
          greatest(col("actual_rows").cast("double"), lit(1.0)))
        * 1000000L + 0.5) / 1000000L).as("q_error"))
  }

  /** Lagged cross-correlation function between event-type daily-mean
    * series (all ordered pairs, lags -7..+7) — which stream LEADS
    * which: a peak at positive lag k says type A's today co-moves
    * with type B's k days ago. The multivariate companion to q185's
    * single-series ACF and q277's whiteness test; in pipeline terms
    * it is the "did the error-rate spike precede the signup dip"
    * panel. Pairs align on CALENDAR day (gaps exclude pairs, stated);
    * each series centers against its own full-window mean.
    *
    * Exactness: the q277 integer-centering trick per series (y =
    * m6*nd - sum; the per-series scale factors cancel between the
    * decimal numerator and the sqrt(d0a*d0b) denominator); the only
    * float work is one mirrored divide-by-sqrt (d0 products in
    * DOUBLE — their decimal product could exceed 1e38 at fleet
    * scale, stated). Constant series degrade to 0.
    *
    * Scale shape: the same (type, day) metadata frame as q277; the
    * lag sweep is a broadcast 15-row explode joined day-to-day —
    * |types|^2 * 15 * |days| cell work, never events. */
  val q286CrossCorrelation: QueryDef = QueryDef.withOracle(
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
      |lg AS (SELECT unnest(range(-7, 8)) AS lag),
      |pc AS (
      |  SELECT a.t AS ta, b.t AS tb, lg.lag,
      |    CAST(count(*) AS BIGINT) AS n_pairs,
      |    sum(CAST(a.y AS HUGEINT) * b.y) AS num
      |  FROM y a CROSS JOIN lg
      |  JOIN y b ON b.t > a.t AND b.day = a.day - lg.lag
      |  GROUP BY 1, 2, 3)
      |SELECT pc.ta AS type_a, pc.tb AS type_b, CAST(pc.lag AS BIGINT)
      |    AS lag, pc.n_pairs,
      |  CASE WHEN da.d0 <= 0 OR db.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(CAST(num AS DOUBLE)
      |      / sqrt(CAST(da.d0 AS DOUBLE) * CAST(db.d0 AS DOUBLE))
      |      * 1000000 + 0.5) / 1000000 END AS ccf
      |FROM pc JOIN d0 da ON da.t = pc.ta JOIN d0 db ON db.t = pc.tb""".stripMargin
  ) { (s, d) =>
    val dm = SeriesFrames.dailyMean6(s, d)
    val st = dm.groupBy(col("t"))
      .agg(sum(col("m6")).cast("long").as("sm"), count(lit(1)).as("nd"))
    val y = dm.join(st, Seq("t"))
      .select(col("t"), col("day"),
        (col("m6") * col("nd") - col("sm")).as("y"))
      .cache() // the d0 margin and both sides of the lag join reuse it
    val d0 = y.groupBy(col("t")).agg(sum(dec(col("y")) * col("y"))
      .as("d0"))
    val lg = s.range(-7, 8).toDF("lag")
    val b = y.toDF("tb", "dayb", "yb")
    val pc = y.crossJoin(broadcast(lg))
      .join(b, col("tb") > col("t") &&
        col("dayb") === col("day") - col("lag"))
      .groupBy(col("t").as("ta"), col("tb"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("y")) * col("yb")).as("num"))
    pc.join(d0.toDF("ta", "d0a"), Seq("ta"))
      .join(d0.toDF("tb", "d0b"), Seq("tb"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("lag"), col("n_pairs"),
        when(col("d0a") <= 0 || col("d0b") <= 0, lit(0.0))
          .otherwise(floor(col("num").cast("double")
            / sqrt(col("d0a").cast("double") * col("d0b").cast("double"))
            * 1000000L + 0.5) / 1000000L).as("ccf"))
  }

  val all: Map[String, QueryDef] = Map(
    "q281_kneser_ney" -> q281KneserNey,
    "q282_mattr" -> q282Mattr,
    "q283_cka_halves" -> q283CkaHalves,
    "q284_mmd_drift" -> q284MmdDrift,
    "q285_selectivity_audit" -> q285SelectivityAudit,
    "q286_cross_correlation" -> q286CrossCorrelation)
}
