package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.dec

/** Round-12 tranche four: corpus-geometry and sampling-design
  * diagnostics — the cross-source unigram cross-entropy matrix (which
  * sources EXPLAIN which: the domain-overlap map beside q238's style
  * and q239's inventory), the covariance participation ratio
  * (effective dimensionality of the embedding cloud — collapse and
  * anisotropy detection for the retrieval stack q50–q72), mean
  * pairwise cosine (the direct anisotropy number beside it),
  * Kish effective sample size under value weighting (what q91's
  * weighted sampling actually costs in variance), degree
  * assortativity of the supplier↔customer graph (hub-to-hub vs
  * hub-to-leaf wiring — the mixing pattern q148's degree histogram
  * can't see), and partial correlations of the document shape
  * features (q256's covariance read as "is the chars↔tokens link
  * real or an artifact of length").
  *
  * House conventions: one data pass → cells; moment products in
  * decimal(38,0)/HUGEINT; IEEE chains in identical op order both
  * engines, quantized before any order-dependent sum.
  */
object AnalyticsOps16 {

  /** Cross-source unigram cross-entropy matrix: train an add-1-
    * smoothed unigram LM on source A (over the corpus vocabulary),
    * evaluate every other source B under it — H(B|A) low means A's
    * text statistically explains B (mirrors, shared upstream, topic
    * overlap), the DOMAIN-overlap map beside q238 (style) and q239
    * (raw inventory). The asymmetric matrix matters: a broad source
    * explains a narrow one, not vice versa.
    *
    * Exactness: per-(train, word) log-probs quantize to the 1e-9 int
    * grid once (including each trainer's out-of-vocab default), then
    * every pair's sum weights them by exact eval counts in decimal —
    * order-free; the final 1/n_B scaling and exp are one double
    * chain, floored 1e-6.
    *
    * Scale shape: ONE tokenization pass → (source, word) cells; the
    * pair sweep is a word-keyed cell join (vocab × |sources|² upper-
    * bounded, vocab-sized shuffle — the q233 argument), never a
    * token-level join; margins ride a broadcast ≤|sources| frame. */
  val q265CrossEntropyMatrix: QueryDef = QueryDef.withOracle(
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |c AS (SELECT source, word, count(*) AS a FROM tok GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(a) AS BIGINT) AS n
      |       FROM c GROUP BY 1),
      |vv AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM c),
      |lp AS (
      |  SELECT c.source, c.word,
      |    CAST(floor(ln((CAST(c.a AS DOUBLE) + 1) / (ns.n + vv.v))
      |      * 1000000000 + 0.5) AS BIGINT) AS l9
      |  FROM c JOIN ns USING (source) CROSS JOIN vv),
      |l0 AS (
      |  SELECT ns.source,
      |    CAST(floor(ln(CAST(1 AS DOUBLE) / (ns.n + vv.v))
      |      * 1000000000 + 0.5) AS BIGINT) AS l09
      |  FROM ns CROSS JOIN vv),
      |pairm AS (
      |  SELECT lp.source AS train, b.source AS eval,
      |    sum(CAST(b.a AS HUGEINT) * lp.l9) AS m9,
      |    CAST(sum(b.a) AS BIGINT) AS matched
      |  FROM c b JOIN lp ON lp.word = b.word
      |  WHERE lp.source <> b.source
      |  GROUP BY 1, 2),
      |h AS (
      |  SELECT train, eval, nb.n AS n_eval,
      |    -(CAST(m9 + CAST(nb.n - matched AS HUGEINT) * l0.l09
      |        AS DOUBLE) / 1000000000) / nb.n AS hce
      |  FROM pairm
      |  JOIN ns nb ON nb.source = pairm.eval
      |  JOIN l0 ON l0.source = pairm.train)
      |SELECT train AS source_train, eval AS source_eval, n_eval,
      |  floor(hce * 1000000 + 0.5) / 1000000 AS cross_entropy,
      |  floor(exp(hce) * 1000000 + 0.5) / 1000000 AS perplexity
      |FROM h""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d)
      .select(col("source"),
        explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("a"))
      .cache() // one tokenization pass; margins, LMs, eval side
    val ns = c.groupBy(col("source")).agg(sum(col("a")).cast("long").as("n"))
    val vv = c.agg(countDistinct(col("word")).as("v"))
    val lp = c.join(broadcast(ns), Seq("source")).crossJoin(broadcast(vv))
      .select(col("source"), col("word"),
        floor(log((col("a").cast("double") + 1) / (col("n") + col("v")))
          * 1000000000L + 0.5).cast("long").as("l9"))
    val l0 = ns.crossJoin(broadcast(vv))
      .select(col("source"),
        floor(log(lit(1).cast("double") / (col("n") + col("v")))
          * 1000000000L + 0.5).cast("long").as("l09"))
    val b = c.toDF("eval", "word", "ba")
    val pairm = b.join(lp.toDF("train", "word", "l9"), Seq("word"))
      .filter(col("train") =!= col("eval"))
      .groupBy(col("train"), col("eval"))
      .agg(sum(dec(col("ba")) * col("l9")).as("m9"),
        sum(col("ba")).cast("long").as("matched"))
    val nb = ns.toDF("eval", "n_eval")
    val hce = -((col("m9")
      + dec(col("n_eval") - col("matched")) * col("l09")).cast("double")
      / 1000000000L) / col("n_eval")
    pairm.join(broadcast(nb), Seq("eval"))
      .join(broadcast(l0.toDF("train", "l09")), Seq("train"))
      .select(col("train").as("source_train"),
        col("eval").as("source_eval"), col("n_eval"),
        (floor(hce * 1000000L + 0.5) / 1000000L).as("cross_entropy"),
        (floor(exp(hce) * 1000000L + 0.5) / 1000000L).as("perplexity"))
  }

  /** Participation ratio of the embedding covariance — the effective
    * dimensionality PR = tr(C)²/tr(C²) ∈ [1, d]: PR ≈ d means
    * variance spreads isotropically, PR ≪ d means the cloud collapsed
    * onto a few directions and every cosine-based op upstream
    * (q50–q72 retrieval, q44 near-dup, q81 curation) is effectively
    * ranking in that tiny subspace. Needs ALL eigenvalues' first two
    * power sums — which are exactly tr(C) and tr(C²), both available
    * from the q144 gram cells without any eigendecomposition.
    *
    * Exactness: gram cells are q144's 1e-9-quantized exact int sums;
    * component sums quantize on the same grid; each covariance entry
    * is one double chain quantized 1e-9 before squaring; tr(C²) sums
    * the ≤d² quantized squares as exact ints. Bound: the quantized
    * sums are int64/decimal-safe through ~1e9 vectors (the q144
    * convention — shrink the quantum beyond).
    *
    * Scale shape: q144's one pass (n·d² map-side work, constant-size
    * exchange) + one posexplode pass for the mean vector; everything
    * after is a ≤d² metadata frame. */
  val q266ParticipationRatio: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |p AS (
      |  SELECT i.i AS i, j.j AS j,
      |    CAST(floor(emb[i.i + 1] * emb[j.j + 1] * 1000000000 + 0.5)
      |      AS BIGINT) AS fp
      |  FROM c,
      |    LATERAL (SELECT unnest(range(0, len(emb))) AS i) i,
      |    LATERAL (SELECT unnest(range(0, len(emb))) AS j) j
      |  WHERE j.j >= i.i),
      |gm AS (
      |  SELECT i, j, count(*) AS n, CAST(sum(fp) AS BIGINT) AS g
      |  FROM p GROUP BY 1, 2),
      |sv AS (
      |  SELECT i.i AS i,
      |    CAST(sum(CAST(floor(emb[i.i + 1] * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS sq
      |  FROM c, LATERAL (SELECT unnest(range(0, len(emb))) AS i) i
      |  GROUP BY 1),
      |cv AS (
      |  SELECT gm.i, gm.j, gm.n,
      |    CAST(floor(((CAST(gm.g AS DOUBLE) / 1000000000
      |        - (CAST(si.sq AS DOUBLE) / 1000000000)
      |          * (CAST(sj.sq AS DOUBLE) / 1000000000) / gm.n)
      |      / (gm.n - 1)) * 1000000000 + 0.5) AS BIGINT) AS c9
      |  FROM gm JOIN sv si ON si.i = gm.i JOIN sv sj ON sj.i = gm.j),
      |t AS (
      |  SELECT max(n) AS n,
      |    CAST(sum(CASE WHEN i = j THEN c9 ELSE 0 END) AS BIGINT)
      |      AS tr9,
      |    sum(CASE WHEN i = j THEN CAST(c9 AS HUGEINT) * c9
      |      ELSE 2 * CAST(c9 AS HUGEINT) * c9 END) AS tr2_18,
      |    CAST(max(j) + 1 AS BIGINT) AS dim
      |  FROM cv)
      |SELECT n AS n_vectors, dim,
      |  floor((CAST(tr9 AS DOUBLE) / 1000000000) * 1000000 + 0.5)
      |    / 1000000 AS trace_c,
      |  CASE WHEN tr2_18 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((CAST(tr9 AS DOUBLE) / 1000000000)
      |        * (CAST(tr9 AS DOUBLE) / 1000000000)
      |      / (CAST(tr2_18 AS DOUBLE) / 1000000000000000000))
      |      * 1000000 + 0.5) / 1000000 END AS participation_ratio
      |FROM t""".stripMargin
  ) { (s, d) =>
    val gm = Relational4.q144GramMatrix.fn(s, d)
      .select(col("i"), col("j"), col("n"), col("gram_fp").as("g"))
    val sv = Tables.embeddings(s, d)
      .select(posexplode(expr("CAST(embedding AS ARRAY<DOUBLE>)"))
        .as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(floor(col("x") * 1000000000L + 0.5).cast("long"))
        .cast("long").as("sq"))
    val si = sv.toDF("i", "sqi")
    val sj = sv.toDF("j", "sqj")
    val cv = gm.join(broadcast(si), Seq("i")).join(broadcast(sj), Seq("j"))
      .select(col("i"), col("j"), col("n"),
        floor(((col("g").cast("double") / 1000000000L
          - (col("sqi").cast("double") / 1000000000L)
            * (col("sqj").cast("double") / 1000000000L) / col("n"))
          / (col("n") - 1)) * 1000000000L + 0.5).cast("long").as("c9"))
    val t = cv.agg(max(col("n")).as("n"),
      sum(when(col("i") === col("j"), col("c9")).otherwise(0L))
        .cast("long").as("tr9"),
      sum(when(col("i") === col("j"), dec(col("c9")) * col("c9"))
        .otherwise(lit(2) * dec(col("c9")) * col("c9"))).as("tr2_18"),
      (max(col("j")) + 1).cast("long").as("dim"))
    t.select(col("n").as("n_vectors"), col("dim"),
      (floor((col("tr9").cast("double") / 1000000000L) * 1000000L + 0.5)
        / 1000000L).as("trace_c"),
      when(col("tr2_18") === dec(lit(0)), lit(0.0))
        .otherwise(floor(((col("tr9").cast("double") / 1000000000L)
          * (col("tr9").cast("double") / 1000000000L)
          / (col("tr2_18").cast("double") / 1.0e18))
          * 1000000L + 0.5) / 1000000L).as("participation_ratio"))
  }

  /** Mean pairwise cosine of the L2-normalized embedding corpus — the
    * direct anisotropy number (Ethayarajh 2019): for unit vectors,
    * the average cosine over ALL n(n−1) ordered pairs equals
    * (‖Σu‖² − Σ‖u‖²)/(n(n−1)) — one pass, no pair join ever. High
    * mean cosine says the cloud points one way (the "anisotropy cone"
    * of contextual embedders) and raw-cosine thresholds (q44/q81)
    * measure the cone, not semantics.
    *
    * Exactness: unit components quantize to the 1e-9 int grid, so the
    * dimension sums, their squares, and the per-vector norm² sums are
    * all exact integer/decimal algebra (safe through ~1e9 vectors —
    * the q144 bound convention); one final double chain, floored
    * 1e-6. Zero-norm vectors are excluded (stated; count reported).
    *
    * Scale shape: one embeddings pass → ≤d dimension cells; nothing
    * after is data-sized. */
  val q267Anisotropy: QueryDef = QueryDef.withOracle(
    """WITH nv AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> x * x))) AS nrm
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, i.i AS i,
      |    CAST(floor(emb[i.i + 1] / nrm * 1000000000 + 0.5) AS BIGINT)
      |      AS uq
      |  FROM nv, LATERAL (SELECT unnest(range(0, len(emb))) AS i) i
      |  WHERE nrm > 0),
      |sd AS (
      |  SELECT i, CAST(sum(uq) AS HUGEINT) AS s,
      |    sum(CAST(uq AS HUGEINT) * uq) AS q
      |  FROM u GROUP BY 1),
      |t AS (
      |  SELECT sum(s * s) AS ssq, CAST(sum(q) AS HUGEINT) AS sq
      |  FROM sd),
      |n AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM nv WHERE nrm > 0)
      |SELECT n AS n_vectors,
      |  CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(ssq - sq AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * (n - 1)) / 1000000000000000000)
      |      * 1000000 + 0.5) / 1000000 END AS mean_cosine,
      |  floor((sqrt(CAST(ssq AS DOUBLE)) / n / 1000000000)
      |    * 1000000 + 0.5) / 1000000 AS mean_vector_norm
      |FROM t CROSS JOIN n""".stripMargin
  ) { (s, d) =>
    val nv = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("emb"))
      .withColumn("nrm", sqrt(VectorExpressions.sqnorm(col("emb"))))
      .filter(col("nrm") > 0)
      .cache() // one pass; the count and the dimension cells reuse it
    val u = nv
      .select(posexplode(col("emb")).as(Seq("i", "x")), col("nrm"))
      .select(col("i"),
        floor(col("x") / col("nrm") * 1000000000L + 0.5)
          .cast("long").as("uq"))
    val sd = u.groupBy(col("i"))
      .agg(sum(dec(col("uq"))).as("s"),
        sum(dec(col("uq")) * col("uq")).as("q"))
    val t = sd.agg(sum(col("s") * col("s")).as("ssq"),
      sum(col("q")).as("sq"))
    val n = nv.agg(count(lit(1)).as("n"))
    t.crossJoin(broadcast(n))
      .select(col("n").as("n_vectors"),
        when(col("n") <= 1, lit(0.0))
          .otherwise(floor(((col("ssq") - col("sq")).cast("double")
            / (col("n").cast("double") * (col("n") - 1)) / 1.0e18)
            * 1000000L + 0.5) / 1000000L).as("mean_cosine"),
        (floor((sqrt(col("ssq").cast("double")) / col("n")
          / 1000000000L) * 1000000L + 0.5) / 1000000L)
          .as("mean_vector_norm"))
  }

  /** Kish effective sample size per source under n_chars value
    * weighting — what q91's value-weighted sampling actually COSTS in
    * variance: ESS = (Σw)²/Σw², deff = n/ESS. A source whose long
    * docs dominate its weight has ESS ≪ n, and any statistic computed
    * from its weighted sample carries deff× the variance a naive
    * n-based CI claims (Kish 1965 — the survey-sampling standard).
    *
    * Exactness: pure decimal moment algebra ((Σw)² reaches (n·w̄)² —
    * decimal mandatory), one division chain per source, floored 1e-6.
    *
    * Scale shape: ONE documents pass → ≤|sources| moment cells. */
  val q268EssKish: QueryDef = QueryDef.withOracle(
    """WITH m AS (
      |  SELECT source, count(*) AS n,
      |    sum(CAST(n_chars AS HUGEINT)) AS sw,
      |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sww
      |  FROM documents GROUP BY 1)
      |SELECT source, n AS n_docs,
      |  CASE WHEN sww = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(sw AS DOUBLE) / sww * sw) * 1000000 + 0.5)
      |      / 1000000 END AS ess,
      |  CASE WHEN sw = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((n * (CAST(sww AS DOUBLE) / sw / sw))
      |      * 1000000 + 0.5) / 1000000 END AS deff,
      |  CASE WHEN sww = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(sw AS DOUBLE) / sww * sw / n)
      |      * 1000000 + 0.5) / 1000000 END AS ess_share
      |FROM m""".stripMargin
  ) { (s, d) =>
    val m = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(dec(col("n_chars"))).as("sw"),
        sum(dec(col("n_chars")) * col("n_chars")).as("sww"))
    m.select(col("source"), col("n").as("n_docs"),
      when(col("sww") === dec(lit(0)), lit(0.0))
        .otherwise(floor((col("sw").cast("double") / col("sww")
          * col("sw")) * 1000000L + 0.5) / 1000000L).as("ess"),
      when(col("sw") === dec(lit(0)), lit(0.0))
        .otherwise(floor((col("n") * (col("sww").cast("double")
          / col("sw") / col("sw"))) * 1000000L + 0.5) / 1000000L)
        .as("deff"),
      when(col("sww") === dec(lit(0)), lit(0.0))
        .otherwise(floor((col("sw").cast("double") / col("sww")
          * col("sw") / col("n")) * 1000000L + 0.5) / 1000000L)
        .as("ess_share"))
  }

  /** Degree assortativity of the supplier↔customer graph (q75's edge
    * set): the Pearson correlation of end degrees over the directed
    * edge list — positive means hubs wire to hubs, negative means
    * hub-and-spoke. q148's degree histogram says WHAT degrees exist;
    * this says how they MIX, which decides whether q73-style salting
    * or q180's skew audit will find one mega-join or many (the
    * networkx degree-Pearson convention, both orientations counted).
    *
    * Exactness: degrees are exact counts; the five moment sums over
    * edges accumulate in decimal (Σd² reaches E·d_max² ≈ 1e30 on a
    * hub-heavy fleet graph); r is one double chain floored 1e-6; a
    * degree-regular graph (zero variance) degrades to 0 (stated).
    *
    * Scale shape: one edge build (the q75 join) → degree rollup →
    * two node-keyed equi-joins attach end degrees → one 5-number
    * aggregate. By symmetry of the bidirectional list the two margin
    * moments coincide — computed once. */
  val q269Assortativity: QueryDef = QueryDef.withOracle(
    """WITH pair AS (
      |  SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (
      |  SELECT s AS src, c AS dst FROM pair
      |  UNION
      |  SELECT c AS src, s AS dst FROM pair),
      |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
      |        FROM e GROUP BY 1),
      |ed AS (
      |  SELECT ds.d AS x, dd.d AS y
      |  FROM e JOIN deg ds ON ds.node = e.src
      |  JOIN deg dd ON dd.node = e.dst),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS ne,
      |    sum(CAST(x AS HUGEINT)) AS sx,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM ed),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
      |SELECT n_nodes, ne // 2 AS n_edges,
      |  CASE WHEN CAST(ne AS HUGEINT) * sxx - sx * sx = 0
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(CAST(ne AS HUGEINT) * sxy - sx * sx
      |        AS DOUBLE)
      |      / CAST(CAST(ne AS HUGEINT) * sxx - sx * sx AS DOUBLE))
      |      * 1000000 + 0.5) / 1000000 END AS assortativity
      |FROM m CROSS JOIN nn""".stripMargin
  ) { (s, d) =>
    val pair = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("s"),
        (col("o_custkey") * 2 + 1).as("c"))
      .distinct()
    // both directions emit map-side off the DISTINCT (s, c) frame:
    // supplier and customer ids live in disjoint namespaces (2k vs
    // 2k+1), so the mirrored stream is distinct by construction and
    // the old union + second global distinct exchange bought nothing
    // (r13 port; guide §2.4)
    val e = pair.select(explode(array(
        struct(col("s").as("src"), col("c").as("dst")),
        struct(col("c").as("src"), col("s").as("dst")))).as("x"))
      .select(col("x.src").as("src"), col("x.dst").as("dst"))
      .cache() // edge list feeds the degree rollup and both attaches
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("d"))
    val ed = e.join(deg.toDF("src", "x"), Seq("src"))
      .join(deg.toDF("dst", "y"), Seq("dst"))
      .select(col("x"), col("y"))
    val m = ed.agg(count(lit(1)).as("ne"),
      sum(dec(col("x"))).as("sx"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val varX = dec(col("ne")) * col("sxx") - col("sx") * col("sx")
    m.crossJoin(broadcast(nn))
      .select(col("n_nodes"), (col("ne") / 2).cast("long").as("n_edges"),
        when(varX === dec(lit(0)), lit(0.0))
          .otherwise(floor(((dec(col("ne")) * col("sxy")
            - col("sx") * col("sx")).cast("double")
            / varX.cast("double")) * 1000000L + 0.5) / 1000000L)
          .as("assortativity"))
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
    val cv = AnalyticsOps14.docShapeCovariance(
      AnalyticsOps14.docShapeFeatures(s, d))
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

  val all: Map[String, QueryDef] = Map(
    "q265_cross_entropy_matrix" -> q265CrossEntropyMatrix,
    "q266_participation_ratio" -> q266ParticipationRatio,
    "q267_anisotropy" -> q267Anisotropy,
    "q268_ess_kish" -> q268EssKish,
    "q269_assortativity" -> q269Assortativity,
    "q270_partial_corr" -> q270PartialCorr
  )
}
