package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Term-weighting / retrieval-scoring operators over the `documents`
  * table: TF-IDF term extraction and BM25 document ranking — the
  * relevance primitives a corpus-curation pipeline uses for keyword
  * extraction, boilerplate detection, and query-based subsetting.
  *
  * Scale shape: both operators are explode → (doc, term) aggregate →
  * join against the (small relative to the corpus) per-term document
  * frequency table. The explode shuffle keys on (doc_id, term) with
  * map-side combine (a document's repeated terms collapse before the
  * exchange); nothing is collected to the driver.
  *
  * Cross-engine determinism: ranking keys avoid transcendental
  * functions — TF-IDF ranks on the pure-rational (tf/len)/df (IEEE
  * division only, bit-identical in any engine) and BM25 on an exact
  * integer fixed-point score sum — while the displayed scores carry
  * the classic ln() forms, floor-rounded where 1-ulp libm differences
  * can never flip a digit.
  */
object RankingOps {

  /** TF-IDF top-3 terms per document. The RANKING key is the rational
    * variant score (tf/n_tok)/df — monotone in term frequency and
    * rarity, and exactly reproducible (integer-derived IEEE divisions,
    * term-name tiebreak). The classic (tf/n_tok)·ln(N/df) value is
    * emitted alongside at 4 dp for display.
    *
    * Scale shape: ONE tokenization pass — n_tok rides the explode so
    * the doc-length join disappears, and the postings frame is
    * cached so df derives from it instead of re-tokenizing (the
    * standard inverted-index materialization trade: the r9 plan
    * audit found the corpus split THREE times — tf, df's re-derive,
    * and the length scan; sf10 7.1 s → 2.9 s after). df stays an
    * AQE-decided broadcast (vocab ≪ postings; never forced — the
    * q181 lesson), and the top-3 filter runs as partial+final
    * WindowGroupLimit so only ≤3 rows per doc cross the last
    * exchange. */
  val q54Tfidf: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    (CAST(tf.tf AS DOUBLE) / dl.n_tok) / df.df AS r_score,
      |    (CAST(tf.tf AS DOUBLE) / dl.n_tok) * ln(CAST(n.n_docs AS DOUBLE) / df.df)
      |      AS tfidf_raw
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, rank, term, tf, df,
      |  floor(tfidf_raw * 10000 + 0.5) / 10000 AS tfidf
      |FROM (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY doc_id ORDER BY r_score DESC, term) AS rank
      |  FROM scored)
      |WHERE rank <= 3""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tok"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("n_tok"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .cache() // postings: built once, read by the score AND df passes
    // tf is distinct per (doc, term), so df = row count per term; at
    // corpus scale the vocabulary is orders of magnitude smaller than
    // the postings, and AQE picks broadcast when it fits
    val dfF = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfF, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("r_score",
        (col("tf").cast("double") / col("n_tok")) / col("df"))
      .withColumn("tfidf_raw",
        (col("tf").cast("double") / col("n_tok")) *
          log(col("n_docs").cast("double") / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("r_score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        (floor(col("tfidf_raw") * 10000 + 0.5) / 10000).as("tfidf"))
  }

  /** BM25 fixed-point quantum: term scores are floored to 1e-5 units
    * and summed as exact integers, so the per-document total is
    * independent of partial-aggregation merge order AND engine. */
  private val ScoreQuantum = 100000.0

  /** BM25-scored documents for a fixed term set: (doc_id, n_match,
    * s_fp) with the fixed-point integer score — q55's aggregation,
    * shared with the hybrid-fusion ranker (q121). See q55 for the
    * arithmetic contract. */
  private def bm25Agg(s: org.apache.spark.sql.SparkSession, d: String,
      queryTerms: Seq[String]): DataFrame = {
    val docs = Tables.documents(s, d)
    // ONE tokenization pass, period (r13 verdict #6 closed the last
    // straggler): the explode aggregates per doc into per-term
    // conditional counts PLUS n_tok, so tf, df, n_docs AND avgdl all
    // derive from the cached per-doc frame — the r9 shape still paid
    // a second full-corpus split() for avgdl; this one doesn't. The
    // per-doc frame is one narrow row per document (doc_id is unique,
    // so the group-by collapses map-side and the exchange carries
    // |docs| rows of 2 + |queryTerms| integers, no strings). A NULL
    // text keeps its row (explode_outer) with a NULL n_tok and no
    // matches: the oracle's g counts it in n_docs, not in avgdl's sum.
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$i")
    }
    val perDoc = docs
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .select(col("doc_id"),
        when(col("toks").isNotNull, size(col("toks"))).as("n_tok"),
        explode_outer(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(tfCols.head, tfCols.tail: _*)
      .cache() // one narrow row per doc, read by tf / df / g below
    // (doc, term, tf) rows for matched terms only — the old tf frame
    val tf = perDoc
      .select(col("doc_id"), col("n_tok"),
        explode(map_from_arrays(
          array(queryTerms.map(lit(_)): _*),
          array(queryTerms.indices.map(i => col(s"tf_$i")): _*)))
          .as(Seq("term", "tf")))
      .filter(col("tf") > 0)
    // df counts DOCUMENTS containing the term (per-doc-distinct rows)
    val dfF = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val g = perDoc.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("n_tok").cast("long")).cast("double")
        / count(lit(1)).cast("double")).as("avgdl"))
    // arithmetic mirrored operation-for-operation with the oracle SQL:
    // idf · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl)), k1=1.2 b=0.75
    val termScore =
      log(((col("n_docs").cast("double") - col("df").cast("double")) + 0.5)
        / (col("df").cast("double") + 0.5) + 1.0) *
        (col("tf").cast("double") * 2.2) /
        (col("tf").cast("double") + lit(1.2) *
          (lit(0.25) + lit(0.75) * (col("n_tok").cast("double") / col("avgdl"))))
    tf
      .join(broadcast(dfF), Seq("term"))
      .crossJoin(broadcast(g))
      .withColumn("term_score", termScore)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_match"),
        sum(floor(col("term_score") * ScoreQuantum + 0.5).cast("long"))
          .as("s_fp"))
  }

  /** BM25 (k1=1.2, b=0.75) top-20 documents for the query
    * {spark, window, join}. Per-(doc, query-term) scores use the
    * Robertson idf ln((N−df+0.5)/(df+0.5)+1); each term score is
    * quantized to integer 1e-5 units BEFORE the per-document sum, so
    * the ranking key is an exact integer (order-free across
    * partitionings) and the tie-break is doc_id. */
  val q55Bm25: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM t
      |  WHERE term IN ('spark', 'window', 'join') GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
      |g AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM documents),
      |ts AS (
      |  SELECT tf.doc_id,
      |    ln(((CAST(g.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE)) + 0.5::DOUBLE)
      |       / (CAST(df.df AS DOUBLE) + 0.5::DOUBLE) + 1.0::DOUBLE)
      |      * (CAST(tf.tf AS DOUBLE) * 2.2::DOUBLE)
      |      / (CAST(tf.tf AS DOUBLE) + 1.2::DOUBLE *
      |         (0.25::DOUBLE + 0.75::DOUBLE * (CAST(dl.n_tok AS DOUBLE) / g.avgdl)))
      |      AS term_score
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN g),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_match,
      |    CAST(sum(CAST(floor(term_score * 100000.0::DOUBLE + 0.5::DOUBLE)
      |      AS BIGINT)) AS BIGINT) AS s_fp
      |  FROM ts GROUP BY doc_id)
      |SELECT doc_id, n_match, CAST(s_fp AS DOUBLE) / 100000.0::DOUBLE AS score
      |FROM agg ORDER BY s_fp DESC, doc_id LIMIT 20""".stripMargin
  ) { (s, d) =>
    bm25Agg(s, d, Seq("spark", "window", "join"))
      .orderBy(col("s_fp").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_match"),
        (col("s_fp").cast("double") / ScoreQuantum).as("score"))
  }

  /** Exact-phrase search via positional posting intersection: every
    * occurrence (doc, position) of a 3-word phrase. The phrase is the
    * corpus's highest-df trigram (deterministic: df desc, then the
    * trigram string — a self-contained gate; a user query would slot
    * into the same plan as a literal).
    *
    * The operator is the positional-inverted-index shape, not a
    * substring scan: tokens explode to (doc_id, pos, tok) postings,
    * each phrase term filters its own posting stream — the scan-side
    * predicate is the "seek the term's posting list" of a real
    * index — and consecutive terms equi-join on (doc_id, pos−i).
    * Spark executes the intersection as hash joins keyed (doc_id,
    * pos): co-partitioned after the first, and each join can only
    * SHRINK the stream, so the cheapest (rarest-term) postings
    * dominate the cost exactly as in classic rarest-first query
    * planning. At 100 TB the postings frame is the thing you
    * pre-bucket by term; the per-query work is then a bucket-pruned
    * read per phrase term. */
  val q89PhraseSearch: QueryDef = QueryDef.withOracle(
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL
      |    (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
      |target AS (
      |  SELECT s FROM (
      |    SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY 1)
      |  ORDER BY df DESC, s LIMIT 1)
      |SELECT sh.doc_id, sh.pos, sh.s AS phrase
      |FROM sh JOIN target ON sh.s = target.s""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    // positional unigram postings: (doc_id, pos, tok)
    val post = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ", -1)).as(Seq("pos", "tok")))
    // deliberately NOT cached: the three per-term branches re-tokenize,
    // but each keeps only ONE token's postings — an r9 A/B measured the
    // full positional-postings materialization as a net loss (sf10
    // 8.15 s uncached vs 8.56 s cached); contrast q54, where the cache
    // feeds the UNfiltered postings twice and wins 2.1×
    // the gate's "query": top-df trigram, derived once (an aggregate
    // over the trigram stream, broadcast as a 1-row frame)
    val target = docs
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("s"))
      .limit(1)
      .select(split(col("s"), " ", -1).as("ws"), col("s").as("phrase"))
    // one filtered posting stream per phrase term, re-based to the
    // phrase start; intersection = co-partitioned (doc_id, pos) joins
    def term(i: Int) = post.crossJoin(broadcast(target))
      .filter(col("tok") === col("ws")(i))
      .select(col("doc_id"), (col("pos") - i).cast("long").as("pos"),
        col("phrase"))
    term(0)
      .join(term(1).drop("phrase"), Seq("doc_id", "pos"))
      .join(term(2).drop("phrase"), Seq("doc_id", "pos"))
      .select(col("doc_id"), col("pos"), col("phrase"))
  }

  /** Hybrid retrieval by reciprocal-rank fusion (RRF, k=60): the
    * keyword ranking (BM25 over {spark, window, join} — q55's exact
    * scorer) and the dense ranking (cosine of every embedding against
    * vec_id 0's vector — q50's exact scorer) fuse as
    * Σ 1/(60 + rank), a side missing from either ranking contributing
    * 0 — the standard RAG first-stage retriever, robust to the two
    * scores living on incomparable scales because only RANKS cross
    * the fusion boundary. Top-10 fused items, doc_id ≡ vec_id.
    *
    * Parity: each 1/(60+r) is one IEEE division of exact integers,
    * the fusion is a fixed two-term sum (not an aggregate — no order
    * dependence), and ties (a text-rank/vec-rank swap gives the
    * bit-identical sum) break on id. Unranked sides emit sentinel
    * rank 0 (a NULL int column would round-trip as float through the
    * oracle's dataframe compare).
    *
    * Scale: both global rankings run the q112 two-phase prefix
    * pattern (range-repartition + local rank + broadcast offsets) —
    * no single-task ORDER BY window anywhere; the dense side scans
    * the corpus once against one broadcast query vector; the fusion
    * join keys on the id both frames are already derived from; the
    * final top-10 is TakeOrderedAndProject. */
  val q121HybridRrf: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM t
      |  WHERE term IN ('spark', 'window', 'join') GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
      |g AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM documents),
      |ts AS (
      |  SELECT tf.doc_id,
      |    ln(((CAST(g.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE)) + 0.5::DOUBLE)
      |       / (CAST(df.df AS DOUBLE) + 0.5::DOUBLE) + 1.0::DOUBLE)
      |      * (CAST(tf.tf AS DOUBLE) * 2.2::DOUBLE)
      |      / (CAST(tf.tf AS DOUBLE) + 1.2::DOUBLE *
      |         (0.25::DOUBLE + 0.75::DOUBLE * (CAST(dl.n_tok AS DOUBLE) / g.avgdl)))
      |      AS term_score
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN g),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(sum(CAST(floor(term_score * 100000.0::DOUBLE + 0.5::DOUBLE)
      |      AS BIGINT)) AS BIGINT) AS s_fp
      |  FROM ts GROUP BY doc_id),
      |rt AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY s_fp DESC, doc_id)
      |    AS BIGINT) AS rt FROM agg),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |qv AS (SELECT emb AS q_emb FROM c WHERE vec_id = 0),
      |sv AS (
      |  SELECT vec_id, round(list_cosine_similarity(q_emb, emb), 6) AS cosine
      |  FROM c, qv WHERE vec_id <> 0),
      |rv AS (
      |  SELECT vec_id, CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
      |    AS BIGINT) AS rv FROM sv),
      |fused AS (
      |  SELECT coalesce(rt.doc_id, rv.vec_id) AS id,
      |    coalesce(rt.rt, 0) AS rt, coalesce(rv.rv, 0) AS rv,
      |    coalesce(1.0::DOUBLE / (60 + rt.rt), 0.0::DOUBLE)
      |      + coalesce(1.0::DOUBLE / (60 + rv.rv), 0.0::DOUBLE) AS rrf
      |  FROM rt FULL OUTER JOIN rv ON rt.doc_id = rv.vec_id),
      |top AS (SELECT * FROM fused ORDER BY rrf DESC, id LIMIT 10)
      |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id) AS BIGINT) AS rank,
      |  id, rt, rv, round(rrf, 6) AS rrf
      |FROM top""".stripMargin
  ) { (s, d) =>
    import graft.functions.VectorExpressions
    val rt = Kernels.globalRowNumber(
      bm25Agg(s, d, Seq("spark", "window", "join")).select("doc_id", "s_fp"),
      Seq(col("s_fp").desc, col("doc_id")), "rt")
    val c = Tables.embeddings(s, d)
    val qv = c.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val sv = c.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(VectorExpressions.cosine(col("q_emb"), col("embedding")), 6)
          .as("cosine"))
    val rv = Kernels.globalRowNumber(
      sv, Seq(col("cosine").desc, col("vec_id")), "rv")
    val fused = rt.select(col("doc_id"), col("rt"))
      .join(rv.select(col("vec_id"), col("rv")),
        col("doc_id") === col("vec_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("vec_id")).as("id"),
        col("rt"), col("rv"),
        (coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))).as("rrf"))
    Kernels.topKByCount(fused,
        Seq(col("rrf").desc, col("id")), 10, Some("rank"))
      .withColumn("rank", col("rank").cast("long"))
      .select(col("rank"), col("id"), coalesce(col("rt"), lit(0L)).as("rt"),
        coalesce(col("rv"), lit(0L)).as("rv"), round(col("rrf"), 6).as("rrf"))
  }

  val all: Map[String, QueryDef] = Map(
    "q54_tfidf" -> q54Tfidf,
    "q55_bm25" -> q55Bm25,
    "q89_phrase_search" -> q89PhraseSearch,
    "q121_hybrid_rrf" -> q121HybridRrf
  )
}
