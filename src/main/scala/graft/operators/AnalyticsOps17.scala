package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.dec

/** Round-12 tranche five: the remaining text-curation metrics a
  * training-data pipeline reports per source — leave-one-out 4-gram
  * precision (the self-BLEU-style TEMPLATEDNESS number: how much of
  * each document is assembled from n-grams its own source already
  * contains — near-dup detectors q40/q42 ask "is this doc a copy",
  * this asks "is this SOURCE a template farm"), standardized
  * type-token ratio (the length-corrected lexical diversity the raw
  * TTR and even q240's Simpson can't give, because TTR falls with
  * length mechanically), per-word burstiness (Katz/Church: function
  * words spread evenly, content words clump — the statistic behind
  * stopword-list induction and tf saturation constants), and the
  * n-gram coverage curve over training fractions (how much NEW bigram
  * mass each additional 20% of the corpus buys — the data-scaling
  * readout a "collect more vs dedup harder" decision reads).
  *
  * House conventions: one tokenization pass per query; gram-keyed
  * joins shuffle gram cells, never tokens²; counts/products in
  * decimal where they can reach N²; IEEE chains in identical op order
  * both engines, quantized before order-dependent sums.
  */
object AnalyticsOps17 {

  /** The q170/q37/q209 split convention (shared md5 bucket). */
  private val bucketCol = expr(
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) " +
      "AS BIGINT) % 100")
  private val bucketSql =
    "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"

  /** Leave-one-out 4-gram precision per source — self-BLEU-style
    * templatedness: for each document, the share of its word 4-grams
    * that appear elsewhere in the SAME source (pool count minus own
    * count > 0), averaged over the source's scoreable docs. High
    * precision = boilerplate/template text; the number complements
    * q47 (within-doc repetition) and q40/q42 (whole-doc duplication)
    * by catching sources that remix the same phrases without ever
    * duplicating a document.
    *
    * Exactness: pure integer gram counting; per-doc precision
    * quantizes to 1e-6 and the per-source mean is an exact int sum
    * with one division. Docs with < 4 tokens are excluded (stated;
    * the scoreable count is reported).
    *
    * Scale shape: ONE tokenization pass → (doc, gram) cells → source
    * pool margins by a second agg over cells; the membership check is
    * a gram-keyed cell join (gram-cardinality-sized shuffle, never
    * tokens²). */
  val q271SelfBleu: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS tk
      |  FROM documents),
      |ix AS (
      |  SELECT doc_id, source, tk,
      |    unnest(generate_series(1, len(tk) - 3)) AS i
      |  FROM t),
      |dg AS (
      |  SELECT doc_id, source,
      |    array_to_string(tk[i:i + 3], ' ') AS gram, count(*) AS cd
      |  FROM ix GROUP BY 1, 2, 3),
      |sg AS (
      |  SELECT source, gram, CAST(sum(cd) AS BIGINT) AS cs
      |  FROM dg GROUP BY 1, 2),
      |p AS (
      |  SELECT dg.doc_id, dg.source,
      |    CAST(sum(CASE WHEN sg.cs - dg.cd > 0 THEN dg.cd ELSE 0 END)
      |      AS BIGINT) AS m,
      |    CAST(sum(dg.cd) AS BIGINT) AS tot
      |  FROM dg JOIN sg ON sg.source = dg.source AND sg.gram = dg.gram
      |  GROUP BY 1, 2),
      |d6 AS (
      |  SELECT source,
      |    CAST(floor((CAST(m AS DOUBLE) / tot) * 1000000 + 0.5)
      |      AS BIGINT) AS p6
      |  FROM p)
      |SELECT source, count(*) AS n_docs_scored,
      |  floor((CAST(sum(p6) AS DOUBLE) / count(*) / 1000000)
      |    * 1000000 + 0.5) / 1000000 AS loo_gram_precision
      |FROM d6 GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        split(col("text"), " ", -1).as("tk"))
    val dg = t
      // Spark's sequence(1, 0) DESCENDS — short docs must hit the
      // empty-array branch, not a bogus [1, 0] index list
      .select(col("doc_id"), col("source"), explode(expr(
        """CASE WHEN size(tk) >= 4
          |  THEN transform(sequence(1, size(tk) - 3), i ->
          |    array_join(slice(tk, i, 4), ' '))
          |  ELSE array() END""".stripMargin)).as("gram"))
      // ONE (source, gram)-keyed exchange serves the per-doc cell
      // aggregate, the source-pool margin AND its attachment (guide
      // §2.4): hash(source, gram) clusters the (doc, source, gram)
      // groups, the pool count cs is a partition-local window over the
      // same cells, and the old shape's THREE extra data exchanges —
      // sg's aggregate, plus both sides of the dg⋈sg re-shuffle — are
      // gone. Values are identical: the window sum is sg's sum over
      // exactly the same cells.
      .repartition(col("source"), col("gram"))
      .groupBy(col("doc_id"), col("source"), col("gram"))
      .agg(count(lit(1)).as("cd"))
    val p = dg
      .withColumn("cs", sum(col("cd")).over(
        Window.partitionBy(col("source"), col("gram"))).cast("long"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(when(col("cs") - col("cd") > 0, col("cd")).otherwise(0L))
        .cast("long").as("m"),
        sum(col("cd")).cast("long").as("tot"))
    p.select(col("source"),
        floor((col("m").cast("double") / col("tot")) * 1000000L + 0.5)
          .cast("long").as("p6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_scored"),
        (floor((sum(col("p6")).cast("double") / count(lit(1))
          / 1000000L) * 1000000L + 0.5) / 1000000L)
          .as("loo_gram_precision"))
  }

  /** Standardized type-token ratio (STTR, 25-token blocks) per
    * source — the length-corrected lexical diversity: raw TTR falls
    * mechanically with document length (Heaps), so cross-source TTR
    * comparisons confound verbosity with vocabulary; STTR averages
    * TTR over fixed-size blocks, making sources comparable (the
    * corpus-linguistics standard since Johnson 1944). Block size 25
    * so the statistic BINDS on this corpus's ~50-100-token documents
    * (production text uses the classic 100/1000 — one constant);
    * partial final blocks are excluded (stated; count reported).
    *
    * Exactness: block TTRs are exact integer ratios quantized 1e-6;
    * the per-source mean is an exact int sum with one division.
    *
    * Scale shape: ONE tokenization pass with positions → (doc, block)
    * distinct-counting (data-sized groupBy on the natural composite
    * key) → ≤blocks rollup. */
  val q272Sttr: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS tk
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, source, unnest(tk) AS word,
      |    unnest(generate_series(1, len(tk))) AS pos
      |  FROM t),
      |b AS (
      |  SELECT doc_id, source, (pos - 1) // 25 AS blk,
      |    count(*) AS n, count(DISTINCT word) AS v
      |  FROM w GROUP BY 1, 2, 3),
      |f AS (
      |  SELECT source,
      |    CAST(floor((CAST(v AS DOUBLE) / 25) * 1000000 + 0.5)
      |      AS BIGINT) AS t6
      |  FROM b WHERE n = 25)
      |SELECT source, count(*) AS n_blocks,
      |  floor((CAST(sum(t6) AS DOUBLE) / count(*) / 1000000)
      |    * 1000000 + 0.5) / 1000000 AS sttr
      |FROM f GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val w = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ", -1)).as(Seq("pos0", "word")))
    val b = w.groupBy(col("doc_id"), col("source"),
        (col("pos0") / 25).cast("long").as("blk"))
      .agg(count(lit(1)).as("n"), countDistinct(col("word")).as("v"))
    b.filter(col("n") === 25)
      .select(col("source"),
        floor((col("v").cast("double") / 25) * 1000000L + 0.5)
          .cast("long").as("t6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_blocks"),
        (floor((sum(col("t6")).cast("double") / count(lit(1))
          / 1000000L) * 1000000L + 0.5) / 1000000L).as("sttr"))
  }

  /** Burstiness (variance-to-mean ratio across documents) of the
    * corpus's top-100 words — Church & Gale's observation: function
    * words spread Poisson-like (VMR ≈ 1), content words CLUMP
    * (VMR ≫ 1). The statistic behind stopword-list induction (keep
    * low-VMR words out of q54's tf-idf, q55's BM25 saturation) and a
    * direct input to q194-style token budgeting. Zeros count: a
    * word's variance is over ALL documents, absent ones included.
    *
    * Exactness: per-word Σc and Σc² over containing docs are exact
    * decimal; the all-docs mean/variance fold the zero docs in
    * algebraically (E[c²] = Σc²/N); VMR is one double chain floored
    * 1e-6.
    *
    * Scale shape: one tokenization pass → (doc, word) cells filtered
    * by the broadcast top-100 pick (limit-then-rank) → ≤100 moment
    * rows. */
  val q273WordBurstiness: QueryDef = QueryDef.withOracle(
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |dw AS (
      |  SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
      |top AS (
      |  SELECT word FROM (
      |    SELECT word, row_number() OVER
      |      (ORDER BY sum(c) DESC, word) AS rk
      |    FROM dw GROUP BY word) WHERE rk <= 100),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |m AS (
      |  SELECT dw.word, CAST(count(*) AS BIGINT) AS df,
      |    CAST(sum(c) AS BIGINT) AS sc,
      |    sum(CAST(c AS HUGEINT) * c) AS scc
      |  FROM dw JOIN top USING (word) GROUP BY 1)
      |SELECT word, df AS doc_freq, sc AS total_count,
      |  floor(((CAST(scc AS DOUBLE) / nd
      |      - (CAST(sc AS DOUBLE) / nd) * (CAST(sc AS DOUBLE) / nd))
      |    / (CAST(sc AS DOUBLE) / nd)) * 1000000 + 0.5) / 1000000
      |    AS burstiness
      |FROM m CROSS JOIN nd""".stripMargin
  ) { (s, d) =>
    val dw = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .cache() // one tokenization pass; the pick and moments reuse it
    val top = AnalyticsOps2.topKByCount(
        dw.groupBy(col("word")).agg(sum(col("c")).as("tc")),
        Seq(col("tc").desc, col("word")), 100)
      .select(col("word"))
    val nd = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
    val m = dw.join(broadcast(top), Seq("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"), sum(col("c")).cast("long").as("sc"),
        sum(dec(col("c")) * col("c")).as("scc"))
    val mean = col("sc").cast("double") / col("nd")
    m.crossJoin(broadcast(nd))
      .select(col("word"), col("df").as("doc_freq"),
        col("sc").as("total_count"),
        (floor(((col("scc").cast("double") / col("nd") - mean * mean)
          / mean) * 1000000L + 0.5) / 1000000L).as("burstiness"))
  }

  /** Bigram coverage curve over training fractions — for the held-out
    * 20% (the q209/q210 md5 split), what share of its bigram TOKENS
    * is already covered by the first 20/40/60/80% of the corpus: the
    * data-scaling readout of "how much does more data actually buy"
    * (a flattening curve says the marginal shard adds noise, not
    * phrases — dedup harder; a steep one says collect more). The
    * bigram-level sibling of q219's Heaps fit and q67's novelty
    * timeline.
    *
    * Exactness: each test bigram's earliest train bucket is an exact
    * integer min; coverage at each threshold is a ratio of exact
    * int64 token counts, floored 1e-6.
    *
    * Scale shape: ONE bigram pass → (gram, min-train-bucket,
    * test-count) cells; the 4-row threshold sweep is a broadcast
    * conditional aggregate over those cells. */
  val q274CoverageCurve: QueryDef = QueryDef.withOracle(
    s"""WITH t AS (
      |  SELECT doc_id, $bucketSql AS b, string_split(text, ' ') AS tk
      |  FROM documents),
      |ix AS (
      |  SELECT b, tk, unnest(generate_series(1, len(tk) - 1)) AS i
      |  FROM t),
      |bg AS (
      |  SELECT b, tk[i] || ' ' || tk[i + 1] AS gram FROM ix),
      |cells AS (
      |  SELECT gram,
      |    min(CASE WHEN b < 80 THEN b END) AS minb,
      |    CAST(sum(CASE WHEN b >= 80 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ct
      |  FROM bg GROUP BY 1),
      |th(train_pct) AS (VALUES (20), (40), (60), (80)),
      |cov AS (
      |  SELECT th.train_pct,
      |    CAST(sum(CASE WHEN cells.minb IS NOT NULL
      |      AND cells.minb < th.train_pct THEN cells.ct ELSE 0 END)
      |      AS BIGINT) AS covered,
      |    CAST(sum(cells.ct) AS BIGINT) AS total
      |  FROM th CROSS JOIN cells GROUP BY 1)
      |SELECT CAST(train_pct AS BIGINT) AS train_pct,
      |  total AS n_test_bigrams,
      |  floor((CAST(covered AS DOUBLE) / total) * 1000000 + 0.5)
      |    / 1000000 AS coverage
      |FROM cov WHERE total > 0""".stripMargin
  ) { (s, d) =>
    val bg = Tables.documents(s, d)
      .select(bucketCol.as("b"), split(col("text"), " ", -1).as("tk"))
      // same sequence(1, 0)-descends guard as q271
      .select(col("b"), explode(expr(
        """CASE WHEN size(tk) >= 2
          |  THEN transform(sequence(1, size(tk) - 1), i ->
          |    concat(tk[i - 1], ' ', tk[i]))
          |  ELSE array() END""".stripMargin)).as("gram"))
    val cells = bg.groupBy(col("gram"))
      .agg(min(when(col("b") < 80, col("b"))).as("minb"),
        sum(when(col("b") >= 80, 1L).otherwise(0L)).cast("long")
          .as("ct"))
    val th = s.createDataFrame(Seq(Tuple1(20), Tuple1(40), Tuple1(60),
      Tuple1(80))).toDF("train_pct")
    broadcast(th).crossJoin(cells)
      .groupBy(col("train_pct"))
      .agg(sum(when(col("minb").isNotNull
        && col("minb") < col("train_pct"), col("ct")).otherwise(0L))
        .cast("long").as("covered"),
        sum(col("ct")).cast("long").as("total"))
      .filter(col("total") > 0)
      .select(col("train_pct").cast("long").as("train_pct"),
        col("total").as("n_test_bigrams"),
        (floor((col("covered").cast("double") / col("total"))
          * 1000000L + 0.5) / 1000000L).as("coverage"))
  }

  val all: Map[String, QueryDef] = Map(
    "q271_self_bleu" -> q271SelfBleu,
    "q272_sttr" -> q272Sttr,
    "q273_word_burstiness" -> q273WordBurstiness,
    "q274_coverage_curve" -> q274CoverageCurve
  )
}
