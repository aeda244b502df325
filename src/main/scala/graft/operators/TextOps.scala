package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Exact.dec

/** Text-analysis operators for the training-data pipeline surface
  * (builder prompt: language-ID, quality scoring, token counting,
  * fingerprinting) over the `documents` table.
  *
  * All token work uses codegen'd built-ins (`split`, higher-order
  * array functions) — no UDFs — so the hot path stays inside
  * whole-stage codegen and scales linearly with input splits.
  */
object TextOps {

  /** Token counting + basic text stats. Whitespace tokenization on the
    * single-space-separated corpus; avg token length derived purely
    * from scalar arithmetic so both engines agree exactly. */
  val q30TextStats: QueryDef = QueryDef.withOracle(
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_char,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |  floor(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |        / len(string_split(text, ' ')) * 1000 + 0.5) / 1000 AS avg_tok_len
      |FROM documents""".stripMargin
  ) { (s, d) =>
    val nTok = size(split(col("text"), " ", -1))
    // integer/integer ratio → floor-round (engine-identical doubles)
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_char"),
      nTok.cast("long").as("n_tok"),
      (floor((length(col("text")) - (nTok - 1)).cast("double") / nTok * 1000
        + 0.5) / 1000).as("avg_tok_len"))
  }

  /** Quality scoring in the reference's quality_score style
    * (bronze_to_silver.py:150-165: 1.0 minus weighted penalties,
    * floor at 0): penalties for very short docs, high stopword ratio,
    * low vocabulary diversity. */
  val q31TextQuality: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT doc_id,
      |    string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_distinct(string_split(text, ' '))) AS n_uniq,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the', 'a'))) AS n_stop
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(n_tok AS BIGINT) AS n_tok,
      |  CAST(n_uniq AS BIGINT) AS n_uniq,
      |  floor(CAST(n_stop AS DOUBLE) / n_tok * 10000 + 0.5) / 10000 AS stop_ratio,
      |  floor(greatest(0.0, 1.0
      |    - 0.3 * (CAST(n_stop AS DOUBLE) / n_tok)
      |    - (CASE WHEN n_tok < 20 THEN 0.2 ELSE 0.0 END)
      |    - 0.2 * (1.0 - CAST(n_uniq AS DOUBLE) / n_tok)) * 10000 + 0.5) / 10000
      |    AS quality_score
      |FROM t""".stripMargin
  ) { (s, d) =>
    val toks = split(col("text"), " ", -1)
    val nTok = size(toks)
    val nUniq = size(array_distinct(toks))
    val nStop = size(filter(toks, x => x.isin("the", "a")))
    val stopRatio = nStop.cast("double") / nTok
    // integer-ratio formula → floor-round (see q21/q23 rationale)
    Tables.documents(s, d).select(
      col("doc_id"),
      nTok.cast("long").as("n_tok"),
      nUniq.cast("long").as("n_uniq"),
      (floor(stopRatio * 10000 + 0.5) / 10000).as("stop_ratio"),
      (floor(greatest(lit(0.0), lit(1.0)
        - lit(0.3) * stopRatio
        - when(nTok < 20, 0.2).otherwise(0.0)
        - lit(0.2) * (lit(1.0) - nUniq.cast("double") / nTok)) * 10000 + 0.5)
        / 10000).as("quality_score"))
  }

  /** Corpus rollup per language: volume, length stats, source spread.
    * (A7 chart group-by shape over the documents table.) */
  val q32LangStats: QueryDef = QueryDef.withOracle(
    """SELECT lang, count(*) AS n_docs,
      |  floor(avg(CAST(n_chars AS DOUBLE)) * 1000 + 0.5) / 1000 AS avg_chars,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      (floor(avg(col("n_chars").cast("double")) * 1000 + 0.5) / 1000)
        .as("avg_chars"),
      countDistinct(col("source")).as("n_sources"))
  }

  /** Document fingerprinting: md5 over the sorted distinct token set —
    * an order-insensitive content fingerprint usable as an exact-dedup
    * key that survives token reordering. */
  val q33Fingerprint: QueryDef = QueryDef.withOracle(
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
      |    AS fingerprint
      |FROM documents""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"), contentFingerprint.as("fingerprint"))
  }

  /** Language-ID by stopword-marker scoring: per-language marker token
    * counts, predict the argmax (ties → 'und'). A real n-gram
    * profile would extend the marker table; the operator shape
    * (tokenize → per-class score → argmax) is the production one. */
  /** The ONE stopword lang-id classifier (q34's contract), factored
    * so every consumer scores identically: q34 (the per-doc report),
    * q38 (curation top-k per predicted language), and q177 (the eval
    * that grades q34's predictions). An edit to the lists or the
    * tie-break moves all three together — which is the point: the
    * eval must always be grading the classifier that actually runs. */
  private[operators] object LangId {
    val En = Seq("the", "a", "of")
    val Es = Seq("la", "el", "de")
    val De = Seq("der", "die", "das")
    def scEn(toks: Column): Column = size(filter(toks, x => x.isin(En: _*)))
    def scEs(toks: Column): Column = size(filter(toks, x => x.isin(Es: _*)))
    def scDe(toks: Column): Column = size(filter(toks, x => x.isin(De: _*)))
    def pick(en: Column, es: Column, de: Column): Column =
      when(en >= es && en >= de && en > 0, "en")
        .when(es > en && es >= de, "es")
        .when(de > en && de > es, "de")
        .otherwise("und")
    /** DuckDB score column defs over a `toks` list column. */
    val sqlScores: String =
      "len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS sc_en,\n" +
      "    len(list_filter(toks, x -> x IN ('la', 'el', 'de'))) AS sc_es,\n" +
      "    len(list_filter(toks, x -> x IN ('der', 'die', 'das'))) AS sc_de"
    /** DuckDB pick CASE over sc_en / sc_es / sc_de columns. */
    val sqlPick: String =
      "CASE WHEN sc_en >= sc_es AND sc_en >= sc_de AND sc_en > 0 THEN 'en'\n" +
      "       WHEN sc_es > sc_en AND sc_es >= sc_de THEN 'es'\n" +
      "       WHEN sc_de > sc_en AND sc_de > sc_es THEN 'de'\n" +
      "       ELSE 'und' END"
  }

  val q34LangId: QueryDef = QueryDef.withOracle(
    s"""WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |s AS (
      |  SELECT doc_id, lang,
      |    ${LangId.sqlScores}
      |  FROM t)
      |SELECT doc_id, lang AS labeled_lang,
      |  ${LangId.sqlPick} AS predicted_lang
      |FROM s""".stripMargin
  ) { (s, d) =>
    val toks = split(col("text"), " ", -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), LangId.scEn(toks).as("sc_en"),
        LangId.scEs(toks).as("sc_es"), LangId.scDe(toks).as("sc_de"))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        LangId.pick(col("sc_en"), col("sc_es"), col("sc_de"))
          .as("predicted_lang"))
  }

  /** BPE-ish token estimation via regex unit counting (letters runs,
    * single digits, single punctuation — the coarse shape of a BPE
    * pre-tokenizer), alongside whitespace tokens for comparison. */
  val q35TokenEstimate: QueryDef = QueryDef.withOracle(
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT)
      |    AS bpe_units,
      |  floor(CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS DOUBLE)
      |    / len(string_split(text, ' ')) * 1000 + 0.5) / 1000 AS units_per_token
      |FROM documents""".stripMargin
  ) { (s, d) =>
    val ws = size(split(col("text"), " ", -1))
    val units = size(expr("regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]', 0)"))
    Tables.documents(s, d).select(
      col("doc_id"),
      ws.cast("long").as("ws_tokens"),
      units.cast("long").as("bpe_units"),
      (floor(units.cast("double") / ws * 1000 + 0.5) / 1000)
        .as("units_per_token"))
  }

  /** Per-doc rolling fingerprints — q36's engine-specific piece,
    * dumped by Verify for the oracle. */
  def rollingFpFrame(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextExpressions.rollingFingerprint(
          split(col("text"), " ", -1)).as("fp"))

  /** Order-sensitive rolling-hash fingerprint (native expression):
    * detects exact token-sequence duplicates in one map-only pass,
    * grouped into the duplicate-sequence histogram. The hash is
    * engine-specific (xxhash64 token folds), so the oracle starts from
    * the dumped fingerprint fixture and re-derives the histogram. */
  val q36RollingFingerprint: QueryDef = QueryDef.withOracle(
    s"""SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_doc
      |FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/rolling_fps.parquet/*.parquet')
      |GROUP BY fp""".stripMargin
  ) { (s, d) =>
    rollingFpFrame(s, d)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc"))
  }

  private[operators] def splitOf(bucket: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(bucket < 205, "train").when(bucket < 230, "val").otherwise("test")

  /** Order-insensitive content fingerprint (q33/q45's shared key). */
  private[operators] def contentFingerprint: org.apache.spark.sql.Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ", -1)))))

  /** Deterministic train/val/test corpus split — the first operator of
    * any training run. Hash-based (md5 of the doc id → 256 buckets:
    * 80/10/10), so membership is stable under corpus growth and
    * repartitioning, unlike row-number or random splits. Entirely
    * map-side until the tiny per-split rollup. */
  val q37TrainSplit: QueryDef = QueryDef.withOracle(
    """WITH b AS (
      |  SELECT doc_id, text,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS bucket
      |  FROM documents)
      |SELECT CASE WHEN bucket < 205 THEN 'train'
      |            WHEN bucket < 230 THEN 'val'
      |            ELSE 'test' END AS split,
      |  count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(min(doc_id) AS BIGINT) AS first_doc
      |FROM b GROUP BY 1""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), Kernels.docBucket.as("bucket"))
      .select(splitOf(col("bucket")).as("split"), col("doc_id"), col("text"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ", -1)).cast("long")).as("total_tokens"),
        min(col("doc_id")).cast("long").as("first_doc"))
  }

  /** Curation sampling: top-3 docs per predicted language by quality
    * score (q34's classifier × q31's scorer × a per-group top-k).
    * The rank()-style filter plans partial+final WindowGroupLimit, so
    * each partition ships at most k rows per language to the window
    * shuffle — the scale shape for "best N examples per class". */
  val q38CurateTopK: QueryDef = QueryDef.withOracle(
    s"""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_distinct(string_split(text, ' '))) AS n_uniq,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the', 'a'))) AS n_stop,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the', 'a', 'of'))) AS sc_en,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('la', 'el', 'de'))) AS sc_es,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('der', 'die', 'das'))) AS sc_de
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id,
      |    ${LangId.sqlPick} AS predicted_lang,
      |    floor(greatest(0.0, 1.0
      |      - 0.3 * (CAST(n_stop AS DOUBLE) / n_tok)
      |      - (CASE WHEN n_tok < 20 THEN 0.2 ELSE 0.0 END)
      |      - 0.2 * (1.0 - CAST(n_uniq AS DOUBLE) / n_tok)) * 10000 + 0.5) / 10000
      |      AS quality_score
      |  FROM t)
      |SELECT predicted_lang, rank, doc_id, quality_score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY predicted_lang
      |    ORDER BY quality_score DESC, doc_id) AS rank
      |  FROM scored) WHERE rank <= 3""".stripMargin
  ) { (s, d) =>
    val toks = split(col("text"), " ", -1)
    val nTok = size(toks)
    val nUniq = size(array_distinct(toks))
    val nStop = size(filter(toks, x => x.isin("the", "a")))
    val scored = Tables.documents(s, d).select(
      col("doc_id"),
      LangId.pick(LangId.scEn(toks), LangId.scEs(toks), LangId.scDe(toks))
        .as("predicted_lang"),
      (floor(greatest(lit(0.0), lit(1.0)
        - lit(0.3) * (nStop.cast("double") / nTok)
        - when(nTok < 20, 0.2).otherwise(0.0)
        - lit(0.2) * (lit(1.0) - nUniq.cast("double") / nTok)) * 10000 + 0.5)
        / 10000).as("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("predicted_lang"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("predicted_lang", "rank", "doc_id", "quality_score")
  }

  /** Vocabulary statistics: top-100 trigram shingles by document
    * frequency (desc, shingle tiebreak) — the rollup a tokenizer/
    * vocabulary build starts from. Plans TakeOrderedAndProject: each
    * partition ships only its local top-100, never a global sort. */
  val q39VocabTopK: QueryDef = QueryDef.withOracle(
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g)
      |SELECT s AS shingle, count(*) AS df
      |FROM sh GROUP BY s
      |ORDER BY df DESC, s LIMIT 100""".stripMargin
  ) { (s, d) =>
    Kernels.shingles(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
      .groupBy(col("s").as("shingle"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle"))
      .limit(100)
  }

  /** Decontamination: test-split documents whose content fingerprint
    * (q33's order-insensitive token-set md5) also appears in the train
    * split — the overlap a pretraining pipeline must drop before
    * evaluation means anything. Scale shape: a semi-join keyed on the
    * 16-byte digest; both sides are map-side projections of the same
    * scan, so the only shuffle carries (digest) pairs. */
  val q45Decontaminate: QueryDef = QueryDef.withOracle(
    """WITH f AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
      |      AS fp,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS bucket
      |  FROM documents)
      |SELECT doc_id, fp AS fingerprint FROM f
      |WHERE bucket >= 230
      |  AND fp IN (SELECT fp FROM f WHERE bucket < 205)""".stripMargin
  ) { (s, d) =>
    val f = Tables.documents(s, d)
      .select(col("doc_id"), contentFingerprint.as("fingerprint"),
        Kernels.docBucket.as("bucket"))
    f.filter(col("bucket") >= 230) // test split (q37's banding)
      .join(f.filter(col("bucket") < 205).select(col("fingerprint")),
        Seq("fingerprint"), "left_semi")
      .select("doc_id", "fingerprint")
  }

  /** Token budget per packed pretraining sequence (q46). A power of
    * two: the cumulative-offset division is then exact in binary, so
    * floor-binning is engine-agnostic. Shared with CorpusOpsSpec's
    * contiguity precondition. */
  val PackBudget: Int = 8192

  /** Document packing: stream each (split, shard)'s documents in
    * doc_id order and cut fixed token-budget bins by cumulative
    * offset — how pretraining sequences are packed from a corpus.
    * Rolled up per bin. Scale shape: the running sum parallelizes
    * across (split, shard) window partitions — sharding is what keeps
    * the sequential scan per partition bounded at 100 TB (shard count
    * scales with the corpus; 8 here), and the cumulative sum is exact
    * integer arithmetic so the binning is engine-agnostic. */
  val q46DocPack: QueryDef = QueryDef.withOracle(
    s"""WITH b AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS bucket,
      |    len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_tok,
      |    CASE WHEN bucket < 205 THEN 'train'
      |         WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
      |    bucket % 8 AS shard
      |  FROM b),
      |packed AS (
      |  SELECT split, shard, n_tok,
      |    CAST(floor((sum(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id)
      |          - n_tok) / $PackBudget) AS BIGINT) AS bin
      |  FROM s)
      |SELECT split, CAST(shard AS BIGINT) AS shard, bin,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
      |FROM packed GROUP BY 1, 2, 3""".stripMargin
  ) { (s, d) =>
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      Kernels.docBucket.as("bucket"),
      size(split(col("text"), " ", -1)).as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        splitOf(col("bucket")).as("split"),
        (col("bucket") % 8).as("shard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("split"), col("shard")).orderBy(col("doc_id"))
    base
      // 8192 = 2^13: the double division is exact, so floor is
      // engine-agnostic (DuckDB's double→BIGINT cast would round)
      .withColumn("bin",
        floor((sum(col("n_tok")).over(w) - col("n_tok")) / PackBudget))
      .groupBy(col("split"), col("shard").cast("long").as("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("bin_tokens"))
  }

  /** Within-document repetition scoring (the Gopher-style repetition
    * filter): fraction of trigram positions whose trigram already
    * occurred earlier in the document. High ratios mark boilerplate /
    * degenerate text a pretraining corpus drops. Map-only — token
    * arrays never leave their row, so the operator scales as a pure
    * scan projection. */
  val q47Repetition: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |g AS (
      |  SELECT doc_id,
      |    len(tk) - 2 AS n_tri,
      |    len(list_distinct(list_transform(range(1, len(tk) - 1),
      |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS n_uniq
      |  FROM t)
      |SELECT doc_id, CAST(n_tri AS BIGINT) AS n_tri,
      |  CAST(n_uniq AS BIGINT) AS n_uniq,
      |  floor(CAST(n_tri - n_uniq AS DOUBLE) / n_tri * 10000 + 0.5) / 10000
      |    AS rep_ratio,
      |  (CAST(n_tri - n_uniq AS DOUBLE) / n_tri) <= 0.2 AS keep
      |FROM g""".stripMargin
  ) { (s, d) => repetitionScores(Tables.documents(s, d)) }

  /** q47's body over any (doc_id, text) frame — shared with the spec
    * so synthetic extremes exercise the REAL operator expressions. */
  def repetitionScores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ", -1)
    val tris = expr("transform(sequence(0, size(tk) - 3), " +
      "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))")
    val base = docs
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), (size(col("tk")) - 2).as("n_tri"),
        size(array_distinct(tris)).as("n_uniq"))
    val dupRatio = (col("n_tri") - col("n_uniq")).cast("double") / col("n_tri")
    base.select(
      col("doc_id"),
      col("n_tri").cast("long").as("n_tri"),
      col("n_uniq").cast("long").as("n_uniq"),
      (floor(dupRatio * 10000 + 0.5) / 10000).as("rep_ratio"),
      (dupRatio <= 0.2).as("keep"))
  }

  /** Stratified sampling: a fixed-size, UNBIASED deterministic sample
    * per language — the eval-set counterpart to q38's quality-ranked
    * curation. Order within a stratum is the md5 of the doc id (a
    * seedable uniform permutation that is stable under corpus growth
    * for the retained prefix property a reservoir lacks), take the
    * first 5. WindowGroupLimit keeps per-partition shipping at k rows
    * per stratum. */
  val q48StratifiedSample: QueryDef = QueryDef.withOracle(
    """SELECT lang, rank, doc_id FROM (
      |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
      |  FROM documents) WHERE rank <= 5""".stripMargin
  ) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("lang", "rank", "doc_id")
  }

  /** Collocation mining: corpus-level PMI-style association of
    * adjacent token pairs — lift(a,b) = p(ab)/(p(a)p(b)) — the
    * phrase detector that feeds tokenizer-vocabulary merges and
    * stop-phrase lists (log(lift) IS pointwise mutual information;
    * the log is omitted so the score stays one exact IEEE division
    * of int64 counts instead of a libm call — it's monotone, so
    * ranking and thresholds are unchanged).
    *
    * lift = c_ab·N / (c_a·c_b) with N the corpus token count: the
    * numerator and denominator are exact int64 products (scale note,
    * the q2o convention: needs c_ab·N < 2⁶³ and c_a·c_b < 2⁵³ —
    * holds through ~10¹² tokens with the c_ab ≥ 5 support floor;
    * beyond that, pre-divide both counts by a common 2ᵏ).
    *
    * Scale shape: one explode pass emits unigrams, one emits
    * adjacent pairs (both ∝ corpus tokens, no self-joins anywhere);
    * the unigram-count attach is an item-keyed join (AQE broadcasts
    * while vocab fits); top-100 is TakeOrderedAndProject. The float
    * sort key is bit-identical in both engines (single division of
    * exact ints), so the cut is deterministic under the
    * (lift DESC, w1, w2) total order. */
  val q109PmiCollocations: QueryDef = QueryDef.withOracle(
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |uni AS (SELECT unnest(t) AS w FROM toks),
      |ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
      |n AS (SELECT count(*) AS n_tok FROM uni),
      |bg AS (
      |  SELECT t[i] AS w1, t[i+1] AS w2
      |  FROM (SELECT t FROM toks WHERE len(t) >= 2) d,
      |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s),
      |bcnt AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2)
      |SELECT w1, w2, c_ab, ca.c AS c_a, cb.c AS c_b,
      |  CAST(c_ab * n.n_tok AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE) AS lift
      |FROM bcnt JOIN ucnt ca ON ca.w = w1 JOIN ucnt cb ON cb.w = w2
      |CROSS JOIN n
      |WHERE c_ab >= 5
      |ORDER BY lift DESC, w1, w2 LIMIT 100""".stripMargin
  ) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(split(col("text"), " ", -1).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
    val ucnt = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(count(lit(1)).as("n_tok"))
    val bcnt = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    bcnt
      .join(ucnt.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(ucnt.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(nTok))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab") * col("n_tok")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(100)
  }

  /** Corpus-self trigram familiarity scoring — the integer-exact core
    * of CCNet-style LM quality filtering: a document whose trigrams
    * are rare IN ITS OWN CORPUS is gibberish, boilerplate-mangled, or
    * novel, and gets routed to review/filtering. Per doc: trigram
    * count, the share of its trigrams with corpus frequency < 5
    * (rare_frac — the novelty/garbage signal), and the mean corpus
    * frequency of its trigrams (avg_tri_freq — the redundancy signal
    * feeding mixing weights). Complements q67 (bigram novelty is
    * val-vs-train; this is corpus-self) and q47 (repetition is
    * within-doc; this is cross-corpus).
    *
    * Deliberately log-free: a true avg-log-probability LM score sums
    * hundreds of libm values whose last-ulp engine disagreement
    * survives any rounding convention; counts and ONE IEEE division
    * per output column are bit-identical everywhere (house float
    * rule). Ranking behavior matches the LM score where it matters:
    * both order docs by how unusual their n-grams are.
    *
    * Scale shape: one explode emits doc-trigram rows (∝ corpus
    * tokens); the count attach is a trigram-keyed equi-join (the q54
    * df-attach shape — AQE broadcasts while the trigram vocab fits,
    * shuffles otherwise); the finish is a doc-keyed rollup. No
    * self-joins anywhere. */
  val q116TrigramQuality: QueryDef = QueryDef.withOracle(
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tg AS (
      |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS tri
      |  FROM (SELECT * FROM toks WHERE len(t) >= 3) d,
      |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s),
      |cnt AS (SELECT tri, count(*) AS c3 FROM tg GROUP BY 1)
      |SELECT doc_id, count(*) AS n_tri,
      |  CAST(sum(CASE WHEN c3 < 5 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS rare_frac,
      |  CAST(sum(c3) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tri_freq
      |FROM tg JOIN cnt USING (tri)
      |GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val tris = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 3)," +
          " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")).as("tri"))
    val cnt = tris.groupBy(col("tri")).agg(count(lit(1)).as("c3"))
    tris.join(cnt, Seq("tri"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("c3") < 5, 1L).otherwise(0L)).as("n_rare"),
        sum(col("c3")).as("sum_freq"))
      .select(col("doc_id"), col("n_tri"),
        (col("n_rare").cast("double") / col("n_tri").cast("double"))
          .as("rare_frac"),
        (col("sum_freq").cast("double") / col("n_tri").cast("double"))
          .as("avg_tri_freq"))
  }

  /** BPE merge-rule training, the real thing (q35 only ESTIMATES
    * BPE-ish token counts): `rounds` iterations of count-adjacent-
    * symbol-pairs → take the most frequent → merge it everywhere,
    * over the word-frequency dictionary. Output is the learned merge
    * table (round, pair, merged symbol, pair count) — exactly what a
    * tokenizer trainer persists.
    *
    * Scale design is the classic distributed-BPE factoring: the
    * corpus is touched ONCE (token explode → word-count dictionary);
    * every training round then runs on the DICTIONARY, whose size is
    * the vocabulary — bounded by Heaps' law, orders of magnitude
    * below the corpus and independent of corpus growth at 100 TB.
    * Per round: one explode+aggregate over the dictionary for pair
    * counts, a TakeOrdered(1) for the winner, and a codegen'd
    * `aggregate` fold rewriting each word's symbol array against the
    * broadcast 1-row winner. NOTHING is collected to the driver — the
    * winner joins back as a broadcast frame, so the whole train is
    * one lazy plan. Each round's dictionary state is cached (the next
    * round and the rules union both read it).
    *
    * Parity: greedy left-to-right single-rule application is a fold —
    * Spark's `aggregate` HOF and DuckDB's `list_reduce` express the
    * identical CASE step (the oracle wraps elements as 1-element
    * lists since list_reduce seeds the accumulator from the first
    * element; a fold from [c₀] equals a fold from [] ∪ c₀). Pair
    * counts are exact int64 sums; winner ties break on (s1, s2) —
    * ASCII corpus, so string order agrees across engines. */
  val q127BpeTrain: QueryDef = QueryDef.withOracle(bpeOracleSql(6)) { (s, d) =>
    bpeTrain(Tables.documents(s, d), 6)
  }

  /** BPE ENCODE — the apply side of q127: per-document token counts
    * under the trained 6-merge vocabulary, plus fertility (BPE
    * symbols per whitespace word, the tokenizer-quality metric).
    * Same dictionary factoring as training: the merges rewrite the
    * vocabulary (not the corpus), and the corpus is touched twice —
    * once to build the dictionary, once to attach per-word symbol
    * counts back onto the token stream by word key. */
  val q128BpeEncode: QueryDef = QueryDef.withOracle(bpeEncodeOracleSql(6)) {
    (s, d) => bpeEncode(Tables.documents(s, d), 6)
  }

  /** Zipf-law fit over the corpus vocabulary: OLS slope of
    * ln(freq) ~ ln(rank) on the top-1000 ranks — the one-row corpus
    * diagnostic that flags synthetic, templated, or over-deduped text
    * (natural corpora sit near exponent 1). zipf_exponent = −slope.
    *
    * Scale + parity: word counts are one corpus pass; the top-1000 is
    * TakeOrderedAndProject (never a global sort); the regression runs
    * on a CONSTANT 1000-row frame. Float parity follows the exact-
    * integer regression convention (q97/q115): each ln() is quantized
    * to 1e-4 units BEFORE any sum, all five regression sums are exact
    * int64 (≤1e16 — no overflow at this quantum), and slope/r² are a
    * fixed expression over those ints, identical in both engines. */
  val q129ZipfFit: QueryDef = QueryDef.withOracle(
    """WITH w AS (
      |  SELECT word, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
      |  WHERE len(word) >= 1 GROUP BY word),
      |tot AS (SELECT count(*) AS n_vocab FROM w),
      |top AS (
      |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk
      |  FROM (SELECT * FROM w ORDER BY cnt DESC, word LIMIT 1000)),
      |q AS (
      |  SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 10000 + 0.5) AS BIGINT)
      |      AS x,
      |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS y
      |  FROM top),
      |s AS (
      |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM q)
      |SELECT tot.n_vocab, s.n AS n_top,
      |  floor(-(CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
      |    / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)) * 10000 + 0.5) / 10000
      |    AS zipf_exponent,
      |  floor(CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
      |    * CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
      |    / (CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
      |       * CAST(s.n * s.syy - s.sy * s.sy AS DOUBLE)) * 10000 + 0.5)
      |    / 10000 AS r2
      |FROM s CROSS JOIN tot""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Tables.documents(s, d)
      .select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .cache() // consumed by the vocab count and the top-1000
    val tot = w.agg(count(lit(1)).as("n_vocab"))
    val top = Kernels.topKByCount(w,
      Seq(col("cnt").desc, col("word")), 1000, Some("rnk"))
    val q = top.select(
      floor(log(col("rnk").cast("double")) * 10000 + 0.5).cast("long").as("x"),
      floor(log(col("cnt").cast("double")) * 10000 + 0.5).cast("long").as("y"))
    val sums = q.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val denX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val denY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    sums.crossJoin(broadcast(tot))
      .select(col("n_vocab"), col("n").as("n_top"),
        (floor(-(num / denX) * 10000 + 0.5) / 10000).as("zipf_exponent"),
        (floor(num * num / (denX * denY) * 10000 + 0.5) / 10000).as("r2"))
  }

  /** Shared BPE training chain: `rounds` (winner, rewritten-state)
    * stages over the word dictionary, word column retained so the
    * final state can serve the encode path. Returns (rules in round
    * order, final dictionary state).
    *
    * Each round's state is truncated with an EAGER localCheckpoint
    * (the q49 label-propagation idiom), not cache(): a cached chain
    * keeps the full 6-round lambda lineage in every downstream plan,
    * and Catalyst re-analysis/canonicalization over that tree cost a
    * measured ~16 s of pure DRIVER time at any data size (22.9 s
    * total at sf0.001 — all planning, zero data). With the lineage
    * cut per round the whole train+encode is ~3 s. The trade is the
    * label-prop one: dictionary-sized materialization per round,
    * which is exactly the work the round performs anyway. */
  private def bpeChain(docs: org.apache.spark.sql.DataFrame, rounds: Int)
      : (Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame) = {
    var state = docs
      .select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        expr("filter(split(word, ''), x -> x <> '')").as("syms"))
      .localCheckpoint(true)
    var rules = List.empty[org.apache.spark.sql.DataFrame]
    for (r <- 1 to rounds) {
      val best = state.filter(size(col("syms")) >= 2)
        // adjacent pairs, 0-based subscripts (Spark [] is 0-based)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i - 1] AS s1, syms[i] AS s2))")).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("s1"), col("s2"))
        .limit(1)
        .select(lit(r).as("merge_round"), col("s1"), col("s2"),
          concat(col("s1"), col("s2")).as("merged"), col("pc"))
        .cache()
      rules ::= best
      state = state.crossJoin(broadcast(best.select(col("s1"), col("s2"))))
        .withColumn("syms", expr(
          "aggregate(syms, cast(array() as array<string>), (acc, x) -> " +
            "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = s1 " +
            "AND x = s2 " +
            "THEN concat(slice(acc, 1, size(acc) - 1), " +
            "array(concat(s1, s2))) " +
            "ELSE concat(acc, array(x)) END)"))
        .select(col("word"), col("cnt"), col("syms"))
        // LAZY checkpoint (r13; the q49 loop idiom): the next round's
        // best-pair job — or the encode consumer after the last round
        // — materializes it, so each round runs ONE job instead of
        // two; the lineage cut per round (the measured ~16 s driver
        // re-analysis bug this chain exists to prevent) is identical
        // once materialized
        .localCheckpoint(false)
    }
    (rules.reverse, state)
  }

  /** The q127 trainer as a reusable function of any (doc_id, text)
    * frame. */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame =
    bpeChain(docs, rounds)._1.reduce(_ unionByName _)

  /** The q128 encoder: per-document BPE token counts under the
    * `rounds`-rule vocabulary trained on the same corpus. */
  def bpeEncode(docs: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    val encoded = bpeChain(docs, rounds)._2
      .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) >= 1)
      // dictionary-sized attach: AQE broadcasts the vocabulary at
      // bench SF; at web scale it degenerates to a shuffle join on
      // the word key, which the token stream already carries
      .join(encoded, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("n_syms")).as("n_bpe"))
      .select(col("doc_id"), col("n_tok"), col("n_bpe"),
        (floor(col("n_bpe").cast("double") / col("n_tok").cast("double")
          * 10000 + 0.5) / 10000).as("fertility"))
  }

  /** DuckDB mirror of [[bpeTrain]], mechanically unrolled per round
    * (SQL has no iteration without recursive CTEs, which cannot
    * aggregate in the recursive term). NOTE DuckDB list slicing is
    * INCLUSIVE at both ends: drop-last is acc[:len(acc)-1], never
    * acc[:-1]. */
  /** The shared WITH-chain (w, s0, p1, s1, …, p_r, s_r) mirroring
    * [[bpeChain]]; `word` rides through every state so the encode
    * oracle can join the final state back onto the token stream. */
  private def bpeChainSqlPrefix(rounds: Int): String = {
    val head =
      """WITH w AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
        |  WHERE len(word) >= 1 GROUP BY word),
        |s0 AS (
        |  SELECT word, cnt, list_filter(string_split(word, ''), x -> x <> '')
        |    AS syms FROM w)""".stripMargin
    head + (1 to rounds).map { r =>
      s""",
        |p$r AS (
        |  SELECT syms[i] AS s1, syms[i + 1] AS s2,
        |    CAST(sum(cnt) AS BIGINT) AS pc
        |  FROM s${r - 1}, LATERAL
        |    (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) g
        |  GROUP BY 1, 2 ORDER BY pc DESC, s1, s2 LIMIT 1),
        |s$r AS (
        |  SELECT word, cnt, list_reduce(list_transform(syms, x -> [x]),
        |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = p.s1
        |        AND x[1] = p.s2
        |      THEN list_append(acc[:len(acc) - 1], p.s1 || p.s2)
        |      ELSE list_append(acc, x[1]) END) AS syms
        |  FROM s${r - 1} CROSS JOIN p$r p)""".stripMargin
    }.mkString
  }

  private def bpeOracleSql(rounds: Int): String =
    bpeChainSqlPrefix(rounds) + (1 to rounds).map(r =>
      s"SELECT $r AS merge_round, s1, s2, s1 || s2 AS merged, pc FROM p$r")
      .mkString("\n", "\nUNION ALL ", "")

  private def bpeEncodeOracleSql(rounds: Int): String =
    bpeChainSqlPrefix(rounds) +
      s""",
        |enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_syms
        |        FROM s$rounds),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tok, sum(n_syms) AS n_bpe
        |  FROM toks JOIN enc USING (word)
        |  WHERE len(word) >= 1
        |  GROUP BY doc_id)
        |SELECT doc_id, n_tok, CAST(n_bpe AS BIGINT) AS n_bpe,
        |  floor(CAST(n_bpe AS DOUBLE) / CAST(n_tok AS DOUBLE) * 10000 + 0.5)
        |    / 10000 AS fertility
        |FROM agg""".stripMargin

  /** Flesch-Kincaid readability grade per document — the classic
    * text-difficulty screen a curation mix uses beside q31's quality
    * score. Every COUNT is integer-exact and regex-defined
    * identically in both engines: words = space-split size, sentences
    * = runs of [.!?] (floored to 1 — headlines have no terminator),
    * syllables = runs of [aeiouy] in the lowercased text (the
    * standard vowel-group heuristic; spaces break runs, so counting
    * over the whole text equals the per-word sum). The grade
    *
    *   0.39·(words/sentences) + 11.8·(syllables/words) − 15.59
    *
    * is computed with the identical IEEE op order and then quantized
    * to 4 decimals (floor(x·10⁴+0.5)/10⁴ — the q31 convention).
    * Scale shape: pure map-side projection, no exchange at all. */
  val q147Readability: QueryDef = QueryDef.withOracle(
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
      |    AS BIGINT) AS n_sent,
      |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |    AS BIGINT) AS n_syll,
      |  floor((0.39 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
      |      / greatest(1, len(regexp_extract_all(text, '[.!?]+'))))
      |    + 11.8 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |        AS DOUBLE) / len(string_split(text, ' ')))
      |    - 15.59) * 10000 + 0.5) / 10000 AS fk_grade
      |FROM documents""".stripMargin
  ) { (s, d) =>
    val words = size(split(col("text"), " ", -1))
    val sent = greatest(lit(1),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))))
    val syll = size(regexp_extract_all(lower(col("text")),
      lit("[aeiouy]+"), lit(0)))
    Tables.documents(s, d).select(
      col("doc_id"),
      words.cast("long").as("n_words"),
      sent.cast("long").as("n_sent"),
      syll.cast("long").as("n_syll"),
      (floor((lit(0.39) * (words.cast("double") / sent)
        + lit(11.8) * (syll.cast("double") / words)
        - lit(15.59)) * 10000 + 0.5) / 10000).as("fk_grade"))
  }

  /** Per-language precision/recall/F1 of the q34 stopword lang-id
    * against the labeled `lang` column — the classifier EVAL the
    * curation pipeline reads before trusting q34's predictions in a
    * mixing decision (q150 reports raw kNN confusion cells; this is
    * the per-class metrics layer). Labeled-but-never-predicted
    * classes (fr, zh — outside the classifier's stopword lists)
    * surface as recall 0 rather than vanishing.
    *
    * Exactness: tp/n_true/n_pred are exact counts off ONE
    * (labeled, predicted) cell aggregate (≤ |langs|² cells — the
    * data-sized work is the same single tokenization pass q34 runs);
    * precision and recall are one rounded division each, and F1 uses
    * the margin identity F1 = 2·tp/(n_true + n_pred) — ONE division,
    * not a compound of two rounded ratios. */
  val q177LangidEval: QueryDef = QueryDef.withOracle(
    s"""WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |s AS (
      |  SELECT lang,
      |    ${LangId.sqlScores}
      |  FROM t),
      |p AS (
      |  SELECT lang AS labeled,
      |    ${LangId.sqlPick} AS predicted
      |  FROM s),
      |cells AS (
      |  SELECT labeled, predicted, count(*) AS n FROM p GROUP BY 1, 2),
      |m AS (
      |  SELECT l.lang,
      |    CAST(coalesce((SELECT sum(n) FROM cells
      |      WHERE labeled = l.lang), 0) AS BIGINT) AS n_true,
      |    CAST(coalesce((SELECT sum(n) FROM cells
      |      WHERE predicted = l.lang), 0) AS BIGINT) AS n_pred,
      |    CAST(coalesce((SELECT sum(n) FROM cells
      |      WHERE labeled = l.lang AND predicted = l.lang), 0) AS BIGINT)
      |      AS tp
      |  FROM (SELECT DISTINCT labeled AS lang FROM cells) l)
      |SELECT lang, n_true, n_pred, tp,
      |  CASE WHEN n_pred = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(tp AS DOUBLE) / n_pred) * 1000000 + 0.5)
      |      / 1000000 END AS precision,
      |  floor((CAST(tp AS DOUBLE) / n_true) * 1000000 + 0.5) / 1000000
      |    AS recall,
      |  floor((CAST(2 * tp AS DOUBLE) / (n_true + n_pred)) * 1000000 + 0.5)
      |    / 1000000 AS f1
      |FROM m""".stripMargin
  ) { (s, d) =>
    val toks = split(col("text"), " ", -1)
    val cells = Tables.documents(s, d)
      .select(col("lang").as("labeled"), LangId.scEn(toks).as("sc_en"),
        LangId.scEs(toks).as("sc_es"), LangId.scDe(toks).as("sc_de"))
      .select(col("labeled"),
        LangId.pick(col("sc_en"), col("sc_es"), col("sc_de"))
          .as("predicted"))
      .groupBy(col("labeled"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .cache() // ≤ |langs|² cells — metadata from here down
    val langs = cells.select(col("labeled").as("lang")).distinct()
    val nTrue = cells.groupBy(col("labeled").as("lang"))
      .agg(sum(col("n")).as("n_true"))
    val nPred = cells.groupBy(col("predicted").as("lang"))
      .agg(sum(col("n")).as("n_pred"))
    val tp = cells.filter(col("labeled") === col("predicted"))
      .select(col("labeled").as("lang"), col("n").as("tp"))
    langs
      .join(broadcast(nTrue), Seq("lang"), "left")
      .join(broadcast(nPred), Seq("lang"), "left")
      .join(broadcast(tp), Seq("lang"), "left")
      .select(col("lang"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("lang"), col("n_true"), col("n_pred"), col("tp"),
        when(col("n_pred") === 0, lit(0.0))
          .otherwise(floor((col("tp").cast("double") / col("n_pred"))
            * 1000000 + 0.5) / 1000000).as("precision"),
        (floor((col("tp").cast("double") / col("n_true")) * 1000000 + 0.5)
          / 1000000).as("recall"),
        (floor(((col("tp") * 2).cast("double") /
          (col("n_true") + col("n_pred"))) * 1000000 + 0.5) / 1000000)
          .as("f1"))
  }

  /** Cohen's kappa of the q34 lang-id against the labeled `lang`
    * column — the CHANCE-CORRECTED agreement q177's per-class P/R/F1
    * doesn't give: with skewed class priors, raw accuracy (p_o) is
    * inflated by majority-class agreement; kappa subtracts the
    * agreement two independent raters with these margins would reach
    * anyway (p_e). The go/no-go scalar a labeling pipeline reads
    * before trusting a cheap classifier as a silver-label source.
    *
    * Exactness: one (labeled, predicted) cell aggregate (the same
    * single tokenization pass as q34/q177); margins and the diagonal
    * are exact int64 off the ≤|langs|² cells; the margin
    * cross-products and n² accumulate in decimal(38,0)/HUGEINT (n²
    * crosses 2⁶³ past ~3e9 docs — the q172 lesson, applied before it
    * bites); kappa = (n·diag − Σ r·c)/(n² − Σ r·c) is ONE division of
    * exact integers, rounded at 1e-6. A lang never predicted
    * contributes 0 to Σ r·c (inner margin join), exactly its c=0
    * term. */
  val q195CohensKappa: QueryDef = QueryDef.withOracle(
    s"""WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |s AS (
      |  SELECT lang,
      |    ${LangId.sqlScores}
      |  FROM t),
      |p AS (
      |  SELECT lang AS labeled,
      |    ${LangId.sqlPick} AS predicted
      |  FROM s),
      |cells AS (
      |  SELECT labeled, predicted, count(*) AS n FROM p GROUP BY 1, 2),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nt,
      |    CAST(sum(CASE WHEN labeled = predicted THEN n ELSE 0 END)
      |      AS BIGINT) AS diag
      |  FROM cells),
      |rm AS (SELECT labeled AS lang, CAST(sum(n) AS BIGINT) AS r
      |       FROM cells GROUP BY 1),
      |cm AS (SELECT predicted AS lang, CAST(sum(n) AS BIGINT) AS c
      |       FROM cells GROUP BY 1),
      |rc AS (
      |  SELECT CAST(coalesce(sum(CAST(r AS HUGEINT) * c), 0) AS HUGEINT)
      |    AS src
      |  FROM rm JOIN cm USING (lang))
      |SELECT tot.nt AS n_docs, tot.diag AS n_agree,
      |  floor((CAST(diag AS DOUBLE) / nt) * 1000000 + 0.5) / 1000000 AS po,
      |  floor((CAST(src AS DOUBLE)
      |    / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))) * 1000000 + 0.5)
      |    / 1000000 AS pe,
      |  CASE WHEN CAST(nt AS HUGEINT) * nt - src = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(CAST(nt AS HUGEINT) * diag - src AS DOUBLE)
      |      / CAST(CAST(nt AS HUGEINT) * nt - src AS DOUBLE)) * 1000000
      |      + 0.5) / 1000000 END AS kappa
      |FROM tot CROSS JOIN rc""".stripMargin
  ) { (s, d) =>
    val toks = split(col("text"), " ", -1)
    val cells = Tables.documents(s, d)
      .select(col("lang").as("labeled"), LangId.scEn(toks).as("sc_en"),
        LangId.scEs(toks).as("sc_es"), LangId.scDe(toks).as("sc_de"))
      .select(col("labeled"),
        LangId.pick(col("sc_en"), col("sc_es"), col("sc_de"))
          .as("predicted"))
      .groupBy(col("labeled"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .cache() // ≤ |langs|² cells — metadata from here down
    val tot = cells.agg(sum(col("n")).as("nt"),
      sum(when(col("labeled") === col("predicted"), col("n"))
        .otherwise(0L)).as("diag"))
    val rm = cells.groupBy(col("labeled").as("lang"))
      .agg(sum(col("n")).as("r"))
    val cm = cells.groupBy(col("predicted").as("lang"))
      .agg(sum(col("n")).as("c"))
    val rc = rm.join(cm, Seq("lang"))
      .agg(coalesce(sum(dec(col("r")) * col("c")), dec(lit(0)))
        .as("src"))
    tot.crossJoin(broadcast(rc))
      .select(col("nt").as("n_docs"), col("diag").as("n_agree"),
        (floor((col("diag").cast("double") / col("nt")) * 1000000 + 0.5)
          / 1000000).as("po"),
        (floor((col("src").cast("double") /
          (col("nt").cast("double") * col("nt").cast("double")))
          * 1000000 + 0.5) / 1000000).as("pe"),
        when(dec(col("nt")) * col("nt") - col("src") === dec(lit(0)),
          lit(0.0))
          .otherwise(floor(((dec(col("nt")) * col("diag") - col("src"))
            .cast("double") /
            (dec(col("nt")) * col("nt") - col("src")).cast("double"))
            * 1000000 + 0.5) / 1000000).as("kappa"))
  }

  val all: Map[String, QueryDef] = Map(
    "q147_readability" -> q147Readability,
    "q195_cohens_kappa" -> q195CohensKappa,
    "q109_pmi_collocations" -> q109PmiCollocations,
    "q127_bpe_train" -> q127BpeTrain,
    "q128_bpe_encode" -> q128BpeEncode,
    "q129_zipf_fit" -> q129ZipfFit,
    "q116_trigram_quality" -> q116TrigramQuality,
    "q30_text_stats" -> q30TextStats,
    "q31_text_quality" -> q31TextQuality,
    "q32_lang_stats" -> q32LangStats,
    "q33_fingerprint" -> q33Fingerprint,
    "q34_lang_id" -> q34LangId,
    "q35_token_estimate" -> q35TokenEstimate,
    "q36_rolling_fingerprint" -> q36RollingFingerprint,
    "q37_train_split" -> q37TrainSplit,
    "q38_curate_topk" -> q38CurateTopK,
    "q39_vocab_topk" -> q39VocabTopK,
    "q45_decontaminate" -> q45Decontaminate,
    "q46_doc_pack" -> q46DocPack,
    "q47_repetition" -> q47Repetition,
    "q48_stratified_sample" -> q48StratifiedSample,
    "q177_langid_eval" -> q177LangidEval
  )
}
