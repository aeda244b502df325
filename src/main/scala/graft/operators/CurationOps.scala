package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.epochDay

/** Corpus-curation operators beyond TextOps' per-doc statistics: the
  * cross-document / cross-split machinery a pretraining pipeline runs
  * between raw text and packed sequences — winnowing fingerprints,
  * bloom-prefiltered decontamination, mixture weighting, n-gram
  * novelty, and PII scrubbing.
  *
  * Scale design notes per operator are on each member; the shared
  * principles: n-grams travel as xxhash64 longs (narrow shuffles),
  * per-doc gram sets dedup map-side (`array_distinct` before
  * `explode`), and cross-split membership tests pre-filter the big
  * side with a bloom sketch before any exchange.
  */
object CurationOps {

  /** Winnow parameters (MOSS-style): k-gram width in tokens, window
    * width in consecutive k-gram hashes. One fingerprint per window =
    * the window's minimum hash; guarantee: any shared token run of
    * length ≥ W + K − 1 yields at least one shared fingerprint. */
  val WinnowK = 4
  val WinnowW = 5

  /** Per-doc k-gram hash sequences (doc_id, h: array<long>) — the
    * engine-specific piece of q57 (xxhash64), dumped by Verify so the
    * DuckDB oracle re-derives windows/minima/dedup independently.
    * Map-only: token split, k-gram assembly, and hashing all happen
    * inside the scan stage, no shuffle. */
  def winnowKgramsFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .filter(size(col("toks")) >= WinnowK)
      // one kernel call per doc (spec-pinned bit-identical to the old
      // transform + xxhash64(concat_ws(...)) lambda chain): the
      // ~|toks| interpreted lambda invocations and per-window concat
      // expression trees were the whole cost of this map-only frame
      .select(col("doc_id"),
        graft.functions.TextExpressions.kgramHashesCol(col("toks"), WinnowK)
          .as("h"))

  /** Winnowing document fingerprints: per doc, the distinct minima of
    * all W-wide windows over the k-gram hash sequence (docs with fewer
    * than W k-grams collapse to one whole-doc window — standard
    * winnowing edge case). Output: fingerprint-set size and the
    * smallest fingerprint, both re-derivable by the oracle from the
    * dumped k-gram fixture. The whole computation after the fixture
    * frame is per-row array math — map-only, no shuffle at any scale. */
  val q57Winnow: QueryDef = QueryDef.withOracle(
    s"""WITH k AS (
      |  SELECT doc_id, h FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/winnow_kgrams.parquet/*.parquet')),
      |fp AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(0, greatest(len(h) - $WinnowW, 0) + 1),
      |      i -> list_min(h[i+1:i+$WinnowW]))) AS fps
      |  FROM k)
      |SELECT doc_id, len(fps) AS n_fp, list_min(fps) AS fp_min FROM fp""".stripMargin
  ) { (s, d) =>
    winnowKgramsFrame(s, d)
      // same values / first-occurrence order as the old
      // array_distinct(transform(…, array_min(slice(…)))) chain, one
      // kernel call per doc instead of ~|h| interpreted lambdas each
      // allocating a W-slice
      .select(col("doc_id"),
        graft.functions.TextExpressions.winnowMinimaCol(col("h"), WinnowW)
          .as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("fp_min"))
  }

  /** Distinct 5-gram strings per doc with the doc's split bucket:
    * (doc_id, bucket, g). Per-doc dedup is map-side (array_distinct
    * before explode) — no global DISTINCT exchange. */
  private def fiveGrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"),
        Kernels.docBucket.as("bucket"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), col("bucket"),
        explode(array_distinct(expr(
          """transform(sequence(0, size(toks) - 5),
            |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))"""
            .stripMargin))).as("g"))

  /** Sizing hint for the decontamination bloom filter. Generous (the
    * test corpus has ~25k distinct 5-grams at sf0.1); at real scale
    * this is |benchmark n-grams|, which is what the parameter means. */
  val DecontamBloomItems: Long = 200000L

  /** Benchmark decontamination with a bloom pre-filter: flag every
    * TRAIN-split document that shares a 5-gram with the TEST split
    * (the benchmark side), with the count of shared distinct 5-grams.
    *
    * Dataflow: the benchmark 5-gram set (small side) folds into ONE
    * serialized bloom sketch via Spark's own BloomFilterAggregate; the
    * train side then drops every non-candidate 5-gram inside its scan
    * stage (codegen'd might_contain on the xxhash64 key — no
    * exchange), and only the surviving sliver pays the exact semi-join
    * that removes bloom false positives. Results are therefore EXACT;
    * the oracle is the plain 5-gram intersection in SQL. At 100 TB the
    * win is that the corpus-side shuffle carries candidate grams only
    * (typically ≪ 1% of the corpus) instead of every gram. */
  val q58BloomDecontam: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS bucket
      |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g,
      |    bucket
      |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i) s),
      |train AS (SELECT doc_id, g FROM g WHERE bucket < 205),
      |test AS (SELECT DISTINCT g FROM g WHERE bucket >= 230)
      |SELECT doc_id, count(*) AS n_hits
      |FROM train JOIN test USING (g) GROUP BY doc_id""".stripMargin
  ) { (s, d) =>
    val grams = fiveGrams(s, d)
    val train = grams.filter(col("bucket") < 205).select("doc_id", "g")
    val bench = grams.filter(col("bucket") >= 230).select("g").distinct()
    val bloom = graft.functions.BloomFilterOps.build(
      bench, xxhash64(col("g")), DecontamBloomItems)
    train
      .filter(graft.functions.BloomFilterOps.mightContain(
        bloom, xxhash64(col("g"))))
      .join(bench, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Token budget each source may contribute to the training mixture
    * (the knob a data-mixing recipe turns per domain). */
  val SourceTokenBudget: Long = 20000L

  /** Data-mixing weights: per source, token totals and the sampling
    * weight that caps the source's contribution at
    * [[SourceTokenBudget]] tokens — weight = min(1, budget/tokens),
    * planned = floor(tokens · weight). The rounding is the
    * engine-agnostic floor(x·k + 0.5)/k contract (Spark round() and
    * DuckDB round() disagree at decimal ties). One partial+final
    * aggregate over the corpus scan; output is |sources| rows. */
  val q59MixingWeights: QueryDef = QueryDef.withOracle(
    s"""WITH t AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n_docs, n_tokens,
      |    floor(least(1.0::DOUBLE, ${SourceTokenBudget}.0::DOUBLE / n_tokens) * 1000000 + 0.5)
      |      / 1000000 AS weight
      |  FROM t)
      |SELECT source, n_docs, n_tokens, weight,
      |  CAST(floor(n_tokens * weight) AS BIGINT) AS planned_tokens
      |FROM w""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ", -1))).cast("long").as("n_tokens"))
      .withColumn("weight",
        floor(least(lit(1.0), lit(SourceTokenBudget.toDouble) / col("n_tokens"))
          * 1000000 + 0.5) / 1000000)
      .withColumn("planned_tokens",
        floor(col("n_tokens") * col("weight")).cast("long"))
  }

  /** Bigram novelty of the VALIDATION split against the TRAIN split:
    * per val doc, how many of its distinct bigrams never occur in
    * train — the cheap your-eval-set-is-not-memorized signal. Bigrams
    * ride as xxhash64 longs (q41's narrow-shuffle rationale; collision
    * odds are |bigrams|²/2⁶⁵, nil here and negligible at scale). One
    * shuffled left join against the train-bigram set keyed by the
    * hash, then a per-doc conditional aggregate. */
  val q67BigramNovelty: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS bucket
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS bg, bucket
      |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s),
      |train AS (SELECT DISTINCT bg FROM bg WHERE bucket < 205),
      |val AS (SELECT doc_id, bg FROM bg WHERE bucket >= 205 AND bucket < 230),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(CASE WHEN train.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen
      |  FROM val LEFT JOIN train USING (bg) GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, n_unseen,
      |  floor(n_unseen * 1000000.0 / n_bigrams + 0.5) / 1000000 AS novelty
      |FROM agg""".stripMargin
  ) { (s, d) =>
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"),
        Kernels.docBucket.as("bucket"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("bucket"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1]))")))
          .as("bg"))
      .select(col("doc_id"), col("bucket"), xxhash64(col("bg")).as("k"))
    val train = bg.filter(col("bucket") < 205)
      .select(col("k")).distinct().withColumn("seen", lit(1))
    bg.filter(col("bucket") >= 205 && col("bucket") < 230)
      .select("doc_id", "k")
      .join(train, Seq("k"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("seen").isNull, 1).otherwise(0)).as("n_unseen"))
      .withColumn("novelty",
        floor(col("n_unseen") * 1000000.0 / col("n_bigrams") + 0.5) / 1000000)
  }

  /** Executes [[q59MixingWeights]]'s plan: deterministic per-doc
    * sampling by content-hash threshold — doc kept iff
    * md5(doc_id)[0:6] / 2²⁴ < its source's weight. No RNG state, so
    * the sample is reproducible on any cluster at any partitioning
    * (the property a 100 TB mixing run needs for resumable jobs), and
    * the kept fraction converges to the weight per source. One
    * broadcast join of the |sources|-row weight table onto the corpus
    * scan; the threshold test is map-side. */
  val q70MixtureSample: QueryDef = QueryDef.withOracle(
    s"""WITH t AS (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |w AS (
      |  SELECT source,
      |    floor(least(1.0::DOUBLE,
      |      ${SourceTokenBudget}.0::DOUBLE / CAST(sum(n_tok) AS BIGINT))
      |      * 1000000 + 0.5) / 1000000 AS weight
      |  FROM t GROUP BY source),
      |kept AS (
      |  SELECT t.source, t.n_tok, w.weight FROM t JOIN w USING (source)
      |  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))::INT
      |    / 16777216.0 < w.weight)
      |SELECT source, weight, count(*) AS n_docs_kept,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept
      |FROM kept GROUP BY source, weight""".stripMargin
  ) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ", -1)).as("n_tok"))
    val w = t.groupBy(col("source"))
      .agg((floor(least(lit(1.0),
        lit(SourceTokenBudget.toDouble) / sum(col("n_tok")).cast("long"))
        * 1000000 + 0.5) / 1000000).as("weight"))
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long").cast("double") / 16777216.0
    t.join(broadcast(w), Seq("source"))
      .filter(u < col("weight"))
      .groupBy(col("source"), col("weight"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_tok")).cast("long").as("n_tokens_kept"))
  }

  /** PII scrub patterns — deliberately RE2-safe (no backreferences or
    * lookaround) so the Java-regex engine and the DuckDB oracle agree
    * byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(\\d{1,3}\\.)(\\d{1,3}\\.)(\\d{1,3}\\.)\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{1,3}[- ]\\d{3}[- ]\\d{4}"

  /** PII redaction rollup: emails → `<EMAIL>`, IPv4 → `<IP>`, then
    * phone numbers → `<PHONE>`, counted per source alongside the
    * post-redaction character volume. Pure map-side regex work inside
    * the scan + one rollup; the gate pins the full scrub pipeline
    * (this corpus is PII-free, so the gate proves the no-op path —
    * CurationOpsSpec drives the patterns on text that does contain
    * PII). */
  val q68PiiRedact: QueryDef = QueryDef.withOracle(
    s"""WITH r AS (
      |  SELECT source,
      |    len(regexp_extract_all(text, '${EmailRe}')) AS n_email,
      |    len(regexp_extract_all(text, '${Ipv4Re}')) AS n_ip,
      |    len(regexp_extract_all(text, '${PhoneRe}')) AS n_phone,
      |    length(regexp_replace(regexp_replace(regexp_replace(text,
      |      '${EmailRe}', '<EMAIL>', 'g'),
      |      '${Ipv4Re}', '<IP>', 'g'),
      |      '${PhoneRe}', '<PHONE>', 'g')) AS redacted_len
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_email) AS BIGINT) AS n_emails,
      |  CAST(sum(n_ip) AS BIGINT) AS n_ips,
      |  CAST(sum(n_phone) AS BIGINT) AS n_phones,
      |  CAST(sum(redacted_len) AS BIGINT) AS redacted_chars
      |FROM r GROUP BY source""".stripMargin
  ) { (s, d) => piiRedactionRollup(Tables.documents(s, d)) }

  /** The q68 body over any (source, text) frame — shared with the
    * spec, which feeds it text that actually contains PII. */
  def piiRedactionRollup(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_email"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ip"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phone"),
        length(redact(col("text"))).as("redacted_len"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).as("n_emails"),
        sum(col("n_ip")).as("n_ips"),
        sum(col("n_phone")).as("n_phones"),
        sum(col("redacted_len")).as("redacted_chars"))

  /** The redacted text: emails, then IPv4, then phone numbers. */
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  /** Data-quality expectation suite (the Deequ/Great-Expectations
    * pattern): declared constraints over a fact table, each reported
    * as (check_name, violations, passed). The point of the OPERATOR
    * is the execution shape, not any one check: every row-local
    * constraint (completeness, range, non-emptiness) and the key
    * uniqueness check are fused into ONE aggregate over ONE scan —
    * adding a tenth check costs zero extra passes — and only the
    * cross-table referential check pays a join (left_anti,
    * broadcast-eligible when the parent key set fits). Null contract,
    * same in both engines: a NULL child key IS an orphan (NOT EXISTS
    * semantics — left_anti on `=` keeps null-keyed rows), and
    * uniqueness counts null-bearing key TUPLES as values (struct
    * distinct, DuckDB ROW distinct), so two (1, NULL) rows are
    * duplicates. Violation counts are exact integers, so the suite
    * sits under the hash gate directly. */
  val q88Expectations: QueryDef = QueryDef(
    """WITH a AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS qty_nulls,
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS disc_range,
      |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS key_dups
      |  FROM lineitem),
      |o AS (
      |  SELECT count(*) AS orphans FROM lineitem
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)),
      |checks AS (
      |  SELECT 'nonempty' AS check_name,
      |    CAST(CASE WHEN n > 0 THEN 0 ELSE 1 END AS BIGINT) AS violations
      |  FROM a
      |  UNION ALL SELECT 'completeness_l_quantity', qty_nulls FROM a
      |  UNION ALL SELECT 'range_l_discount', disc_range FROM a
      |  UNION ALL SELECT 'uniqueness_order_line', CAST(key_dups AS BIGINT) FROM a
      |  UNION ALL SELECT 'referential_orderkey', CAST(orphans AS BIGINT) FROM o)
      |SELECT check_name, violations, violations = 0 AS passed
      |FROM checks""".stripMargin)

  /** Weighted systematic sampling without replacement: exactly k rows
    * drawn with probability proportional to an integer weight, as one
    * deterministic dataflow — the mixture-construction primitive when
    * quotas must be EXACT (q70's per-stratum rates round; a token
    * budget doesn't).
    *
    * Method: shuffle rows into a deterministic pseudo-random order
    * (md5 of the key — the q48 convention, replayable in any engine),
    * take the k systematic strata boundaries of the cumulative weight
    * line: row i is picked iff ⌊cum_i·k/W⌋ > ⌊(cum_i−w_i)·k/W⌋. All
    * integer math (weights in cents; k·W must stay < 2⁶³ — at 100 TB
    * shard the draw per mixture source, which is also what a token
    * budget wants).
    *
    * The scale problem is the GLOBAL running sum: a naive
    * Window.orderBy with no partition executes on ONE task. This
    * implementation is the two-phase distributed prefix sum —
    * range-repartition by the sort key, local per-partition cumsums
    * (partition-parallel window), then a partition-OFFSET table (one
    * row per partition — metadata-sized, its own tiny window is fine)
    * joined back so cum = local + offset. The result is independent
    * of where the range boundaries land, so sampling in
    * repartitionByRange stays outside the determinism contract —
    * PROVIDED both consumers see one boundary draw: the stamped
    * frame is cached before it branches, because the offsets branch
    * and the join-back branch re-evaluating the nondeterministic
    * `spark_partition_id` stamp independently (AQE compiles the
    * broadcast side as its own job) can disagree on the assignment
    * and corrupt the prefix (the q112 overshoot, Kernels.globalRowNumber). */
  val q91WeightedSample: QueryDef = QueryDef.withOracle(
    """WITH w AS (
      |  SELECT o_orderkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS weight_cents,
      |    md5(CAST(o_orderkey AS VARCHAR)) AS rk
      |  FROM orders),
      |c AS (
      |  SELECT *,
      |    sum(weight_cents) OVER (ORDER BY rk, o_orderkey
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(weight_cents) OVER () AS tot
      |  FROM w)
      |SELECT o_orderkey, weight_cents FROM c
      |WHERE (cum * 100) // tot > ((cum - weight_cents) * 100) // tot""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val k = 100
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("weight_cents"),
      md5(col("o_orderkey").cast("string")).as("rk"))
    val parts = base
      .repartitionByRange(base.sparkSession.sparkContext.defaultParallelism,
        col("rk"), col("o_orderkey"))
      .sortWithinPartitions(col("rk"), col("o_orderkey"))
      .withColumn("pid", spark_partition_id())
    val local = Window.partitionBy(col("pid"))
      .orderBy(col("rk"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cumLocal = parts
      .withColumn("lcum", sum(col("weight_cents")).over(local))
      .cache()
    // one row per partition; its global window is metadata-scale
    val offsets = cumLocal.groupBy(col("pid"))
      .agg(sum(col("weight_cents")).as("psum"))
      .withColumn("offset", coalesce(
        sum(col("psum")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = offsets.agg(sum(col("psum")).as("tot"))
    cumLocal
      .join(broadcast(offsets.select(col("pid"), col("offset"))), Seq("pid"))
      .crossJoin(broadcast(tot))
      .withColumn("cum", col("lcum") + col("offset"))
      .filter(expr(s"(cum * $k) div tot > ((cum - weight_cents) * $k) div tot"))
      .select(col("o_orderkey"), col("weight_cents"))
  }

  /** Quality-filter cascade attrition report — the funnel a curation
    * run publishes with every corpus release: each document is
    * attributed to the FIRST filter it fails (min-tokens → max-chars
    * → uniqueness → stopword-density, the conventional cheap-to-
    * expensive order), and the report shows per-stage kills plus the
    * surviving count after each stage.
    *
    * Every predicate is INTEGER-exact (ratios as cross-
    * multiplications: 10·n_uniq ≥ 5·n_tok, 10·n_stop ≤ 2·n_tok), so
    * no float ever forms — cross-engine parity is arithmetic
    * identity. Scale shape: one scan with map-side token counting →
    * one ≤5-row first-fail aggregate; the cumulative survivors
    * window runs on that metadata-sized frame. */
  val q139FilterCascade: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT n_chars,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_distinct(string_split(text, ' '))) AS n_uniq,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the', 'a'))) AS n_stop
      |  FROM documents),
      |f AS (
      |  SELECT CASE
      |    WHEN n_tok < 30 THEN 1
      |    WHEN n_chars > 400 THEN 2
      |    WHEN 10 * n_uniq < 5 * n_tok THEN 3
      |    WHEN 10 * n_stop > 2 * n_tok THEN 4
      |    ELSE 5 END AS stage_idx
      |  FROM t),
      |c AS (
      |  SELECT s.stage_idx, s.stage,
      |    CAST(coalesce(k.n, 0) AS BIGINT) AS n_failed_here
      |  FROM (VALUES (1, 'min_tokens'), (2, 'max_chars'),
      |    (3, 'uniqueness'), (4, 'stopword_density')) AS s(stage_idx, stage)
      |  LEFT JOIN (SELECT stage_idx, count(*) AS n FROM f GROUP BY 1) k
      |    ON k.stage_idx = s.stage_idx),
      |tot AS (SELECT count(*) AS total FROM f)
      |SELECT stage_idx, stage, n_failed_here,
      |  CAST(total - sum(n_failed_here) OVER (ORDER BY stage_idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_remaining_after
      |FROM c CROSS JOIN tot""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ", -1)
    val t = Tables.documents(s, d).select(col("n_chars"),
      size(toks).as("n_tok"),
      size(array_distinct(toks)).as("n_uniq"),
      size(filter(toks, x => x.isin("the", "a"))).as("n_stop"))
    val f = t.select(
      when(col("n_tok") < 30, 1)
        .when(col("n_chars") > 400, 2)
        .when(lit(10) * col("n_uniq") < lit(5) * col("n_tok"), 3)
        .when(lit(10) * col("n_stop") > lit(2) * col("n_tok"), 4)
        .otherwise(5).as("stage_idx"))
    val k = f.groupBy(col("stage_idx")).agg(count(lit(1)).as("n"))
    val stages = s.createDataFrame(Seq(
      (1, "min_tokens"), (2, "max_chars"),
      (3, "uniqueness"), (4, "stopword_density")))
      .toDF("stage_idx", "stage")
    val tot = f.agg(count(lit(1)).as("total"))
    // the cascade frame is 4 rows — the unpartitioned window is
    // metadata-sized by construction
    stages.join(k, Seq("stage_idx"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("stage_idx"), col("stage"),
        col("n").cast("long").as("n_failed_here"),
        (col("total") - sum(col("n")).over(Window.orderBy(col("stage_idx"))
          .rowsBetween(Window.unboundedPreceding, 0))).cast("long")
          .as("n_remaining_after"))
  }

  /** Deterministic train/valid/test split assignment + cross-split
    * contamination audit — the release gate a corpus split ships
    * with. Split is a pure function of doc_id (the 60-bit md5 recipe
    * mod 100 → 90/5/5), so the assignment is reproducible on any
    * engine and stable under re-runs; leakage = a document whose
    * EXACT content (md5(text)) also appears in a different split —
    * the q40 dup class crossing the split boundary, which silently
    * inflates eval scores.
    *
    * Scale shape: one doc pass computes split/content-hash/tokens
    * map-side; ONE (content-hash, split)-keyed aggregate collapses
    * dup groups (16-byte keys, ≤3 rows per hash); the cross-split
    * flag is a count-over-hash window on THAT collapsed frame (one
    * hash-keyed exchange, high-cardinality key); the report is a
    * 3-row rollup. No join back to raw documents. */
  val q167SplitLeakage: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT CASE
      |      WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |        ::BIGINT % 100 < 90 THEN 'train'
      |      WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |        ::BIGINT % 100 < 95 THEN 'valid'
      |      ELSE 'test' END AS split,
      |    md5(text) AS h,
      |    len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |g AS (
      |  SELECT h, split, count(*) AS nd, sum(n_tok) AS nt
      |  FROM d GROUP BY 1, 2),
      |f AS (
      |  SELECT split, nd, nt,
      |    count(*) OVER (PARTITION BY h) AS nsp
      |  FROM g)
      |SELECT split,
      |  CAST(sum(nd) AS BIGINT) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN nsp >= 2 THEN nd ELSE 0 END) AS BIGINT)
      |    AS n_leaked_docs,
      |  floor((CAST(sum(CASE WHEN nsp >= 2 THEN nd ELSE 0 END) AS DOUBLE)
      |    / sum(nd)) * 1000000 + 0.5) / 1000000 AS leaked_share
      |FROM f GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val bucket = expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), " +
      "1, 15), 16, 10) AS BIGINT) % 100")
    val docs = Tables.documents(s, d).select(
      when(bucket < 90, lit("train"))
        .when(bucket < 95, lit("valid"))
        .otherwise(lit("test")).as("split"),
      md5(col("text")).as("h"),
      size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
    val grouped = docs.groupBy(col("h"), col("split"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("nt"))
      .withColumn("nsp", count(lit(1)).over(
        Window.partitionBy(col("h"))))
    grouped.groupBy(col("split"))
      .agg(sum(col("nd")).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(when(col("nsp") >= 2, col("nd")).otherwise(lit(0L)))
          .as("n_leaked_docs"))
      .select(col("split"), col("n_docs"), col("n_tokens"),
        col("n_leaked_docs"),
        (floor((col("n_leaked_docs").cast("double") / col("n_docs"))
          * 1000000 + 0.5) / 1000000).as("leaked_share"))
  }

  /** Concat-and-chunk sequence packing audit — the GPT-style "join
    * the corpus in a deterministic shuffle order, cut every 2048
    * tokens" packer, reported as the docs-per-chunk histogram (the
    * fragmentation signature that decides whether a packing needs
    * doc-boundary masking). Each document's global token offset is an
    * EXACT prefix sum in (shuffle-hash, doc_id) order, so chunk
    * membership is pure integer floordiv — any engine reproduces the
    * identical packing.
    *
    * Scale shape: the offsets ride the ungrouped two-phase prefix
    * (ONE range shuffle — never a single-task global window over
    * documents); each doc then explodes to only the chunks it touches
    * (≤ n_tok/2048 + 1 rows); the histogram is a chunk-keyed count
    * rolled up to ≤ a-few-dozen rows. The total-chunks denominator is
    * a broadcast scalar, not an unpartitioned window. */
  val q168ChunkPacking: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS hk,
      |    len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, n_tok,
      |    CAST(sum(n_tok) OVER (ORDER BY hk, doc_id) AS BIGINT) AS cum
      |  FROM d),
      |span AS (
      |  SELECT (cum - n_tok) // 2048 AS first_c, (cum - 1) // 2048 AS last_c
      |  FROM o WHERE n_tok > 0),
      |pc AS (
      |  SELECT unnest(range(first_c, last_c + 1)) AS chunk FROM span),
      |per_chunk AS (
      |  SELECT chunk, count(*) AS docs_in_chunk FROM pc GROUP BY 1),
      |hist AS (
      |  SELECT docs_in_chunk, count(*) AS n_chunks
      |  FROM per_chunk GROUP BY 1)
      |SELECT docs_in_chunk, n_chunks,
      |  floor((CAST(n_chunks AS DOUBLE)
      |    / (SELECT sum(n_chunks) FROM hist)) * 1000000 + 0.5) / 1000000
      |    AS chunk_share
      |FROM hist""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"),
      expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), " +
        "16, 10) AS BIGINT)").as("hk"),
      size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
    val offsets = Kernels.groupedPrefixSums(docs, Seq.empty,
      Seq(col("hk"), col("doc_id")), Seq((col("n_tok"), "cum", None)))
    val perChunk = offsets.filter(col("n_tok") > 0)
      .select(explode(sequence(
        expr("(cum - n_tok) div 2048"), expr("(cum - 1) div 2048")))
        .as("chunk"))
      .groupBy(col("chunk")).agg(count(lit(1)).as("docs_in_chunk"))
    val hist = perChunk.groupBy(col("docs_in_chunk"))
      .agg(count(lit(1)).as("n_chunks"))
    val total = hist.agg(sum(col("n_chunks")).as("total_chunks"))
    hist.crossJoin(broadcast(total))
      .select(col("docs_in_chunk"), col("n_chunks"),
        (floor((col("n_chunks").cast("double") / col("total_chunks"))
          * 1000000 + 0.5) / 1000000).as("chunk_share"))
  }

  /** Exact 13-gram eval-set decontamination audit — the GPT-3-style
    * "remove any training document sharing a 13-gram with the
    * benchmark" check, run here between this corpus's own train and
    * test splits (q167's deterministic hash split, so the benchmark
    * side needs no external fixture). Complements q58's bloom-filter
    * decontamination (probabilistic, membership-only) with the exact
    * join the final release gate runs, and q167's exact-dup leakage
    * (whole-document) with the sub-document overlap class.
    *
    * Scale shape: both sides emit (gram-hash, doc) pairs by a
    * codegen'd transform/explode over the token array — ~|tokens|
    * rows, the same budget as one tokenization pass; the test side
    * collapses to DISTINCT gram hashes (at 100 TB the eval split is
    * the small side by construction — 5% of docs — and its distinct
    * gram set is what the leftsemi equi-join shuffles against);
    * contaminated train docs collapse by doc before the source
    * rollup, so output is source-sized. No join touches raw text —
    * only 16-byte md5 gram keys. The one doc re-read (train doc
    * counts) is a second pruned scan of (doc_id, source), cheaper
    * than caching the tokenized frame.
    *
    * Determinism: grams are md5 of the space-rejoined 13-token
    * window — byte-identical in both engines; doc/source counts are
    * exact. */
  val q170NgramDecontam: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT doc_id, source,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 100 AS b,
      |    string_split(text, ' ') AS toks
      |  FROM documents),
      |teg AS (
      |  SELECT DISTINCT md5(array_to_string(toks[i:i+12], ' ')) AS g
      |  FROM (SELECT toks, unnest(range(1, len(toks) - 11)) AS i
      |        FROM d WHERE b >= 95 AND len(toks) >= 13)),
      |trg AS (
      |  SELECT doc_id, source, md5(array_to_string(toks[i:i+12], ' ')) AS g
      |  FROM (SELECT doc_id, source, toks,
      |          unnest(range(1, len(toks) - 11)) AS i
      |        FROM d WHERE b < 90 AND len(toks) >= 13)),
      |hit AS (
      |  SELECT DISTINCT trg.doc_id, trg.source
      |  FROM trg JOIN teg USING (g)),
      |tr AS (
      |  SELECT source, count(*) AS n_train FROM d WHERE b < 90 GROUP BY 1),
      |ct AS (
      |  SELECT source, count(*) AS n_contaminated FROM hit GROUP BY 1)
      |SELECT tr.source, tr.n_train,
      |  coalesce(ct.n_contaminated, 0) AS n_contaminated,
      |  floor((CAST(coalesce(ct.n_contaminated, 0) AS DOUBLE) / tr.n_train)
      |    * 1000000 + 0.5) / 1000000 AS contam_share
      |FROM tr LEFT JOIN ct USING (source)""".stripMargin
  ) { (s, d) =>
    val bucket = expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), " +
      "1, 15), 16, 10) AS BIGINT) % 100")
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
      bucket.as("b"), split(col("text"), " ", -1).as("toks"))
    def grams(df: org.apache.spark.sql.DataFrame) =
      df.filter(size(col("toks")) >= 13)
        .select(col("doc_id"), col("source"),
          explode(expr("transform(sequence(1, size(toks) - 12), " +
            "i -> md5(array_join(slice(toks, i, 13), ' ')))")).as("g"))
    val testGrams = grams(base.filter(col("b") >= 95))
      .select(col("g")).distinct()
    val hits = grams(base.filter(col("b") < 90))
      .join(testGrams, Seq("g"), "leftsemi")
      .select(col("doc_id"), col("source")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_contaminated"))
    base.filter(col("b") < 90)
      .groupBy(col("source")).agg(count(lit(1)).as("n_train"))
      .join(hits, Seq("source"), "left")
      .select(col("source"), col("n_train"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (floor((coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_train")) * 1000000 + 0.5) / 1000000).as("contam_share"))
  }

  /** k-anonymity audit over the documents' quasi-identifier tuple
    * (lang, source, n_chars rounded to a 100-char band) — the
    * privacy-release screen that sits beside q68's direct-identifier
    * redaction: PII scrubbing removes names and emails, but a row
    * whose QI combination is UNIQUE in the release is re-identifiable
    * anyway. Reports the equivalence-class size distribution in the
    * standard risk bands (k=1 singletons, 2–4, 5–19, 20+) with the
    * row share at risk.
    *
    * Scale shape: ONE (QI)-keyed partial+final count collapses the
    * corpus to its equivalence classes (map-side combine; QI
    * cardinality bounds the exchange, never row count), then the band
    * rollup runs on the class-sized frame. No joins, no windows. */
  val q178KAnonymity: QueryDef = QueryDef.withOracle(
    """WITH q AS (
      |  SELECT lang, source, (n_chars - n_chars % 100) // 100 AS len_band,
      |    count(*) AS k
      |  FROM documents GROUP BY 1, 2, 3),
      |b AS (
      |  SELECT CASE WHEN k = 1 THEN '1 (unique)'
      |    WHEN k < 5 THEN '2-4' WHEN k < 20 THEN '5-19'
      |    ELSE '20+' END AS band, count(*) AS n_classes,
      |    CAST(sum(k) AS BIGINT) AS n_rows
      |  FROM q GROUP BY 1),
      |t AS (SELECT sum(n_rows) AS tot FROM b)
      |SELECT band, n_classes, n_rows,
      |  floor((CAST(n_rows AS DOUBLE) / tot) * 1000000 + 0.5) / 1000000
      |    AS row_share
      |FROM b CROSS JOIN t""".stripMargin
  ) { (s, d) =>
    val classes = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"),
        expr("(n_chars - n_chars % 100) div 100").as("len_band"))
      .agg(count(lit(1)).as("k"))
    val bands = classes
      .groupBy(when(col("k") === 1, "1 (unique)")
        .when(col("k") < 5, "2-4")
        .when(col("k") < 20, "5-19")
        .otherwise("20+").as("band"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
    val tot = bands.agg(sum(col("n_rows")).as("tot"))
    bands.crossJoin(broadcast(tot))
      .select(col("band"), col("n_classes"), col("n_rows"),
        (floor((col("n_rows").cast("double") / col("tot")) * 1000000
          + 0.5) / 1000000).as("row_share"))
  }

  /** Cross-table referential-integrity audit — every declared foreign
    * key in the lake checked in one report: child row count, NULL
    * keys, orphans (non-null keys with no parent), and the orphan
    * share. q88's expectation suite checks single-table invariants;
    * this is the RELATIONSHIP layer a medallion promotion gate runs
    * before allowing a join-dependent gold build (an orphan key
    * silently drops rows from every inner join downstream).
    *
    * Scale shape: each FK is one leftanti join with the broadcast
    * decision LEFT TO THE OPTIMIZER — dim parents (region, nation)
    * broadcast under any threshold, mid-size parents (part, customer,
    * supplier, orders) broadcast exactly while they fit and degrade
    * to shuffled anti-joins beyond (a forced broadcast hint here
    * OOM'd the first sf100 smoke: "dimension" is a size class, not a
    * table name, and 100× growth moves tables across it). Counts are
    * partial+final aggregates; the report is 8 one-row frames
    * unioned. */
  val q181FkIntegrity: QueryDef = QueryDef {
    def blk(name: String, child: String, ckey: String, parent: String,
        pkey: String) =
      // NOT EXISTS, not NOT IN: a NULL parent key would turn NOT IN
      // into UNKNOWN-for-every-row (orphans silently vanish exactly
      // when the data is bad); NOT EXISTS matches leftanti semantics
      s"""SELECT '$name' AS fk_name,
        |  (SELECT count(*) FROM $child) AS n_child,
        |  (SELECT count(*) FROM $child WHERE $ckey IS NULL) AS n_null,
        |  (SELECT count(*) FROM $child c WHERE c.$ckey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM $parent p
        |      WHERE p.$pkey = c.$ckey)) AS n_orphans,
        |  floor((CAST((SELECT count(*) FROM $child c
        |    WHERE c.$ckey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM $parent p
        |      WHERE p.$pkey = c.$ckey)) AS DOUBLE)
        |    / (SELECT count(*) FROM $child)) * 1000000 + 0.5) / 1000000
        |    AS orphan_share""".stripMargin
    Seq(
      blk("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      blk("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      blk("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      blk("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      blk("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      blk("supplier.s_nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
      blk("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"),
      blk("embeddings.vec_id->documents", "embeddings", "vec_id",
        "documents", "doc_id")
    ).mkString("\nUNION ALL\n")
  }

  /** l-diversity audit — q178's second privacy lens: k-anonymity only
    * counts class SIZES, but a class of 50 rows that all share one
    * sensitive value still discloses that value for every member
    * (the homogeneity attack). Here the quasi-identifier is
    * (source, 100-char length band) and the sensitive attribute is
    * `lang`: per class, l = distinct sensitive values; report the
    * l-band distribution (l=1 homogeneous, l=2, 3+) with row shares.
    *
    * Scale shape: ONE (QI, lang) partial+final count collapses the
    * corpus (map-side combine bounds the exchange by QI×lang
    * cardinality); l per class and the band rollup run on that
    * collapsed frame. No joins, no windows — the q178 posture. */
  val q186LDiversity: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT source, (n_chars - n_chars % 100) // 100 AS len_band,
      |    lang, count(*) AS n
      |  FROM documents GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT source, len_band, count(*) AS l, sum(n) AS k
      |  FROM cell GROUP BY 1, 2),
      |b AS (
      |  SELECT CASE WHEN l = 1 THEN '1 (homogeneous)'
      |    WHEN l = 2 THEN '2' ELSE '3+' END AS l_band,
      |    count(*) AS n_classes, CAST(sum(k) AS BIGINT) AS n_rows
      |  FROM cls GROUP BY 1),
      |t AS (SELECT sum(n_rows) AS tot FROM b)
      |SELECT l_band, n_classes, n_rows,
      |  floor((CAST(n_rows AS DOUBLE) / tot) * 1000000 + 0.5) / 1000000
      |    AS row_share
      |FROM b CROSS JOIN t""".stripMargin
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .groupBy(col("source"),
        expr("(n_chars - n_chars % 100) div 100").as("len_band"),
        col("lang"))
      .agg(count(lit(1)).as("n"))
    val cls = cell.groupBy(col("source"), col("len_band"))
      .agg(count(lit(1)).as("l"), sum(col("n")).as("k"))
    val bands = cls
      .groupBy(when(col("l") === 1, "1 (homogeneous)")
        .when(col("l") === 2, "2")
        .otherwise("3+").as("l_band"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
    val tot = bands.agg(sum(col("n_rows")).as("tot"))
    bands.crossJoin(broadcast(tot))
      .select(col("l_band"), col("n_classes"), col("n_rows"),
        (floor((col("n_rows").cast("double") / col("tot")) * 1000000
          + 0.5) / 1000000).as("row_share"))
  }

  /** Weighted token-budget water-filling across sources — the
    * allocation step between q59 (what mixture do we WANT) and the
    * sampler (what do we take): given a token budget B (50% of the
    * corpus) and per-source target weights — the alphabetically-first
    * source is upweighted 10× (the "emphasize the curated corpus"
    * move every real pretraining mix makes), the rest weight 1 — a
    * source whose capacity can't meet its weighted share SATURATES at
    * its full token count and its unmet demand redistributes over the
    * unsaturated rest: the classic water-fill that decides
    * epochs/repeats per source. On this corpus the anchor always
    * saturates and the rest sit at the water level, so BOTH branches
    * are exercised at every SF.
    *
    * Exactness: closed form, no iteration — sources sorted by
    * cap/weight ascending (an IEEE division both engines compute
    * bit-identically; source name tiebreak), the saturated set is a
    * PREFIX of that order, and row i's saturation is the pure-int64
    * cross-multiplied test cap_i·(remaining weight) ≤ (remaining
    * budget)·w_i (monotone in i). Unsaturated sources get the floor
    * of the exact rational level ((B − Σ sat caps)·w) div (Σ unsat
    * w) — non-negative dividends throughout, so Spark `div` ==
    * DuckDB `//` (the q143 convention). Never all-saturate (B =
    * total div 2 < total); ≤ Σw−1 tokens of B stay unspent (floor
    * allocation) — a budget is a ceiling, not a quota.
    *
    * Scale shape: ONE tokenization pass → a (source)-keyed
    * partial+final sum; everything downstream (sort, prefix, the
    * water level) runs on the ≤|sources|-row frame — the
    * unpartitioned window is a metadata sort, not a data funnel. */
  val q194TokenBudget: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
      |  FROM documents GROUP BY 1),
      |w AS (
      |  SELECT source, cap,
      |    CASE WHEN source = (SELECT min(source) FROM d)
      |      THEN CAST(10 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS wt
      |  FROM d),
      |t AS (
      |  SELECT CAST(sum(cap) AS BIGINT) AS total,
      |    CAST(sum(wt) AS BIGINT) AS totw
      |  FROM w),
      |b AS (SELECT total // 2 AS budget, totw FROM t),
      |r AS (
      |  SELECT source, cap, wt,
      |    CAST(sum(cap) OVER (ORDER BY CAST(cap AS DOUBLE) / wt, source)
      |      AS BIGINT) AS cumcap,
      |    CAST(sum(wt) OVER (ORDER BY CAST(cap AS DOUBLE) / wt, source)
      |      AS BIGINT) AS cumw
      |  FROM w),
      |s AS (
      |  SELECT r.source, r.cap, r.wt, r.cumcap, r.cumw, b.budget, b.totw,
      |    CASE WHEN r.cap * (b.totw - (r.cumw - r.wt))
      |      <= (b.budget - (r.cumcap - r.cap)) * r.wt THEN 1 ELSE 0 END
      |      AS sat
      |  FROM r CROSS JOIN b),
      |k AS (
      |  SELECT
      |    CAST(coalesce(sum(CASE WHEN sat = 1 THEN cap END), 0) AS BIGINT)
      |      AS satcap,
      |    CAST(coalesce(sum(CASE WHEN sat = 1 THEN wt END), 0) AS BIGINT)
      |      AS satw
      |  FROM s),
      |a AS (
      |  SELECT s.source, s.cap, s.wt, s.sat, s.budget,
      |    CASE WHEN s.sat = 1 THEN s.cap
      |      ELSE ((s.budget - k.satcap) * s.wt) // (s.totw - k.satw) END
      |      AS alloc
      |  FROM s CROSS JOIN k)
      |SELECT source, wt AS target_weight, cap AS cap_tokens,
      |  alloc AS alloc_tokens,
      |  CASE WHEN sat = 1 THEN 'saturated' ELSE 'water_level' END AS status,
      |  floor((CAST(alloc AS DOUBLE) / cap) * 1000000 + 0.5) / 1000000
      |    AS utilization,
      |  floor((CAST(alloc AS DOUBLE) / budget) * 1000000 + 0.5) / 1000000
      |    AS budget_share
      |FROM a""".stripMargin
  ) { (s, d) =>
    val caps = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ", -1)).cast("long")).as("cap"))
      // ≤|sources| rows, but REACHED THROUGH the tokenization scan:
      // the water-fill algebra branches this frame (anchor, budget,
      // ranks, saturation) and without the cache every branch would
      // replay the full documents pass — 8 scans where the design
      // says ONE (caught by the q194 PlanSpec lock)
      .cache()
    val anchor = caps.agg(min(col("source")).as("anchor_src"))
    val weighted = caps.crossJoin(broadcast(anchor))
      .withColumn("wt",
        when(col("source") === col("anchor_src"), 10L).otherwise(1L))
      .drop("anchor_src")
    waterFillOn(weighted)
  }

  /** q194's closed-form weighted water-fill over a (source, cap, wt)
    * frame, budget = Σcap div 2 — extracted so WaterFillSpec can
    * property-test the prefix algebra against an iterative reference
    * on adversarial inputs (ties, extreme weights, tiny budgets) that
    * the corpus never produces. Caller guarantees cap ≥ 0, wt ≥ 1,
    * and unique source names. */
  private[operators] def waterFillOn(w: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = w.agg(expr("sum(cap) div 2").as("budget"),
      sum(col("wt")).as("totw"))
    // ≤|sources| rows from here down — the unpartitioned window is a
    // metadata sort, not a data funnel; (ratio, source) is a total
    // order (source unique), so the RANGE-peer frame has no peers
    val win = Window.orderBy(col("cap").cast("double") / col("wt"),
      col("source"))
    val ranked = w
      .withColumn("cumcap", sum(col("cap")).over(win))
      .withColumn("cumw", sum(col("wt")).over(win))
      .crossJoin(broadcast(b))
      .withColumn("sat",
        when(col("cap") * (col("totw") - (col("cumw") - col("wt")))
          <= (col("budget") - (col("cumcap") - col("cap"))) * col("wt"),
          1L).otherwise(0L))
    val k = ranked.agg(
      coalesce(sum(when(col("sat") === 1, col("cap"))), lit(0L))
        .as("satcap"),
      coalesce(sum(when(col("sat") === 1, col("wt"))), lit(0L))
        .as("satw"))
    ranked.crossJoin(broadcast(k))
      .select(col("source"), col("wt").as("target_weight"),
        col("cap").as("cap_tokens"),
        when(col("sat") === 1, col("cap"))
          .otherwise(expr("((budget - satcap) * wt) div (totw - satw)"))
          .as("alloc_tokens"),
        when(col("sat") === 1, "saturated").otherwise("water_level")
          .as("status"),
        col("cap"), col("budget"))
      .select(col("source"), col("target_weight"), col("cap_tokens"),
        col("alloc_tokens"), col("status"),
        (floor((col("alloc_tokens").cast("double") / col("cap")) * 1000000
          + 0.5) / 1000000).as("utilization"),
        (floor((col("alloc_tokens").cast("double") / col("budget"))
          * 1000000 + 0.5) / 1000000).as("budget_share"))
  }

  /** ε-differentially-private release of the per-(type, day) event
    * histogram — the third member of the privacy family (k-anonymity
    * q178 and l-diversity q186 AUDIT re-identification risk; this one
    * RELEASES counts with a formal guarantee): each event contributes
    * to exactly one cell, so the count vector has L1 sensitivity 1
    * and per-cell Laplace(1/ε) noise (ε = 1) is the standard
    * mechanism. Noise is DETERMINISTIC — the inverse Laplace CDF
    * applied to u = (60-bit md5 of the cell key)/2⁶⁰ — which is what
    * makes the mechanism exactly checkable cross-engine. PRIVACY
    * CAVEAT (this gate demonstrates the mechanism's SHAPE, not a
    * deployable guarantee): u here is a PUBLIC hash of the cell key,
    * so a mechanism-aware adversary recomputes and subtracts the
    * noise exactly — the ε-DP guarantee only holds when u is derived
    * from a key the adversary cannot know. A production release must
    * key the hash with a secret (e.g. u = HMAC(secret_key, cell_key)
    * / 2⁶⁰ — the seeded-noise practice real DP systems use for
    * reproducible releases), which changes nothing in this plan
    * except the hash input. The gate emits n_true beside the noised
    * value to VALIDATE the mechanism; a production release projects
    * n_released only.
    *
    * Exactness: u is one IEEE division of an exact int by 2⁶⁰; the
    * CASE splits the CDF at u < 0.5 (noise = ln(2u) ≤ 0, else
    * −ln(2−2u) ≥ 0) with a 1e-12 floor inside ln (u = 0 exactly has
    * probability 2⁻⁶⁰ but would be −inf); ln's last-ulp libm risk is
    * absorbed by the repo-wide 1e-6 rounding.
    *
    * Scale shape: ONE (type, day)-keyed count — the q173 frame — and
    * the noise is a map-side scalar on those ≤|types|·|days| cells. */
  val q199DpHistogram: QueryDef = QueryDef.withOracle(
    """WITH daily AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
      |      AS day, CAST(count(*) AS BIGINT) AS n_true
      |  FROM events GROUP BY 1, 2),
      |u AS (
      |  SELECT event_type, day, n_true,
      |    CAST(('0x' || substring(md5(event_type || ':'
      |        || CAST(day AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
      |      / CAST(1152921504606846976 AS DOUBLE) AS uu
      |  FROM daily),
      |z AS (
      |  SELECT event_type, day, n_true,
      |    floor((CASE WHEN uu < CAST(0.5 AS DOUBLE)
      |      THEN ln(greatest(CAST(2 AS DOUBLE) * uu, CAST(1e-12 AS DOUBLE)))
      |      ELSE -ln(greatest(CAST(2 AS DOUBLE) - CAST(2 AS DOUBLE) * uu,
      |        CAST(1e-12 AS DOUBLE))) END) * 1000000 + 0.5) / 1000000
      |      AS noise
      |  FROM u)
      |SELECT event_type, day, n_true, noise,
      |  CAST(n_true AS DOUBLE) + noise AS n_released
      |FROM z""".stripMargin
  ) { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        epochDay(unix_micros(col("ts")))
          .as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_true"))
    val uu = conv(substring(md5(concat(col("event_type"), lit(":"),
        col("day").cast("string"))), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0)
    daily
      .withColumn("uu", uu)
      .withColumn("noise",
        floor(when(col("uu") < lit(0.5),
          log(greatest(lit(2.0) * col("uu"), lit(1e-12))))
          .otherwise(-log(greatest(lit(2.0) - lit(2.0) * col("uu"),
            lit(1e-12)))) * 1000000 + 0.5) / 1000000)
      .select(col("event_type"), col("day"), col("n_true"), col("noise"),
        (col("n_true").cast("double") + col("noise")).as("n_released"))
  }

  /** Header/detail reconciliation audit — order totals against their
    * lineitem sums, banded by relative gap in integer BASIS POINTS —
    * the classic warehouse consistency check q88's expectation suite
    * doesn't cover (it tests nulls/ranges/uniqueness/referential
    * existence; this tests whether two tables that should AGREE
    * actually do, and by how much). Orders with no lines get their
    * own band with the full header amount as the discrepancy.
    *
    * All banding is pure int64 (|Δcents|·10⁴ vs threshold·header
    * cents — no division until the one final share), so the bands
    * are exact on both engines by construction.
    *
    * Scale shape: one lineitem aggregate SHUFFLED ON THE JOIN KEY
    * feeds a fact-to-fact left join with orders on that same key —
    * the canonical co-partitioned pair (bucket both tables by
    * orderkey at the lake level and both exchanges disappear); the
    * banded rollup collapses to ≤6 rows + one broadcast total. */
  val q191Reconciliation: QueryDef = QueryDef.withOracle(
    """WITH l AS (
      |  SELECT l_orderkey,
      |    CAST(sum(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
      |      AS line_cents
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents,
      |    line_cents
      |  FROM orders LEFT JOIN l ON l_orderkey = o_orderkey),
      |b AS (
      |  SELECT CASE
      |    WHEN line_cents IS NULL THEN 'no_lines'
      |    WHEN line_cents = o_cents THEN 'exact'
      |    WHEN abs(o_cents - line_cents) * 10000 <= 10 * o_cents
      |      THEN 'within_10bps'
      |    WHEN abs(o_cents - line_cents) * 10000 <= 100 * o_cents
      |      THEN 'within_100bps'
      |    WHEN abs(o_cents - line_cents) * 10000 <= 1000 * o_cents
      |      THEN 'within_1000bps'
      |    ELSE 'over_1000bps' END AS band,
      |    CASE WHEN line_cents IS NULL THEN o_cents
      |      ELSE abs(o_cents - line_cents) END AS adiff
      |  FROM j),
      |t AS (SELECT count(*) AS n_total FROM b)
      |SELECT band, count(*) AS n_orders,
      |  CAST(sum(adiff) AS BIGINT) AS abs_diff_cents,
      |  CAST(count(*) AS DOUBLE) / n_total AS share
      |FROM b CROSS JOIN t GROUP BY band, n_total""".stripMargin
  ) { (s, d) =>
    reconciliationOn(Tables.orders(s, d), Tables.lineitem(s, d))
  }

  /** q191's plan body over caller-supplied fact frames — the seam the
    * bucketed lake plugs into: handed `LayoutOps.readBucketedFacts` tables
    * (bucketed+sorted on orderkey), the lineitem rollup AND the
    * fact-to-fact join both ride the bucket layout and plan with ZERO
    * exchanges (BucketingSpec locks it); handed raw parquet scans it
    * is exactly the q191 gate plan. Same bytes in → same bytes out —
    * the layout changes the exchanges, never the answer. */
  def reconciliationOn(orders: DataFrame, lineitem: DataFrame)
      : DataFrame = {
    val l = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5)).cast("long")
        .as("line_cents"))
    val j = orders
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("o_cents"))
      .join(l, col("l_orderkey") === col("o_orderkey"), "left")
    val adiffRaw = abs(col("o_cents") - col("line_cents"))
    val banded = j.select(
      when(col("line_cents").isNull, "no_lines")
        .when(col("line_cents") === col("o_cents"), "exact")
        .when(adiffRaw * 10000 <= lit(10L) * col("o_cents"), "within_10bps")
        .when(adiffRaw * 10000 <= lit(100L) * col("o_cents"),
          "within_100bps")
        .when(adiffRaw * 10000 <= lit(1000L) * col("o_cents"),
          "within_1000bps")
        .otherwise("over_1000bps").as("band"),
      when(col("line_cents").isNull, col("o_cents"))
        .otherwise(adiffRaw).as("adiff"))
    val t = banded.agg(count(lit(1)).as("n_total"))
    banded.groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("adiff")).cast("long").as("abs_diff_cents"))
      .crossJoin(broadcast(t))
      .select(col("band"), col("n_orders"), col("abs_diff_cents"),
        (col("n_orders").cast("double") / col("n_total")).as("share"))
  }

  val all: Map[String, QueryDef] = Map(
    "q139_filter_cascade" -> q139FilterCascade,
    "q57_winnow" -> q57Winnow,
    "q58_bloom_decontam" -> q58BloomDecontam,
    "q59_mixing_weights" -> q59MixingWeights,
    "q67_bigram_novelty" -> q67BigramNovelty,
    "q68_pii_redact" -> q68PiiRedact,
    "q70_mixture_sample" -> q70MixtureSample,
    "q88_expectations" -> q88Expectations,
    "q91_weighted_sample" -> q91WeightedSample,
    "q167_split_leakage" -> q167SplitLeakage,
    "q168_chunk_packing" -> q168ChunkPacking,
    "q194_token_budget" -> q194TokenBudget,
    "q199_dp_histogram" -> q199DpHistogram,
    "q170_ngram_decontam" -> q170NgramDecontam,
    "q178_k_anonymity" -> q178KAnonymity,
    "q181_fk_integrity" -> q181FkIntegrity,
    "q186_l_diversity" -> q186LDiversity,
    "q191_reconciliation" -> q191Reconciliation
  )
}
