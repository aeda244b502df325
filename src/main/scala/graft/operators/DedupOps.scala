package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Exact.dec

/** Deduplication operators for the training-data pipeline surface:
  * exact (hash group-by), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every variant is a pure shuffle-on-key dataflow —
  * no driver-side loops, no O(n²) cross joins. Candidate generation
  * is always an equi-join on a derived key (content hash, shingle,
  * LSH band, SimHash chunk), which Spark executes as a shuffled hash
  * join partitioned by that key; only candidates get verified.
  */
object DedupOps {

  /** Bench hook: build the session's two canonical-cluster memo frames
    * COLD and report the build wall-seconds per kind. The frames go
    * through the session memo (`CacheHygiene.memo`): q49 and q130 both
    * need the MinHash component labels, q133 the semantic ones, and
    * Bench times each query thrice — without sharing, every consumer
    * re-runs the whole label-propagation loop (~40 s of the r7 bench
    * total was exactly this). `DedupCluster.canonicalize` returns a
    * localCheckpoint frame, a compact (doc_id, canonical_id) plan leaf
    * whose blocks survive the runners' CacheManager sweeps, so one
    * materialization per (session, sfDir) serves all consumers.
    *
    * Bench calls this once, up front, so the per-query numbers for the
    * six memo consumers (q49/q130/q133/q138/q141/q146) are honestly
    * steady-state AND the cold cost is visible in the bench JSON as
    * its own metric instead of vanishing into whichever consumer runs
    * first (the r8 bench-protocol footnote). The count() materializes
    * the lazy localCheckpoint behind each frame. No-op-fast if the
    * memo is already warm; when `CacheHygiene.memoizing` is off,
    * callers should skip this (every consumer pays its own build). */
  def primeCanonicalMemos(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(String, Double)] =
    Seq("minhash" -> q49DedupClusters, "semantic" -> q133SemanticClusters)
      .map { case (kind, q) =>
        kind -> graft.Timing.seconds { val _ = q.fn(s, d).count() }
      }

  /** Exact dedup via content-hash group-by (md5): one row per distinct
    * content, with duplicate count and canonical (min) doc_id. The
    * 100 TB pattern: hash is computed map-side, the shuffle is on the
    * 16-byte digest, groups are tiny. */
  val q40DedupExact: QueryDef = QueryDef.withOracle(
    """SELECT md5(text) AS content_hash,
      |  count(*) AS n_copies,
      |  CAST(min(doc_id) AS BIGINT) AS canonical_doc
      |FROM documents GROUP BY 1""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).cast("long").as("canonical_doc"))
  }

  /** Default upper document-frequency cap for shingles in the n-gram
    * Jaccard join. A shingle appearing in D docs contributes D² rows
    * to the candidate self-join on ONE shuffle key — AQE skew-join
    * splits the partition but not the quadratic blowup, so stop-phrase
    * shingles must be dropped before the join (standard df-cap
    * practice; a recall trade: overlap carried only by ubiquitous
    * shingles is no longer counted). 1000 caps any single key's
    * contribution at 1M rows while leaving every shingle of the test
    * corpus intact (max df there is 25). */
  val DefaultMaxShingleDf: Long = 1000L

  /** N-gram (3-shingle) Jaccard near-dup pairs ≥ `minJaccard` over any
    * document frame with (doc_id, text). Candidate pairs come from the
    * shingle equi-join (docs sharing ≥1 surviving shingle); Jaccard =
    * |∩| / (|A| + |B| − |∩|) from per-doc shingle counts, where the
    * intersection counts only shingles with df in [2, maxDf] —
    * singletons can't pair, ubiquitous shingles are the skew hazard —
    * and |A|, |B| are the true (uncapped) shingle-set sizes, so the
    * reported value is a lower bound of true Jaccard that is exact
    * whenever no shared shingle exceeds the cap. */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double = 0.5,
      maxDf: Long = DefaultMaxShingleDf): DataFrame = {
    // Shingles ride as 64-bit xxhash64 keys through the dedup/join
    // pipeline: ~4× narrower shuffle rows and integer comparisons in
    // the joins. Exactness: verified collision-free on the frozen test
    // corpus at every SF (27k distinct shingles); in general the
    // collision bound is |shingles|²/2⁶⁵ — at 1e9 shingles ~3% chance
    // of ONE merged shingle pair, which perturbs one Jaccard by ~1/|A|.
    val sh = Kernels.shingles(docs)
      .select(col("doc_id"), xxhash64(col("s")).as("h")).cache()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // Candidate pairs by per-shingle EXPANSION instead of a self-join:
    // one shuffle groups postings per shingle key, the df band
    // [2, maxDf] filters in the same aggregate (df=1 cannot pair;
    // df>maxDf is the skew hazard), and the i<j pair generators run
    // map-side. The cap is what makes collect_list safe: a posting
    // list is at most maxDf ids, so executor memory per key is bounded
    // by construction — versus the self-join shape, this saves the df
    // pre-aggregation, the semi-join back onto the postings, and the
    // big a⋈b shuffle.
    val inter = sh
      // collect_set, not collect_list: if two shingles of one doc
      // collide to the same h, the doc must not appear twice (a
      // duplicate would emit an invalid (X, X) self-pair and inflate
      // X's intersections)
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
      .select(posexplode(col("ds")).as(Seq("i", "doc_a")), col("ds"))
      .select(col("doc_a"),
        explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    val jac = col("i").cast("double") /
      (col("na") + col("nb") - col("i"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(jac >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(jac, 3).as("jaccard"))
  }

  /** Gate query for [[ngramJaccardPairs]] at the default threshold and
    * df-cap; the oracle applies the identical df band. */
  val q41NgramJaccard: QueryDef = QueryDef.withOracle(
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s)
      |  WHERE df >= 2 AND df <= $DefaultMaxShingleDf),
      |shf AS (SELECT sh.* FROM sh JOIN common USING (s)),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 3) AS jaccard
      |FROM inter
      |JOIN cnt ca ON ca.doc_id = doc_a
      |JOIN cnt cb ON cb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5""".stripMargin
  ) { (s, d) => ngramJaccardPairs(Tables.documents(s, d)) }

  private val NumHashes = 16
  private val Bands = 4 // 4 bands × 4 rows

  /** Per-doc MinHash signatures over the corpus — the engine-specific
    * piece of q42 (xxhash64 seeds live in the engine). Verify dumps it
    * so the DuckDB oracle can re-derive banding, candidate join, and
    * the estimate from the signatures alone.
    *
    * MAP-ONLY since r14: the signature rides the per-doc shingle
    * array through TextExpressions.MinHashSig — bit-identical min of
    * xxhash64(i, shingle) per slot (spec-pinned vs the old
    * explode → groupBy(doc_id).agg(min × 16) shape), with the
    * Generate and the doc-keyed exchange gone (guide §2.4: the
    * group-by keyed on the already-unique doc_id was a pure
    * re-partition of signature-grain rows). */
  def minhashSigFrame(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Kernels.shingleArrays(Tables.documents(s, d))
      // size > 0 ⟺ the kernel's null case (tokenized() already
      // guarantees ≥1 shingle; the guard is belt-and-braces) — an
      // isNotNull(sig) filter would be pushed below the projection
      // and re-run the 16-hash kernel per row (§4.4 duplication)
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"),
        graft.functions.TextExpressions.minhashSigCol(col("shs"), NumHashes)
          .as("sig"))

  /** Per-doc SimHash signatures — q43's engine-specific piece. */
  def simhashFrame(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Kernels.tokenized(Tables.documents(s, d))
      .select(col("doc_id"),
        graft.functions.TextExpressions.simhash(array_distinct(col("toks")))
          .as("simhash"))

  /** MinHash + LSH banding: 16 hashes, 4 bands of 4 rows. Docs sharing
    * any band signature become candidate pairs; output the candidate
    * pair with its MinHash-estimated Jaccard (fraction of matching
    * signature positions) for pairs with estimate ≥ 0.25.
    *
    * The hash function is engine-specific, so the oracle starts from
    * the dumped signature fixture and independently recomputes the
    * banding join, dedup, estimate, and threshold in DuckDB. */
  val q42MinHashLsh: QueryDef = QueryDef.withOracle(
    s"""WITH sg AS (
      |  SELECT doc_id, sig FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/minhash_sigs.parquet/*.parquet')),
      |banded AS (
      |  SELECT doc_id, sig, b AS band, sig[b*4+1:b*4+4] AS band_sig
      |  FROM sg, LATERAL (SELECT unnest([0,1,2,3]) AS b) g),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sig AS sig_a, b.sig AS sig_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_sig = b.band_sig
      |    AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
      |    AS est_jaccard
      |FROM pairs
      |WHERE CAST(list_sum(list_transform(range(1, 17),
      |  i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
      |  >= 0.25""".stripMargin
  ) { (s, d) => minhashPairs(s, d) }

  /** q42's body over the corpus: MinHash-LSH candidate pairs with
    * signature-estimated Jaccard ≥ 0.25 — shared with q49's cluster
    * canonicalization so both stages see the identical edge set. */
  def minhashPairs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val sigs = minhashSigFrame(s, d).cache()
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(expr(s"transform(sequence(0, ${Bands - 1}), " +
        s"b -> concat_ws(',', slice(sig, b * ${NumHashes / Bands} + 1, ${NumHashes / Bands})))"))
        .as(Seq("band", "band_sig")))
    val a = banded.select(col("band"), col("band_sig"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_sig"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), p -> p)) / ${NumHashes}D")
          .as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= 0.25)
  }

  /** Near-dup pair → CLUSTER canonicalization (graft.functions.
    * DedupCluster): connected components over the q42 MinHash edge
    * set via iterative min-label propagation, every document labeled
    * with the minimum doc_id of its component (singletons keep
    * themselves). The oracle independently recomputes the components
    * in DuckDB with a recursive transitive-closure CTE over the same
    * signature fixture — near-dup components are tiny, so closure is
    * cheap; the engine's label propagation is the shape that scales
    * (per-round shuffles proportional to |edges|, not closure size). */
  val q49DedupClusters: QueryDef = QueryDef.withOracle(
    s"""WITH RECURSIVE sg AS (
      |  SELECT doc_id, sig FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/minhash_sigs.parquet/*.parquet')),
      |banded AS (
      |  SELECT doc_id, sig, b AS band, sig[b*4+1:b*4+4] AS band_sig
      |  FROM sg, LATERAL (SELECT unnest([0,1,2,3]) AS b) g),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sig AS sig_a, b.sig AS sig_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_sig = b.band_sig
      |    AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE CAST(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
      |    >= 0.25),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach AS (
      |  SELECT doc_id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.a AS doc_id, reach.r AS r
      |  FROM edges e JOIN reach ON reach.doc_id = e.b)
      |SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id""".stripMargin
  ) { (s, d) =>
    graft.CacheHygiene.memo(s, s"canonical.minhash $d") {
      graft.functions.DedupCluster.canonicalize(
        Tables.documents(s, d).select(col("doc_id")),
        minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
    }
  }

  /** SimHash near-dup: 64-bit signature from token hashes (weighted
    * bit-vote), candidates via 4×16-bit chunk banding (any identical
    * chunk ⇒ hamming candidates, catches all pairs with distance ≤ 3
    * by pigeonhole over 4 chunks), verified with exact hamming ≤ 3.
    * Rows-only (engine-specific hash).
    *
    * Signatures come from the native SimHash64 expression — one pass
    * over each doc's token array, map-only (no token explode, no
    * shuffle before the banding join). Oracle: DuckDB re-derives the
    * chunk banding, candidate join, and exact hamming from the dumped
    * signature fixture ((h >> k) & 65535 is fill-agnostic, so
    * arithmetic-shift semantics agree across engines). */
  val q43SimHash: QueryDef = QueryDef.withOracle(
    s"""WITH sh AS (
      |  SELECT doc_id, simhash FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/simhash_sigs.parquet/*.parquet')),
      |ch AS (
      |  SELECT doc_id, simhash, c AS chunk, (simhash >> (c * 16)) & 65535 AS chunk_val
      |  FROM sh, LATERAL (SELECT unnest([0,1,2,3]) AS c) g),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.simhash AS sim_a, b.simhash AS sim_b
      |  FROM ch a JOIN ch b
      |    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
      |    AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
      |FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= 3""".stripMargin
  ) { (s, d) =>
    val sig = simhashFrame(s, d).cache()
    val chunked = sig.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> (simhash >> (c * 16)) & 65535)"))
        .as(Seq("chunk", "chunk_val")))
    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Embedding-cosine near-dup: vector pairs above a similarity
    * threshold, candidates from the multi-table hyperplane LSH
    * buckets (same signatures as the ANN path) — the embedding-space
    * member of the dedup family. Threshold 0.3 suits the synthetic
    * corpus (random gaussians top out near 0.5 pairwise; a real
    * near-dup corpus would use ~0.9). Oracle: candidate pairs are
    * re-derived in DuckDB from the dumped bucket fixture (shared with
    * q51 — same signature expression), then scored independently with
    * list_cosine_similarity (bit-compatible with the native cosine). */
  val q44EmbedNearDup: QueryDef = QueryDef.withOracle(
    s"""WITH b AS (
      |  SELECT * FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/lsh_buckets.parquet/*.parquet')),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |pairs AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
      |  FROM b a JOIN b b2
      |    ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
      |SELECT vec_a, vec_b,
      |  round(list_cosine_similarity(ca.emb, cb.emb), 6) AS cosine
      |FROM pairs
      |JOIN c ca ON ca.vec_id = vec_a
      |JOIN c cb ON cb.vec_id = vec_b
      |WHERE round(list_cosine_similarity(ca.emb, cb.emb), 6) >= 0.3""".stripMargin
  ) { (s, d) =>
    import graft.functions.VectorExpressions
    // Embeddings ride THROUGH the bucket self-join and every collision
    // is scored and threshold-filtered IMMEDIATELY; only the (few)
    // passing pairs reach the dedup. The array shuffle is O(L·n) —
    // each vector ships once per table — while the previously-used
    // ids-only-then-attach design shuffled O(candidates) rows through
    // TWO embedding joins, and candidates ≈ L·n·occupancy/2 dwarf
    // L·n whenever bucket occupancy > 2 (measured 42× time at the
    // 10×-data step from ~30 GB of array-attach shuffle; carry-through
    // is ~linear). distinct-after-filter is equivalent to
    // distinct-before-score: a pair colliding in several tables scores
    // identically each time. The buckets are the SHARED Kernels
    // frame (adaptive bit count — fixed k made this join quadratic at
    // 10× data), which is also what Verify dumps for the oracle, so
    // query and fixture agree by construction.
    val sig = Kernels.lshBucketsWithEmbeddings(s, d)
    sig.select(col("t"), col("bucket"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"))
      .join(sig.select(col("t"), col("bucket"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), Seq("t", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VectorExpressions.cosine(col("emb_a"), col("emb_b")), 6)
          .as("cosine"))
      .filter(col("cosine") >= 0.3)
      .distinct()
  }

  /** Fuzzy (edit-distance) self-join — the entity-resolution staple:
    * part-name pairs within Levenshtein d=3, same brand. Two-level
    * scale design, each level attacking a different blow-up:
    *
    * 1. COMPRESS: edit distance is a function of the name STRINGS, so
    *    fuzzy matching runs on the distinct (brand, name) space and
    *    row multiplicity is re-attached afterwards by plain
    *    equi-joins. On low-entropy key spaces (this corpus: ~3 chars
    *    of entropy — hundreds of distinct names over 10⁵..10⁶ rows)
    *    the OUTPUT is inherently quadratic-in-rows (every duplicated
    *    name pairs with every near-copy); compression makes the
    *    matching cost track distinct names and leaves the output
    *    expansion as a streaming equi-join, which is the best any
    *    algorithm can do when the answer itself is large.
    * 2. BLOCK: on the distinct space, candidates come from
    *    RECALL-COMPLETE PassJoin segment blocking (Li/Deng/Feng's
    *    partition scheme, public literature): every name splits into
    *    d+1 = 4 contiguous segments; if dist(a,b) ≤ d, pigeonhole
    *    says some segment of b survives UNEDITED in a, shifted by at
    *    most d — b indexes its 4 exact segments, a probes its
    *    substrings at the admissible (partner length, segment index,
    *    tight position window) triples, and the equi-join key CARRIES
    *    THE SEGMENT STRING, so candidate volume tracks true
    *    near-matches, not block occupancy. (The round-3 blocking was
    *    (brand, exact length): fixed key cardinality, blocks ∝ n,
    *    verify ∝ n² — measured 32× time at 10× data. PassJoin alone
    *    still paid the duplicate tax; compress+block together went
    *    linear-in-output.)
    *
    * The oracle brute-forces the same predicate in DuckDB — the
    * blocking must lose NOTHING to hash-match, which is the
    * recall-completeness proof, run at three SFs. At 100 TB: the
    * distinct shuffle, the segment-key shuffle, and the expansion
    * joins are all linear; nothing quadratic survives unless the
    * answer is. */
  val q80FuzzyJoin: QueryDef = QueryDef.withOracle(
    """WITH p AS (SELECT p_partkey, p_name, p_brand FROM part)
      |SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
      |  levenshtein(a.p_name, b.p_name) AS dist
      |FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin
  ) { (s, d) =>
    val parts = Tables.part(s, d).select(col("p_partkey"), col("p_name"),
      col("p_brand"))
    expandToIdPairs(parts, passJoinCandidateNames(parts))
      .select(col("part_a"), col("part_b"), col("dist"))
  }

  /** PassJoin level 1 (shared by q80/q118): recall-complete candidate
    * NAME pairs within Levenshtein d=3 on the distinct (brand, name)
    * space, exact distance attached. See q80's docstring for the
    * two-level design rationale. */
  private def passJoinCandidateNames(parts: DataFrame): DataFrame = {
    // the dimension-sized input arrives as ONE split (a few MB of
    // parquet); without explicit fan-outs the generators and the
    // expansion would run on a single core. Round-robin BEFORE the
    // explodes: the shuffles move n tiny rows, the wide streams are
    // generated in parallel.
    val fanout = parts.sparkSession.sparkContext.defaultParallelism
    // ---- level 1: the distinct matching space
    val names = parts.select(col("p_brand"), col("p_name")).distinct()
      .withColumn("lb", length(col("p_name")))
    // PassJoin partition arithmetic for a string of length l: extra =
    // l % 4 segments get length l div 4 + 1, placed LAST; segment i
    // starts at i*(l div 4) + max(0, i - (4 - extra)).
    val segLen = "l div 4 + IF(i >= 4 - l % 4, 1, 0)"
    val segPos = "i * (l div 4) + GREATEST(0, i - (4 - l % 4))"
    // join key: 64-bit hash of (partner length, segment index,
    // segment string); brand rides as a real join column. Equal
    // segments ⇒ equal keys (recall preserved); a hash collision can
    // only ADD a candidate, which the exact levenshtein rejects.
    def key(l: Column, i: Column, seg: Column): Column = xxhash64(l, i, seg)
    val idx = names.repartition(fanout)
      .withColumn("l", col("lb"))
      .withColumn("i", explode(sequence(lit(0), lit(3))))
      .select(col("p_brand"),
        key(col("l"), col("i"),
          expr(s"substring(p_name, ($segPos) + 1, $segLen)")).as("k"),
        col("p_name").as("name_b"))
    val probes = names.repartition(fanout)
      // admissible partner lengths: |len(a) − len(b)| ≤ d
      .withColumn("l", explode(sequence(col("lb") - 3, col("lb") + 3)))
      .filter(col("l") >= 1)
      .withColumn("i", explode(sequence(lit(0), lit(3))))
      .withColumn("li", expr(segLen))
      .withColumn("pi", expr(segPos))
      // TIGHT shift window: a match position shift s needs |s| edits
      // before the segment and the remaining length difference needs
      // |Δ−s| after it, so |s| + |Δ−s| ≤ d — i.e. s ∈
      // [min(0,Δ)−t, max(0,Δ)+t] with t = (d−|Δ|) div 2: ~3 probe
      // positions instead of the naive ±d's 7. Clamped to valid
      // substring starts (sequence(lo, hi) reverses when lo > hi, so
      // the upper bound is floored at lo and over-emits filtered).
      .withColumn("delta", col("lb") - col("l"))
      .withColumn("t", ((lit(3) - abs(col("delta"))) / lit(2)).cast("int"))
      .withColumn("plo",
        greatest(col("pi") + least(lit(0), col("delta")) - col("t"), lit(0)))
      .withColumn("phi",
        least(col("pi") + greatest(lit(0), col("delta")) + col("t"),
          col("lb") - col("li")))
      .withColumn("p", explode(sequence(col("plo"),
        greatest(col("phi"), col("plo")))))
      .filter(col("p") <= col("phi"))
      .select(col("p_brand"),
        key(col("l"), col("i"),
          expr("substring(p_name, p + 1, li)")).as("k"),
        col("p_name").as("name_a"))
    // one orientation per unordered name pair (≤ keeps the same-name
    // diagonal); distinct collapses multi-segment matches BEFORE the
    // levenshtein verify, so each name pair is verified exactly once
    probes.join(idx, Seq("p_brand", "k"))
      .filter(col("name_a") <= col("name_b"))
      .select("p_brand", "name_a", "name_b").distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
  }

  /** PassJoin level 2 (shared by q80/q118): multiplicity expansion of
    * candidate name pairs back to id pairs. Same-name groups self-pair
    * (a<b keeps each unordered pair once); cross-name pairs arrive in
    * one orientation and are id-normalized. Extra columns on
    * `candNames` (scores) ride through. */
  private def expandToIdPairs(parts: DataFrame, candNames: DataFrame): DataFrame = {
    val fanout = parts.sparkSession.sparkContext.defaultParallelism
    val aSide = parts.select(col("p_brand"), col("p_name").as("name_a"),
      col("p_partkey").as("part_a")).repartition(fanout)
    val bSide = parts.select(col("p_brand"), col("p_name").as("name_b"),
      col("p_partkey").as("part_b"))
    aSide.join(broadcast(candNames), Seq("p_brand", "name_a"))
      .join(bSide, Seq("p_brand", "name_b"))
      .filter(col("name_a") =!= col("name_b") || col("part_a") < col("part_b"))
      .withColumn("part_a_n", least(col("part_a"), col("part_b")))
      .withColumn("part_b_n", greatest(col("part_a"), col("part_b")))
      .drop("part_a", "part_b")
      .withColumnRenamed("part_a_n", "part_a")
      .withColumnRenamed("part_b_n", "part_b")
  }

  /** Dual-score record linkage — the entity-resolution scorer pair:
    * q80's recall-complete PassJoin candidates (Levenshtein d ≤ 3),
    * each additionally scored with the native Jaro–Winkler expression
    * and kept when jw ≥ 0.8. Edit distance counts operations (typo
    * model); Jaro–Winkler weights prefix agreement (name model) —
    * linkage pipelines threshold on both. The oracle brute-forces the
    * identical predicate with DuckDB's jaro_winkler_similarity, so
    * the gate simultaneously proves the blocking lost nothing AND the
    * native expression matches DuckDB's scorer bit-for-bit.
    *
    * Scale shape: q80's — the jw verify runs once per distinct
    * candidate NAME pair (compressed space), never per id pair. */
  val q118JwLinkage: QueryDef = QueryDef.withOracle(
    """WITH p AS (SELECT p_partkey, p_name, p_brand FROM part)
      |SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
      |  levenshtein(a.p_name, b.p_name) AS dist,
      |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
      |FROM p a JOIN p b ON a.p_brand = b.p_brand
      |  AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |  AND jaro_winkler_similarity(a.p_name, b.p_name) >= 0.8""".stripMargin
  ) { (s, d) =>
    val parts = Tables.part(s, d).select(col("p_partkey"), col("p_name"),
      col("p_brand"))
    val cand = passJoinCandidateNames(parts)
      .withColumn("jw", graft.functions.TextExpressions.jaroWinkler(
        col("name_a"), col("name_b")))
      .filter(col("jw") >= 0.8)
    expandToIdPairs(parts, cand)
      .select(col("part_a"), col("part_b"), col("dist"), col("jw"))
  }

  /** Passage-level duplication census — the sub-document granularity
    * the near-dup family (q41–q44, whole-doc) doesn't cover: docs can
    * be globally distinct yet share boilerplate passages, the case
    * suffix-array dedup targets in training-data pipelines. This is
    * the bounded, shuffle-friendly approximation of that analysis:
    * fixed-width (8-token, non-overlapping) chunks, hashed, counted
    * across documents; per doc, how many of its chunks also appear in
    * ≥1 OTHER doc. Downstream curation drops or trims docs whose
    * dup_chunks/n_chunks exceeds a policy threshold.
    *
    * Scale: chunking is map-side (one generator, no per-chunk
    * shuffle); the only exchanges are the (doc, chunk)-distinct df
    * aggregate keyed by chunk hash and the per-doc rollup. A viral
    * boilerplate chunk makes ONE df row however often it appears —
    * there is no pair join anywhere, so unlike q41 no df cap is
    * needed; output is exactly one row per ≥8-token doc. md5 (not
    * xxhash64) keys keep the chunk ids engine-portable, so the oracle
    * re-derives them from raw text. */
  val q90PassageOverlap: QueryDef = QueryDef.withOracle(
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |ch AS (
      |  SELECT doc_id, md5(array_to_string(t[i*8+1 : i*8+8], ' ')) AS h
      |  FROM toks, LATERAL
      |    (SELECT unnest(generate_series(0, len(t) // 8 - 1)) AS i) g),
      |df AS (SELECT h, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
      |SELECT doc_id, count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS dup_chunks
      |FROM ch JOIN df USING (h)
      |GROUP BY doc_id""".stripMargin
  ) { (s, d) => passageOverlap(Tables.documents(s, d)) }

  /** The q90 census as a reusable function of any (doc_id, text)
    * frame — see [[q90PassageOverlap]] for the contract. */
  def passageOverlap(docs: DataFrame, chunkTokens: Int = 8): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      // guard BEFORE the generator: sequence(0, -1) descends
      .filter(size(col("toks")) >= chunkTokens)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(toks) div $chunkTokens - 1), " +
          s"i -> md5(concat_ws(' ', slice(toks, i * $chunkTokens + 1, " +
          s"$chunkTokens))))")).as("h"))
    val df_ = chunks.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    chunks.join(df_, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
  }

  /** N-gram CONTAINMENT pairs — the asymmetric sibling of q41 and the
    * primitive behind eval-set contamination detection: containment
    * C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| is high whenever A's content
    * appears inside B even if B is much larger (Jaccard would dilute
    * to |A|/|B| and miss it — the reason contamination scanners use
    * containment, not Jaccard). Emits ordered pairs with C ≥ 0.6.
    *
    * Scale shape is exactly q41's: the candidate generator is the
    * per-shingle postings expansion (one shuffle on the 64-bit
    * shingle key, df band [2, maxDf] bounds every posting list, pair
    * generation map-side) — the ordered-direction doubling happens
    * AFTER the (doc_a, doc_b) intersection aggregate as a map-side
    * explode, so the pair-stream shuffle cost is identical to q41's
    * unordered stream. |sh(A)| is the true (uncapped) shingle count,
    * so the score is the same exact-when-uncapped lower bound q41
    * documents. */
  val q124Containment: QueryDef = QueryDef.withOracle(
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s)
      |  WHERE df >= 2 AND df <= $DefaultMaxShingleDf),
      |shf AS (SELECT sh.* FROM sh JOIN common USING (s)),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(CAST(i AS DOUBLE) / c.n, 3) AS containment
      |FROM inter JOIN cnt c ON c.doc_id = doc_a
      |WHERE CAST(i AS DOUBLE) / c.n >= 0.6""".stripMargin
  ) { (s, d) =>
    val sh = Kernels.shingles(Tables.documents(s, d))
      .select(col("doc_id"), xxhash64(col("s")).as("h")).cache()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // q41's postings-expansion candidate generator (see
    // ngramJaccardPairs for the full argument); the intersection
    // counts once per unordered pair …
    val inter = sh
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, DefaultMaxShingleDf))
      .select(posexplode(col("ds")).as(Seq("i", "doc_a")), col("ds"))
      .select(col("doc_a"),
        explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    // … and both orientations emit map-side from the aggregated pair
    // (the q102 explode-not-union rule: a union would replay the
    // whole candidate aggregation per branch)
    val dir = inter.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst"), col("i")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst"), col("i"))))
        .as("x"))
      .select(col("x.src").as("doc_a"), col("x.dst").as("doc_b"),
        col("x.i").as("i"))
    val c = col("i").cast("double") / col("na")
    dir
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .filter(c >= 0.6)
      .select(col("doc_a"), col("doc_b"), round(c, 3).as("containment"))
  }

  /** Golden-record survivorship — the MERGE step that completes the
    * dedup lifecycle (q40-q44 detect → q49 cluster → THIS merges):
    * every multi-member cluster emits one canonical record built by
    * field-level survivorship rules: the longest-text member carries
    * the content (tie → lowest doc_id), the modal source wins the
    * provenance field (tie → alphabetical), membership/char totals
    * ride as lineage stats. Singleton clusters are already golden and
    * are filtered out.
    *
    * Scale shape: clusters come from q49's label propagation (O(log
    * diameter) rounds, checkpointed); everything here is keyed on
    * canonical_id — one member-attach equi-join, two WindowGroupLimit
    * rank picks, one rollup. Cluster sizes are bounded by the
    * near-dup structure (a pathological mega-cluster is a data-quality
    * signal q49's pair thresholds already gate). */
  val q130Survivorship: QueryDef = QueryDef.withOracle(
    s"""WITH RECURSIVE sg AS (
      |  SELECT doc_id, sig FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/minhash_sigs.parquet/*.parquet')),
      |banded AS (
      |  SELECT doc_id, sig, b AS band, sig[b*4+1:b*4+4] AS band_sig
      |  FROM sg, LATERAL (SELECT unnest([0,1,2,3]) AS b) g),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sig AS sig_a, b.sig AS sig_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_sig = b.band_sig
      |    AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE CAST(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
      |    >= 0.25),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach AS (
      |  SELECT doc_id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.a AS doc_id, reach.r AS r
      |  FROM edges e JOIN reach ON reach.doc_id = e.b),
      |clusters AS (
      |  SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id),
      |m AS (
      |  SELECT c.canonical_id, d.doc_id, d.source, d.n_chars,
      |    CAST(length(d.text) AS BIGINT) AS len
      |  FROM clusters c JOIN documents d USING (doc_id)),
      |surv AS (
      |  SELECT canonical_id, doc_id AS survivor_doc, len AS survivor_len
      |  FROM (SELECT *, row_number() OVER (PARTITION BY canonical_id
      |          ORDER BY len DESC, doc_id) AS rn FROM m)
      |  WHERE rn = 1),
      |sc AS (
      |  SELECT canonical_id, source, count(*) AS n FROM m GROUP BY 1, 2),
      |tops AS (
      |  SELECT canonical_id, source AS top_source
      |  FROM (SELECT *, row_number() OVER (PARTITION BY canonical_id
      |          ORDER BY n DESC, source) AS rn FROM sc)
      |  WHERE rn = 1),
      |st AS (
      |  SELECT canonical_id, count(*) AS n_members,
      |    count(DISTINCT source) AS n_sources,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars
      |  FROM m GROUP BY 1)
      |SELECT st.canonical_id, n_members, n_sources, total_chars,
      |  survivor_doc, survivor_len, top_source
      |FROM st JOIN surv USING (canonical_id) JOIN tops USING (canonical_id)
      |WHERE n_members >= 2""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val m = q49DedupClusters.fn(s, d)
      .join(Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars")),
        Seq("doc_id"))
      .select(col("canonical_id"), col("doc_id"), col("source"),
        col("n_chars"), length(col("text")).cast("long").as("len"))
      .cache() // three canonical_id-keyed consumers read one attach
    val wLen = Window.partitionBy(col("canonical_id"))
      .orderBy(col("len").desc, col("doc_id"))
    val surv = m.withColumn("rn", row_number().over(wLen))
      .filter(col("rn") === 1)
      .select(col("canonical_id"), col("doc_id").as("survivor_doc"),
        col("len").as("survivor_len"))
    val sc = m.groupBy(col("canonical_id"), col("source"))
      .agg(count(lit(1)).as("n"))
    val wSrc = Window.partitionBy(col("canonical_id"))
      .orderBy(col("n").desc, col("source"))
    val tops = sc.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") === 1)
      .select(col("canonical_id"), col("source").as("top_source"))
    m.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"))
      .join(surv, Seq("canonical_id"))
      .join(tops, Seq("canonical_id"))
      .filter(col("n_members") >= 2)
      .select(col("canonical_id"), col("n_members"), col("n_sources"),
        col("total_chars"), col("survivor_doc"), col("survivor_len"),
        col("top_source"))
  }

  /** Semantic (embedding-space) cluster canonicalization — q49's
    * exact sibling on the OTHER candidate generator: q44's
    * LSH-bucketed cosine near-dup pairs feed the same checkpointed
    * label propagation, so the embedding dedup lifecycle is complete
    * (q44 detect → THIS cluster → the q130 merge pattern applies).
    * Every vector maps to the min vec_id of its connected near-dup
    * component; singletons map to themselves.
    *
    * Scale: pairs are the LSH-bounded q44 stream (never all-pairs);
    * label propagation is O(log diameter) rounds with per-5-round
    * lineage checkpoints (DedupCluster). Oracle: DuckDB re-derives
    * candidates from the dumped bucket fixture, scores with
    * list_cosine_similarity, and closes components with a recursive
    * CTE — the q49 template. */
  val q133SemanticClusters: QueryDef = QueryDef.withOracle(
    s"""WITH RECURSIVE b AS (
      |  SELECT * FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/lsh_buckets.parquet/*.parquet')),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
      |  FROM b a JOIN b b2
      |    ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
      |pairs AS (
      |  SELECT vec_a, vec_b FROM cand
      |  JOIN c ca ON ca.vec_id = vec_a
      |  JOIN c cb ON cb.vec_id = vec_b
      |  WHERE round(list_cosine_similarity(ca.emb, cb.emb), 6) >= 0.3),
      |edges AS (
      |  SELECT vec_a AS a, vec_b AS b FROM pairs
      |  UNION SELECT vec_b AS a, vec_a AS b FROM pairs),
      |reach AS (
      |  SELECT vec_id, vec_id AS r FROM embeddings
      |  UNION
      |  SELECT e.a AS vec_id, reach.r AS r
      |  FROM edges e JOIN reach ON reach.vec_id = e.b)
      |SELECT vec_id, min(r) AS canonical_id FROM reach GROUP BY vec_id""".stripMargin
  ) { (s, d) =>
    graft.CacheHygiene.memo(s, s"canonical.semantic $d") {
      graft.functions.DedupCluster.canonicalize(
        Tables.embeddings(s, d).select(col("vec_id").as("doc_id")),
        q44EmbedNearDup.fn(s, d)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    }.select(col("doc_id").as("vec_id"), col("canonical_id"))
  }

  /** Cluster-size histogram over the q49 MinHash components — the
    * dedup REPORT a curation run actually reads (how much of the
    * corpus is duplicated, and in what clump sizes) before choosing a
    * drop policy. Singletons included (size 1 = unique share).
    *
    * Scale shape: reads the memoized canonical frame (built once per
    * session, shared with q49/q130), then two tiny aggregates — the
    * size rollup is canonical-keyed (cluster-count-sized) and the
    * histogram is ≤ max-cluster-size rows. Oracle: q49's recursive
    * transitive-closure CTE plus the same two rollups. */
  val q138ClusterSizes: QueryDef = QueryDef.withOracle(
    s"""WITH RECURSIVE sg AS (
      |  SELECT doc_id, sig FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/minhash_sigs.parquet/*.parquet')),
      |banded AS (
      |  SELECT doc_id, sig, b AS band, sig[b*4+1:b*4+4] AS band_sig
      |  FROM sg, LATERAL (SELECT unnest([0,1,2,3]) AS b) g),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sig AS sig_a, b.sig AS sig_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_sig = b.band_sig
      |    AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE CAST(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
      |    >= 0.25),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach AS (
      |  SELECT doc_id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.a AS doc_id, reach.r AS r
      |  FROM edges e JOIN reach ON reach.doc_id = e.b),
      |canon AS (SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY 1),
      |sz AS (SELECT canonical_id, count(*) AS cluster_size
      |  FROM canon GROUP BY 1)
      |SELECT cluster_size, count(*) AS n_clusters,
      |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
      |FROM sz GROUP BY 1""".stripMargin
  ) { (s, d) =>
    q49DedupClusters.fn(s, d)
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  /** MinHash estimator calibration — est vs TRUE Jaccard on the q42
    * candidate pairs, binned by absolute error: the sketch-accuracy
    * eval a pipeline runs before trusting a 16-hash signature to
    * gate dedup decisions (the k=16 standard error is ~1/√16 ≈ 0.25;
    * this measures it on the actual corpus).
    *
    * True Jaccard uses the FULL distinct shingle sets (no df cap —
    * unlike q41's candidate path, truth must not be approximated);
    * shingles shared by a pair have df ≥ 2 by construction, so the
    * only divergence from q41's intersection is the cap itself.
    * est = k/16 is exactly representable; truth is one division of
    * exact ints; |est−truth| quantizes to int micro-units before any
    * aggregation (the q126 convention), so sums stay exact.
    *
    * Scale shape: the pair frame is LSH-bounded (q42); the
    * intersection attach is two shingle-keyed equi-joins of that
    * small frame against the corpus shingle table; set sizes attach
    * by doc key; the histogram is a ≤21-row rollup. */
  val q140SketchCalibration: QueryDef = QueryDef.withOracle(
    s"""WITH sg AS (
      |  SELECT doc_id, sig FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/minhash_sigs.parquet/*.parquet')),
      |banded AS (
      |  SELECT doc_id, sig, b AS band, sig[b*4+1:b*4+4] AS band_sig
      |  FROM sg, LATERAL (SELECT unnest([0,1,2,3]) AS b) g),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sig AS sig_a, b.sig AS sig_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_sig = b.band_sig
      |    AND a.doc_id < b.doc_id),
      |est AS (
      |  SELECT doc_a, doc_b,
      |    CAST(list_sum(list_transform(range(1, 17),
      |      i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
      |      AS DOUBLE) / 16 AS est_jaccard
      |  FROM cand
      |  WHERE CAST(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
      |    >= 0.25),
      |toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT e.doc_a, e.doc_b, count(*) AS i
      |  FROM est e
      |  JOIN sh a ON a.doc_id = e.doc_a
      |  JOIN sh b ON b.doc_id = e.doc_b AND b.s = a.s
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT CAST(floor(abs(e.est_jaccard
      |      - CAST(coalesce(i.i, 0) AS DOUBLE)
      |        / (ca.n + cb.n - coalesce(i.i, 0))) * 1000000 + 0.5)
      |    AS BIGINT) AS err_fp
      |  FROM est e
      |  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
      |  JOIN cnt ca ON ca.doc_id = e.doc_a
      |  JOIN cnt cb ON cb.doc_id = e.doc_b)
      |SELECT err_fp // 50000 AS err_bin, count(*) AS n_pairs,
      |  CAST(sum(err_fp) AS BIGINT) AS sum_err_fp
      |FROM scored GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val pairs = minhashPairs(s, d)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    val sh = Kernels.shingles(Tables.documents(s, d))
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs.select(col("doc_a"), col("doc_b"))
      .join(sh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s")),
        Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    val scored = pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("i"))
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .select(floor(abs(col("est_jaccard") -
        col("i").cast("double") / (col("na") + col("nb") - col("i"))) *
        1000000 + 0.5).cast("long").as("err_fp"))
    scored.groupBy(expr("err_fp div 50000").as("err_bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("err_fp")).as("sum_err_fp"))
  }

  /** Cross-source near-duplicate matrix — for every unordered source
    * pair, how many q49 clusters contain documents from BOTH: the
    * inter-source contamination screen (a training mix that keeps the
    * same page from two crawls double-weights it; this attributes the
    * overlap to source pairs so mixing weights can be corrected).
    * Near-dup clusters, not exact hashes: crawls rarely ship
    * byte-identical copies (this corpus has zero), they ship
    * near-copies — exactly what the MinHash components capture.
    *
    * Scale shape: reads the memoized canonical frame; dedups to
    * distinct (cluster, source) map-side + one exchange; the matrix
    * join is cluster-keyed (groups are per-cluster source counts,
    * ≤ |sources|); the rollup domain is |sources|². */
  val q141CrossSourceDups: QueryDef = QueryDef.withOracle(
    s"""WITH RECURSIVE sg AS (
      |  SELECT doc_id, sig FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/minhash_sigs.parquet/*.parquet')),
      |banded AS (
      |  SELECT doc_id, sig, b AS band, sig[b*4+1:b*4+4] AS band_sig
      |  FROM sg, LATERAL (SELECT unnest([0,1,2,3]) AS b) g),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sig AS sig_a, b.sig AS sig_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_sig = b.band_sig
      |    AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE CAST(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
      |    >= 0.25),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach AS (
      |  SELECT doc_id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.a AS doc_id, reach.r AS r
      |  FROM edges e JOIN reach ON reach.doc_id = e.b),
      |canon AS (SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY 1),
      |m AS (
      |  SELECT DISTINCT canon.canonical_id, d.source
      |  FROM canon JOIN documents d USING (doc_id))
      |SELECT a.source AS source_a, b.source AS source_b,
      |  count(*) AS n_shared_clusters
      |FROM m a JOIN m b
      |  ON a.canonical_id = b.canonical_id AND a.source < b.source
      |GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val m = q49DedupClusters.fn(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .select(col("canonical_id"), col("source"))
      .distinct()
    m.select(col("canonical_id"), col("source").as("source_a"))
      .join(m.select(col("canonical_id"), col("source").as("source_b")),
        Seq("canonical_id"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_clusters"))
  }

  /** Label purity of the q133 semantic clusters — the clustering-eval
    * metric that closes the embedding-dedup loop: if near-dup
    * components mix labels, the similarity threshold (or the
    * embedding space) is wrong. Per multi-member cluster: size,
    * majority label (ties break to the lexicographically smallest —
    * deterministic), and purity = majority count / size (ONE IEEE
    * division of exact counts).
    *
    * Scale shape: reads the memoized semantic canonical leaf; the
    * label attach is a vec-keyed equi-join; per-(cluster, label)
    * counts and the majority pick (WindowGroupLimit rank-1) ride one
    * cluster-keyed exchange. */
  val q146ClusterPurity: QueryDef = QueryDef.withOracle(
    s"""WITH RECURSIVE b AS (
      |  SELECT * FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/lsh_buckets.parquet/*.parquet')),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
      |  FROM b a JOIN b b2
      |    ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
      |pairs AS (
      |  SELECT vec_a, vec_b FROM cand
      |  JOIN c ca ON ca.vec_id = vec_a
      |  JOIN c cb ON cb.vec_id = vec_b
      |  WHERE round(list_cosine_similarity(ca.emb, cb.emb), 6) >= 0.3),
      |edges AS (
      |  SELECT vec_a AS a, vec_b AS b FROM pairs
      |  UNION SELECT vec_b AS a, vec_a AS b FROM pairs),
      |reach AS (
      |  SELECT vec_id, vec_id AS r FROM embeddings
      |  UNION
      |  SELECT e.a AS vec_id, reach.r AS r
      |  FROM edges e JOIN reach ON reach.vec_id = e.b),
      |canon AS (SELECT vec_id, min(r) AS canonical_id FROM reach GROUP BY 1),
      |m AS (
      |  SELECT canon.canonical_id, em.label
      |  FROM canon JOIN embeddings em USING (vec_id)),
      |lc AS (
      |  SELECT canonical_id, label, count(*) AS n
      |  FROM m GROUP BY 1, 2),
      |sz AS (
      |  SELECT canonical_id, CAST(sum(n) AS BIGINT) AS n_members
      |  FROM lc GROUP BY 1),
      |top AS (
      |  SELECT canonical_id, label AS top_label, n AS top_n
      |  FROM (SELECT *, row_number() OVER (PARTITION BY canonical_id
      |          ORDER BY n DESC, label) AS rn FROM lc)
      |  WHERE rn = 1)
      |SELECT sz.canonical_id, n_members, top_label,
      |  CAST(top_n AS BIGINT) AS top_n,
      |  CAST(top_n AS DOUBLE) / n_members AS purity
      |FROM sz JOIN top USING (canonical_id)
      |WHERE n_members >= 2""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val m = q133SemanticClusters.fn(s, d)
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")),
        Seq("vec_id"))
    val lc = m.groupBy(col("canonical_id"), col("label"))
      .agg(count(lit(1)).as("n"))
      .cache() // size rollup and majority pick read one count frame
    val sz = lc.groupBy(col("canonical_id")).agg(sum(col("n")).as("n_members"))
    val top = lc.withColumn("rn", row_number().over(
        Window.partitionBy(col("canonical_id"))
          .orderBy(col("n").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("canonical_id"), col("label").as("top_label"),
        col("n").as("top_n"))
    sz.join(top, Seq("canonical_id"))
      .filter(col("n_members") >= 2)
      .select(col("canonical_id"), col("n_members"), col("top_label"),
        col("top_n"),
        (col("top_n").cast("double") / col("n_members")).as("purity"))
  }

  /** Pairwise source-level Jaccard similarity from a MERGEABLE
    * MinHash sketch — the custom `TypedImperativeAggregate` showcase
    * (SURVEY §6): each source's shingle stream collapses to a k=16
    * sketch with map-side partial aggregation and associative merge
    * (the property that makes sketching work when a source's shingles
    * never co-locate), then |sources|² sketch pairs compare with a
    * zip_with — no shingle-level join between sources AT ALL, unlike
    * q41/q140's pair-exact paths. est = matching minima / k.
    *
    * Parity: the hash family is the repo's md5 recipe, so the oracle
    * recomputes the EXACT per-(source, i) minima in SQL and agreement
    * is integer equality, not sketch-probability. */
  val q149SourceSketchSim: QueryDef = QueryDef.withOracle(
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g),
      |sh AS (
      |  SELECT DISTINCT d.source, sh0.s
      |  FROM sh0 JOIN documents d USING (doc_id)),
      |hs AS (
      |  SELECT source, g.i,
      |    min(CAST(('0x' || substring(md5(CAST(g.i AS VARCHAR) || ':' || s),
      |      1, 15)) AS BIGINT)) AS h
      |  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g
      |  GROUP BY 1, 2)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_matches,
      |  CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS DOUBLE) / 16
      |    AS est_jaccard
      |FROM hs a JOIN hs b ON a.i = b.i AND a.source < b.source
      |GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val sh = Kernels.shingles(Tables.documents(s, d))
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    val sk = sh.groupBy(col("source"))
      .agg(graft.functions.SketchAggregates.minhashSketch(col("s"), 16)
        .as("sketch"))
    val a = sk.select(col("source").as("source_a"), col("sketch").as("sk_a"))
    val b = sk.select(col("source").as("source_b"), col("sketch").as("sk_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        expr("size(filter(zip_with(sk_a, sk_b, (x, y) -> x = y), p -> p))")
          .cast("long").as("n_matches"))
      .select(col("source_a"), col("source_b"), col("n_matches"),
        (col("n_matches").cast("double") / 16).as("est_jaccard"))
  }

  /** Blocking-quality audit — the two numbers that grade ANY blocking
    * scheme before a record-linkage or dedup run commits to it
    * (Christen, "Data Matching", ch. 4): reduction ratio (what share
    * of the N² comparison space the blocks eliminate) and pairs
    * completeness (what share of TRUE duplicate pairs land in the same
    * block — recall of the candidate generation). Truth is the q49
    * MinHash near-dup clustering; the audited scheme is the cheap
    * (lang, n_chars div 64) key a pre-LSH pass would use.
    *
    * Both metrics COUNT pairs without materializing any: candidate
    * pairs are Σ n_b(n_b−1)/2 over block sizes, truth pairs are
    * Σ g(g−1)/2 over cluster sizes, co-blocked truth pairs are
    * Σ m(m−1)/2 over (cluster, block) cell sizes — three aggregates,
    * no joins between documents. Doubled pair counts accumulate in
    * decimal(38,0)/HUGEINT (n(n−1) crosses 2^63 past ~3e9 docs); each
    * ratio is one division; outputs are the doubled counts (as DOUBLE
    * — audit numbers that must report, not throw, past int64) plus
    * 1e-6-floored ratios.
    *
    * Scale shape: reads the memoized q49 canonical frame (its label
    * propagation is spec'd and plan-audited at q49/q133/q141); one
    * (block) aggregate, one (cluster) aggregate, one (cluster, block)
    * aggregate — all map-side combined; the rollups are cell frames. */
  val q223BlockingMetrics: QueryDef = QueryDef.withOracle(
    s"""WITH RECURSIVE sg AS (
      |  SELECT doc_id, sig FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/minhash_sigs.parquet/*.parquet')),
      |banded AS (
      |  SELECT doc_id, sig, b AS band, sig[b*4+1:b*4+4] AS band_sig
      |  FROM sg, LATERAL (SELECT unnest([0,1,2,3]) AS b) g),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sig AS sig_a, b.sig AS sig_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_sig = b.band_sig
      |    AND a.doc_id < b.doc_id),
      |prs AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE CAST(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE)
      |    / 16 >= 0.25),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM prs
      |  UNION SELECT doc_b AS a, doc_a AS b FROM prs),
      |reach AS (
      |  SELECT doc_id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.a AS doc_id, reach.r AS r
      |  FROM edges e JOIN reach ON reach.doc_id = e.b),
      |canon AS (SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY 1),
      |db AS (
      |  SELECT doc_id, lang || ':' || CAST(n_chars // 64 AS VARCHAR) AS blk
      |  FROM documents),
      |blocks AS (
      |  SELECT count(*) AS n_blocks,
      |    sum(CAST(nb AS HUGEINT) * (nb - 1)) AS cand2
      |  FROM (SELECT blk, count(*) AS nb FROM db GROUP BY 1)),
      |tot AS (SELECT count(*) AS n_docs FROM db),
      |truth AS (
      |  SELECT sum(CAST(g AS HUGEINT) * (g - 1)) AS truth2
      |  FROM (SELECT canonical_id, count(*) AS g FROM canon GROUP BY 1)),
      |cob AS (
      |  SELECT sum(CAST(m AS HUGEINT) * (m - 1)) AS co2
      |  FROM (SELECT canonical_id, blk, count(*) AS m
      |        FROM canon JOIN db USING (doc_id) GROUP BY 1, 2))
      |SELECT n_docs, n_blocks,
      |  CAST(cand2 AS DOUBLE) AS cand_pairs2,
      |  CAST(truth2 AS DOUBLE) AS truth_pairs2,
      |  CAST(co2 AS DOUBLE) AS co_pairs2,
      |  floor((1 - CAST(cand2 AS DOUBLE)
      |    / (CAST(n_docs AS DOUBLE) * (n_docs - 1))) * 1000000 + 0.5)
      |    / 1000000 AS reduction_ratio,
      |  floor((CAST(co2 AS DOUBLE) / CAST(truth2 AS DOUBLE))
      |    * 1000000 + 0.5) / 1000000 AS pairs_completeness
      |FROM tot CROSS JOIN blocks CROSS JOIN truth CROSS JOIN cob""".stripMargin
  ) { (s, d) =>
    val db = Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("lang"), lit(":"),
          expr("n_chars div 64").cast("string")).as("blk"))
      .cache() // feeds the block rollup and the co-block join
    val blocks = db.groupBy(col("blk")).agg(count(lit(1)).as("nb"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(dec(col("nb")) * (col("nb") - 1)).as("cand2"))
    val tot = db.agg(count(lit(1)).as("n_docs"))
    val canon = q49DedupClusters.fn(s, d)
    val truth = canon.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("g"))
      .agg(sum(dec(col("g")) * (col("g") - 1)).as("truth2"))
    val cob = canon.join(db, Seq("doc_id"))
      .groupBy(col("canonical_id"), col("blk"))
      .agg(count(lit(1)).as("m"))
      .agg(sum(dec(col("m")) * (col("m") - 1)).as("co2"))
    tot.crossJoin(broadcast(blocks)).crossJoin(broadcast(truth))
      .crossJoin(broadcast(cob))
      .select(col("n_docs"), col("n_blocks"),
        // audit numbers, not join keys: DOUBLE output so a >3e9-doc
        // corpus (doubled pair counts past int64) reports instead of
        // throwing on the cast; the accumulation itself is decimal
        col("cand2").cast("double").as("cand_pairs2"),
        col("truth2").cast("double").as("truth_pairs2"),
        col("co2").cast("double").as("co_pairs2"),
        (floor((lit(1) - col("cand2").cast("double")
          / (col("n_docs").cast("double") * (col("n_docs") - 1)))
          * 1000000L + 0.5) / 1000000L).as("reduction_ratio"),
        (floor((col("co2").cast("double") / col("truth2").cast("double"))
          * 1000000L + 0.5) / 1000000L).as("pairs_completeness"))
  }

  val all: Map[String, QueryDef] = Map(
    "q149_source_sketch_sim" -> q149SourceSketchSim,
    "q146_cluster_purity" -> q146ClusterPurity,
    "q138_cluster_sizes" -> q138ClusterSizes,
    "q140_sketch_calibration" -> q140SketchCalibration,
    "q141_cross_source_dups" -> q141CrossSourceDups,
    "q90_passage_overlap" -> q90PassageOverlap,
    "q124_containment" -> q124Containment,
    "q130_survivorship" -> q130Survivorship,
    "q133_semantic_clusters" -> q133SemanticClusters,
    "q80_fuzzy_join" -> q80FuzzyJoin,
    "q118_jw_linkage" -> q118JwLinkage,
    "q40_dedup_exact" -> q40DedupExact,
    "q41_ngram_jaccard" -> q41NgramJaccard,
    "q42_minhash_lsh" -> q42MinHashLsh,
    "q43_simhash" -> q43SimHash,
    "q44_embed_neardup" -> q44EmbedNearDup,
    "q49_dedup_clusters" -> q49DedupClusters,
    "q223_blocking_metrics" -> q223BlockingMetrics
  )
}
