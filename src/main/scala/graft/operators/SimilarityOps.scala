package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorExpressions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float]
  * column): brute-force cosine top-k as the exactness baseline and a
  * multi-table LSH variant as the 100 TB scale path.
  *
  * Vector math runs through graft.functions.VectorExpressions —
  * native Catalyst expressions with codegen'd primitive loops (double
  * accumulation, bit-compatible with the DuckDB oracle) instead of
  * interpreted higher-order lambdas.
  *
  * Scale design: the query set is always the SMALL side and is
  * broadcast; the corpus is scanned once with no shuffle of the
  * embedding vectors for brute force, and one bucket-keyed shuffle
  * for LSH. Per-query top-k is a window over (query, score) triples —
  * Spark plans partial TakeOrdered per partition.
  */
object SimilarityOps {

  private def corpus(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)

  /** Brute-force cosine top-5 per query (query set = vec_id % 50 = 0,
    * broadcast against the corpus scan). Ranking on the 6-dp-rounded
    * score with vec_id tiebreak keeps the order deterministic and
    * engine-agnostic. */
  val q50AnnBrute: QueryDef = QueryDef.withOracle(
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM c WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT q_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q_emb, c.emb), 6) AS cosine
      |  FROM q JOIN c ON q.q_id <> c.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5""".stripMargin
  ) { (s, d) =>
    val c = corpus(s, d)
    val q = c.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(VectorExpressions.cosine(col("q_emb"), col("embedding")), 6)
          .as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "neighbor_id", "cosine")
  }

  /** Adaptive IVF centroid-sample divisor: nlist ≈ 4·√n (the standard
    * inverted-index build rule — assignment cost n·nlist ∝ n^1.5, probe
    * cost per query ∝ √n) via p = max(31, ⌈√n / 4⌉). A FIXED divisor is
    * the same scale cliff as fixed LSH bits: k = n/31 makes the
    * broadcast assignment n·k ∝ n² (measured on the 100×-replica sweep
    * before the change). The 31 floor keeps every gate SF's centroid
    * set — and therefore every oracle output — unchanged; the oracles
    * compute the identical p with a scalar subquery (⌈⌉, √, and /4 are
    * all exact or correctly-rounded IEEE in both engines). */
  private[operators] def ivfDivisor(n: Long): Long =
    math.max(31L, math.ceil(math.sqrt(n.toDouble) / 4.0).toLong)

  /** SQL mirror of [[ivfDivisor]] over a CTE named `c`. */
  private[operators] val IvfDivisorSql =
    "(SELECT GREATEST(31, CAST(ceil(sqrt(count(*)) / 4.0) AS BIGINT)) FROM c)"

  /** Exploded hyperplane-LSH bucket assignments (vec_id, t, bucket) —
    * the ONLY engine-specific piece of the LSH paths (the hyperplanes
    * live in the native expression). Verify dumps this frame to
    * parquet so the DuckDB oracle can independently re-derive the
    * candidate join, scoring, and ranking of q51/q44 from it. */
  def lshBucketsFrame(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Kernels.lshBucketsWithEmbeddings(s, d).select("vec_id", "t", "bucket")

  /** LSH-bucketed ANN: L=3 hash tables of k=4 random-hyperplane bits
    * (one fused codegen loop per row computes all signatures). A
    * corpus vector is a candidate for a query if they collide in ANY
    * table; candidates are scored exactly, top-5 kept. At 100 TB the
    * (table, bucket) equi-join shuffles only (id, bucket) pairs plus
    * candidate vectors — each query probes ~L·n/2^k of the corpus
    * instead of all of it; recall is tunable via L and k.
    *
    * Oracle: DuckDB recomputes candidates/scores/ranks from the dumped
    * bucket fixture — everything but the hash itself is re-derived. */
  val q51AnnLsh: QueryDef = QueryDef.withOracle(
    s"""WITH b AS (
      |  SELECT * FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/lsh_buckets.parquet/*.parquet')),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, t, bucket FROM b WHERE vec_id % 50 = 0),
      |cand AS (
      |  SELECT DISTINCT q.q_id, b.vec_id AS neighbor_id
      |  FROM b JOIN q ON b.t = q.t AND b.bucket = q.bucket
      |  WHERE q.q_id <> b.vec_id),
      |scored AS (
      |  SELECT q_id, neighbor_id,
      |    round(list_cosine_similarity(cq.emb, cn.emb), 6) AS cosine
      |  FROM cand
      |  JOIN c cq ON cq.vec_id = q_id
      |  JOIN c cn ON cn.vec_id = neighbor_id),
      |ranked AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5""".stripMargin
  ) { (s, d) =>
    val cT = Kernels.lshBucketsWithEmbeddings(s, d)
    val q = cT.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("t"), col("bucket"))
    val scored = cT.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(VectorExpressions.cosine(col("q_emb"), col("embedding")), 6)
          .as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "neighbor_id", "cosine")
  }

  /** Per-label embedding statistics: count, mean L2 norm — the sanity
    * rollup a pipeline runs before/after normalization. */
  val q52EmbedStats: QueryDef = QueryDef.withOracle(
    """SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
      |  round(avg(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> x * x)))), 4) AS avg_norm
      |FROM embeddings GROUP BY 1""".stripMargin
  ) { (s, d) =>
    corpus(s, d)
      .select(col("label").cast("long").as("label"),
        sqrt(VectorExpressions.sqnorm(col("embedding"))).as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), round(avg(col("norm")), 4).as("avg_norm"))
  }

  /** IVF-style ANN: a deterministic subset of vectors acts as coarse
    * centroids; every vector is assigned to its nearest centroid
    * (inverted lists), queries probe their `nprobe`=2 nearest lists.
    *
    * The 100 TB shape: centroid table is tiny and broadcast; the
    * corpus partitions by centroid id (the inverted index IS the
    * partitioning), and a query touches nprobe partitions instead of
    * the full corpus. Assignment cost is one broadcast-join scan —
    * n·k codegen'd cosines, no shuffle of the vectors until the
    * final list grouping. */
  val q53AnnIvf: QueryDef = QueryDef.withOracle(
    // fully SQL-expressible: centroid choice (vec_id % p = 1, p the
    // adaptive ivfDivisor), nearest-centroid assignment, probe lists,
    // and scoring are all deterministic math — DuckDB's sequential
    // list_cosine_similarity is bit-compatible with the native cosine
    // expression, and ties in the centroid ordering break on cent_id
    // in both engines
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM c WHERE vec_id % $IvfDivisorSql = 1),
      |ac AS (
      |  SELECT c.vec_id, c.emb, cent_id,
      |    list_cosine_similarity(c.emb, cent_emb) AS cent_sim
      |  FROM c CROSS JOIN cents),
      |assigned AS (
      |  SELECT vec_id, emb, cent_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
      |    FROM ac) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, emb AS q_emb, cent_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
      |    FROM ac WHERE vec_id % 50 = 0) WHERE rn <= 2),
      |scored AS (
      |  SELECT q_id, a.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q_emb, a.emb), 6) AS cosine
      |  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
      |  WHERE p.q_id <> a.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5""".stripMargin
  ) { (s, d) =>
    val c = corpus(s, d)
    val cents = c.filter(col("vec_id") % ivfDivisor(Kernels.corpusCount(s, d)) === 1)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    // Nearest-centroid assignment as a NARROW partial aggregation:
    // the broadcast nested-loop join emits the k candidate rows of
    // each vector consecutively within its input partition, and the
    // map-side combine collapses them to one row per vector before the
    // exchange. max_by plans a SortAggregate (struct orderings don't
    // hash), so the aggregated rows MUST be narrow — (vec_id, cent_id,
    // sim) at 24 B/row, never the embedding: carrying the vector
    // through the argmax multiplies the n·k local sort bytes ~20×
    // (measured: the wide variant dominated the whole query on the
    // 100×-replica). The vector re-attaches afterwards by ONE n-row
    // equi-join against the corpus scan, and only for rows the probed
    // lists actually score. Tiebreak matches the ORDER BY cent_sim
    // DESC, cent_id oracle: max of (sim, -cent_id).
    val assigned = c.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        VectorExpressions.cosine(col("embedding"), col("cent_emb"))
          .as("cent_sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
        struct(col("cent_sim"), (-col("cent_id")).as("ng"))).as("cent_id"))
    // queries probe their 2 nearest lists. The probe ranking runs
    // NARROW — (q_id, cent_id, cent_sim) only, never the query
    // embedding: an array riding a windowed sort multiplies the sort
    // bytes ~20× for no information (measured 5.4 s vs ~1 s on the
    // 100×-replica probe stage alone). WindowGroupLimit caps each
    // partition's contribution at 2 rows per query; q_emb re-attaches
    // to the (tiny) candidate set afterwards by a broadcast join.
    val q = c.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cent_sim").desc, col("cent_id"))
      q.crossJoin(broadcast(cents))
        .select(col("q_id"), col("cent_id"),
          VectorExpressions.cosine(col("q_emb"), col("cent_emb"))
            .as("cent_sim"))
        .withColumn("cent_rank", row_number().over(w))
        .filter(col("cent_rank") <= 2)
        .select("q_id", "cent_id")
    }
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .join(c, Seq("vec_id")) // re-attach the candidate's vector
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(VectorExpressions.cosine(col("q_emb"), col("embedding")), 6)
          .as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "neighbor_id", "cosine")
  }

  private val PqSubspaces = 4 // M subspaces ...
  private val PqSubDim = 16 // ... of dim/M = 16 dims each

  /** Product-quantization ANN (the memory-bandwidth scale path past
    * IVF): vectors are chopped into M=4 subspaces; each subvector is
    * encoded as the id of its nearest codeword (codebook = the
    * deterministic vec_id % 127 sample CAPPED at the first 256
    * matches, so K is fixed and independent of corpus size); a query
    * scores a vector as the sum over subspaces of its precomputed
    * distance to that vector's codeword (asymmetric distance
    * computation).
    *
    * The 100 TB shape: the codebook (≤ 256/subspace) and the
    * per-query distance tables (queries × M × K) are bounded and
    * BROADCAST; encoding is one broadcast pass over the corpus
    * (n·M·K codegen'd subvector distances, no shuffle); ADC scoring
    * joins the 4-small-ints-per-vector code table — not the vectors —
    * against the distance tables. Like any flat PQ index, ADC still
    * visits every (query, vector) code pair; its win over brute force
    * is bandwidth (4 ints/vector vs the full vector per pair), and
    * the candidate-pruning complement is composing with q53's
    * inverted lists (IVF-PQ), which this operator's pieces support.
    *
    * Cross-engine determinism (ClusteringOps' fixed-point contract):
    * all distances are computed on floor(x·2²⁰ + 0.5) BIGINT
    * quantizations — integer sums are order-free, so encode argmins
    * and ADC rankings are bit-identical in DuckDB with no rounding
    * escape hatch. */
  val q69PqAnn: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(floor(x * 1048576.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS qe
      |  FROM embeddings),
      |sub AS (
      |  SELECT vec_id, m, qe[m*16+1 : m*16+16] AS sub
      |  FROM c, LATERAL (SELECT unnest([0,1,2,3]) AS m) g),
      |cb AS (SELECT m, vec_id AS cw_id, sub AS cw FROM sub
      |  WHERE vec_id % 127 = 1 AND vec_id < 127 * 256),
      |enc AS (
      |  SELECT s.vec_id, s.m, cb.cw_id,
      |    CAST(list_sum(list_transform(range(1, 17),
      |      i -> (s.sub[i] - cb.cw[i]) * (s.sub[i] - cb.cw[i]))) AS BIGINT) AS d
      |  FROM sub s JOIN cb ON s.m = cb.m),
      |codes AS (
      |  SELECT vec_id, m, cw_id AS code FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY vec_id, m ORDER BY d, cw_id) AS rn FROM enc)
      |  WHERE rn = 1),
      |qdt AS (
      |  SELECT vec_id AS q_id, m, cw_id AS code, d FROM enc
      |  WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT q_id, codes.vec_id AS neighbor_id,
      |    CAST(sum(d) AS BIGINT) AS approx_d
      |  FROM codes JOIN qdt ON codes.m = qdt.m AND codes.code = qdt.code
      |  WHERE q_id <> codes.vec_id
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY q_id ORDER BY approx_d, neighbor_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, neighbor_id, approx_d FROM ranked WHERE rank <= 5""".stripMargin
  ) { (s, d) =>
    val c = corpus(s, d).select(col("vec_id"), expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0D + 0.5D) as bigint))")
      .as("qe"))
    val sub = c.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${PqSubspaces - 1}), m -> slice(qe, m * $PqSubDim + 1, $PqSubDim))"))
      .as(Seq("m", "sub")))
    // fixed K: the first 256 vec_id % 127 = 1 matches, regardless of n
    val codebook = sub.filter(col("vec_id") % 127 === 1 &&
        col("vec_id") < 127 * 256)
      .select(col("m"), col("vec_id").as("cw_id"), col("sub").as("cw"))
    // exact integer subvector L2 — order-free fold, native codegen'd
    // (the higher-order aggregate(zip_with(...)) route costs ~dim
    // interpreted closures per (subvector, codeword) pair; n·M·K·dim
    // of them per encode pass)
    // shared by encoding (all vectors) and the query distance tables
    val enc = sub.join(broadcast(codebook), Seq("m"))
      .select(col("vec_id"), col("m"), col("cw_id"),
        VectorExpressions.longSqDist(col("sub"), col("cw")).as("d"))
    // argmin codeword per (vector, subspace): lexicographic struct min
    // collapses map-side (partial min_by), no row explosion survives
    val codes = enc
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("cw_id"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cw_id").as("code"))
    val qdt = enc.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("m"), col("cw_id").as("code"),
        col("d"))
    val scored = codes.join(broadcast(qdt), Seq("m", "code"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d")).as("approx_d"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_d"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "neighbor_id", "approx_d")
  }

  /** IVF-PQ: the composition q69's docstring points at — q53's
    * inverted lists prune candidates (each query touches its
    * nprobe=2 nearest centroid lists, not the corpus), and q69's
    * product-quantization codes score them (ADC over 4 small ints per
    * candidate, not the raw vector). This is the standard
    * billion-vector index shape: after the one-time encode pass, the
    * query path never moves an embedding — the scoring join carries
    * (q_id, vec_id, m, code) rows against a broadcast distance table.
    *
    * Determinism: list assignment uses the exact cosine (bit-
    * compatible across engines, q53's contract); ADC distances are
    * fixed-point integers (q69's contract). */
  val q72IvfPq: QueryDef = QueryDef.withOracle(
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM c WHERE vec_id % $IvfDivisorSql = 1),
      |ac AS (
      |  SELECT c.vec_id, cent_id,
      |    list_cosine_similarity(c.emb, cent_emb) AS cent_sim
      |  FROM c CROSS JOIN cents),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
      |    FROM ac) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, cent_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
      |    FROM ac WHERE vec_id % 50 = 0) WHERE rn <= 2),
      |qz AS (
      |  SELECT vec_id, list_transform(emb,
      |    x -> CAST(floor(x * 1048576.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS qe
      |  FROM c),
      |sub AS (
      |  SELECT vec_id, m, qe[m*16+1 : m*16+16] AS sub
      |  FROM qz, LATERAL (SELECT unnest([0,1,2,3]) AS m) g),
      |cb AS (SELECT m, vec_id AS cw_id, sub AS cw FROM sub
      |  WHERE vec_id % 127 = 1 AND vec_id < 127 * 256),
      |enc AS (
      |  SELECT s.vec_id, s.m, cb.cw_id,
      |    CAST(list_sum(list_transform(range(1, 17),
      |      i -> (s.sub[i] - cb.cw[i]) * (s.sub[i] - cb.cw[i]))) AS BIGINT) AS d
      |  FROM sub s JOIN cb ON s.m = cb.m),
      |codes AS (
      |  SELECT vec_id, m, cw_id AS code FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY vec_id, m ORDER BY d, cw_id) AS rn FROM enc)
      |  WHERE rn = 1),
      |qdt AS (
      |  SELECT vec_id AS q_id, m, cw_id AS code, d FROM enc
      |  WHERE vec_id % 50 = 0),
      |cand AS (
      |  SELECT p.q_id, a.vec_id FROM assigned a
      |  JOIN probes p ON a.cent_id = p.cent_id
      |  WHERE p.q_id <> a.vec_id),
      |scored AS (
      |  SELECT cd.q_id, cd.vec_id AS neighbor_id,
      |    CAST(sum(q.d) AS BIGINT) AS approx_d
      |  FROM cand cd
      |  JOIN codes ON codes.vec_id = cd.vec_id
      |  JOIN qdt q ON q.q_id = cd.q_id AND q.m = codes.m AND q.code = codes.code
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY q_id ORDER BY approx_d, neighbor_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, neighbor_id, approx_d FROM ranked WHERE rank <= 5""".stripMargin
  ) { (s, d) =>
    val c = corpus(s, d)
    // inverted lists: ids only — the embedding never rides past here
    val cents = c.filter(col("vec_id") % ivfDivisor(Kernels.corpusCount(s, d)) === 1)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val assigned = c.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        VectorExpressions.cosine(col("embedding"), col("cent_emb"))
          .as("cent_sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
        struct(col("cent_sim"), (-col("cent_id")).as("ng"))).as("cent_id"))
    // probe ranking narrow, like q53: no q_emb rides the window sort
    val probes = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cent_sim").desc, col("cent_id"))
      c.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .crossJoin(broadcast(cents))
        .select(col("q_id"), col("cent_id"),
          VectorExpressions.cosine(col("q_emb"), col("cent_emb"))
            .as("cent_sim"))
        .withColumn("cent_rank", row_number().over(w))
        .filter(col("cent_rank") <= 2)
        .select("q_id", "cent_id")
    }
    // PQ encode (q69's construction): codes + query distance tables
    val qz = c.select(col("vec_id"), expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0D + 0.5D) as bigint))")
      .as("qe"))
    val sub = qz.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${PqSubspaces - 1}), m -> slice(qe, m * $PqSubDim + 1, $PqSubDim))"))
      .as(Seq("m", "sub")))
    val codebook = sub.filter(col("vec_id") % 127 === 1 &&
        col("vec_id") < 127 * 256)
      .select(col("m"), col("vec_id").as("cw_id"), col("sub").as("cw"))
    // native codegen'd int64 distance: the higher-order
    // aggregate(zip_with(...)) route costs ~dim interpreted closures
    // per (subvector, codeword) pair — n·M·K·dim of them per encode
    // pass (3.3G closure calls on the 100×-replica)
    val enc = sub.join(broadcast(codebook), Seq("m"))
      .select(col("vec_id"), col("m"), col("cw_id"),
        VectorExpressions.longSqDist(col("sub"), col("cw")).as("d"))
    val codes = enc
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("cw_id"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cw_id").as("code"))
    val qdt = enc.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("m"), col("cw_id").as("code"),
        col("d"))
    // probe + ADC: candidates are (q, vec) id pairs from the probed
    // lists; scoring joins their codes against the broadcast tables
    val cand = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id")
    val scored = cand.join(codes, Seq("vec_id"))
      .join(broadcast(qdt), Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d")).as("approx_d"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_d"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "neighbor_id", "approx_d")
  }

  /** ANN quality evaluation: recall@5 of the LSH index (q51) against
    * the exact brute-force ground truth (q50), per query — the metric
    * that closes the loop on every approximate index in the family
    * (an ANN path without a measured recall is a guess, not an
    * operator). n_match counts ground-truth neighbors the index
    * returned; recall divides by the ground-truth size (5, or fewer
    * in a degenerate corpus), so sparse-bucket queries (n_lsh < 5)
    * are penalized exactly by what they missed.
    *
    * Composes the two operators' own frames — both already carry the
    * deterministic (rounded-score, id-tiebreak) top-5 contract, so
    * the set intersection is engine-stable. Scale: ground truth on a
    * SAMPLED query set is how real systems measure recall too — the
    * brute side's cost is queries×corpus by definition and the query
    * sample (vec_id % 50 = 0 here) is the knob; everything else is
    * query-keyed joins on queries-sized frames. */
  val q125RecallEval: QueryDef = QueryDef.withOracle(
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |qs AS (SELECT vec_id AS q_id, emb AS q_emb FROM c WHERE vec_id % 50 = 0),
      |bscored AS (
      |  SELECT q_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q_emb, c.emb), 6) AS cosine
      |  FROM qs JOIN c ON qs.q_id <> c.vec_id),
      |brute AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM bscored)
      |  WHERE rank <= 5),
      |b AS (
      |  SELECT * FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/lsh_buckets.parquet/*.parquet')),
      |lq AS (SELECT vec_id AS q_id, t, bucket FROM b WHERE vec_id % 50 = 0),
      |cand AS (
      |  SELECT DISTINCT lq.q_id, b.vec_id AS neighbor_id
      |  FROM b JOIN lq ON b.t = lq.t AND b.bucket = lq.bucket
      |  WHERE lq.q_id <> b.vec_id),
      |lscored AS (
      |  SELECT q_id, neighbor_id,
      |    round(list_cosine_similarity(cq.emb, cn.emb), 6) AS cosine
      |  FROM cand
      |  JOIN c cq ON cq.vec_id = q_id
      |  JOIN c cn ON cn.vec_id = neighbor_id),
      |lsh AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM lscored)
      |  WHERE rank <= 5),
      |nb AS (SELECT q_id, count(*) AS n_brute FROM brute GROUP BY 1),
      |nl AS (SELECT q_id, count(*) AS n_lsh FROM lsh GROUP BY 1),
      |nm AS (
      |  SELECT b2.q_id, count(*) AS n_match
      |  FROM brute b2 JOIN lsh l2
      |    ON b2.q_id = l2.q_id AND b2.neighbor_id = l2.neighbor_id
      |  GROUP BY 1)
      |SELECT nb.q_id, nb.n_brute,
      |  coalesce(nl.n_lsh, 0) AS n_lsh,
      |  coalesce(nm.n_match, 0) AS n_match,
      |  round(CAST(coalesce(nm.n_match, 0) AS DOUBLE) / nb.n_brute, 4)
      |    AS recall
      |FROM nb LEFT JOIN nl ON nl.q_id = nb.q_id
      |LEFT JOIN nm ON nm.q_id = nb.q_id""".stripMargin
  ) { (s, d) =>
    val brute = q50AnnBrute.fn(s, d).select(col("q_id"), col("neighbor_id"))
    val lsh = q51AnnLsh.fn(s, d).select(col("q_id"), col("neighbor_id"))
    val nb = brute.groupBy(col("q_id")).agg(count(lit(1)).as("n_brute"))
    val nl = lsh.groupBy(col("q_id")).agg(count(lit(1)).as("n_lsh"))
    val nm = brute.join(lsh, Seq("q_id", "neighbor_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_match"))
    nb
      .join(nl, Seq("q_id"), "left")
      .join(nm, Seq("q_id"), "left")
      .select(col("q_id"), col("n_brute"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        round(coalesce(col("n_match"), lit(0L)).cast("double")
          / col("n_brute"), 4).as("recall"))
  }

  /** kNN-classifier confusion matrix over the LSH index — the
    * label-propagation eval that turns the ANN path (q51) into a
    * measured classifier: each query vector is predicted the MAJORITY
    * label of its top-5 approximate neighbors (ties break count-desc
    * then label-asc — deterministic), and the output is the
    * (true, predicted) confusion matrix the model card reports.
    *
    * Scale shape: rides q51's LSH candidate join (never all-pairs);
    * the label attach is a vec-keyed equi-join; the majority pick is
    * a WindowGroupLimit rank-1 per query; the matrix rollup domain is
    * |labels|². Oracle: q51's bucket-fixture re-derivation extended
    * with the same vote. */
  val q150KnnConfusion: QueryDef = QueryDef.withOracle(
    s"""WITH b AS (
      |  SELECT * FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/lsh_buckets.parquet/*.parquet')),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, t, bucket FROM b WHERE vec_id % 50 = 0),
      |cand AS (
      |  SELECT DISTINCT q.q_id, b.vec_id AS neighbor_id
      |  FROM b JOIN q ON b.t = q.t AND b.bucket = q.bucket
      |  WHERE q.q_id <> b.vec_id),
      |scored AS (
      |  SELECT q_id, neighbor_id,
      |    round(list_cosine_similarity(cq.emb, cn.emb), 6) AS cosine
      |  FROM cand
      |  JOIN c cq ON cq.vec_id = q_id
      |  JOIN c cn ON cn.vec_id = neighbor_id),
      |top5 AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM scored)
      |  WHERE rank <= 5),
      |votes AS (
      |  SELECT t.q_id, e.label, count(*) AS n_votes
      |  FROM top5 t JOIN embeddings e ON e.vec_id = t.neighbor_id
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT q_id, label AS label_pred FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY n_votes DESC, label) AS rn FROM votes)
      |  WHERE rn = 1)
      |SELECT te.label AS label_true, pred.label_pred, count(*) AS n
      |FROM pred JOIN embeddings te ON te.vec_id = pred.q_id
      |GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val votes = q51AnnLsh.fn(s, d)
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val pred = votes.withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("n_votes").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("q_id").as("vec_id"), col("label").as("label_pred"))
    pred.join(labels.withColumnRenamed("label", "label_true"), Seq("vec_id"))
      .groupBy(col("label_true"), col("label_pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-label embedding-centroid coherence — the geometric audit of
    * a silver-labeled embedding corpus: per label, the centroid's
    * cosine to the GLOBAL centroid (how distinctive is this label's
    * region — ≈1 means the label adds no geometric information) and
    * the mean member-to-centroid cosine (how coherent is the label —
    * low means the label mixes unrelated content). The pre-training
    * question both answer: can these labels be trusted as mixture /
    * dedup / eval strata, or are they noise?
    *
    * Exactness: per-dim centroid sums are INT64 of 1e9-fixed-point
    * components (f32→f64 exact, quantize per value, sum exactly in
    * any order — the repo's float-fold convention); every cosine is
    * a SEQUENTIAL fold over the 64-dim arrays (Spark `aggregate` /
    * DuckDB `list_sum(list_transform(...))` — the q53 bridge), so
    * both engines execute the identical IEEE sequence; per-member
    * cosines quantize at 1e-6 into an int64 sum before the one mean
    * division. Centroids are unnormalized sums — cosine is
    * scale-invariant, so no division ever touches the int path.
    *
    * Scale shape: ONE (label, dim)-keyed int sum (map-side combine;
    * exchange bounded by |labels|·64 cells) + ONE member pass against
    * the ≤|labels| broadcast centroid frame; everything else is
    * metadata. */
  val q197LabelCoherence: QueryDef = QueryDef.withOracle(
    """WITH e AS (
      |  SELECT label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(floor(x * 1000000000 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |x AS (
      |  SELECT label, unnest(q) AS v,
      |    unnest(range(1, len(q) + 1)) AS i
      |  FROM e),
      |cs AS (SELECT label, i, CAST(sum(v) AS BIGINT) AS sv
      |       FROM x GROUP BY 1, 2),
      |c AS (SELECT label, list(sv ORDER BY i) AS cvec FROM cs GROUP BY 1),
      |gs AS (SELECT i, CAST(sum(sv) AS BIGINT) AS gv FROM cs GROUP BY 1),
      |g AS (SELECT list(gv ORDER BY i) AS gvec FROM gs),
      |n AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY 1),
      |cg AS (
      |  SELECT c.label,
      |    list_sum(list_transform(range(1, len(cvec) + 1),
      |      j -> CAST(cvec[j] AS DOUBLE) * CAST(gvec[j] AS DOUBLE))) AS dcg,
      |    list_sum(list_transform(range(1, len(cvec) + 1),
      |      j -> CAST(cvec[j] AS DOUBLE) * CAST(cvec[j] AS DOUBLE))) AS dcc,
      |    list_sum(list_transform(range(1, len(gvec) + 1),
      |      j -> CAST(gvec[j] AS DOUBLE) * CAST(gvec[j] AS DOUBLE))) AS dgg
      |  FROM c CROSS JOIN g),
      |coh AS (
      |  SELECT e.label,
      |    CAST(sum(CAST(floor((
      |      list_sum(list_transform(range(1, len(q) + 1),
      |        j -> CAST(q[j] AS DOUBLE) * CAST(cvec[j] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(range(1, len(q) + 1),
      |          j -> CAST(q[j] AS DOUBLE) * CAST(q[j] AS DOUBLE))))
      |        * sqrt(list_sum(list_transform(range(1, len(cvec) + 1),
      |          j -> CAST(cvec[j] AS DOUBLE) * CAST(cvec[j] AS DOUBLE))))))
      |      * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sc
      |  FROM e JOIN c USING (label) GROUP BY 1)
      |SELECT cg.label, n.n_vecs,
      |  floor((dcg / (sqrt(dcc) * sqrt(dgg))) * 1000000 + 0.5) / 1000000
      |    AS cos_to_global,
      |  floor((CAST(coh.sc AS DOUBLE) / n.n_vecs) + 0.5) / 1000000
      |    AS mean_coherence
      |FROM cg JOIN n USING (label) JOIN coh USING (label)""".stripMargin
  ) { (s, d) =>
    val dotD = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> " +
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), " +
        "(acc, t) -> acc + t)")
    val e = Tables.embeddings(s, d).select(col("label"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
        "* 1000000000 + 0.5) AS BIGINT))").as("q"))
    val x = e.select(col("label"), posexplode(col("q")).as(Seq("i", "v")))
    val cs = x.groupBy(col("label"), col("i")).agg(sum(col("v")).as("sv"))
      .cache() // |labels|·64 cells — the centroid frame
    val c = cs.groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(i, sv))), " +
        "p -> p.sv)").as("cvec"))
    val g = cs.groupBy(col("i")).agg(sum(col("sv")).as("gv"))
      .agg(expr("transform(array_sort(collect_list(struct(i, gv))), " +
        "p -> p.gv)").as("gvec"))
    val n = e.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val cg = c.crossJoin(broadcast(g))
      .select(col("label"),
        dotD("cvec", "gvec").as("dcg"),
        dotD("cvec", "cvec").as("dcc"),
        dotD("gvec", "gvec").as("dgg"))
    val coh = e.join(broadcast(c), Seq("label"))
      .select(col("label"),
        floor((dotD("q", "cvec") /
          (sqrt(dotD("q", "q")) * sqrt(dotD("cvec", "cvec"))))
          * 1000000 + 0.5).cast("long").as("cq"))
      .groupBy(col("label")).agg(sum(col("cq")).as("sc"))
    cg.join(broadcast(n), Seq("label"))
      .join(broadcast(coh), Seq("label"))
      .select(col("label"), col("n_vecs"),
        (floor((col("dcg") / (sqrt(col("dcc")) * sqrt(col("dgg"))))
          * 1000000 + 0.5) / 1000000).as("cos_to_global"),
        (floor((col("sc").cast("double") / col("n_vecs")) + 0.5)
          / 1000000).as("mean_coherence"))
  }

  val all: Map[String, QueryDef] = Map(
    "q197_label_coherence" -> q197LabelCoherence,
    "q150_knn_confusion" -> q150KnnConfusion,
    "q50_ann_brute" -> q50AnnBrute,
    "q125_recall_eval" -> q125RecallEval,
    "q51_ann_lsh" -> q51AnnLsh,
    "q52_embed_stats" -> q52EmbedStats,
    "q53_ann_ivf" -> q53AnnIvf,
    "q69_pq_ann" -> q69PqAnn,
    "q72_ivfpq" -> q72IvfPq
  )
}
