package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorExpressions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Exact.{dec, cents}

/** Embedding-space clustering for the training-data pipeline:
  * spherical k-means (cosine assignment) with two Lloyd iterations —
  * the corpus-organization step behind topic balancing, dedup-aware
  * sampling, and IVF index builds.
  *
  * Scale shape per iteration: one broadcast nested-loop pass scores
  * every vector against the (small, broadcast) centroid table with
  * the codegen'd cosine expression, the argmax collapses map-side via
  * max_by partial aggregation (the shuffle carries one narrow row per
  * vector, never the n·k cross product), and the centroid update is a
  * posexplode → per-(cluster, dim) integer sum — partial-aggregated,
  * so the exchange moves k·dim partials per partition, not n·dim rows.
  *
  * Cross-engine / cross-partitioning determinism: centroid means are
  * QUANTIZED-EXACT — members contribute floor(x·2²⁰ + 0.5) as
  * integers (x·2²⁰ is exact for any float32 in double), the per-dim
  * integer sums are order-free, and the centroid value is the same
  * two IEEE divisions in both engines. Assignment compares unrounded
  * cosines, which the native expression computes bit-identically to
  * DuckDB's list_cosine_similarity (validated by q44/q50/q53).
  *
  * Beside the clustering sit the embedding-geometry statistics that
  * read the label clustering and the vector cloud: per-label centroid
  * drift, the covariance participation ratio, mean pairwise cosine
  * (anisotropy), linear CKA between the embedding halves, and the
  * cluster-validity panel (simplified silhouette, Davies-Bouldin,
  * Calinski-Harabasz, label-centroid cosines). The panel reads one
  * shared centroid frame, quantized to 1e-6 ints BEFORE any distance,
  * so both engines measure against the same centroid.
  */
object ClusteringOps {

  /** Fixed-point scale for centroid means: 2²⁰, a power of two, so
    * member quantization and the final division are exact. */
  private val Quant = 1048576.0

  /** Adaptive seed-sample divisor: k stays ≈ 64 clusters regardless of
    * corpus size via p = max(101, ⌈n / 64⌉). Topic count is a property
    * of the DOMAIN, not the corpus size — and a fixed divisor made
    * k = n/101 seeds, turning the n·k broadcast assignment quadratic
    * (measured 27× time at the 10×-replica step before the change).
    * The 101 floor keeps every gate SF's seed set — and so every
    * oracle output — unchanged; the oracle computes the identical p
    * with a scalar subquery (⌈⌉ and /64 are exact IEEE both engines).
    */
  private def kmeansDivisor(n: Long): Long =
    math.max(101L, math.ceil(n / 64.0).toLong)

  /** SQL mirror of [[kmeansDivisor]] over a CTE named `c`. */
  private val KmeansDivisorSql =
    "(SELECT GREATEST(101, CAST(ceil(count(*) / 64.0) AS BIGINT)) FROM c)"

  /** Shared two-round centroid CTE chain (c -> cents0 -> a1 -> d1 ->
    * s1 -> cents1 -> a2 -> d2 -> s2) - the SQL mirror of
    * `twoRoundCentroids`, interpolated into both the q56 and q81
    * oracles so the recurrence can never silently diverge between
    * them. */
  private val centroidChainSql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |cents0 AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM c WHERE vec_id % $KmeansDivisorSql = 1),
      |a1 AS (
      |  SELECT vec_id, emb, cent_id FROM (
      |    SELECT c.vec_id, c.emb, cent_id, row_number() OVER
      |      (PARTITION BY c.vec_id
      |       ORDER BY list_cosine_similarity(c.emb, cent_emb) DESC, cent_id) AS rn
      |    FROM c CROSS JOIN cents0) WHERE rn = 1),
      |d1 AS (
      |  SELECT cent_id, i AS dim, emb[i] AS v
      |  FROM a1, LATERAL (SELECT unnest(generate_series(1, len(emb))) AS i) g),
      |s1 AS (
      |  SELECT cent_id, dim,
      |    CAST(sum(CAST(floor(v * 1048576.0::DOUBLE + 0.5::DOUBLE) AS BIGINT))
      |      AS BIGINT) AS sq,
      |    count(*) AS n
      |  FROM d1 GROUP BY 1, 2),
      |cents1 AS (
      |  SELECT cent_id,
      |    list(CAST(sq AS DOUBLE) / 1048576.0::DOUBLE / CAST(n AS DOUBLE)
      |         ORDER BY dim) AS cent_emb
      |  FROM s1 GROUP BY 1),
      |a2 AS (
      |  SELECT vec_id, emb, cent_id FROM (
      |    SELECT c.vec_id, c.emb, cent_id, row_number() OVER
      |      (PARTITION BY c.vec_id
      |       ORDER BY list_cosine_similarity(c.emb, cent_emb) DESC, cent_id) AS rn
      |    FROM c CROSS JOIN cents1) WHERE rn = 1),
      |d2 AS (
      |  SELECT cent_id, i AS dim, emb[i] AS v
      |  FROM a2, LATERAL (SELECT unnest(generate_series(1, len(emb))) AS i) g),
      |s2 AS (
      |  SELECT cent_id, dim,
      |    CAST(sum(CAST(floor(v * 1048576.0::DOUBLE + 0.5::DOUBLE) AS BIGINT))
      |      AS BIGINT) AS sq,
      |    count(*) AS n
      |  FROM d2 GROUP BY 1, 2)""".stripMargin

  /** Spherical k-means over `embeddings`: seeds = vectors with
    * vec_id % 101 = 1, two assign→update rounds, then a final
    * assignment; output is per-cluster membership count and the
    * 4-dp-rounded centroid L2 norm. Clusters that lose every member
    * drop out (both engines aggregate only over assigned rows). */
  val q56Kmeans: QueryDef = QueryDef.withOracle(centroidChainSql + ",\n" +
    """      |cents2 AS (
      |  SELECT cent_id,
      |    list(CAST(sq AS DOUBLE) / 1048576.0::DOUBLE / CAST(n AS DOUBLE)
      |         ORDER BY dim) AS cent_emb,
      |    max(n) AS n_members
      |  FROM s2 GROUP BY 1)
      |SELECT cent_id AS cluster_id, CAST(n_members AS BIGINT) AS n_members,
      |  floor(sqrt(list_sum(list_transform(cent_emb, x -> x * x))) * 10000
      |    + 0.5) / 10000 AS cent_norm
      |FROM cents2""".stripMargin
  ) { (s, d) =>
    // cache: the feature frame feeds the seed filter and both
    // assignment rounds (guide §5 reuse — one scan, not three)
    val c = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .cache()
    val cents2 = twoRoundCentroids(c,
      kmeansDivisor(Kernels.corpusCount(s, d)))
    cents2.select(
      col("cent_id").as("cluster_id"),
      col("n_members").cast("long").as("n_members"),
      (floor(sqrt(VectorExpressions.sqnorm(col("cent_emb"))) * 10000 + 0.5)
        / 10000).as("cent_norm"))
  }

  /** Centroid table collapsed to ONE row carrying the whole table as
    * an array — the broadcast side of the map-side assignment. */
  private def centsAsRow(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cent_id"), col("cent_emb")))
      .as("cents"))

  /** argmax-cosine assignment (tiebreak: min cent_id), computed
    * MAP-SIDE: vec_id is unique, so the old
    * crossJoin → groupBy(vec_id).max_by only ever collapsed the k
    * centroid rows of one vector — k rows that BestCentroid now folds
    * in one kernel call per row, with bit-identical cosine doubles
    * and the same (sim, −cent_id) argmax order. The per-round
    * exchange of every (vec_id, embedding) row is gone; the only
    * exchange left in a round is the k-row centroid update. The
    * isNotNull filter mirrors the empty-cross-join case (no centroids
    * → no assigned rows). */
  private def assign(c: DataFrame, cents: DataFrame): DataFrame =
    c.crossJoin(broadcast(centsAsRow(cents)))
      // size(cents) > 0 ⟺ best is non-null (the empty-cross-join
      // case), but as a filter it costs an array-length read — an
      // isNotNull(best) filter was pushed into the join condition and
      // re-evaluated the whole k·dim kernel per row (§4.4 duplication)
      .filter(size(col("cents")) > 0)
      .select(col("vec_id"), col("embedding"),
        VectorExpressions.bestCentroid(col("embedding"), col("cents"))
          .as("best"))
      .select(col("vec_id"), col("embedding"),
        col("best.cent_id").as("cent_id"))

  /** quantized-exact centroid mean; also returns member counts. */
  private def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pm", "v")))
      .select(col("cent_id"), (col("pm") + 1).as("dim"), col("v"))
      .groupBy(col("cent_id"), col("dim"))
      .agg(sum(floor(col("v") * Quant + 0.5).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .groupBy(col("cent_id"))
      .agg(expr("transform(array_sort(collect_list(named_struct(" +
        s"'dim', dim, 'cv', cast(sq as double) / ${Quant}D / cast(n as double)" +
        "))), x -> x.cv)").as("cent_emb"),
        max(col("n")).as("n_members"))

  /** The q56 centroid chain: seed on vec_id % kmeansDivisor(n) = 1,
    * two assign→update rounds. Shared by q56 (centroid stats) and q81
    * (semantic keep). */
  private def twoRoundCentroids(c: DataFrame, p: Long): DataFrame = {
    val cents0 = c.filter(col("vec_id") % p === 1)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val cents1 = update(assign(c, cents0)).select(col("cent_id"), col("cent_emb"))
    update(assign(c, cents1))
  }

  /** Semantic dedup by cluster representative: after the q56 k-means
    * rounds, each vector joins its argmax-cosine cluster and the
    * cluster keeps ONLY the member most similar to its centroid
    * (tiebreak: min vec_id) — the "one doc per semantic bucket"
    * reduction behind diversity-preserving corpus thinning. Two
    * max_by aggregations: per-vector best centroid, then per-cluster
    * best member — both collapse map-side, so the shuffles carry one
    * narrow row per vector / per cluster. Determinism: identical
    * cosine doubles cross-engine (q56's contract) and total-order
    * tiebreaks at both argmax steps. */
  val q81SemanticKeep: QueryDef = QueryDef.withOracle(centroidChainSql + ",\n" +
    """      |cents2 AS (
      |  SELECT cent_id,
      |    list(CAST(sq AS DOUBLE) / 1048576.0::DOUBLE / CAST(n AS DOUBLE)
      |         ORDER BY dim) AS cent_emb
      |  FROM s2 GROUP BY 1),
      |a3 AS (
      |  SELECT vec_id, cent_id, sim FROM (
      |    SELECT c.vec_id, cent_id,
      |      list_cosine_similarity(c.emb, cent_emb) AS sim,
      |      row_number() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_cosine_similarity(c.emb, cent_emb) DESC, cent_id) AS rn
      |    FROM c CROSS JOIN cents2) WHERE rn = 1)
      |SELECT cent_id AS cluster_id, vec_id AS kept_vec,
      |  CAST(n_members AS BIGINT) AS n_members,
      |  floor(sim * 1000000 + 0.5) / 1000000 AS sim
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY cent_id ORDER BY sim DESC, vec_id) AS rk,
      |        count(*) OVER (PARTITION BY cent_id) AS n_members
      |      FROM a3)
      |WHERE rk = 1""".stripMargin
  ) { (s, d) =>
    // cache: seed filter + two centroid rounds + the final assignment
    // all read this one frame (guide §5 reuse)
    val c = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .cache()
    val cents2 = twoRoundCentroids(c,
      kmeansDivisor(Kernels.corpusCount(s, d)))
      .select(col("cent_id"), col("cent_emb"))
    c.crossJoin(broadcast(centsAsRow(cents2)))
      .filter(size(col("cents")) > 0) // see assign: cheap null guard
      .select(col("vec_id"),
        VectorExpressions.bestCentroid(col("embedding"), col("cents"))
          .as("best"))
      .select(col("vec_id"), col("best.cent_id").as("cluster_id"),
        col("best.sim").as("sim"))
      .groupBy(col("cluster_id"))
      .agg(
        max_by(struct(col("vec_id"), col("sim")),
          struct(col("sim"), (-col("vec_id")).as("nv"))).as("keep"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("keep.vec_id").as("kept_vec"),
        col("n_members"),
        (floor(col("keep.sim") * 1000000 + 0.5) / 1000000).as("sim"))
  }

  /** Per-label embedding centroid drift — cosine of each label's
    * centroid against the global centroid, the vector-space twin of
    * q158's token KL (is a label's region of embedding space moving
    * away from the corpus?). The q144 exactness discipline end to
    * end: float components widen to double (exact), quantize at 1e-9
    * BEFORE any sum, per-(label, dim) sums are int64 (order-free),
    * the global centroid is the SUM OF THE LABEL SUMS (no second
    * data pass), centroid components are one IEEE division each, the
    * three cosine accumulators re-quantize the products, and the
    * final cosine is the same division/sqrt sequence in both engines,
    * rounded at 1e-6 (q113 convention).
    *
    * Scale shape: ONE data pass (posexplode → (label, dim)
    * partial+final aggregate, ≤ |labels|·64 rows out); everything
    * downstream — the global rollup, the dim join, the cosine — runs
    * on metadata-sized frames. */
  val q161CentroidDrift: QueryDef = QueryDef.withOracle(
    """WITH e AS (
      |  SELECT label, u.dim AS dim,
      |    CAST(emb[u.dim + 1] AS DOUBLE) AS x
      |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
      |        FROM embeddings) t,
      |    LATERAL (SELECT unnest(range(0, len(emb))) AS dim) u),
      |lc AS (
      |  SELECT label, dim,
      |    CAST(sum(CAST(floor(x * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS s_fp,
      |    count(*) AS n
      |  FROM e GROUP BY 1, 2),
      |gc AS (
      |  SELECT dim, CAST(sum(s_fp) AS BIGINT) AS gs_fp,
      |    CAST(sum(n) AS BIGINT) AS gn
      |  FROM lc GROUP BY 1),
      |j AS (
      |  SELECT lc.label, lc.n,
      |    (CAST(lc.s_fp AS DOUBLE) / 1000000000) / lc.n AS a,
      |    (CAST(gc.gs_fp AS DOUBLE) / 1000000000) / gc.gn AS b
      |  FROM lc JOIN gc USING (dim)),
      |p AS (
      |  SELECT label, max(n) AS n_vecs,
      |    CAST(sum(CAST(floor(a * b * 1000000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS num_fp,
      |    CAST(sum(CAST(floor(a * a * 1000000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS na_fp,
      |    CAST(sum(CAST(floor(b * b * 1000000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS nb_fp
      |  FROM j GROUP BY 1)
      |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
      |  floor(((CAST(num_fp AS DOUBLE) / sqrt(CAST(na_fp AS DOUBLE)))
      |    / sqrt(CAST(nb_fp AS DOUBLE))) * 1000000 + 0.5) / 1000000
      |    AS cos_global
      |FROM p""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("label"), col("dim"), col("xf").cast("double").as("x"))
    val lc = e.groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("x") * 1000000000L + 0.5).cast("long")).as("s_fp"),
        count(lit(1)).as("n"))
    val gc = lc.groupBy(col("dim"))
      .agg(sum(col("s_fp")).as("gs_fp"), sum(col("n")).as("gn"))
    val a = (col("s_fp").cast("double") / 1000000000L) / col("n")
    val b = (col("gs_fp").cast("double") / 1000000000L) / col("gn")
    val j = lc.join(broadcast(gc), Seq("dim"))
      .select(col("label"), col("n"), a.as("a"), b.as("b"))
    j.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(floor(col("a") * col("b") * 1000000000L + 0.5).cast("long"))
          .as("num_fp"),
        sum(floor(col("a") * col("a") * 1000000000L + 0.5).cast("long"))
          .as("na_fp"),
        sum(floor(col("b") * col("b") * 1000000000L + 0.5).cast("long"))
          .as("nb_fp"))
      .select(col("label"), col("n_vecs"),
        (floor(((col("num_fp").cast("double") /
          sqrt(col("na_fp").cast("double"))) /
          sqrt(col("nb_fp").cast("double"))) * 1000000 + 0.5) / 1000000)
          .as("cos_global"))
  }

  /** Simplified (centroid-based) silhouette per embedding label — "are
    * the labeled clusters SEPARABLE in embedding space": a(v) = ‖v −
    * centroid(own label)‖, b(v) = min over other labels, s = (b −
    * a)/max(a, b), averaged per label. The geometry companion to
    * q146's purity (which needs a clustering to compare against) and
    * q161's drift (which tracks centroids over time); near-zero or
    * negative mean silhouette flags labels that embedding-based
    * curation (q81) cannot possibly respect. Uses the standard
    * centroid simplification (Hruschka 2004) — O(n·k·dim), one
    * k-means-iteration cost, never the O(n²) pairwise original.
    *
    * Exactness: vector components quantize to the 1e-9 int grid
    * FIRST, so centroid sums are exact integer algebra and centroids
    * are one division each; per-(vector, label) squared distances
    * int-sum 1e-9-quantized per-dimension terms (order-free — the
    * array dimension order is fixed); s quantizes to 1e-6 and the
    * per-label mean is an exact int sum with one final division. A
    * singleton label has a = 0, s = 1 by this construction (stated;
    * sklearn's full silhouette defines 0 — the centroid variant
    * legitimately differs).
    *
    * Scale shape: one embeddings pass posexplodes to (vec, dim)
    * terms; centroids are a (label × dim) metadata aggregate joined
    * back BROADCAST on dim cells; the n·k distance frame collapses
    * map-side into per-(vec, label) sums — no shuffle carries a
    * vector twice. */
  val q253Silhouette: QueryDef = QueryDef.withOracle(
    """WITH e AS (
      |  SELECT vec_id, label,
      |    unnest(generate_series(1, len(embedding))) AS pos,
      |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000000
      |      + 0.5) AS BIGINT) AS xq
      |  FROM embeddings),
      |cent AS (
      |  SELECT label AS clabel, pos,
      |    CAST(sum(xq) AS DOUBLE) / count(*) AS c
      |  FROM e GROUP BY 1, 2),
      |d2 AS (
      |  SELECT e.vec_id, e.label, cent.clabel,
      |    CAST(sum(CAST(floor(((e.xq - cent.c) / 1000000000)
      |      * ((e.xq - cent.c) / 1000000000) * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS d9
      |  FROM e JOIN cent USING (pos) GROUP BY 1, 2, 3),
      |ab AS (
      |  SELECT vec_id, label,
      |    CAST(max(CASE WHEN clabel = label THEN d9 END) AS BIGINT) AS a9,
      |    CAST(min(CASE WHEN clabel <> label THEN d9 END) AS BIGINT) AS b9
      |  FROM d2 GROUP BY 1, 2),
      |sil AS (
      |  SELECT label,
      |    CASE WHEN b9 IS NULL OR a9 = b9 THEN CAST(0 AS BIGINT)
      |      ELSE CAST(floor(((sqrt(CAST(b9 AS DOUBLE) / 1000000000)
      |          - sqrt(CAST(a9 AS DOUBLE) / 1000000000))
      |        / (CASE WHEN a9 >= b9
      |            THEN sqrt(CAST(a9 AS DOUBLE) / 1000000000)
      |            ELSE sqrt(CAST(b9 AS DOUBLE) / 1000000000) END))
      |        * 1000000 + 0.5) AS BIGINT) END AS s6
      |  FROM ab)
      |SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
      |  floor((CAST(sum(s6) AS DOUBLE) / count(*) / 1000000)
      |    * 1000000 + 0.5) / 1000000 AS mean_silhouette
      |FROM sil GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"), col("label"),
        (col("pos0") + 1).as("pos"),
        floor(col("x").cast("double") * 1000000000L + 0.5)
          .cast("long").as("xq"))
      .cache() // one embeddings pass; centroids and distances reuse it
    val cent = e.groupBy(col("label").as("clabel"), col("pos"))
      .agg((sum(col("xq")).cast("double") / count(lit(1))).as("c"))
    val d2 = e.join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum(floor(((col("xq") - col("c")) / 1000000000L)
        * ((col("xq") - col("c")) / 1000000000L) * 1000000000L + 0.5)
        .cast("long")).cast("long").as("d9"))
    val ab = d2.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("d9")))
        .cast("long").as("a9"),
        min(when(col("clabel") =!= col("label"), col("d9")))
          .cast("long").as("b9"))
    val ad = sqrt(col("a9").cast("double") / 1000000000L)
    val bd = sqrt(col("b9").cast("double") / 1000000000L)
    // b9 null = single-label corpus (no "other" centroid): degrade to 0
    val sil = ab.select(col("label"),
      when(col("b9").isNull || col("a9") === col("b9"), lit(0L))
        .otherwise(floor(((bd - ad)
          / when(col("a9") >= col("b9"), ad).otherwise(bd))
          * 1000000L + 0.5).cast("long")).as("s6"))
    sil.groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"),
        (floor((sum(col("s6")).cast("double") / count(lit(1))
          / 1000000L) * 1000000L + 0.5) / 1000000L)
          .as("mean_silhouette"))
  }

  /** One-pass gram (uncentered second-moment) matrix of the embedding
    * table — the Σ xᵢxⱼ statistic PCA/whitening starts from, computed
    * the way a 100 TB pass must: each row emits its d(d+1)/2 upper-
    * triangle products map-side (a codegen'd nested-sequence
    * transform + explode), and the (i, j)-keyed aggregate pre-combines
    * per partition, so the exchange carries ≤ 2080·P rows no matter
    * how many vectors flow through. n·d² work is the statistic's own
    * floor; the SHUFFLE is what the design keeps constant.
    *
    * Parity: element products quantize to 1e-9 fixed point BEFORE
    * summing (float32 → float64 widening is exact in both engines, the
    * product is one IEEE multiply of identical doubles, the quantized
    * summand is int64 — bound: |x|≤1-ish ⇒ |fp|≤10⁹, safe through
    * ~10⁹ rows; beyond, shrink the quantum — the q2o convention);
    * `gram` is one final IEEE division. */
  val q144GramMatrix: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |p AS (
      |  SELECT i.i AS i, j.j AS j,
      |    CAST(floor(emb[i.i + 1] * emb[j.j + 1] * 1000000000 + 0.5)
      |      AS BIGINT) AS fp
      |  FROM c,
      |    LATERAL (SELECT unnest(range(0, len(emb))) AS i) i,
      |    LATERAL (SELECT unnest(range(0, len(emb))) AS j) j
      |  WHERE j.j >= i.i)
      |SELECT i, j, count(*) AS n,
      |  CAST(sum(fp) AS BIGINT) AS gram_fp,
      |  CAST(sum(fp) AS DOUBLE) / count(*) / 1000000000 AS gram
      |FROM p GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    // r13: the d(d+1)/2 per-row struct explode + hash-agg probe per
    // product is now ONE fused-multiply-add loop inside the GramCells
    // TypedImperativeAggregate (identical int64 summands quantized by
    // the same IEEE ops, so any partial/merge order is exact — see
    // GramAggregate scaladoc); the cells explode AFTER the aggregate,
    // 2080 rows total instead of 2080 per vector
    Tables.embeddings(s, d)
      .select(expr("CAST(embedding AS ARRAY<DOUBLE>)").as("emb"))
      .agg(graft.functions.GramAggregate.gramCells(col("emb")).as("cells"))
      .select(explode(col("cells")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.n").as("n"),
        col("t.fp").cast("long").as("gram_fp"))
      .select(col("i"), col("j"), col("n"), col("gram_fp"),
        (col("gram_fp").cast("double") / col("n") / 1000000000L).as("gram"))
  }

  /** Fixed-point quantum shared by q145's matrix entries and vector:
    * Q² · d ≤ 6.4·10¹¹ keeps every dot product exact int64, and
    * u·Q ≤ Q³·d ≈ 6.4·10¹⁶ keeps the normalization numerator safe
    * (int64 max ≈ 9.2·10¹⁸ — headroom through d ≈ 100k). */
  private val EigQ = 100000L
  private val EigIters = 12

  /** First principal direction of the embedding corpus — 12 steps of
    * POWER ITERATION on q144's mean gram matrix, run entirely in
    * int64 fixed point so both engines execute bit-identical
    * arithmetic:
    *
    *   - matrix entries quantize to Q = 10⁵ (sign-aware TRUNCATING
    *     division — DuckDB's `//` floors, so the oracle spells
    *     −((−x)//n), which equals Scala's truncation on every sign);
    *   - each step is uᵢ = Σⱼ A(i,j)·vⱼ (exact int64 dot products —
    *     integer sums are order-independent, so the one float hazard
    *     of iterative linear algebra, the reduction order, is gone);
    *   - normalization is the ∞-norm in integers: vᵢ' =
    *     sign(uᵢ)·(|uᵢ|·Q div max|u|) — again truncation-safe.
    *
    * A FIXED iteration count, not a convergence test: on a
    * near-isotropic gram (random synthetic embeddings) the dominant
    * eigengap is small and 12 steps only partially converge — the
    * contract is "the exact state after 12 identical steps", which is
    * deterministic regardless; on a real corpus with spectral decay
    * the same 12 steps give the usual power-iteration estimate.
    *
    * Scale shape: ALL data-sized work is q144's one-pass aggregate
    * (shuffle ≤ 2080·P rows); the d×d matrix is then metadata-sized
    * (the repo's bloom-sketch/centroid convention), so the iteration
    * runs driver-side in microseconds and the oracle unrolls the same
    * 12 steps as chained CTEs. Output: the unit-∞-norm component per
    * dimension plus the Rayleigh-style λ estimate ‖Av‖∞/‖v‖∞ from the
    * final step (in mean-gram units). */
  val q145TopEigenvector: QueryDef = QueryDef.withOracle {
    // MATERIALIZED: DuckDB inlines CTEs by default, and each step
    // references its predecessor twice (u_k feeds both m_k and v_k) —
    // inlining would re-expand the whole chain 2^12 times (observed:
    // thousands of parquet re-opens). Materializing pins each step to
    // one evaluation, which is also what the engine does.
    val steps = (1 to EigIters).map { k =>
      s"""u$k AS MATERIALIZED (
         |  SELECT g.i AS dim, CAST(sum(g.m * v${k - 1}.v) AS BIGINT) AS u
         |  FROM g JOIN v${k - 1} ON v${k - 1}.dim = g.j GROUP BY 1),
         |m$k AS MATERIALIZED (SELECT CAST(max(abs(u)) AS BIGINT) AS m FROM u$k),
         |v$k AS MATERIALIZED (
         |  SELECT dim, CAST(CASE WHEN u < 0
         |    THEN -(((-u) * $EigQ) // m) ELSE ((u * $EigQ) // m) END
         |    AS BIGINT) AS v
         |  FROM u$k CROSS JOIN m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |p AS (
       |  SELECT i.i AS i, j.j AS j,
       |    CAST(floor(emb[i.i + 1] * emb[j.j + 1] * 1000000000 + 0.5)
       |      AS BIGINT) AS fp
       |  FROM c,
       |    LATERAL (SELECT unnest(range(0, len(emb))) AS i) i,
       |    LATERAL (SELECT unnest(range(0, len(emb))) AS j) j
       |  WHERE j.j >= i.i),
       |gm AS (
       |  SELECT i, j, count(*) AS n, CAST(sum(fp) AS BIGINT) AS gram_fp
       |  FROM p GROUP BY 1, 2),
       |gq AS MATERIALIZED (
       |  SELECT i, j, CAST(CASE WHEN gram_fp < 0
       |    THEN -(((-gram_fp) // n) // 10000) ELSE ((gram_fp // n) // 10000)
       |    END AS BIGINT) AS m
       |  FROM gm),
       |g AS MATERIALIZED (
       |  SELECT i, j, m FROM gq
       |  UNION ALL SELECT j AS i, i AS j, m FROM gq WHERE i <> j),
       |v0 AS MATERIALIZED (
       |  SELECT DISTINCT i AS dim, CAST($EigQ AS BIGINT) AS v FROM gq),
       |$steps
       |SELECT dim, v AS comp_fp,
       |  CAST(v AS DOUBLE) / $EigQ AS component,
       |  CAST(m AS DOUBLE) / $EigQ / $EigQ AS lambda_mean_gram
       |FROM v$EigIters CROSS JOIN m$EigIters""".stripMargin
  } { (s, d) =>
    // data-sized work: q144's pre-combined gram aggregate. The d×d
    // result (≤2080 rows) is metadata-sized — collected like the bloom
    // sketch / centroid frames, then iterated in exact int64.
    val cells = q144GramMatrix.fn(s, d)
      .select(col("i"), col("j"), col("n"), col("gram_fp")).collect()
    val dim = cells.iterator.map(_.getInt(1)).max + 1
    val a = Array.ofDim[Long](dim, dim)
    cells.foreach { r =>
      val (i, j, n, g) = (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))
      val m = if (g < 0) -(((-g) / n) / 10000) else (g / n) / 10000
      a(i)(j) = m; a(j)(i) = m
    }
    var v = Array.fill(dim)(EigQ)
    var lastMax = EigQ
    for (_ <- 1 to EigIters) {
      val u = Array.tabulate(dim) { i =>
        var acc = 0L; var j = 0
        while (j < dim) { acc += a(i)(j) * v(j); j += 1 }; acc
      }
      lastMax = u.iterator.map(math.abs).max
      v = u.map(x =>
        if (x < 0) -(((-x) * EigQ) / lastMax) else (x * EigQ) / lastMax)
    }
    import s.implicits._
    v.zipWithIndex.map { case (comp, i) =>
      // λ = ‖Av‖∞/‖v‖∞ de-quantized: u carries Q (matrix) × Q (vector)
      (i, comp, comp.toDouble / EigQ, lastMax.toDouble / EigQ / EigQ)
    }.toSeq.toDF("dim", "comp_fp", "component", "lambda_mean_gram")
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
    val gm = q144GramMatrix.fn(s, d)
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

  /** Davies-Bouldin per-label row — intra-cluster mean distance s_i
    * (Euclidean, to the 1e-6-quantized label centroid) and R_i =
    * max_{j != i} (s_i + s_j) / d(c_i, c_j), the index's per-cluster
    * term (Davies & Bouldin 1979; the full index is avg(R_i), left
    * to the reader so the per-label diagnosis — WHICH pairing is the
    * worst — survives in the output). Complements q253's silhouette:
    * silhouette scores separation per label against the NEAREST
    * centroid; R_i names the worst offender and weighs both sides'
    * spread.
    *
    * Exactness: centroids quantize to 1e-6 ints off exact 1e-9
    * component sums; per-(point, dim) squared deviations quantize to
    * 1e-9 ints before the exact per-point sum; per-point distances
    * quantize to 1e-6 before the exact per-label sum; centroid-pair
    * distances are exact decimal sums of int squares under ONE sqrt.
    * The R_i max runs over identical mirrored doubles. Labels with
    * n = 0 can't occur; k = 1 emits no R (no j) — row dropped
    * (stated).
    *
    * Scale shape: ONE embeddings pass -> (label, dim) component sums
    * (the q283 frame); ONE more pass for point-to-own-centroid
    * distances (64 cells per point, map-side against a broadcast
    * 640-row centroid frame); the pair sweep is k x k x 64 cell
    * algebra — metadata. */
  val q292DaviesBouldin: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |sz AS (
      |  SELECT label, i.i AS i,
      |    CAST(sum(CAST(floor(emb[i.i + 1] * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS ssp,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM c, LATERAL (SELECT unnest(range(0, len(emb))) AS i) i
      |  GROUP BY 1, 2),
      |cen AS (
      |  SELECT label, i,
      |    CAST(floor(CAST(ssp AS DOUBLE) / n / 1000 + 0.5) AS BIGINT)
      |      AS c6, n
      |  FROM sz),
      |pd AS (
      |  SELECT c.vec_id, c.label,
      |    CAST(sum(CAST(floor((emb[cen.i + 1]
      |        - CAST(cen.c6 AS DOUBLE) / 1000000)
      |      * (emb[cen.i + 1] - CAST(cen.c6 AS DOUBLE) / 1000000)
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS d9
      |  FROM c JOIN cen ON cen.label = c.label
      |  GROUP BY 1, 2),
      |pt AS (
      |  SELECT label,
      |    CAST(floor(sqrt(CAST(d9 AS DOUBLE) / 1000000000)
      |      * 1000000 + 0.5) AS BIGINT) AS d6
      |  FROM pd),
      |si AS (
      |  SELECT label, CAST(sum(d6) AS BIGINT) AS sd6,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM pt GROUP BY 1),
      |dc AS (
      |  SELECT a.label AS la, b.label AS lb,
      |    sqrt(CAST(sum(CAST(a.c6 - b.c6 AS HUGEINT) * (a.c6 - b.c6))
      |      AS DOUBLE)) / 1000000 AS dij
      |  FROM cen a JOIN cen b ON a.i = b.i AND a.label <> b.label
      |  GROUP BY 1, 2),
      |ri AS (
      |  SELECT dc.la AS label,
      |    max((CAST(sa.sd6 AS DOUBLE) / sa.n / 1000000
      |      + CAST(sb.sd6 AS DOUBLE) / sb.n / 1000000) / dc.dij) AS r
      |  FROM dc JOIN si sa ON sa.label = dc.la
      |  JOIN si sb ON sb.label = dc.lb
      |  WHERE dc.dij > 0 GROUP BY 1)
      |SELECT CAST(si.label AS BIGINT) AS label, si.n AS n_vecs,
      |  floor(CAST(si.sd6 AS DOUBLE) / si.n / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS s_intra,
      |  floor(ri.r * 1000000 + 0.5) / 1000000 AS r_max
      |FROM si JOIN ri ON ri.label = si.label""".stripMargin
  ) { (s, d) =>
    val c = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x)")
          .as("emb"))
      .cache() // component sums and the distance pass share it
    val sz = c.select(col("label"), explode(expr(
        """transform(sequence(0, size(emb) - 1), i ->
          |  struct(i AS i,
          |    CAST(floor(emb[i] * 1000000000D + 0.5D) AS BIGINT)
          |      AS sp))""".stripMargin)).as("t"))
      .select(col("label"), col("t.i").as("i"), col("t.sp").as("sp"))
      .groupBy(col("label"), col("i"))
      .agg(sum(dec(col("sp"))).as("ssp"),
        count(lit(1)).as("n"))
    val cen = sz.select(col("label"), col("i"),
        floor(col("ssp").cast("double") / col("n") / 1000 + 0.5)
          .cast("long").as("c6"), col("n"))
      .cache() // broadcast to the point pass; reused by dc pairs
    val pd = c.join(broadcast(cen.withColumnRenamed("label", "lc")),
        col("lc") === col("label"))
      .select(col("vec_id"), col("label"),
        floor((element_at(col("emb"), (col("i") + 1).cast("int"))
          - col("c6").cast("double") / 1000000L)
          * (element_at(col("emb"), (col("i") + 1).cast("int"))
            - col("c6").cast("double") / 1000000L)
          * 1000000000L + 0.5).cast("long").as("t9"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("t9")).cast("long").as("d9"))
    val pt = pd.select(col("label"),
      floor(sqrt(col("d9").cast("double") / 1000000000L) * 1000000L
        + 0.5).cast("long").as("d6"))
    val si = pt.groupBy(col("label"))
      // decimal from the start (the q304 sse3 int64-headroom class):
      // 1e-6-grid point distances sum past long near n ~ 1e12
      .agg(sum(dec(col("d6"))).as("sd6"),
        count(lit(1)).as("n"))
    val cb = cen.select(col("label").as("lb"), col("i").as("ib"),
      col("c6").as("cb6"))
    val dc = cen.join(cb,
        col("ib") === col("i") && col("lb") =!= col("label"))
      .groupBy(col("label").as("la"), col("lb"))
      .agg((sqrt(sum(dec(col("c6") - col("cb6"))
        * (col("c6") - col("cb6"))).cast("double")) / 1000000L)
        .as("dij"))
    val sa = si.toDF("la", "sda", "na")
    val sb = si.toDF("lb", "sdb", "nb")
    val ri = dc.filter(col("dij") > 0)
      .join(sa, Seq("la")).join(sb, Seq("lb"))
      .groupBy(col("la").as("label"))
      .agg(max((col("sda").cast("double") / col("na") / 1000000L
        + col("sdb").cast("double") / col("nb") / 1000000L)
        / col("dij")).as("r"))
    si.join(ri, Seq("label"))
      .select(col("label").cast("long").as("label"),
        col("n").as("n_vecs"),
        (floor(col("sd6").cast("double") / col("n") / 1000000L
          * 1000000L + 0.5) / 1000000L).as("s_intra"),
        (floor(col("r") * 1000000L + 0.5) / 1000000L).as("r_max"))
  }

  /** Calinski-Harabasz index over the label clustering — CH =
    * (SSB/(k-1)) / (SSW/(n-k)), the between/within variance ratio
    * (Calinski & Harabasz 1974): the single number that makes two
    * labelings of the SAME corpus comparable (bigger = tighter,
    * better-separated clusters). q292 diagnoses pairs; this ranks
    * the whole partition — the metric a labeling/clustering sweep
    * optimizes.
    *
    * Exactness: SSW is the exact integer sum of q292's per-(point,
    * dim) 1e-9 deviation cells; SSB = sum_i n_i * ||c_i - g||^2 is
    * exact decimal algebra on the 1e-6 centroid grid (g is the
    * n-weighted mean of label centroids on the same grid, so both
    * engines subtract IDENTICAL integers); one mirrored double ratio.
    * k < 2 or zero SSW degrade to ch = 0 (stated).
    *
    * Scale shape: q292's two passes re-aggregated global — nothing
    * new touches data; SSB is k x 64 cell algebra. */
  val q293CalinskiHarabasz: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |sz AS (
      |  SELECT label, i.i AS i,
      |    CAST(sum(CAST(floor(emb[i.i + 1] * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS ssp,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM c, LATERAL (SELECT unnest(range(0, len(emb))) AS i) i
      |  GROUP BY 1, 2),
      |cen AS (
      |  SELECT label, i,
      |    CAST(floor(CAST(ssp AS DOUBLE) / n / 1000 + 0.5) AS BIGINT)
      |      AS c6, n
      |  FROM sz),
      |gc AS (
      |  SELECT i,
      |    CAST(floor(CAST(sum(c6 * n) AS DOUBLE) / sum(n) + 0.5)
      |      AS BIGINT) AS g6
      |  FROM cen GROUP BY 1),
      |ssb AS (
      |  SELECT sum(CAST(cen.n AS HUGEINT) * (cen.c6 - gc.g6)
      |    * (cen.c6 - gc.g6)) AS b12
      |  FROM cen JOIN gc ON gc.i = cen.i),
      |ssw AS (
      |  SELECT CAST(sum(CAST(floor((emb[cen.i + 1]
      |        - CAST(cen.c6 AS DOUBLE) / 1000000)
      |      * (emb[cen.i + 1] - CAST(cen.c6 AS DOUBLE) / 1000000)
      |      * 1000000000 + 0.5) AS BIGINT)) AS HUGEINT) AS w9
      |  FROM c JOIN cen ON cen.label = c.label),
      |kk AS (
      |  SELECT CAST(count(DISTINCT label) AS BIGINT) AS k,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM c)
      |SELECT kk.n AS n_vecs, kk.k AS n_labels,
      |  floor(CAST(b12 AS DOUBLE) / 1000000000000 * 1000000 + 0.5)
      |    / 1000000 AS ssb,
      |  floor(CAST(w9 AS DOUBLE) / 1000000000 * 1000000 + 0.5)
      |    / 1000000 AS ssw,
      |  CASE WHEN kk.k < 2 OR w9 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(b12 AS DOUBLE) / 1000000000000 / (kk.k - 1))
      |      / (CAST(w9 AS DOUBLE) / 1000000000 / (kk.n - kk.k))
      |      * 1000000 + 0.5) / 1000000 END AS ch
      |FROM ssb CROSS JOIN ssw CROSS JOIN kk""".stripMargin
  ) { (s, d) =>
    val c = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x)")
          .as("emb"))
      .cache()
    val sz = c.select(col("label"), explode(expr(
        """transform(sequence(0, size(emb) - 1), i ->
          |  struct(i AS i,
          |    CAST(floor(emb[i] * 1000000000D + 0.5D) AS BIGINT)
          |      AS sp))""".stripMargin)).as("t"))
      .select(col("label"), col("t.i").as("i"), col("t.sp").as("sp"))
      .groupBy(col("label"), col("i"))
      .agg(sum(dec(col("sp"))).as("ssp"), count(lit(1)).as("n"))
    val cen = sz.select(col("label"), col("i"),
        floor(col("ssp").cast("double") / col("n") / 1000 + 0.5)
          .cast("long").as("c6"), col("n"))
      .cache()
    val gc = cen.groupBy(col("i"))
      .agg(floor(sum(col("c6") * col("n")).cast("double")
        / sum(col("n")) + 0.5).cast("long").as("g6"))
    val ssb = cen.join(gc, Seq("i"))
      .agg(sum(dec(col("n")) * (col("c6") - col("g6"))
        * (col("c6") - col("g6"))).as("b12"))
    val ssw = c.join(broadcast(cen.withColumnRenamed("label", "lc")),
        col("lc") === col("label"))
      .agg(sum(floor((element_at(col("emb"), (col("i") + 1).cast("int"))
        - col("c6").cast("double") / 1000000L)
        * (element_at(col("emb"), (col("i") + 1).cast("int"))
          - col("c6").cast("double") / 1000000L)
        * 1000000000L + 0.5).cast("long").cast("decimal(38,0)"))
        .as("w9"))
    val kk = c.agg(countDistinct(col("label")).as("k"),
      count(lit(1)).as("n"))
    ssb.crossJoin(ssw).crossJoin(kk)
      .select(col("n").as("n_vecs"), col("k").as("n_labels"),
        (floor(col("b12").cast("double") / 1000000000000L * 1000000L
          + 0.5) / 1000000L).as("ssb"),
        (floor(col("w9").cast("double") / 1000000000L * 1000000L + 0.5)
          / 1000000L).as("ssw"),
        when(col("k") < 2 || col("w9") <= 0, lit(0.0))
          .otherwise(floor((col("b12").cast("double") / 1000000000000L
            / (col("k") - 1))
            / (col("w9").cast("double") / 1000000000L
              / (col("n") - col("k")))
            * 1000000L + 0.5) / 1000000L).as("ch"))
  }

  /** Label-centroid cosine matrix — cos(c_a, c_b) for every label
    * pair off the SAME quantized centroid frame as q292/q293: the
    * direction-space confusion map (which classes point the same way
    * even when their clouds don't overlap). The embedding-side twin
    * of q265's token-space cross-entropy matrix, and the map a
    * label-merge / taxonomy-cleanup decision reads.
    *
    * Exactness: dot products and norms are exact decimal sums of
    * 1e-6-grid centroid ints; one mirrored sqrt-divide per pair;
    * zero-norm centroids degrade to 0 (stated).
    *
    * Scale shape: k x k x 64 pure cell algebra off the cached
    * centroid frame — no data pass beyond the component sums. */
  val q294CentroidCosines: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |sz AS (
      |  SELECT label, i.i AS i,
      |    CAST(sum(CAST(floor(emb[i.i + 1] * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS ssp,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM c, LATERAL (SELECT unnest(range(0, len(emb))) AS i) i
      |  GROUP BY 1, 2),
      |cen AS (
      |  SELECT label, i,
      |    CAST(floor(CAST(ssp AS DOUBLE) / n / 1000 + 0.5) AS BIGINT)
      |      AS c6
      |  FROM sz),
      |pr AS (
      |  SELECT a.label AS la, b.label AS lb,
      |    sum(CAST(a.c6 AS HUGEINT) * b.c6) AS dot,
      |    sum(CAST(a.c6 AS HUGEINT) * a.c6) AS na,
      |    sum(CAST(b.c6 AS HUGEINT) * b.c6) AS nb
      |  FROM cen a JOIN cen b ON b.i = a.i AND a.label < b.label
      |  GROUP BY 1, 2)
      |SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT)
      |    AS label_b,
      |  CASE WHEN na <= 0 OR nb <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(CAST(dot AS DOUBLE)
      |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
      |      * 1000000 + 0.5) / 1000000 END AS cosine
      |FROM pr""".stripMargin
  ) { (s, d) =>
    val sz = Tables.embeddings(s, d)
      .select(col("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x)")
          .as("emb"))
      .select(col("label"), explode(expr(
        """transform(sequence(0, size(emb) - 1), i ->
          |  struct(i AS i,
          |    CAST(floor(emb[i] * 1000000000D + 0.5D) AS BIGINT)
          |      AS sp))""".stripMargin)).as("t"))
      .select(col("label"), col("t.i").as("i"), col("t.sp").as("sp"))
      .groupBy(col("label"), col("i"))
      .agg(sum(dec(col("sp"))).as("ssp"), count(lit(1)).as("n"))
    val cen = sz.select(col("label"), col("i"),
      floor(col("ssp").cast("double") / col("n") / 1000 + 0.5)
        .cast("long").as("c6"))
    val cb = cen.toDF("lb", "ib", "cb6")
    val pr = cen.join(cb,
        col("ib") === col("i") && col("label") < col("lb"))
      .groupBy(col("label").as("la"), col("lb"))
      .agg(sum(dec(col("c6")) * col("cb6")).as("dot"),
        sum(dec(col("c6")) * col("c6")).as("na"),
        sum(dec(col("cb6")) * col("cb6")).as("nb"))
    pr.select(col("la").cast("long").as("label_a"),
      col("lb").cast("long").as("label_b"),
      when(col("na") <= 0 || col("nb") <= 0, lit(0.0))
        .otherwise(floor(col("dot").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb")
            .cast("double"))) * 1000000L + 0.5) / 1000000L)
        .as("cosine"))
  }

  val all: Map[String, QueryDef] = Map(
    "q56_kmeans" -> q56Kmeans,
    "q81_semantic_keep" -> q81SemanticKeep,
    "q144_gram_matrix" -> q144GramMatrix,
    "q145_top_eigenvector" -> q145TopEigenvector,
    "q161_centroid_drift" -> q161CentroidDrift,
    "q253_silhouette" -> q253Silhouette,
    "q266_participation_ratio" -> q266ParticipationRatio,
    "q267_anisotropy" -> q267Anisotropy,
    "q283_cka_halves" -> q283CkaHalves,
    "q292_davies_bouldin" -> q292DaviesBouldin,
    "q293_calinski_harabasz" -> q293CalinskiHarabasz,
    "q294_centroid_cosines" -> q294CentroidCosines)
}
