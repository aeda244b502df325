package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import Exact.epochDay

/** Fourth relational tranche (SURVEY §2.11): the remaining reshaping /
  * sequence surface a standalone engine owes — UNPIVOT (melt),
  * gaps-and-islands streaks, and a one-pass gram (second-moment)
  * matrix over the embedding table.
  *
  * Same float-parity conventions as the rest of the repo: exact int64
  * fixed-point sums, at most one final IEEE expression written
  * identically in both engines, and deterministic tiebreaks on id
  * columns everywhere an order matters.
  */
object Relational4 {

  /** UNPIVOT / melt — wide measure columns to (measure, value) rows,
    * the reshaping step every metrics store needs before a generic
    * per-measure rollup. Spark's `stack` is a codegen'd Generate (no
    * shuffle to reshape — the melt happens map-side inside the scan
    * stage); the rollup is then one ordinary partial+final aggregate
    * on (flag, measure). The oracle spells the same melt as UNION ALL
    * (engine-agnostic UNPIVOT). Values quantize to int cents/basis
    * points BEFORE melting, so the per-measure sums stay exact. */
  val q142Unpivot: QueryDef = QueryDef.withOracle(
    """WITH b AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_fp,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_fp,
      |    CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS disc_fp,
      |    CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS tax_fp
      |  FROM lineitem),
      |m AS (
      |  SELECT flag, 'quantity' AS measure, qty_fp AS value_fp FROM b
      |  UNION ALL SELECT flag, 'price', price_fp FROM b
      |  UNION ALL SELECT flag, 'discount', disc_fp FROM b
      |  UNION ALL SELECT flag, 'tax', tax_fp FROM b)
      |SELECT flag, measure, count(*) AS n,
      |  CAST(sum(value_fp) AS BIGINT) AS total_fp,
      |  CAST(min(value_fp) AS BIGINT) AS min_fp,
      |  CAST(max(value_fp) AS BIGINT) AS max_fp
      |FROM m GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("qty_fp"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_fp"),
        floor(col("l_discount") * 10000 + 0.5).cast("long").as("disc_fp"),
        floor(col("l_tax") * 10000 + 0.5).cast("long").as("tax_fp"))
      .select(col("flag"), expr(
        "stack(4, 'quantity', qty_fp, 'price', price_fp, " +
          "'discount', disc_fp, 'tax', tax_fp) AS (measure, value_fp)"))
      .groupBy(col("flag"), col("measure"))
      .agg(count(lit(1)).as("n"), sum(col("value_fp")).as("total_fp"),
        min(col("value_fp")).as("min_fp"), max(col("value_fp")).as("max_fp"))
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands sequence op (and the engagement metric next to
    * q136's stickiness). Island id = epoch_day − per-user row_number
    * over distinct active days: consecutive days share the id, a gap
    * starts a new one. Top-20 by (streak desc, user, start) keeps the
    * output bounded and fully deterministic.
    *
    * Scale shape: the (user, day) dedup is one partial+final
    * aggregate; the row_number window keys on user_id —
    * user-cardinality parallelism, no skew (per-user days are
    * calendar-bounded); the island rollup rides the same user-keyed
    * exchange; top-20 is TakeOrderedAndProject, never a global sort. */
  val q143Streaks: QueryDef = QueryDef.withOracle(
    """WITH du AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
      |isl AS (
      |  SELECT user_id, day,
      |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island
      |  FROM du),
      |st AS (
      |  SELECT user_id, count(*) AS streak,
      |    CAST(min(day) AS BIGINT) AS start_day
      |  FROM isl GROUP BY user_id, island),
      |best AS (
      |  SELECT user_id, streak, start_day,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY streak DESC, start_day) AS rn
      |  FROM st)
      |SELECT user_id, streak AS best_streak, start_day
      |FROM best WHERE rn = 1
      |ORDER BY best_streak DESC, user_id LIMIT 20""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val du = Tables.events(s, d)
      .select(col("user_id"),
        // the shared sign-safe floordiv (q143 convention, one
        // definition in Exact.epochDay)
        epochDay(unix_micros(col("ts"))).as("day"))
      .distinct()
    val isl = du.withColumn("island", col("day") - row_number().over(
      Window.partitionBy(col("user_id")).orderBy(col("day"))))
    val st = isl.groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak"), min(col("day")).as("start_day"))
    st.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("streak").desc, col("start_day"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("streak").as("best_streak"),
        col("start_day"))
      .orderBy(col("best_streak").desc, col("user_id"))
      .limit(20)
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

  val all: Map[String, QueryDef] = Map(
    "q142_unpivot" -> q142Unpivot,
    "q143_streaks" -> q143Streaks,
    "q144_gram_matrix" -> q144GramMatrix,
    "q145_top_eigenvector" -> q145TopEigenvector
  )
}
