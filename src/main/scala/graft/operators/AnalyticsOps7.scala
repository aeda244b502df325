package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.dec

/** Round-11 analytics tranche: tie-aware rank correlation, exact 1-D
  * Wasserstein drift distance, cross-source quantile normalization,
  * and DEFLATE-ratio corpus quality — four operators a curation
  * pipeline runs between per-source statistics (q30/q59) and mixture
  * decisions (q194), each built on the engine's established scale
  * idioms (cell collapse, cross-multiplied integer straddles,
  * decimal(38,0)/HUGEINT exact sums, map-side native expressions).
  *
  * Cross-engine conventions as everywhere: exact integer/decimal
  * arithmetic until the one final division, 1e-6 floor rounding,
  * identical IEEE op order on both engines.
  */
object AnalyticsOps7 {

  /** Spearman rank correlation between document length in characters
    * and in tokens, per source — the tie-aware monotone-association
    * check a curation report needs where Pearson (q97's machinery) is
    * skewed by heavy-tailed lengths. Ties are everywhere in integer
    * lengths, so this uses average ranks (doubled to stay integral:
    * R2 = 2·cum_before + run + 1) and the Pearson-on-ranks form — the
    * textbook 1−6Σd²/… shortcut is WRONG under ties.
    *
    * Exactness: everything up to the last division is integer: rank
    * sums Σ R2 = n(n+1) in closed form (average ranks preserve the
    * rank-sum), and Σ R2x·R2y / Σ R2x² / Σ R2y² accumulate in
    * decimal(38,0)/HUGEINT off the JOINT (x, y) cell frame (products
    * reach 4n³ per source — past int64 at ~10⁶ docs/source, the q172
    * lesson applied before it bites; decimal(38,0) holds to n ≈ 10⁹).
    * ρ = num / (√da·√db) is one double expression in identical op
    * order on both engines, floored at 1e-6.
    *
    * Scale shape: ONE data pass builds the joint (source, chars,
    * tokens) cell frame (bounded by value cardinality, not corpus
    * size); marginal ranks are windows over the ≤|cells| marginal
    * frames; the moment sums ride the joint cells with two broadcast
    * marginal joins. Nothing downstream of the first aggregate is
    * data-sized. */
  val q200Spearman: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT source, n_chars AS x,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |  FROM documents),
      |j AS (SELECT source, x, y, count(*) AS cnt FROM d GROUP BY 1, 2, 3),
      |mx AS (
      |  SELECT source, x, CAST(sum(cnt) AS BIGINT) AS cx
      |  FROM j GROUP BY 1, 2),
      |rx AS (
      |  SELECT source, x,
      |    2 * CAST(sum(cx) OVER (PARTITION BY source ORDER BY x)
      |      AS BIGINT) - cx + 1 AS r2x
      |  FROM mx),
      |my AS (
      |  SELECT source, y, CAST(sum(cnt) AS BIGINT) AS cy
      |  FROM j GROUP BY 1, 2),
      |ry AS (
      |  SELECT source, y,
      |    2 * CAST(sum(cy) OVER (PARTITION BY source ORDER BY y)
      |      AS BIGINT) - cy + 1 AS r2y
      |  FROM my),
      |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM j GROUP BY 1),
      |s AS (
      |  SELECT j.source,
      |    sum(CAST(j.cnt AS HUGEINT) * rx.r2x * ry.r2y) AS sxy,
      |    sum(CAST(j.cnt AS HUGEINT) * rx.r2x * rx.r2x) AS sxx,
      |    sum(CAST(j.cnt AS HUGEINT) * ry.r2y * ry.r2y) AS syy
      |  FROM j JOIN rx USING (source, x) JOIN ry USING (source, y)
      |  GROUP BY 1),
      |f AS (
      |  SELECT n.source, n.n,
      |    CAST(n.n AS HUGEINT) * s.sxy
      |      - (CAST(n.n AS HUGEINT) * (n.n + 1))
      |        * (CAST(n.n AS HUGEINT) * (n.n + 1)) AS num,
      |    CAST(n.n AS HUGEINT) * s.sxx
      |      - (CAST(n.n AS HUGEINT) * (n.n + 1))
      |        * (CAST(n.n AS HUGEINT) * (n.n + 1)) AS da,
      |    CAST(n.n AS HUGEINT) * s.syy
      |      - (CAST(n.n AS HUGEINT) * (n.n + 1))
      |        * (CAST(n.n AS HUGEINT) * (n.n + 1)) AS db
      |  FROM n JOIN s USING (source))
      |SELECT source, n AS n_docs,
      |  CASE WHEN da = 0 OR db = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(num AS DOUBLE)
      |      / (sqrt(CAST(da AS DOUBLE)) * sqrt(CAST(db AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 END AS rho
      |FROM f""".stripMargin
  ) { (s, d) =>
    spearmanOn(Tables.documents(s, d)
      .select(col("source"), col("n_chars").as("x"),
        size(split(col("text"), " ", -1)).cast("long").as("y")))
  }

  /** q200's tie-aware Spearman over a (source, x, y) row frame —
    * extracted so AnalyticsOps7Spec can check the doubled-average-rank
    * algebra against a brute Pearson-on-ranks reference on
    * adversarial tie patterns the corpus never produces. */
  private[operators] def spearmanOn(rows: DataFrame): DataFrame = {
    val j = rows
      .groupBy(col("source"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // joint cells — bounded by value cardinality
    def doubledRanks(v: String, c: String, r: String): DataFrame =
      j.groupBy(col("source"), col(v))
        .agg(sum(col("cnt")).as(c))
        .withColumn(r,
          lit(2) * sum(col(c)).over(
            Window.partitionBy(col("source")).orderBy(col(v)))
            - col(c) + 1)
        .select(col("source"), col(v), col(r))
    val rx = doubledRanks("x", "cx", "r2x")
    val ry = doubledRanks("y", "cy", "r2y")
    val n = j.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val sums = j
      .join(broadcast(rx), Seq("source", "x"))
      .join(broadcast(ry), Seq("source", "y"))
      .groupBy(col("source"))
      .agg(sum(dec(col("cnt")) * col("r2x") * col("r2y")).as("sxy"),
        sum(dec(col("cnt")) * col("r2x") * col("r2x")).as("sxx"),
        sum(dec(col("cnt")) * col("r2y") * col("r2y")).as("syy"))
    val sr = dec(col("n")) * (col("n") + 1) // Σ R2 = n(n+1), closed form
    n.join(broadcast(sums), Seq("source"))
      .select(col("source"), col("n"),
        (dec(col("n")) * col("sxy") - sr * sr).as("num"),
        (dec(col("n")) * col("sxx") - sr * sr).as("da"),
        (dec(col("n")) * col("syy") - sr * sr).as("db"))
      .select(col("source"), col("n").as("n_docs"),
        when(col("da") === dec(lit(0)) || col("db") === dec(lit(0)),
          lit(0.0))
          .otherwise(floor((col("num").cast("double") /
            (sqrt(col("da").cast("double")) *
              sqrt(col("db").cast("double")))) * 1000000 + 0.5) / 1000000)
          .as("rho"))
  }

  /** Exact 1-D Wasserstein-1 (earth mover's) distance between every
    * pair of event types' `value` distributions — the INTEGRAL drift
    * measure beside q153's KS max-deviation and q187's binned PSI:
    * W1 = ∫|F_A − F_B| dv reads as "average value-units of work to
    * morph one distribution into the other", is in the data's units,
    * and unlike KS it sees WHERE the mass differs, not just the worst
    * point.
    *
    * Exactness: on the cents grid the CDF is a step function, so the
    * integral is the exact finite sum Σ |cumA·nB − cumB·nA|·Δv over
    * consecutive distinct values of the pair's union (cross-multiplied
    * to stay integral — the q194 saturation-test recipe); terms
    * accumulate in decimal(38,0)/HUGEINT (cum·n reaches n² ≈ 10¹⁸ at
    * 10⁹ rows/type — int64's edge); ONE double division by nA·nB·100
    * at the end, floored at 1e-6.
    *
    * Scale shape: ONE data pass builds the (type, cents) cell frame;
    * the pair union replicates CELLS (|cells|·(|types|−1) rows —
    * value-cardinality-bounded metadata, never data), and each pair's
    * merged CDF walk is a window over its own cells. */
  val q201Wasserstein: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |c AS (SELECT t, v, count(*) AS cnt FROM ev GROUP BY 1, 2),
      |n AS (SELECT t, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
      |p AS (
      |  SELECT a.t AS ta, b.t AS tb, a.n AS na, b.n AS nb
      |  FROM n a JOIN n b ON a.t < b.t),
      |u AS (
      |  SELECT p.ta, p.tb, c.v, c.cnt AS ca, CAST(0 AS BIGINT) AS cb
      |  FROM p JOIN c ON c.t = p.ta
      |  UNION ALL
      |  SELECT p.ta, p.tb, c.v, CAST(0 AS BIGINT), c.cnt
      |  FROM p JOIN c ON c.t = p.tb),
      |g AS (
      |  SELECT ta, tb, v, CAST(sum(ca) AS BIGINT) AS ca,
      |    CAST(sum(cb) AS BIGINT) AS cb
      |  FROM u GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT ta, tb, v,
      |    CAST(sum(ca) OVER (PARTITION BY ta, tb ORDER BY v) AS BIGINT)
      |      AS cuma,
      |    CAST(sum(cb) OVER (PARTITION BY ta, tb ORDER BY v) AS BIGINT)
      |      AS cumb,
      |    lead(v) OVER (PARTITION BY ta, tb ORDER BY v) AS nv
      |  FROM g),
      |s AS (
      |  SELECT w.ta, w.tb,
      |    sum(abs(CAST(cuma AS HUGEINT) * p.nb
      |        - CAST(cumb AS HUGEINT) * p.na)
      |      * (coalesce(nv, v) - v)) AS sterm
      |  FROM w JOIN p USING (ta, tb)
      |  GROUP BY 1, 2)
      |SELECT s.ta AS type_a, s.tb AS type_b, p.na AS n_a, p.nb AS n_b,
      |  floor((CAST(sterm AS DOUBLE)
      |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |      * CAST(100 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS w1
      |FROM s JOIN p USING (ta, tb)""".stripMargin
  ) { (s, d) =>
    wassersteinOn(Tables.events(s, d)
      .select(col("event_type").as("t"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .groupBy(col("t"), col("v"))
      .agg(count(lit(1)).as("cnt")))
  }

  /** q201's exact pairwise W1 over a (t, v, cnt) cell frame (v in
    * cents) — extracted so AnalyticsOps7Spec can check the merged-CDF
    * walk against hand-computed distances and the metric's invariants
    * (identity ⇒ 0, translation invariance of a co-shifted pair). */
  private[operators] def wassersteinOn(cellsIn: DataFrame): DataFrame = {
    val c = cellsIn.cache() // (type, cents) cells — the one data pass
    val n = c.groupBy(col("t")).agg(sum(col("cnt")).as("n"))
    // |types|² pair frame: a broadcast inequality join over the
    // ≤|types|-row totals — metadata by construction
    val p = n.toDF("ta", "na")
      .join(broadcast(n.toDF("tb", "nb")), col("ta") < col("tb"))
    val sa = c.toDF("ta", "v", "ca")
      .join(broadcast(p.select(col("ta"), col("tb"))), Seq("ta"))
      .select(col("ta"), col("tb"), col("v"), col("ca"),
        lit(0L).as("cb"))
    val sb = c.toDF("tb", "v", "cb")
      .join(broadcast(p.select(col("ta"), col("tb"))), Seq("tb"))
      .select(col("ta"), col("tb"), col("v"), lit(0L).as("ca"),
        col("cb"))
    val wn = Window.partitionBy(col("ta"), col("tb")).orderBy(col("v"))
    val w = sa.unionByName(sb)
      .groupBy(col("ta"), col("tb"), col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .withColumn("cuma", sum(col("ca")).over(wn))
      .withColumn("cumb", sum(col("cb")).over(wn))
      .withColumn("nv", lead(col("v"), 1).over(wn))
    w.join(broadcast(p), Seq("ta", "tb"))
      .groupBy(col("ta"), col("tb"), col("na"), col("nb"))
      .agg(sum(abs(dec(col("cuma")) * col("nb")
          - dec(col("cumb")) * col("na"))
        * (coalesce(col("nv"), col("v")) - col("v"))).as("sterm"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        (floor((col("sterm").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")
            * lit(100.0))) * 1000000 + 0.5) / 1000000).as("w1"))
  }

  /** Cross-source quantile normalization of document length: map each
    * source's n_chars distribution onto the POOLED distribution by
    * rank — the batch-effect correction a multi-source corpus needs
    * before length-based curation rules (a "long" doc from a
    * short-doc source should compare at its pooled quantile, not its
    * raw value). Output: per (source, n_chars) cell, the pooled value
    * at the same quantile.
    *
    * Exactness: pure integer throughout — the pick "smallest pooled
    * value vP with cumP/nP ≥ cumS/nS" is evaluated CROSS-MULTIPLIED
    * (cumP·nS ≥ cumS·nP in decimal(38,0)/HUGEINT, the q194 recipe),
    * so there is no division anywhere and the gate hashes exact
    * int64s.
    *
    * Scale shape: ONE data pass builds the (source, chars) cells;
    * the pooled frame aggregates FROM those cells (no second scan);
    * the quantile match is the union+suffix-window as-of idiom on
    * |cells| + |sources|·|pooled| metadata rows. The per-source
    * window partitions on a data column over a cell-sized frame —
    * a metadata sort, not a data funnel (locked in PlanSpec). */
  val q202QuantileNormalize: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |sc AS (
      |  SELECT source, v, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
      |      AS cums
      |  FROM c),
      |ns AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS ns
      |       FROM c GROUP BY 1),
      |pc AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS pcnt FROM c GROUP BY 1),
      |pp AS (
      |  SELECT v AS vp, CAST(sum(pcnt) OVER (ORDER BY v) AS BIGINT)
      |    AS cump
      |  FROM pc),
      |np AS (SELECT CAST(sum(cnt) AS BIGINT) AS np FROM c),
      |q AS (
      |  SELECT sc.source, sc.v, CAST(sc.cnt AS BIGINT) AS cnt,
      |    CAST(sc.cums AS HUGEINT) * np.np AS key, 1 AS is_q,
      |    CAST(NULL AS BIGINT) AS vp
      |  FROM sc CROSS JOIN np),
      |r AS (
      |  SELECT ns.source, CAST(NULL AS BIGINT) AS v,
      |    CAST(NULL AS BIGINT) AS cnt,
      |    CAST(pp.cump AS HUGEINT) * ns.ns AS key, 0 AS is_q, pp.vp
      |  FROM ns CROSS JOIN pp),
      |u AS (SELECT * FROM q UNION ALL SELECT * FROM r),
      |m AS (
      |  SELECT source, v, cnt, is_q,
      |    min(vp) OVER (PARTITION BY source
      |      ORDER BY key ASC, is_q DESC
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS mapped
      |  FROM u)
      |SELECT source, v AS n_chars, cnt AS n_rows, mapped AS mapped_chars
      |FROM m WHERE is_q = 1""".stripMargin
  ) { (s, d) =>
    quantileNormalizeOn(Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt")))
      .select(col("source"), col("v").as("n_chars"),
        col("cnt").as("n_rows"), col("mapped").as("mapped_chars"))
  }

  /** q202's rank-matched quantile normalization over a (source, v,
    * cnt) cell frame — extracted so AnalyticsOps7Spec can check the
    * cross-multiplied straddle's invariants (single source maps to
    * itself, mapping is monotone, mapped values come from the pool). */
  private[operators] def quantileNormalizeOn(cellsIn: DataFrame)
      : DataFrame = {
    val c = cellsIn.cache() // (source, v) cells — the one data pass
    val sc = c.withColumn("cums", sum(col("cnt")).over(
      Window.partitionBy(col("source")).orderBy(col("v"))))
    val ns = c.groupBy(col("source")).agg(sum(col("cnt")).as("ns"))
    val pp = c.groupBy(col("v")).agg(sum(col("cnt")).as("pcnt"))
      // pooled cells: ≤|values| rows — the unpartitioned prefix window
      // is a metadata sort (same argument as q194's water-fill rank)
      .withColumn("cump", sum(col("pcnt")).over(Window.orderBy(col("v"))))
      .select(col("v").as("vp"), col("cump"))
    val np = c.agg(sum(col("cnt")).as("np"))
    val q = sc.crossJoin(broadcast(np))
      .select(col("source"), col("v"), col("cnt"),
        (dec(col("cums")) * col("np")).as("key"), lit(1).as("is_q"),
        lit(null).cast("long").as("vp"))
    val r = ns.crossJoin(broadcast(pp))
      .select(col("source"), lit(null).cast("long").as("v"),
        lit(null).cast("long").as("cnt"),
        (dec(col("cump")) * col("ns")).as("key"), lit(0).as("is_q"),
        col("vp"))
    q.unionByName(r)
      .withColumn("mapped", min(col("vp")).over(
        Window.partitionBy(col("source"))
          .orderBy(col("key").asc, col("is_q").desc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("is_q") === 1)
      .select(col("source"), col("v"), col("cnt"), col("mapped"))
  }

  /** The engine-specific piece of q203, dumped by Verify as a per-SF
    * fixture: per-doc DEFLATE compression ratio in 1e-6 fixed point
    * (exact int64 — no float hashing concerns). The oracle starts
    * from these bytes and re-derives all banding/aggregation
    * independently; the gate query recomputes the ratios LIVE through
    * the native expression (zlib is deterministic for fixed input/
    * level within one environment), so a hash match proves the
    * aggregation AND that the live kernel reproduces the dumped
    * values. */
  def deflateRatioFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        floor(graft.functions.TextExpressions.deflateRatioCol(col("text"))
          * 1000000 + 0.5).cast("long").as("r6"))

  /** Compression-ratio corpus quality report per source — the
    * Gopher-family cheap quality signal beside the lexical scores
    * (q31) and repetition counts (q47): highly repetitive text
    * deflates far below ~0.3×, random/garbled text stays near 1×,
    * natural prose sits between. Emits per-source keep/reject band
    * counts and the mean ratio.
    *
    * Scale shape: the ratio is a NATIVE codegen'd expression riding
    * the scan (map-side scalar, no shuffle, no UDF); the only
    * exchange is the final ≤|sources| aggregate. The ratio sum
    * accumulates in decimal(38,0)/HUGEINT (1e-6 fixed point × corpus
    * size crosses int64 past ~10¹² docs). */
  val q203CompressQuality: QueryDef = QueryDef.withOracle(
    s"""WITH r AS (
      |  SELECT doc_id, r6
      |  FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/deflate_ratios.parquet/*.parquet')),
      |j AS (
      |  SELECT d.source, r.r6 FROM documents d JOIN r USING (doc_id))
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN r6 < 300000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_repetitive,
      |  CAST(sum(CASE WHEN r6 > 950000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_random,
      |  CAST(sum(CASE WHEN r6 >= 300000 AND r6 <= 950000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_keep,
      |  floor(CAST(sum(r6) AS DOUBLE) / count(*) + 0.5) / 1000000
      |    AS mean_ratio
      |FROM j GROUP BY 1""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"),
        floor(graft.functions.TextExpressions.deflateRatioCol(col("text"))
          * 1000000 + 0.5).cast("long").as("r6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("r6") < 300000, 1L).otherwise(0L)).as("n_repetitive"),
        sum(when(col("r6") > 950000, 1L).otherwise(0L)).as("n_random"),
        sum(when(col("r6").between(300000, 950000), 1L).otherwise(0L))
          .as("n_keep"),
        sum(dec(col("r6"))).as("sum_r6"))
      .select(col("source"), col("n_docs"), col("n_repetitive"),
        col("n_random"), col("n_keep"),
        (floor(col("sum_r6").cast("double") / col("n_docs") + 0.5)
          / 1000000).as("mean_ratio"))
  }

  val all: Map[String, QueryDef] = Map(
    "q200_spearman" -> q200Spearman,
    "q201_wasserstein" -> q201Wasserstein,
    "q202_quantile_normalize" -> q202QuantileNormalize,
    "q203_compress_quality" -> q203CompressQuality
  )
}
