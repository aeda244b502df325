package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, cents, epochDay}

/** Model evaluation: the split machinery a
  * training-data pipeline runs before it trusts any metric — k-fold
  * cross-validation (leave-fold-out from TOTALS: every fold's train
  * statistics derive from one cell frame by subtraction, so the whole
  * k-fold sweep costs ONE data pass, not k), its group-keyed twin
  * (folds assigned per ENTITY so a customer's own orders can never
  * inform its test predictions — the leakage-proof split q167's
  * row-hash holdout cannot give), and incremental merge-on-read gold
  * maintenance (a late-arriving delta batch upserts ONLY the touched
  * partitions; the gate's oracle is the FULL recompute, so the hash
  * match IS the proof that the incremental path loses nothing — the
  * r12 verdict's "extends q79 merge and ST7" item).
  *
  * House conventions: cents grid `floor(v*100+0.5)`, exact
  * decimal(38,0) cell sums from the start, train means quantized to
  * a 1e-4-cents integer grid BEFORE any SSE algebra (so both engines
  * test against the SAME predictor), the SSE expanded from moments
  * (s2 - 2*tm*s1 + n*tm^2 — never a per-row residual pass), ONE
  * mirrored double (sqrt then /100) at the end, outputs on the 1e-6
  * grid. The q170/q37/q209 md5-bucket split convention.
  *
  * Beside the splits sit the metrics a model gate reads: score
  * ranking and calibration (ROC and PR AUC, calibration curve and
  * error, Brier decomposition, isotonic recalibration), operating
  * points (confusion panel, gains/lift, Youden threshold, the best
  * decision-stump split), and ranking and retrieval quality (nDCG,
  * MRR/MAP, rank-biased overlap, blocking quality, dimension-
  * truncation recall).
  */
object EvalOps {

  /** Sign-safe integral floor-div (positive operands here; the pmod
    * pairing is the house convention for DuckDB `//` parity). */
  private def idiv(a: Column, b: Column): Column =
    call_function("div", a - pmod(a, b), b)

  /** The shared md5 split, mod k (q170/q37/q209 convention). */
  private def foldOf(key: String, k: Int): Column = expr(
    s"CAST(conv(substring(md5(CAST($key AS STRING)), 1, 15), 16, 10) " +
      s"AS BIGINT) % $k")

  private def foldSql(key: String, k: Int): String =
    s"('0x' || substring(md5(CAST($key AS VARCHAR)), 1, 15))::BIGINT % $k"

  /** 5-fold cross-validated evaluation of the month-mean price
    * predictor over orders — the CV harness itself is the operator
    * under test: fold f's model is "each month's mean totalprice
    * learned from the other four folds", and the reported per-fold
    * RMSE is what a pipeline would gate a feature change on.
    *
    * The scale trick is leave-fold-out from totals: train mean for
    * (month m, fold f) = (S_m - S_mf) / (n_m - n_mf) off the SAME
    * (month, fold) cell frame that holds the test moments, and the
    * test SSE expands from moments (sse = s2 - 2*tm*s1 + n*tm^2), so
    * the ENTIRE 5-fold sweep is ONE orders pass plus |months| x 5
    * cell algebra — no per-fold re-scan, no per-row residual join.
    *
    * Exactness: cells are exact decimal sums on the cents grid; the
    * train mean quantizes to a 1e-4-cents integer (floor division —
    * positive by domain) BEFORE the SSE algebra, so both engines
    * evaluate the SAME predictor; sse8 is exact integer algebra in
    * 1e-8 cents^2 units; ONE mirrored sqrt/divide chain at the end.
    * A (month, fold) cell whose complement is empty (the whole month
    * sits in one fold) has no defined train mean: excluded from that
    * fold's test set AND its train count, stated (cannot occur above
    * toy scale — every month spans all folds). n_train counts train
    * rows over the months the fold actually TESTS on: a month with
    * no rows in this fold contributes to neither side (stated — the
    * per-fold sums need not total |orders|).
    *
    * Scale shape: ONE orders pass -> (month, fold) cells (time-range
    * x 5 — metadata); margins, train means, and SSE are cell algebra.
    * No window, no data-sized join. */
  val q307KfoldCv: QueryDef = QueryDef.withOracle(
    s"""WITH o AS (
      |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
      |    ${foldSql("o_orderkey", 5)} AS fold,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM orders),
      |c AS (
      |  SELECT mon, fold, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(v AS HUGEINT)) AS s1,
      |    sum(CAST(v AS HUGEINT) * v) AS s2
      |  FROM o GROUP BY 1, 2),
      |m AS (
      |  SELECT mon, CAST(sum(n) AS BIGINT) AS nm, sum(s1) AS s1m
      |  FROM c GROUP BY 1),
      |t AS (
      |  SELECT c.fold, c.n, c.s1, c.s2, m.nm,
      |    CAST((m.s1m - c.s1) * 10000 // (m.nm - c.n) AS BIGINT) AS tm4
      |  FROM c JOIN m ON m.mon = c.mon
      |  WHERE m.nm - c.n > 0),
      |e AS (
      |  SELECT fold, CAST(sum(n) AS BIGINT) AS n_test,
      |    CAST(sum(nm - n) AS BIGINT) AS n_train,
      |    sum(s2 * CAST(100000000 AS HUGEINT)
      |      - 2 * CAST(tm4 AS HUGEINT) * s1 * 10000
      |      + CAST(n AS HUGEINT) * tm4 * tm4) AS sse8
      |  FROM t GROUP BY 1)
      |SELECT fold, n_test, n_train,
      |  floor(sqrt(CAST(sse8 AS DOUBLE) / 100000000 / n_test) / 100
      |    * 1000000 + 0.5) / 1000000 AS rmse
      |FROM e""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d).select(
      date_trunc("month", to_date(col("o_orderdate"))).as("mon"),
      foldOf("o_orderkey", 5).as("fold"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
    val c = o.groupBy(col("mon"), col("fold"))
      .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("s1"),
        sum(dec(col("v")) * col("v")).as("s2"))
      .cache() // month margins and the SSE fold read the same cells
    val m = c.groupBy(col("mon"))
      .agg(sum(col("n")).cast("long").as("nm"), sum(col("s1")).as("s1m"))
    val t = c.join(m, Seq("mon"))
      .filter(col("nm") - col("n") > 0)
      .select(col("fold"), col("n"), col("s1"), col("s2"), col("nm"),
        idiv((col("s1m") - col("s1")) * 10000, col("nm") - col("n"))
          .cast("long").as("tm4"))
    val e = t.groupBy(col("fold"))
      .agg(sum(col("n")).cast("long").as("n_test"),
        sum(col("nm") - col("n")).cast("long").as("n_train"),
        sum(col("s2") * lit(100000000L)
          - lit(2) * dec(col("tm4")) * col("s1") * 10000
          + dec(col("n")) * col("tm4") * col("tm4")).as("sse8"))
    e.select(col("fold"), col("n_test"), col("n_train"),
      (floor(sqrt(col("sse8").cast("double") / 100000000L / col("n_test"))
        / 100 * 1000000L + 0.5) / 1000000L).as("rmse"))
  }

  /** Incremental merge-on-read gold maintenance — the ST7/ST8
    * extension the r12 verdict named: a late-arriving delta batch
    * (every 10th event by id, the stated arrival split) upserts the
    * daily gold WITHOUT recomputing untouched days. The engine path
    * is the real maintenance plan: base cells aggregate once, the
    * delta aggregates once, the delta's touched-day set broadcasts,
    * untouched gold rows pass through an anti-join, touched days
    * merge base + delta cells in a full-outer cell join (new
    * (day, type) keys the base never saw come from the delta side).
    * The ORACLE is the flat full recompute over all events — the
    * hash match is the semantic proof that incremental == full.
    *
    * Exactness: pure integer cell algebra on the cents grid;
    * coalesce(0) on both sides of the merge, stated.
    *
    * Scale shape: one base pass + one delta pass -> (day, type)
    * cells; the merge is cell-level (time-range-bounded), the
    * touched-day set broadcasts (<= |days|), and on the partitioned
    * silver lake the same shape is Lake's partition-pruned rewrite
    * path (ST8) — only touched partitions are ever rewritten. */
  val q308IncrementalGold: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events)
      |SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(v) AS BIGINT) AS sum_cents
      |FROM ev GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(
      epochDay(unix_micros(col("ts"))).as("day"),
      col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("v"),
      pmod(col("event_id"), lit(10L)).as("b"))
    val goldBase = ev.filter(col("b") =!= 0)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("sv"))
      .cache() // the keep side and the merge side read the same gold
    val lateCells = ev.filter(col("b") === 0)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("nl"), sum(dec(col("v"))).as("sl"))
      .cache() // touched-day set and the merge read the same delta
    val touched = lateCells.select(col("day")).distinct()
    val untouched = goldBase
      .join(broadcast(touched), Seq("day"), "left_anti")
      .select(col("day"), col("event_type"), col("n"), col("sv"))
    val merged = goldBase.join(broadcast(touched), Seq("day"), "left_semi")
      .join(lateCells, Seq("day", "event_type"), "full")
      .select(col("day"), col("event_type"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("nl"), lit(0L)))
          .as("n"),
        (coalesce(col("sv"), dec(lit(0)))
          + coalesce(col("sl"), dec(lit(0)))).as("sv"))
    untouched.unionByName(merged)
      .select(col("day"), col("event_type"),
        col("n").cast("long").as("n_events"),
        col("sv").cast("long").as("sum_cents"))
  }

  /** Group-keyed 5-fold CV — q307's split assigns folds per ROW, so
    * a customer's other orders leak into its training folds; this
    * twin assigns folds per CUSTOMER (the md5 split on o_custkey),
    * the leakage-proof protocol entity-keyed data demands (every
    * test customer is UNSEEN in training by construction). The
    * predictor moves to the order-priority mean (a non-entity
    * feature — a customer-mean model would be undefined on unseen
    * customers, which is exactly the point of the split), and the
    * per-fold distinct-customer count rides along so the report
    * states both grain sizes.
    *
    * Exactness and scale shape: q307's leave-fold-out-from-totals
    * algebra verbatim, but the single orders pass lands on the
    * (priority, fold, custkey) ENTITY-GRAIN cell frame first — the
    * one keyed shuffle that is genuinely data-sized (an entity-count
    * report must touch every entity once, by definition) — and BOTH
    * consumers derive from it: the (priority, fold) moment cells by
    * a tiny second collapse, the per-fold distinct-customer count
    * over cell rows (≤ 5x|customers|, partial-agg collapsed
    * map-side). What is cached is that aggregation output, never the
    * projected fact table. */
  val q309GroupKfold: QueryDef = QueryDef.withOracle(
    s"""WITH o AS (
      |  SELECT o_orderpriority AS prio,
      |    ${foldSql("o_custkey", 5)} AS fold, o_custkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM orders),
      |c AS (
      |  SELECT prio, fold, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(v AS HUGEINT)) AS s1,
      |    sum(CAST(v AS HUGEINT) * v) AS s2
      |  FROM o GROUP BY 1, 2),
      |m AS (
      |  SELECT prio, CAST(sum(n) AS BIGINT) AS nm, sum(s1) AS s1m
      |  FROM c GROUP BY 1),
      |t AS (
      |  SELECT c.fold, c.n, c.s1, c.s2, m.nm,
      |    CAST((m.s1m - c.s1) * 10000 // (m.nm - c.n) AS BIGINT) AS tm4
      |  FROM c JOIN m ON m.prio = c.prio
      |  WHERE m.nm - c.n > 0),
      |e AS (
      |  SELECT fold, CAST(sum(n) AS BIGINT) AS n_test,
      |    CAST(sum(nm - n) AS BIGINT) AS n_train,
      |    sum(s2 * CAST(100000000 AS HUGEINT)
      |      - 2 * CAST(tm4 AS HUGEINT) * s1 * 10000
      |      + CAST(n AS HUGEINT) * tm4 * tm4) AS sse8
      |  FROM t GROUP BY 1),
      |k AS (
      |  SELECT fold, CAST(count(DISTINCT o_custkey) AS BIGINT)
      |    AS n_test_customers
      |  FROM o GROUP BY 1)
      |SELECT e.fold, e.n_test, k.n_test_customers, e.n_train,
      |  floor(sqrt(CAST(sse8 AS DOUBLE) / 100000000 / n_test) / 100
      |    * 1000000 + 0.5) / 1000000 AS rmse
      |FROM e JOIN k ON k.fold = e.fold""".stripMargin
  ) { (s, d) =>
    // ONE orders pass -> the (prio, fold, custkey) ENTITY-GRAIN cell
    // frame; both consumers (moment cells, per-fold customer count)
    // derive from it, so the fact table is scanned once and what is
    // cached is the aggregation OUTPUT (bounded by |customers| x 5),
    // never the raw fact — the q252 "the natural-key groupBy IS the
    // work" posture
    val o = Tables.orders(s, d).select(
      col("o_orderpriority").as("prio"),
      foldOf("o_custkey", 5).as("fold"), col("o_custkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
    val pc = o.groupBy(col("prio"), col("fold"), col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("s1"),
        sum(dec(col("v")) * col("v")).as("s2"))
      .cache() // entity cells, read by both derivations
    val c = pc.groupBy(col("prio"), col("fold"))
      .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
        sum(col("s2")).as("s2"))
    val m = c.groupBy(col("prio"))
      .agg(sum(col("n")).cast("long").as("nm"), sum(col("s1")).as("s1m"))
    val t = c.join(m, Seq("prio"))
      .filter(col("nm") - col("n") > 0)
      .select(col("fold"), col("n"), col("s1"), col("s2"), col("nm"),
        idiv((col("s1m") - col("s1")) * 10000, col("nm") - col("n"))
          .cast("long").as("tm4"))
    val e = t.groupBy(col("fold"))
      .agg(sum(col("n")).cast("long").as("n_test"),
        sum(col("nm") - col("n")).cast("long").as("n_train"),
        sum(col("s2") * lit(100000000L)
          - lit(2) * dec(col("tm4")) * col("s1") * 10000
          + dec(col("n")) * col("tm4") * col("tm4")).as("sse8"))
    val k = pc.groupBy(col("fold"))
      .agg(countDistinct(col("o_custkey")).as("n_test_customers"))
    e.join(k, Seq("fold"))
      .select(col("fold"), col("n_test"), col("n_test_customers"),
        col("n_train"),
        (floor(sqrt(col("sse8").cast("double") / 100000000L
          / col("n_test")) / 100 * 1000000L + 0.5) / 1000000L)
          .as("rmse"))
  }

  /** Exact ROC-AUC of `value` as a purchase-propensity score — the
    * model-evaluation staple a training pipeline runs on every scored
    * eval split. Computed by the rank-sum (Mann–Whitney) identity on
    * the DISTINCT-SCORE sweep, not per-row ranks:
    *
    *   AUC = Σ_s pos(s)·(negBelow(s) + neg(s)/2) / (n_pos·n_neg)
    *
    * i.e. every (positive, lower-scored negative) pair counts 1, every
    * tied pair counts ½ — the numerator is kept doubled so it stays an
    * exact int64 (overflow note, the q2o convention: 2·n_pos·n_neg
    * < 2⁶³ holds through n ≈ 4·10⁹ rows; beyond, pre-divide both class
    * counts by a common 2ᵏ), and the final AUC is ONE IEEE division of
    * exact int64 values — bit-identical cross-engine with no rounding
    * escape hatch.
    *
    * Scale shape: one score-keyed partial+final aggregate collapses n
    * rows to the distinct-score frame; negBelow is the q91/q112
    * two-phase prefix sum over range partitions (never a single-task
    * global window — the distinct-score frame is data-sized); the
    * finish is a 1-row rollup. The range-stamped frame is cached for
    * the same AQE re-sampling hazard q112 documents. */
  val q115Auc: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT value AS score,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y FROM events),
      |g AS (
      |  SELECT score, CAST(sum(y) AS BIGINT) AS pos,
      |    CAST(sum(1 - y) AS BIGINT) AS neg
      |  FROM t GROUP BY 1),
      |c AS (
      |  SELECT *, CAST(coalesce(sum(neg) OVER (ORDER BY score
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS neg_below
      |  FROM g),
      |s AS (
      |  SELECT CAST(sum(pos * (2 * neg_below + neg)) AS BIGINT) AS num,
      |    CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(neg) AS BIGINT) AS n_neg
      |  FROM c)
      |SELECT n_pos, n_neg,
      |  CAST(num AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM s""".stripMargin
  ) { (s, d) =>
    val g = Tables.events(s, d)
      .select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("score"))
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
    val parts = g
      .repartitionByRange(s.sparkContext.defaultParallelism, col("score"))
      .sortWithinPartitions(col("score"))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lc", sum(col("neg")).over(
        Window.partitionBy(col("__pid")).orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .cache() // pin the partition stamp (q112's AQE re-sampling hazard)
    val offs = parts.groupBy(col("__pid")).agg(sum(col("neg")).as("__pn"))
      .withColumn("__off", coalesce(
        sum(col("__pn")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    parts.join(broadcast(offs), Seq("__pid"))
      .withColumn("neg_below", col("__lc") - col("neg") + col("__off"))
      .agg(
        sum(col("pos") * (lit(2L) * col("neg_below") + col("neg"))).as("num"),
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        (col("num").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  /** Calibration curve for the purchase-propensity score — q115's AUC
    * says the score RANKS well; this says whether its LEVELS mean
    * anything: rank-deciles of the score vs the observed purchase
    * rate inside each decile (the reliability diagram's table form).
    * Decile = ((rank−1)·10) div n over the GLOBAL score order —
    * exact integer math on the q112/q115 two-phase global rank, no
    * quantile interpolation; per-decile mean score sums exact cents;
    * the two rates are one IEEE division each.
    *
    * Scale shape: globalRowNumber's range-partitioned two-phase rank
    * (never a single-task window), one decile rollup, broadcast
    * 1-row total. */
  val q151ScoreCalibration: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT event_id, value AS score,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY score, event_id) AS rn,
      |    count(*) OVER () AS n FROM t)
      |SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
      |  count(*) AS n_events,
      |  CAST(sum(y) AS BIGINT) AS n_pos,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(sum(cents) AS DOUBLE) / 100 / count(*) AS mean_score,
      |  CAST(sum(y) AS DOUBLE) / count(*) AS purchase_rate
      |FROM r GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val t = Tables.events(s, d).select(col("event_id"),
      col("value").as("score"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val ranked = Kernels.globalRowNumber(t,
      Seq(col("score"), col("event_id")), "rn")
    val tot = t.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(tot))
      .groupBy(expr("(rn - 1) * 10 div n").as("decile"))
      .agg(count(lit(1)).as("n_events"), sum(col("y")).as("n_pos"),
        sum(col("cents")).as("sum_cents"))
      .select(col("decile"), col("n_events"), col("n_pos"),
        col("sum_cents"),
        (col("sum_cents").cast("double") / 100 / col("n_events"))
          .as("mean_score"),
        (col("n_pos").cast("double") / col("n_events")).as("purchase_rate"))
  }

  /** Isotonic (pool-adjacent-violators) calibration of the purchase-
    * propensity score — the recalibration MAP where q151's decile
    * table only diagnoses: the best monotone fit of purchase rate as
    * a function of score, which is what production actually applies
    * to raw model scores. Scores band to whole currency units (the
    * operator contract — reliability cells, the q204 banding move),
    * and the fit uses the closed-form min-max characterization
    * fitted(i) = max_{j≤i} min_{k≥j} mean(y over bands j..k), which
    * is EXACTLY the PAV solution (Barlow & Brunk 1972) with no
    * sequential pooling loop — every interval mean is a ratio of two
    * prefix-sum differences.
    *
    * Exactness: prefix sums are exact int64; each interval mean is
    * ONE double division of int64s computed identically in both
    * engines; min/max over identically-computed doubles is order-free
    * BY DEFINITION (no accumulation anywhere); the reported rate
    * floors 1e-6.
    *
    * Scale shape: ONE (band) partial+final count collapses events to
    * ≤|bands| reliability cells (value-range-bounded, never
    * row-count); the interval frame is |bands|² METADATA rows; the
    * prefix/cummax windows run unpartitioned over those cell frames —
    * metadata sorts (the q194/q202 argument). */
  val q213IsotonicCalibration: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) // 100 AS band,
      |    count(*) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT band, n, k,
      |    CAST(sum(n) OVER (ORDER BY band) AS BIGINT) AS sn,
      |    CAST(sum(k) OVER (ORDER BY band) AS BIGINT) AS sk
      |  FROM c),
      |iv AS (
      |  SELECT a.band AS j,
      |    min(CAST(b.sk - (a.sk - a.k) AS DOUBLE)
      |      / (b.sn - (a.sn - a.n))) AS m
      |  FROM w a JOIN w b ON b.band >= a.band
      |  GROUP BY 1),
      |f AS (
      |  SELECT j AS band, max(m) OVER (ORDER BY j) AS fit FROM iv)
      |SELECT w.band, w.n, w.k,
      |  floor(f.fit * 1000000 + 0.5) / 1000000 AS fitted_rate
      |FROM w JOIN f USING (band)""".stripMargin
  ) { (s, d) =>
    isotonicOn(Tables.events(s, d)
      .groupBy(expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100")
        .as("band"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k")))
  }

  /** q213's min-max PAV over a (band, n, k) reliability-cell frame —
    * extracted so AnalyticsOps9Spec can check it against a sequential
    * pool-adjacent-violators reference (monotone output, violator
    * pooling, mass preservation on hand cases). */
  private[operators] def isotonicOn(cellsIn: DataFrame): DataFrame = {
    val c = cellsIn.cache() // ≤|bands| reliability cells — one pass
    val wOrd = Window.orderBy(col("band")) // metadata sort (≤|bands|)
    val w = c
      .withColumn("sn", sum(col("n")).over(wOrd))
      .withColumn("sk", sum(col("k")).over(wOrd))
    val a = w.toDF("j", "nj", "kj", "snj", "skj")
    val b = w.toDF("band", "nb", "kb", "snb", "skb")
    val iv = a.join(broadcast(b), col("band") >= col("j"))
      .groupBy(col("j"))
      .agg(min((col("skb") - (col("skj") - col("kj"))).cast("double") /
        (col("snb") - (col("snj") - col("nj")))).as("m"))
    val f = iv.select(col("j").as("band"),
      max(col("m")).over(Window.orderBy(col("j"))).as("fit"))
    w.select(col("band"), col("n"), col("k"))
      .join(f, Seq("band"))
      .select(col("band"), col("n"), col("k"),
        (floor(col("fit") * 1000000 + 0.5) / 1000000).as("fitted_rate"))
  }

  /** nDCG@10 of the popularity recommender — the GRADED ranking
    * metric beside q115's AUC (pairwise, binary) and q125's recall
    * (set overlap): rank event types by corpus-wide frequency (the
    * popularity baseline every recommender is measured against),
    * score each user's ranking quality with log₂-discounted gains
    * (relevance = the user's own interaction count), and normalize by
    * that user's ideal ordering. Reports the user count, mean nDCG,
    * and how many users the popularity order ranks perfectly.
    *
    * Exactness: every DCG term c/log₂(pos+1) quantizes to 1e-9 fixed
    * point per (user, position) before its int64 per-user sum
    * (order-free); each user's nDCG floors at 1e-6 into an int;
    * the mean is one division of the int64 sum, floored 1e-6.
    * n_perfect compares the two int64 sums exactly — no float
    * equality anywhere.
    *
    * Scale shape: ONE (user, type) partial+final count collapses
    * events; the global top-10 is a rank over the ≤|types| margin
    * (metadata sort) broadcast back; the ideal ordering is a per-USER
    * window over that user's ≤|types| cells with the rank limit
    * pushed (WindowGroupLimit); the final rollup is user-keyed then
    * scalar. */
  val q214Ndcg: QueryDef = QueryDef.withOracle(
    """WITH uc AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
      |gt AS (
      |  SELECT event_type,
      |    row_number() OVER (ORDER BY c DESC, event_type) AS pos
      |  FROM (SELECT event_type, CAST(sum(c) AS BIGINT) AS c
      |        FROM uc GROUP BY 1)
      |  QUALIFY pos <= 10),
      |dcg AS (
      |  SELECT uc.user_id,
      |    CAST(sum(CAST(floor(CAST(uc.c AS DOUBLE) / log2(gt.pos + 1)
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS dcg_fp
      |  FROM uc JOIN gt USING (event_type) GROUP BY 1),
      |irk AS (
      |  SELECT user_id, c,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY c DESC, event_type) AS pos
      |  FROM uc QUALIFY pos <= 10),
      |idcg AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(floor(CAST(c AS DOUBLE) / log2(pos + 1)
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS idcg_fp
      |  FROM irk GROUP BY 1),
      |u AS (
      |  SELECT idcg.user_id,
      |    CAST(floor(CAST(coalesce(dcg.dcg_fp, 0) AS DOUBLE) / idcg.idcg_fp
      |      * 1000000 + 0.5) AS BIGINT) AS ndcg6,
      |    CASE WHEN coalesce(dcg.dcg_fp, 0) = idcg.idcg_fp
      |      THEN 1 ELSE 0 END AS perfect
      |  FROM idcg LEFT JOIN dcg USING (user_id))
      |SELECT count(*) AS n_users,
      |  floor(CAST(sum(ndcg6) AS DOUBLE) / count(*) + 0.5) / 1000000
      |    AS mean_ndcg,
      |  CAST(sum(perfect) AS BIGINT) AS n_perfect
      |FROM u""".stripMargin
  ) { (s, d) =>
    val uc = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .cache() // one events pass feeds the margin, DCG, and IDCG
    // ≤|types| rows: the unpartitioned rank is a metadata sort
    val gt = uc.groupBy(col("event_type")).agg(sum(col("c")).as("gc"))
      .withColumn("pos", row_number().over(
        Window.orderBy(col("gc").desc, col("event_type"))))
      .filter(col("pos") <= 10)
      .select(col("event_type"), col("pos"))
    def termFp(c: Column, pos: Column): Column =
      floor(c.cast("double") / log2(pos + 1) * 1000000000L + 0.5)
        .cast("long")
    val dcg = uc.join(broadcast(gt), Seq("event_type"))
      .groupBy(col("user_id"))
      .agg(sum(termFp(col("c"), col("pos"))).as("dcg_fp"))
    val idcg = uc
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("c").desc, col("event_type"))))
      .filter(col("pos") <= 10)
      .groupBy(col("user_id"))
      .agg(sum(termFp(col("c"), col("pos"))).as("idcg_fp"))
    idcg.join(dcg, Seq("user_id"), "left")
      .na.fill(0L, Seq("dcg_fp"))
      .select(
        floor(col("dcg_fp").cast("double") / col("idcg_fp")
          * 1000000 + 0.5).cast("long").as("ndcg6"),
        when(col("dcg_fp") === col("idcg_fp"), 1L).otherwise(0L)
          .as("perfect"))
      .agg(count(lit(1)).as("n_users"),
        (floor(sum(col("ndcg6")).cast("double") / count(lit(1)) + 0.5)
          / 1000000).as("mean_ndcg"),
        sum(col("perfect")).as("n_perfect"))
  }

  /** Brier score with Murphy decomposition for the purchase-propensity
    * score — q115's AUC grades the RANKING, q151/q213 grade and repair
    * the LEVELS; this grades the full probabilistic forecast and says
    * WHERE the loss lives: Brier = reliability − resolution +
    * uncertainty (miscalibration cost, discrimination credit,
    * irreducible base-rate noise). Scores normalize to [0,1] by the
    * global min/max; the decomposition bins p into 20 equal-width
    * cells (the binned identity is exact only for bin-constant
    * forecasts — the residual, within-bin forecast variance minus
    * twice the within-bin forecast–outcome covariance, is reported as
    * decomp_gap, not hidden).
    *
    * Exactness: the raw Brier is FULLY integer — with cents c, min m,
    * range R, label y: (p−y)² = ((c−m) − y·R)²/R², so the numerator
    * sums exact int64 squares into decimal(38,0)/HUGEINT and Brier is
    * two divisions. Bin ids are integer division; per-bin means are
    * divisions of exact sums; REL/RES terms quantize SCALE-FREE as
    * (n_k/N)·Δ² at 1e-9 on the 20-cell frame.
    *
    * Scale shape: one min/max aggregate, one (bin) aggregate over a
    * second pass (≤20 cells, map-side combined), everything downstream
    * on the broadcast cell frame.
    *
    * Degenerate input: when every event carries the same score the
    * range r is 0 and normalization is undefined; rather than throw
    * (ANSI `div`/`//` by zero, Inf through the quantization cast), the
    * query degrades to the constant-forecast convention p ≡ ȳ — all
    * rows in bin 0, the bin forecast defined as the bin outcome rate,
    * so REL = RES = 0 exactly and Brier = uncertainty = ȳ(1−ȳ),
    * decomp_gap = 0. Guarded identically in engine and oracle. */
  val q221BrierDecomposition: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |mm AS (
      |  SELECT min(c) AS m, max(c) - min(c) AS r FROM ev),
      |raw AS (
      |  SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST((c - m - y * r) * (c - m - y * r) AS HUGEINT)) AS s2
      |  FROM ev CROSS JOIN mm),
      |cell AS (
      |  SELECT least(19, CASE WHEN r = 0 THEN 0
      |                        ELSE ((c - m) * 20) // r END) AS k,
      |    count(*) AS nk,
      |    CAST(sum(y) AS BIGINT) AS syk,
      |    CAST(sum(c - m) AS BIGINT) AS sck
      |  FROM ev CROSS JOIN mm GROUP BY 1),
      |dc AS (
      |  SELECT
      |    CAST(sum(CAST(floor((CAST(nk AS DOUBLE) / n)
      |      * ((CASE WHEN r = 0 THEN CAST(syk AS DOUBLE) / nk
      |          ELSE CAST(sck AS DOUBLE) / nk / r END
      |          - CAST(syk AS DOUBLE) / nk)
      |        * (CASE WHEN r = 0 THEN CAST(syk AS DOUBLE) / nk
      |           ELSE CAST(sck AS DOUBLE) / nk / r END
      |           - CAST(syk AS DOUBLE) / nk))
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS rel_fp,
      |    CAST(sum(CAST(floor((CAST(nk AS DOUBLE) / n)
      |      * ((CAST(syk AS DOUBLE) / nk - CAST(sy AS DOUBLE) / n)
      |        * (CAST(syk AS DOUBLE) / nk - CAST(sy AS DOUBLE) / n))
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS res_fp
      |  FROM cell CROSS JOIN raw CROSS JOIN mm)
      |SELECT n AS n_events,
      |  CASE WHEN r = 0
      |    THEN (CAST(sy AS DOUBLE) / n) * (1 - CAST(sy AS DOUBLE) / n)
      |    ELSE (CAST(s2 AS DOUBLE) / (CAST(r AS DOUBLE) * r)) / n
      |  END AS brier,
      |  CAST(rel_fp AS DOUBLE) / 1000000000 AS reliability,
      |  CAST(res_fp AS DOUBLE) / 1000000000 AS resolution,
      |  (CAST(sy AS DOUBLE) / n) * (1 - CAST(sy AS DOUBLE) / n)
      |    AS uncertainty,
      |  CASE WHEN r = 0
      |    THEN (CAST(sy AS DOUBLE) / n) * (1 - CAST(sy AS DOUBLE) / n)
      |    ELSE (CAST(s2 AS DOUBLE) / (CAST(r AS DOUBLE) * r)) / n
      |  END
      |    - (CAST(rel_fp AS DOUBLE) / 1000000000
      |       - CAST(res_fp AS DOUBLE) / 1000000000
      |       + (CAST(sy AS DOUBLE) / n) * (1 - CAST(sy AS DOUBLE) / n))
      |    AS decomp_gap
      |FROM raw CROSS JOIN mm CROSS JOIN dc""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .cache() // one events materialization feeds min/max, raw, cells
    val mm = ev.agg(min(col("c")).as("m"),
      (max(col("c")) - min(col("c"))).as("r"))
    val num = (col("c") - col("m") - col("y") * col("r"))
    val raw = ev.crossJoin(broadcast(mm))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("sy"),
        sum(dec(num * num)).as("s2"))
    val cell = ev.crossJoin(broadcast(mm))
      .groupBy(least(lit(19),
        when(col("r") === 0, lit(0L))
          .otherwise(expr("((c - m) * 20) div r"))).as("k"))
      .agg(count(lit(1)).as("nk"),
        sum(col("y")).cast("long").as("syk"),
        sum(col("c") - col("m")).cast("long").as("sck"))
    val yk = col("syk").cast("double") / col("nk")
    // r = 0 → the bin forecast is DEFINED as the bin outcome rate, so
    // (pk - yk)² vanishes and REL = 0 exactly (constant-forecast path)
    val pk = when(col("r") === 0, yk)
      .otherwise(col("sck").cast("double") / col("nk") / col("r"))
    val yb = col("sy").cast("double") / col("n")
    val dcf = cell.crossJoin(broadcast(raw)).crossJoin(broadcast(mm))
      .select(
        floor((col("nk").cast("double") / col("n"))
          * ((pk - yk) * (pk - yk)) * 1000000000L + 0.5)
          .cast("long").as("relt"),
        floor((col("nk").cast("double") / col("n"))
          * ((yk - yb) * (yk - yb)) * 1000000000L + 0.5)
          .cast("long").as("rest"))
      .agg(sum(col("relt")).as("rel_fp"), sum(col("rest")).as("res_fp"))
    val rel = col("rel_fp").cast("double") / 1000000000L
    val res = col("res_fp").cast("double") / 1000000000L
    val unc = yb * (lit(1) - yb)
    // r = 0 → 0/0 NaN without the guard; Brier of p ≡ ȳ is ȳ(1−ȳ)
    val brier = when(col("r") === 0, unc)
      .otherwise((col("s2").cast("double")
        / (col("r").cast("double") * col("r"))) / col("n"))
    raw.crossJoin(broadcast(mm)).crossJoin(broadcast(dcf))
      .select(col("n").as("n_events"),
        brier.as("brier"),
        rel.as("reliability"),
        res.as("resolution"),
        unc.as("uncertainty"),
        (brier - (rel - res + unc)).as("decomp_gap"))
  }

  /** MRR and MAP@10 for the popularity recommender — q214's nDCG on
    * the SAME prediction (the global event-type popularity top-10) and
    * the same one-pass (user, type) frame, completing the ranking-eval
    * triad: nDCG grades graded relevance, MRR grades time-to-first-hit,
    * MAP grades precision across every hit. Per user, the relevant set
    * is their top-3 event types (count desc, type tiebreak); AP@10 =
    * Σ_{i-th hit at position p_i} (i/p_i) / |relevant|; RR = 1/position
    * of the user's single top type (0 when outside the top-10).
    *
    * Exactness: positions and ranks are integers; each i/p term
    * quantizes to 1e-9 fixed point per (user, hit) — ≤3 terms per
    * user, order-free; per-user AP and RR land on a 1e-6 grid before
    * the final mean (the q214 convention, int64 sums / one division).
    *
    * Scale shape: ONE events pass into the (user, type) aggregate
    * (cached — margin, per-user ranks, and hits all reuse it); the
    * global top-10 is a ≤|types| metadata sort; per-user windows
    * partition on user_id (a real key, q214's shape); the hit join is
    * broadcast(top-10). */
  val q222MrrMap: QueryDef = QueryDef.withOracle(
    """WITH uc AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
      |gt AS (
      |  SELECT event_type,
      |    row_number() OVER (ORDER BY c DESC, event_type) AS pos
      |  FROM (SELECT event_type, CAST(sum(c) AS BIGINT) AS c
      |        FROM uc GROUP BY 1)
      |  QUALIFY pos <= 10),
      |ur AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY c DESC, event_type) AS urank
      |  FROM uc QUALIFY urank <= 3),
      |rel AS (SELECT user_id, count(*) AS rel_cnt FROM ur GROUP BY 1),
      |ii AS (
      |  SELECT ur.user_id, ur.urank, gt.pos,
      |    row_number() OVER (PARTITION BY ur.user_id ORDER BY gt.pos) AS i
      |  FROM ur JOIN gt USING (event_type)),
      |ap AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(floor(CAST(i AS DOUBLE) / pos * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS ap_fp,
      |    min(CASE WHEN urank = 1 THEN pos END) AS top1pos
      |  FROM ii GROUP BY 1),
      |per AS (
      |  SELECT rel.user_id,
      |    CAST(floor((CAST(coalesce(ap_fp, 0) AS DOUBLE) / 1000000000)
      |      / rel_cnt * 1000000 + 0.5) AS BIGINT) AS ap6,
      |    CAST(floor(coalesce(1.0 / top1pos, 0) * 1000000 + 0.5)
      |      AS BIGINT) AS rr6,
      |    CASE WHEN top1pos IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM rel LEFT JOIN ap USING (user_id))
      |SELECT count(*) AS n_users,
      |  floor(CAST(sum(rr6) AS DOUBLE) / count(*) + 0.5) / 1000000 AS mrr,
      |  floor(CAST(sum(ap6) AS DOUBLE) / count(*) + 0.5) / 1000000
      |    AS map_at10,
      |  CAST(sum(hit) AS BIGINT) AS n_hits
      |FROM per""".stripMargin
  ) { (s, d) =>
    val uc = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .cache() // one events pass feeds the margin and per-user ranks
    val gt = uc.groupBy(col("event_type")).agg(sum(col("c")).as("gc"))
      .withColumn("pos", row_number().over(
        Window.orderBy(col("gc").desc, col("event_type"))))
      .filter(col("pos") <= 10)
      .select(col("event_type"), col("pos"))
    val ur = uc
      .withColumn("urank", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("c").desc, col("event_type"))))
      .filter(col("urank") <= 3)
      .select(col("user_id"), col("event_type"), col("urank"))
      .cache() // feeds both the relevant-set counts and the hit join
    val rel = ur.groupBy(col("user_id")).agg(count(lit(1)).as("rel_cnt"))
    val ii = ur.join(broadcast(gt), Seq("event_type"))
      .withColumn("i", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("pos"))))
    val ap = ii.groupBy(col("user_id"))
      .agg(sum(floor(col("i").cast("double") / col("pos")
          * 1000000000L + 0.5).cast("long")).as("ap_fp"),
        min(when(col("urank") === 1, col("pos"))).as("top1pos"))
    val per = rel.join(ap, Seq("user_id"), "left")
      .select(
        floor((coalesce(col("ap_fp"), lit(0L)).cast("double")
          / 1000000000L) / col("rel_cnt") * 1000000L + 0.5)
          .cast("long").as("ap6"),
        floor(coalesce(lit(1.0) / col("top1pos"), lit(0.0))
          * 1000000L + 0.5).cast("long").as("rr6"),
        when(col("top1pos").isNull, 0L).otherwise(1L).as("hit"))
    per.agg(count(lit(1)).as("n_users"),
      (floor(sum(col("rr6")).cast("double") / count(lit(1)) + 0.5)
        / 1000000L).as("mrr"),
      (floor(sum(col("ap6")).cast("double") / count(lit(1)) + 0.5)
        / 1000000L).as("map_at10"),
      sum(col("hit")).cast("long").as("n_hits"))
  }

  /** Dimension-truncation recall for the embedding index — the
    * Matryoshka question a 100 TB vector pipeline must answer before
    * it ships a cheaper index: if ANN scores only the first k of 64
    * dims (k ∈ {8, 16, 32} — 8×/4×/2× less compute and memory
    * bandwidth), what fraction of the TRUE cosine top-10 survives?
    * Ground truth and all three truncated rankings come from ONE
    * scored fan-out (q50's broadcast-cohort brute force, the exact
    * baseline the LSH/IVF/PQ paths are graded against); recall@10 is
    * the per-k overlap count divided by 10·|queries|.
    *
    * Determinism: scores round to 6 dp with vec_id tiebreaks (the q50
    * convention — both engines fold the same doubles in the same
    * order); overlaps are exact integer set intersections; the final
    * recall is one division on a 1e-6 grid.
    *
    * Scale shape: one corpus scan joined to the broadcast query
    * cohort, all four cosines computed per candidate row in one
    * codegen stage (the slice reuses the already-loaded vector — no
    * extra scan per k); per-(query, k) top-10 is a user-keyed window;
    * the hit join is (q_id, neighbor_id)-keyed. Brute force is the
    * eval harness by design — production retrieval at scale is
    * q51/q53/q69/q72's bucketed paths. */
  val q225DimTruncationRecall: QueryDef = QueryDef.withOracle(
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM c WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT q_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q_emb, c.emb), 6) AS c64,
      |    round(list_cosine_similarity(q_emb[1:8], c.emb[1:8]), 6) AS c8,
      |    round(list_cosine_similarity(q_emb[1:16], c.emb[1:16]), 6) AS c16,
      |    round(list_cosine_similarity(q_emb[1:32], c.emb[1:32]), 6) AS c32
      |  FROM q JOIN c ON q.q_id <> c.vec_id),
      |gt AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT q_id, neighbor_id, row_number() OVER (PARTITION BY q_id
      |      ORDER BY c64 DESC, neighbor_id) AS rnk FROM scored)
      |  WHERE rnk <= 10),
      |tr AS (
      |  SELECT q_id, neighbor_id, k_dims FROM (
      |    SELECT q_id, neighbor_id, g.k_dims,
      |      row_number() OVER (PARTITION BY q_id, g.k_dims
      |        ORDER BY CASE g.k_dims WHEN 8 THEN c8 WHEN 16 THEN c16
      |          ELSE c32 END DESC, neighbor_id) AS rnk
      |    FROM scored, LATERAL (SELECT unnest([8, 16, 32]) AS k_dims) g)
      |  WHERE rnk <= 10),
      |nq AS (SELECT count(*) AS n_queries FROM q),
      |h AS (
      |  SELECT k_dims, count(*) AS n_hits
      |  FROM tr JOIN gt USING (q_id, neighbor_id) GROUP BY 1)
      |SELECT k_dims, n_queries, n_hits,
      |  floor(CAST(n_hits AS DOUBLE) / (n_queries * 10) * 1000000 + 0.5)
      |    / 1000000 AS recall
      |FROM h CROSS JOIN nq""".stripMargin
  ) { (s, d) =>
    import graft.functions.VectorExpressions.cosine
    val c = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = c.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("c64"),
        round(cosine(slice(col("q_emb"), 1, 8),
          slice(col("embedding"), 1, 8)), 6).as("c8"),
        round(cosine(slice(col("q_emb"), 1, 16),
          slice(col("embedding"), 1, 16)), 6).as("c16"),
        round(cosine(slice(col("q_emb"), 1, 32),
          slice(col("embedding"), 1, 32)), 6).as("c32"))
      .cache() // ONE fan-out pass feeds the truth and all three ranks
    val gt = scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("c64").desc, col("neighbor_id"))))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("neighbor_id"))
    val tr = scored
      .select(col("q_id"), col("neighbor_id"),
        expr("stack(3, 8, c8, 16, c16, 32, c32) AS (k_dims, cs)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"), col("k_dims"))
          .orderBy(col("cs").desc, col("neighbor_id"))))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("neighbor_id"), col("k_dims"))
    val nq = q.agg(count(lit(1)).as("n_queries"))
    tr.join(gt, Seq("q_id", "neighbor_id"))
      .groupBy(col("k_dims")).agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("k_dims"), col("n_queries"), col("n_hits"),
        (floor(col("n_hits").cast("double") / (col("n_queries") * 10)
          * 1000000L + 0.5) / 1000000L).as("recall"))
  }

  /** Best decision-stump split of the purchase label on the value
    * axis — THE distributed tree-learning primitive (every GBDT/RF
    * round at scale is exactly this: histogram the label over feature
    * values, prefix-sum, argmax a purity gain): for each candidate
    * threshold t, Gini gain of splitting events at value ≤ t, top-5
    * thresholds reported. Also the optimal-1-D-segmentation answer a
    * curation rule miner wants ("where should the quality cutoff go").
    *
    * Exactness: the (cents, n, k) cell frame is exact int64; left/right
    * counts are the two-phase prefix sums; every impurity is a
    * division of exact ints (bit-identical); the gain quantizes to
    * 1e-9 before the global top-5, which is a TakeOrdered with a cents
    * tiebreak — no full sort, no window over cells.
    *
    * Scale shape: ONE events pass into the value-cardinality-bounded
    * cell frame (the q166/q176 argument: cents cells are bounded by
    * the value RANGE, not rows); the prefix is the range-partitioned
    * two-phase idiom; the argmax is TakeOrderedAndProject. */
  val q229SplitFinding: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    count(*) AS n,
      |    CAST(sum(CAST(event_type = 'purchase' AS BIGINT)) AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |pre AS (
      |  SELECT cents, n, k,
      |    CAST(sum(n) OVER (ORDER BY cents) AS BIGINT) AS cumn,
      |    CAST(sum(k) OVER (ORDER BY cents) AS BIGINT) AS cumk
      |  FROM cell),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(k) AS BIGINT) AS kt
      |  FROM cell),
      |g AS (
      |  SELECT cents, cumn AS n_left, cumk AS k_left,
      |    CAST(floor((2 * (CAST(kt AS DOUBLE) / nt)
      |        * (1 - CAST(kt AS DOUBLE) / nt)
      |      - ((CAST(cumn AS DOUBLE) / nt)
      |          * (2 * (CAST(cumk AS DOUBLE) / cumn)
      |            * (1 - CAST(cumk AS DOUBLE) / cumn))
      |        + (CAST(nt - cumn AS DOUBLE) / nt)
      |          * (2 * (CAST(kt - cumk AS DOUBLE) / (nt - cumn))
      |            * (1 - CAST(kt - cumk AS DOUBLE) / (nt - cumn)))))
      |      * 1000000000 + 0.5) AS BIGINT) AS gain_fp
      |  FROM pre CROSS JOIN tot WHERE cumn < nt)
      |SELECT cents AS split_cents, n_left, k_left,
      |  CAST(gain_fp AS DOUBLE) / 1000000000 AS gini_gain
      |FROM g ORDER BY gain_fp DESC, cents LIMIT 5""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("cents"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"))
    val pre = Kernels.groupedPrefixSums(cell, Seq.empty,
      Seq(col("cents")),
      Seq((col("n"), "cumn", Some("nt")), (col("k"), "cumk", Some("kt"))))
    val pAll = col("kt").cast("double") / col("nt")
    val pL = col("cumk").cast("double") / col("cumn")
    val pR = ((col("kt") - col("cumk")).cast("double")
      / (col("nt") - col("cumn")))
    val gain = (lit(2) * pAll * (lit(1) - pAll)
      - ((col("cumn").cast("double") / col("nt"))
          * (lit(2) * pL * (lit(1) - pL))
        + ((col("nt") - col("cumn")).cast("double") / col("nt"))
          * (lit(2) * pR * (lit(1) - pR))))
    pre.filter(col("cumn") < col("nt"))
      .select(col("cents").as("split_cents"), col("cumn").as("n_left"),
        col("cumk").as("k_left"),
        floor(gain * 1000000000L + 0.5).cast("long").as("gain_fp"))
      .orderBy(col("gain_fp").desc, col("split_cents"))
      .limit(5)
      .select(col("split_cents"), col("n_left"), col("k_left"),
        (col("gain_fp").cast("double") / 1000000000L).as("gini_gain"))
  }

  /** Precision-recall AUC (average precision) of the value score
    * against the purchase label — the ranking-quality number that
    * matters under CLASS IMBALANCE, where q115's ROC-AUC flatters (a
    * 1%-positive corpus scores 0.99 ROC for a model that's useless at
    * the top of the list). AP = Σ ΔR_i · P_i over thresholds descending
    * (sklearn's step form, no trapezoid flattery), plus the positive
    * base rate it should be read against.
    *
    * Exactness: the (cents, n, k) cell frame is exact; descending
    * cumulative counts are the two-phase prefix; each step term
    * (Δk/K)·(kcum/ncum) is a product of divisions of exact ints,
    * quantized 1e-9 per CELL into a decimal(38,0)/HUGEINT sum
    * (cell count is value-range-bounded, but at fleet scale the 1e9
    * grid times millions of cells wants the wide accumulator).
    *
    * Scale shape: ONE events pass into the cell frame; one
    * range-partitioned descending prefix; one rollup. The q166/q187
    * posture. */
  val q231PrAuc: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    count(*) AS n,
      |    CAST(sum(CAST(event_type = 'purchase' AS BIGINT)) AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |pre AS (
      |  SELECT cents, n, k,
      |    CAST(sum(n) OVER (ORDER BY cents DESC) AS BIGINT) AS cumn,
      |    CAST(sum(k) OVER (ORDER BY cents DESC) AS BIGINT) AS cumk
      |  FROM cell),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(k) AS BIGINT) AS kt
      |  FROM cell),
      |ap AS (
      |  SELECT sum(CAST(floor((CAST(k AS DOUBLE) / kt)
      |      * (CAST(cumk AS DOUBLE) / cumn) * 1000000000 + 0.5)
      |    AS HUGEINT)) AS ap_fp
      |  FROM pre CROSS JOIN tot)
      |SELECT nt AS n_events, kt AS n_pos,
      |  CAST(kt AS DOUBLE) / nt AS base_rate,
      |  CAST(ap_fp AS DOUBLE) / 1000000000 AS pr_auc
      |FROM tot CROSS JOIN ap""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("cents"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"))
      .cache() // one events pass; the prefix AND the totals reuse it
    val pre = Kernels.groupedPrefixSums(cell, Seq.empty,
      Seq(col("cents").desc),
      Seq((col("n"), "cumn", Some("nt")), (col("k"), "cumk", Some("kt"))))
    val ap = pre
      .select(floor((col("k").cast("double") / col("kt"))
        * (col("cumk").cast("double") / col("cumn"))
        * 1000000000L + 0.5).cast("long").as("t"))
      .agg(sum(dec(col("t"))).as("ap_fp"))
    val tot = cell.agg(sum(col("n")).cast("long").as("nt"),
      sum(col("k")).cast("long").as("kt"))
    tot.crossJoin(broadcast(ap))
      .select(col("nt").as("n_events"), col("kt").as("n_pos"),
        (col("kt").cast("double") / col("nt")).as("base_rate"),
        (col("ap_fp").cast("double") / 1000000000L).as("pr_auc"))
  }

  /** Expected and maximum calibration error of the normalized
    * purchase-propensity score, 20 equal-width bins — q221's binning
    * device verbatim (same normalization, same r = 0 degenerate path)
    * so ECE/MCE and the Murphy decomposition read off the SAME
    * forecast. ECE = Σ (n_k/N)·|acc_k − conf_k| is the number
    * calibration papers report; MCE is its worst bin.
    *
    * Exactness: bin counts and sums exact int64; per-bin |conf − acc|
    * is one double chain — the ECE term quantizes at 1e-9 weighted by
    * the exact n_k/N ratio and int-sums (order-free); MCE is a MAX of
    * per-bin 1e-6-quantized gaps (max is order-free by itself).
    * Zero score range → conf_k defined as acc_k → ECE = MCE = 0.
    *
    * Scale shape: one min/max pass, one ≤20-cell bin aggregate,
    * everything downstream on the broadcast cell frame (q221's
    * posture exactly). */
  val q242CalibrationError: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |mm AS (
      |  SELECT min(c) AS m, max(c) - min(c) AS r FROM ev),
      |n AS (SELECT count(*) AS n FROM ev),
      |cell AS (
      |  SELECT least(19, CASE WHEN r = 0 THEN 0
      |                        ELSE ((c - m) * 20) // r END) AS k,
      |    count(*) AS nk,
      |    CAST(sum(y) AS BIGINT) AS syk,
      |    CAST(sum(c - m) AS BIGINT) AS sck
      |  FROM ev CROSS JOIN mm GROUP BY 1),
      |g AS (
      |  SELECT k, nk,
      |    abs(CASE WHEN r = 0 THEN CAST(syk AS DOUBLE) / nk
      |        ELSE CAST(sck AS DOUBLE) / nk / r END
      |      - CAST(syk AS DOUBLE) / nk) AS gap
      |  FROM cell CROSS JOIN mm),
      |agg AS (
      |  SELECT count(*) AS n_bins,
      |    CAST(sum(CAST(floor((CAST(nk AS DOUBLE) / n) * gap
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS ece9,
      |    max(CAST(floor(gap * 1000000 + 0.5) AS BIGINT)) AS mce6
      |  FROM g CROSS JOIN n)
      |SELECT n.n AS n_events, CAST(agg.n_bins AS BIGINT) AS n_bins,
      |  CAST(ece9 AS DOUBLE) / 1000000000 AS ece,
      |  CAST(mce6 AS DOUBLE) / 1000000 AS mce
      |FROM agg CROSS JOIN n""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .cache() // one events materialization feeds min/max and the bins
    val mm = ev.agg(min(col("c")).as("m"),
      (max(col("c")) - min(col("c"))).as("r"))
    val n = ev.agg(count(lit(1)).as("n"))
    val cell = ev.crossJoin(broadcast(mm))
      .groupBy(least(lit(19),
        when(col("r") === 0, lit(0L))
          .otherwise(expr("((c - m) * 20) div r"))).as("k"))
      .agg(count(lit(1)).as("nk"),
        sum(col("y")).cast("long").as("syk"),
        sum(col("c") - col("m")).cast("long").as("sck"))
    val acc = col("syk").cast("double") / col("nk")
    val conf = when(col("r") === 0, acc)
      .otherwise(col("sck").cast("double") / col("nk") / col("r"))
    val g = cell.crossJoin(broadcast(mm))
      .select(col("nk"), abs(conf - acc).as("gap"))
    val agg = g.crossJoin(broadcast(n))
      .agg(count(lit(1)).as("n_bins"),
        sum(floor((col("nk").cast("double") / col("n")) * col("gap")
          * 1000000000L + 0.5).cast("long")).cast("long").as("ece9"),
        max(floor(col("gap") * 1000000L + 0.5).cast("long")).as("mce6"))
    agg.crossJoin(broadcast(n))
      .select(col("n").as("n_events"),
        col("n_bins").cast("long").as("n_bins"),
        (col("ece9").cast("double") / 1000000000L).as("ece"),
        (col("mce6").cast("double") / 1000000L).as("mce"))
  }

  /** Thresholded confusion-matrix panel — precision, recall, F1, and
    * Matthews correlation for "predict purchase when the value score
    * clears its own median": the OPERATING POINT beside the threshold-
    * free rankings (q115 ROC-AUC, q231 PR-AUC). MCC is the balanced
    * single number under the purchase class's heavy imbalance, where
    * accuracy and even F1 mislead (Chicco & Jurman 2020).
    *
    * Exactness: the threshold is the exact integer lower median off
    * the value cells (2·cum ≥ n); the four confusion cells are exact
    * int64 counts in ONE conditional aggregate; each metric is one
    * double chain floored 1e-6, with every empty-margin division
    * degrading to 0 (stated — the convention sklearn's zero_division=0
    * uses). MCC's four margin products run in double (≤ N⁴ magnitude
    * is a RELATIVE-precision problem only; the op order is identical
    * in both engines).
    *
    * Scale shape: one events pass → value cells; the median walk is a
    * two-phase range-partitioned prefix over cells (the q166 idiom); one more cell-frame aggregate against the
    * broadcast threshold yields the 2×2; output is one row. */
  val q244ConfusionPanel: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |cell AS (
      |  SELECT c, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev GROUP BY 1),
      |w AS (
      |  SELECT c, cnt, k,
      |    CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM cell),
      |med AS (SELECT min(c) AS med FROM w WHERE 2 * cum >= n),
      |cm AS (
      |  SELECT
      |    CAST(sum(CASE WHEN c >= med THEN k ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN c >= med THEN cnt - k ELSE 0 END) AS BIGINT)
      |      AS fp,
      |    CAST(sum(CASE WHEN c < med THEN k ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN c < med THEN cnt - k ELSE 0 END) AS BIGINT)
      |      AS tn
      |  FROM cell CROSS JOIN med)
      |SELECT (SELECT med FROM med) AS threshold_cents,
      |  tp + fp + fn + tn AS n_events, tp, fp, fn, tn,
      |  CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(tp AS DOUBLE) / (tp + fp)) * 1000000 + 0.5)
      |      / 1000000 END AS precision,
      |  CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(tp AS DOUBLE) / (tp + fn)) * 1000000 + 0.5)
      |      / 1000000 END AS recall,
      |  CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn))
      |      * 1000000 + 0.5) / 1000000 END AS f1,
      |  CASE WHEN (tp + fp) * (tp + fn) = 0 OR (tn + fp) * (tn + fn) = 0
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
      |      / sqrt((CAST(tp + fp AS DOUBLE)) * (tp + fn)
      |        * (CAST(tn + fp AS DOUBLE)) * (tn + fn)))
      |      * 1000000 + 0.5) / 1000000 END AS mcc
      |FROM cm""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).cast("long").as("k"))
      .cache() // one events pass; median and the 2×2 reuse the cells
    // two-phase prefix (the q166/q229 idiom) for the median walk
    val w = Kernels.groupedPrefixSums(cell, Seq.empty,
      Seq(col("c")), Seq((col("cnt"), "cum", Some("n"))))
    val med = w.filter(lit(2) * col("cum") >= col("n"))
      .agg(min(col("c")).as("med"))
    val cm = cell.crossJoin(broadcast(med))
      .agg(sum(when(col("c") >= col("med"), col("k")).otherwise(0L))
        .cast("long").as("tp"),
        sum(when(col("c") >= col("med"), col("cnt") - col("k"))
          .otherwise(0L)).cast("long").as("fp"),
        sum(when(col("c") < col("med"), col("k")).otherwise(0L))
          .cast("long").as("fn"),
        sum(when(col("c") < col("med"), col("cnt") - col("k"))
          .otherwise(0L)).cast("long").as("tn"))
    val prec = col("tp").cast("double") / (col("tp") + col("fp"))
    val rec = col("tp").cast("double") / (col("tp") + col("fn"))
    val f1 = (lit(2) * col("tp")).cast("double") /
      (lit(2) * col("tp") + col("fp") + col("fn"))
    val mccNum = (col("tp").cast("double") * col("tn")
      - col("fp").cast("double") * col("fn"))
    val mccDen = sqrt((col("tp") + col("fp")).cast("double")
      * (col("tp") + col("fn"))
      * (col("tn") + col("fp")).cast("double") * (col("tn") + col("fn")))
    cm.crossJoin(broadcast(med))
      .select(col("med").as("threshold_cents"),
        (col("tp") + col("fp") + col("fn") + col("tn")).as("n_events"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0, lit(0.0))
          .otherwise(floor(prec * 1000000L + 0.5) / 1000000L)
          .as("precision"),
        when(col("tp") + col("fn") === 0, lit(0.0))
          .otherwise(floor(rec * 1000000L + 0.5) / 1000000L).as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(0.0))
          .otherwise(floor(f1 * 1000000L + 0.5) / 1000000L).as("f1"),
        when((col("tp") + col("fp")) * (col("tp") + col("fn")) === 0
          || (col("tn") + col("fp")) * (col("tn") + col("fn")) === 0,
          lit(0.0))
          .otherwise(floor(mccNum / mccDen * 1000000L + 0.5) / 1000000L)
          .as("mcc"))
  }

  /** Cumulative gains/lift table at deciles of the descending value
    * score — the curve a budgeted selection actually reads ("the top
    * 20% of events by score capture X% of purchases, a Y× lift"),
    * beside q231's scalar PR-AUC summary of the same ranking. Tied
    * scores are INDIVISIBLE: each decile point reports at the end of
    * the tied block containing its nominal boundary floor(i·n/10),
    * with the effective position emitted (eff_n) rather than silently
    * pretending the cut is exact — a tie block cannot be split by any
    * deterministic ranker.
    *
    * Exactness: everything through eff_n/captured_k is exact integer
    * prefix algebra on the descending value cells; capture and lift
    * are one division each, floored 1e-6.
    *
    * Scale shape: one events pass → value cells; ONE two-phase descending
    * range-partitioned prefix over cells (both measures share the
    * shuffle); the 10 boundary rows broadcast-join
    * the cell frame (range predicate on metadata). Output: 10 rows. */
  val q245GainsLift: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |cell AS (
      |  SELECT c, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev GROUP BY 1),
      |w AS (
      |  SELECT c, cnt, k,
      |    CAST(sum(cnt) OVER (ORDER BY c DESC) AS BIGINT) AS cum,
      |    CAST(sum(k) OVER (ORDER BY c DESC) AS BIGINT) AS cumk
      |  FROM cell),
      |tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS kt
      |  FROM cell),
      |b AS (
      |  SELECT i.i AS decile, (i.i * tot.n) // 10 AS pos, tot.n, tot.kt
      |  FROM (SELECT unnest(range(1, 11)) AS i) i CROSS JOIN tot),
      |g AS (
      |  SELECT b.decile, b.pos, w.cum AS eff_n, w.cumk AS captured_k,
      |    b.n, b.kt
      |  FROM b JOIN w ON w.cum - w.cnt < b.pos AND b.pos <= w.cum)
      |SELECT CAST(decile AS BIGINT) AS decile, CAST(pos AS BIGINT) AS pos,
      |  eff_n, captured_k,
      |  CASE WHEN kt = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(captured_k AS DOUBLE) / kt) * 1000000 + 0.5)
      |      / 1000000 END AS capture_rate,
      |  CASE WHEN kt = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((CAST(captured_k AS DOUBLE) / eff_n)
      |      / (CAST(kt AS DOUBLE) / n)) * 1000000 + 0.5) / 1000000 END
      |    AS lift
      |FROM g""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).cast("long").as("k"))
      .cache() // one events pass; prefix walk and totals reuse it
    // two-phase descending prefix (the q231 idiom), both measures in
    // ONE range shuffle
    val w = Kernels.groupedPrefixSums(cell, Seq.empty,
      Seq(col("c").desc),
      Seq((col("cnt"), "cum", None), (col("k"), "cumk", None)))
    val tot = cell.agg(sum(col("cnt")).cast("long").as("n"),
      sum(col("k")).cast("long").as("kt"))
    val b = tot.select(explode(sequence(lit(1), lit(10))).as("decile"),
      col("n"), col("kt"))
      .withColumn("pos", expr("(decile * n) div 10"))
    w.join(broadcast(b),
      col("cum") - col("cnt") < col("pos") && col("pos") <= col("cum"))
      .select(col("decile").cast("long").as("decile"),
        col("pos").cast("long").as("pos"),
        col("cum").as("eff_n"), col("cumk").as("captured_k"),
        when(col("kt") === 0, lit(0.0))
          .otherwise(floor((col("cumk").cast("double") / col("kt"))
            * 1000000L + 0.5) / 1000000L).as("capture_rate"),
        when(col("kt") === 0, lit(0.0))
          .otherwise(floor(((col("cumk").cast("double") / col("cum"))
            / (col("kt").cast("double") / col("n"))) * 1000000L + 0.5)
            / 1000000L).as("lift"))
  }

  /** Youden-J optimal threshold: the cut on the value score that
    * maximizes TPR − FPR for predicting purchases — q244 reports the
    * panel AT a fixed (median) cut; this SEARCHES every candidate cut
    * in one pass and returns the best operating point, the number a
    * deployment actually sets. Ties on the quantized J break toward
    * the LOWEST threshold (the more sensitive cut), stated.
    *
    * Exactness: candidate thresholds are exactly the distinct score
    * values; TP/FP at each come from the exact two-phase prefix
    * (exclusive counts below the cut); TPR, FPR, J are one double
    * chain per cell quantized 1e-9 BEFORE the arg-max, so the winner
    * is deterministic. Degenerate labels (no positives or no
    * negatives — J undefined) yield an EMPTY result in both engines
    * rather than a fabricated row.
    *
    * Scale shape: one events pass → value cells → ONE two-phase
    * ascending prefix (the q229 idiom) → per-cell chains →
    * TakeOrdered(1). Never a global sort. */
  val q247YoudenThreshold: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |cell AS (
      |  SELECT c, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev GROUP BY 1),
      |w AS (
      |  SELECT c, cnt, k,
      |    CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) - cnt AS below_n,
      |    CAST(sum(k) OVER (ORDER BY c) AS BIGINT) - k AS below_k,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n,
      |    CAST(sum(k) OVER () AS BIGINT) AS kt
      |  FROM cell),
      |j AS (
      |  SELECT c,
      |    CAST(floor(((CAST(kt - below_k AS DOUBLE) / kt)
      |      - (CAST(n - kt - (below_n - below_k) AS DOUBLE) / (n - kt)))
      |      * 1000000000 + 0.5) AS BIGINT) AS j9,
      |    kt - below_k AS tp, n - kt - (below_n - below_k) AS fp, kt, n
      |  FROM w WHERE kt > 0 AND kt < n)
      |SELECT c AS threshold_cents,
      |  floor((CAST(tp AS DOUBLE) / kt) * 1000000 + 0.5) / 1000000 AS tpr,
      |  floor((CAST(fp AS DOUBLE) / (n - kt)) * 1000000 + 0.5) / 1000000
      |    AS fpr,
      |  CAST(j9 AS DOUBLE) / 1000000000 AS youden_j
      |FROM j ORDER BY j9 DESC, c LIMIT 1""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).cast("long").as("k"))
      .cache() // one events pass; prefix and totals reuse the cells
    val w0 = Kernels.groupedPrefixSums(cell, Seq.empty,
      Seq(col("c")),
      Seq((col("cnt"), "cum", Some("n")), (col("k"), "cumk", Some("kt"))))
    val w = w0
      .withColumn("below_n", col("cum") - col("cnt"))
      .withColumn("below_k", col("cumk") - col("k"))
    val tp = col("kt") - col("below_k")
    val fp = col("n") - col("kt") - (col("below_n") - col("below_k"))
    val j = w.filter(col("kt") > 0 && col("kt") < col("n"))
      .select(col("c"),
        floor(((tp.cast("double") / col("kt"))
          - (fp.cast("double") / (col("n") - col("kt"))))
          * 1000000000L + 0.5).cast("long").as("j9"),
        tp.as("tp"), fp.as("fp"), col("kt"), col("n"))
    j.orderBy(col("j9").desc, col("c")).limit(1)
      .select(col("c").as("threshold_cents"),
        (floor((col("tp").cast("double") / col("kt")) * 1000000L + 0.5)
          / 1000000L).as("tpr"),
        (floor((col("fp").cast("double") / (col("n") - col("kt")))
          * 1000000L + 0.5) / 1000000L).as("fpr"),
        (col("j9").cast("double") / 1000000000L).as("youden_j"))
  }

  /** RBO weights p^(d−1) at p = 0.9, quantized to a 1e-9 int grid
    * DRIVER-SIDE and embedded as literals in BOTH engines (the ln-19
    * device of q243): cross-engine pow() parity is not guaranteed, a
    * shared literal table is. */
  private val RboK = 50

  private val RboWeights: Seq[(Int, Long)] = (1 to RboK).map(dd =>
    (dd, math.floor(math.pow(0.9, dd - 1) * 1e9 + 0.5).toLong))

  /** Rank-biased overlap (Webber 2010, p = 0.9) between the top-50
    * word rankings of the corpus's two doc_id-parity halves — "is the
    * vocabulary ranking STABLE under resampling": RBO near 1 says the
    * head vocabulary is a property of the corpus, near 0 says the
    * top-k is sampling noise and any tokenizer-budget decision built
    * on it (q39/q210) is fragile. Top-weighted by construction — the
    * d-th depth contributes (1−p)p^(d−1)·|A_d ∩ B_d|/d.
    *
    * Exactness: both rankings are exact integer counts with word
    * tiebreak; the agreement curve a_d = #{word: max(rank_a, rank_b)
    * ≤ d} is pure integer counting; each depth term quantizes p9·a_d/d
    * to the 1e-9 grid and int-sums (order-free); the final (1−p)
    * scaling is one double op, floored 1e-6.
    *
    * Scale shape: ONE tokenization pass → per-word conditional counts
    * for both halves (the q210 device); each top-50 pick is
    * limit-then-rank (TakeOrderedAndProject, map-side capped); the
    * agreement join and depth sweep run on ≤50-row frames. */
  val q249Rbo: QueryDef = QueryDef.withOracle(
    s"""WITH tok AS (
      |  SELECT doc_id % 2 = 0 AS h,
      |    unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |cells AS (
      |  SELECT word,
      |    CAST(sum(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN h THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM tok GROUP BY 1),
      |ta AS (
      |  SELECT word, rn AS ra FROM (
      |    SELECT word, row_number() OVER (ORDER BY ca DESC, word) AS rn
      |    FROM cells WHERE ca > 0) WHERE rn <= $RboK),
      |tb AS (
      |  SELECT word, rn AS rb FROM (
      |    SELECT word, row_number() OVER (ORDER BY cb DESC, word) AS rn
      |    FROM cells WHERE cb > 0) WHERE rn <= $RboK),
      |m AS (
      |  SELECT CASE WHEN ra >= rb THEN ra ELSE rb END AS mx
      |  FROM ta JOIN tb USING (word)),
      |wt(d, p9) AS (VALUES ${RboWeights.map { case (dd, p9) =>
        s"($dd, ${p9})" }.mkString(", ")}),
      |ad AS (
      |  SELECT wt.d, wt.p9, count(m.mx) AS a_d
      |  FROM wt LEFT JOIN m ON m.mx <= wt.d GROUP BY 1, 2),
      |t AS (
      |  SELECT CAST(sum(CAST(floor(CAST(p9 AS DOUBLE) * a_d / d + 0.5)
      |    AS BIGINT)) AS BIGINT) AS s9,
      |    CAST(max(CASE WHEN d = $RboK THEN a_d END) AS BIGINT) AS a_k
      |  FROM ad),
      |na AS (SELECT count(*) AS n_a FROM ta),
      |nb AS (SELECT count(*) AS n_b FROM tb)
      |SELECT n_a, n_b, a_k AS overlap_at_k,
      |  floor((0.1 * (CAST(s9 AS DOUBLE) / 1000000000))
      |    * 1000000 + 0.5) / 1000000 AS rbo
      |FROM t CROSS JOIN na CROSS JOIN nb""".stripMargin
  ) { (s, d) =>
    val cells = Tables.documents(s, d)
      .select((col("doc_id") % 2 === 0).as("h"),
        explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("word"))
      .agg(sum(when(col("h"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("h"), 0L).otherwise(1L)).as("cb"))
      .cache() // one tokenization pass feeds both half-rankings
    val ta = Kernels.topKByCount(cells.filter(col("ca") > 0),
      Seq(col("ca").desc, col("word")), RboK, Some("ra"))
      .select(col("word"), col("ra"))
    val tb = Kernels.topKByCount(cells.filter(col("cb") > 0),
      Seq(col("cb").desc, col("word")), RboK, Some("rb"))
      .select(col("word"), col("rb"))
    val m = ta.join(tb, Seq("word"))
      .select(greatest(col("ra"), col("rb")).as("mx"))
    val wt = s.createDataFrame(RboWeights).toDF("d", "p9")
    val ad = broadcast(wt).join(m, col("mx") <= col("d"), "left")
      .groupBy(col("d"), col("p9")).agg(count(col("mx")).as("a_d"))
    val t = ad.agg(
      sum(floor(col("p9").cast("double") * col("a_d") / col("d") + 0.5)
        .cast("long")).cast("long").as("s9"),
      max(when(col("d") === RboK, col("a_d"))).cast("long").as("a_k"))
    val na = ta.agg(count(lit(1)).as("n_a"))
    val nb = tb.agg(count(lit(1)).as("n_b"))
    t.crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("n_a"), col("n_b"), col("a_k").as("overlap_at_k"),
        (floor((lit(0.1) * (col("s9").cast("double") / 1000000000L))
          * 1000000L + 0.5) / 1000000L).as("rbo"))
  }

  val all: Map[String, QueryDef] = Map(
    "q307_kfold_cv" -> q307KfoldCv,
    "q308_incremental_gold" -> q308IncrementalGold,
    "q309_group_kfold" -> q309GroupKfold,
    "q115_auc" -> q115Auc,
    "q151_score_calibration" -> q151ScoreCalibration,
    "q213_isotonic_calibration" -> q213IsotonicCalibration,
    "q214_ndcg" -> q214Ndcg,
    "q221_brier_decomposition" -> q221BrierDecomposition,
    "q222_mrr_map" -> q222MrrMap,
    "q225_dim_truncation_recall" -> q225DimTruncationRecall,
    "q229_split_finding" -> q229SplitFinding,
    "q231_pr_auc" -> q231PrAuc,
    "q242_calibration_error" -> q242CalibrationError,
    "q244_confusion_panel" -> q244ConfusionPanel,
    "q245_gains_lift" -> q245GainsLift,
    "q247_youden_threshold" -> q247YoudenThreshold,
    "q249_rbo" -> q249Rbo)
}
