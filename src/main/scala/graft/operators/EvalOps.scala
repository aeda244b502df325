package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Exact.{dec, epochDay}

/** Round-13 tranche one: the model-evaluation split machinery a
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

  val all: Map[String, QueryDef] = Map(
    "q307_kfold_cv" -> q307KfoldCv,
    "q308_incremental_gold" -> q308IncrementalGold,
    "q309_group_kfold" -> q309GroupKfold)
}
