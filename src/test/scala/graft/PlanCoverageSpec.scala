package graft

import org.apache.spark.sql.execution.ExplainMode

/** Lock-coverage meta-spec: a gate query can never ship planless
  * again (the q132/q133 round-7 regression — two queries landed in a
  * snapshot commit with no PlanSpec lock and one of them carried a
  * 2-partition global-rank window).
  *
  * Every key in `SparkEntry.queries` must fall in exactly one bucket:
  *   1. LOCKED — named in a PlanSpec test (extracted from the
  *      PlanSpec source, so adding a lock is self-registering);
  *   2. EXEMPT — listed below with a reason (queries whose fn() runs
  *      a driver-side iterative loop, so a blanket explain would
  *      execute the whole training/propagation);
  *   3. BLANKET — everything else gets a floor assertion here: the
  *      sf0.001 physical plan contains no CartesianProduct (the one
  *      anti-pattern that is NEVER right in this engine — every
  *      intended cross join is a broadcast of a scalar/centroid
  *      frame, which plans as BroadcastNestedLoopJoin instead).
  */
class PlanCoverageSpec extends SparkSpec {

  private val planSpecSource = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/scala/graft/PlanSpec.scala")),
    java.nio.charset.StandardCharsets.UTF_8)

  /** Query names a PlanSpec test explains (via plan("…") or a direct
    * SparkEntry.queries("…") build). */
  private val locked: Set[String] =
    """(?:plan|queries|leaves)\("(q[0-9a-z_]+)"\)""".r
      .findAllMatchIn(planSpecSource).map(_.group(1)).toSet

  /** fn() runs a driver-side loop (Lloyd / PageRank / label
    * propagation) whose rounds materialize during plan construction —
    * a blanket explain would execute the full iteration. Their scale
    * shapes are asserted elsewhere, as noted. */
  private val exempt: Map[String, String] = Map(
    "q49_dedup_clusters" -> ("iterative label propagation; result is " +
      "a checkpoint leaf by design (leaf + memo locked by the q133 " +
      "sibling test; per-round algebra in DedupClusterSpec)"),
    "q56_kmeans" -> ("Lloyd rounds materialize inside fn(); centroid " +
      "attach is crossJoin(broadcast(centroids)) by construction"),
    "q81_semantic_keep" -> ("shares q56's training loop; the keep " +
      "filter is a broadcast semi-join on the tiny representative set"),
    "q75_pagerank" -> ("iterative rank rounds materialize inside " +
      "fn(); checkpoint-path equivalence spec'd in Relational3Spec"),
    "q145_top_eigenvector" -> ("fn() runs q144's gram job then the " +
      "driver-side integer power iteration (metadata-sized matrix — " +
      "the bloom-sketch convention); the data-sized plan is q144's, " +
      "which is locked"))

  /** The OTHER anti-pattern the blanket scans for (r8 verdict): a
    * `Window` whose partition spec can only ever take a handful of
    * values, so every row funnels through ≲ a-few reducers — the
    * q132 round-7 regression class (rank over a 2-value pid). The
    * statically-detectable forms:
    *   - empty partition spec (ONE reducer sorts the world);
    *   - constant partition keys (references-free after Catalyst's
    *     foldable propagation — same thing in disguise);
    *   - boolean-typed keys (domain ≤ 2 + null);
    *   - `x % k` / `pmod(x, k)` keys with a small literal k (a
    *     derived bucket id bounds parallelism at k).
    * A partition key that happens to be a low-cardinality DATA column
    * is not statically visible — that class is covered by the
    * individual PlanSpec locks on the two-phase idiom queries.
    * Metadata-sized frames (the offs/counts side of two-phase prefix)
    * legitimately use such windows; those queries get a named
    * exemption with the reason. */
  private def lowCardWindows(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.Window] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, AttributeReference, ExprId, Expression, Literal, Pmod, Remainder}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Project, Window}
    // partition keys are usually attribute refs pointing at an Alias a
    // few Projects below — resolve them to the defining expression so
    // `pid = id % 2` is visible at the Window node
    val aliasMap: Map[ExprId, Expression] = plan.collect {
      case p: Project =>
        p.projectList.collect { case a: Alias => a.exprId -> a.child }
      case a: Aggregate =>
        a.aggregateExpressions.collect { case al: Alias => al.exprId -> al.child }
      case w: Window =>
        w.windowExpressions.collect { case al: Alias => al.exprId -> al.child }
    }.flatten.toMap
    def resolve(e: Expression): Expression = {
      var cur = e
      var i = 0
      var changed = true
      while (changed && i < 10) {
        val next = cur.transformUp {
          case ar: AttributeReference if aliasMap.contains(ar.exprId) =>
            aliasMap(ar.exprId)
        }
        changed = !(next fastEquals cur)
        cur = next
        i += 1
      }
      cur
    }
    val smallMod: PartialFunction[Expression, Boolean] = {
      case Remainder(_, Literal(k: Long, _), _) => k <= 64
      case Remainder(_, Literal(k: Int, _), _) => k <= 64
      case Pmod(_, Literal(k: Long, _), _) => k <= 64
      case Pmod(_, Literal(k: Int, _), _) => k <= 64
    }
    plan.collect {
      case w: Window if w.partitionSpec.isEmpty || w.partitionSpec.forall {
        raw =>
          val e = resolve(raw)
          e.references.isEmpty ||
            e.dataType == org.apache.spark.sql.types.BooleanType ||
            smallMod.lift(e).getOrElse(false)
      } => w
    }
  }

  /** The structural half of every windowExempt claim (r12 verdict
    * #2: "the blanket trusts prose, not plans"). Each exemption
    * below argues its low-card window runs over a COLLAPSED frame;
    * that is a plan property, so the blanket now verifies it: no
    * data-sized leaf may be reachable from the Window's child
    * without crossing an Aggregate (the "runs over the AGGREGATE"
    * claims), a literal limit cap <= 1024 (the limit-then-rank
    * claims, q249), or bottoming out in a LocalRelation/
    * OneRowRelation (literal dimension tables, q139's stage dim).
    * A future edit that invalidates a prose argument now FAILS the
    * blanket instead of passing on stale text. */
  private def windowGuarded(
      w: org.apache.spark.sql.catalyst.plans.logical.Window): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LeafNode, LocalLimit, LocalRelation,
      LogicalPlan, OneRowRelation}
    def guarded(n: LogicalPlan): Boolean = n match {
      case _: Aggregate => true
      case GlobalLimit(Literal(k: Int, _), _) if k <= 1024 => true
      case LocalLimit(Literal(k: Int, _), _) if k <= 1024 => true
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case _: LeafNode => false
      case other => other.children.forall(guarded)
    }
    guarded(w.child)
  }

  /** Blanket queries allowed a suspicious-looking window, with the
    * reason (all: the window runs over a METADATA-sized frame — the
    * per-prefix-partition offs/counts rollup of the two-phase idiom,
    * one row per shuffle partition — not over data). Each entry's
    * structural claim is verified by `windowGuarded` in the blanket
    * scan — the prose here carries the WHY, the plan check carries
    * the proof. */
  private val windowExempt: Map[String, String] = Map(
    "q139_filter_cascade" -> ("the unpartitioned cumulative-survivors " +
      "window runs over the 4-row stage dimension joined to a ≤5-row " +
      "first-fail aggregate — metadata-sized by construction (the " +
      "data-sized work is the one scan + map-side token counting " +
      "feeding that aggregate)"),
    "q194_token_budget" -> ("the unpartitioned water-fill prefix " +
      "(cumcap/cumw over cap/weight order) runs over the per-source " +
      "capacity AGGREGATE — one row per source, metadata-sized by " +
      "construction; the data-sized work is the single tokenization " +
      "pass feeding that aggregate"),
    "q213_isotonic_calibration" -> ("the prefix-sum and cummax windows " +
      "run over the ≤|bands| reliability-cell AGGREGATE (scores band " +
      "to whole currency units — value-range-bounded metadata); the " +
      "data-sized work is the one banded count feeding it"),
    "q214_ndcg" -> ("the unpartitioned popularity rank runs over the " +
      "≤|event types| margin AGGREGATE (metadata); the per-user ideal " +
      "rank partitions on user_id (a real key) with the limit pushed"),
    "q234_good_turing" -> ("the unpartitioned lead() runs over the " +
      "frequency-of-frequencies AGGREGATE — one row per distinct " +
      "bigram count, O(√tokens) rows (Σ over distinct r of r ≤ N " +
      "bounds the count) — doubly-collapsed metadata; the data-sized " +
      "work is the bigram pass feeding it"),
    "q239_vocab_jaccard" -> ("the unpartitioned source-bit rank runs " +
      "over SELECT DISTINCT source — ≤|sources| rows by construction; " +
      "the data-sized work is the distinct (source, word) pass and " +
      "the per-word bitmask fold, both plain aggregates"),
    "q243_sprt" -> ("the unpartitioned cumulative LLR walk runs over " +
      "arm B's (day) AGGREGATE — one row per calendar day, " +
      "time-range-bounded metadata; the data-sized work is the one " +
      "(arm, day) cell pass feeding it"),
    "q249_rbo" -> ("both unpartitioned rank windows run AFTER a " +
      "limit-50 cap (the topKByCount limit-then-rank idiom: " +
      "TakeOrderedAndProject feeds them ≤50 rows); the data-sized " +
      "work is the one tokenization pass into per-word half-counts"),
    "q250_pettitt" -> ("the rank and prefix windows run over the " +
      "daily-revenue AGGREGATE — one row per calendar day, " +
      "time-range-bounded metadata (the q243 argument); the " +
      "data-sized work is the one orders pass into day cells"),
    "q254_bh_fdr" -> ("the BH rank and reverse-cummin windows run " +
      "over the per-day test AGGREGATE — one row per calendar day, " +
      "time-range-bounded metadata (the q243 argument); the " +
      "data-sized work is the one events pass into day cells"),
    "q299_segmented_fit" -> ("the day index and prefix-moment windows " +
      "run over the daily-revenue AGGREGATE — one row per calendar " +
      "day, time-range-bounded metadata (the q250 argument); the " +
      "data-sized work is the one orders pass into day cells, and " +
      "the breakpoint argmin is TakeOrdered(1)"),
    "q304_break_confidence" -> ("reads q299's SSE curve through the " +
      "SHARED SeriesOps.sseCandidates frame — the same day-index " +
      "and prefix-moment windows over the daily-revenue AGGREGATE " +
      "(q299's exemption, one shared instance); everything downstream " +
      "is a broadcast scalar against the <= |days| candidate frame"))

  test("every gate query is locked, exempted with a reason, or blanket-scanned") {
    val all = SparkEntry.queries.keySet
    val stale = (locked ++ exempt.keySet ++ windowExempt.keySet) -- all
    assert(stale.isEmpty, s"locks/exemptions for unknown queries: $stale")
    val doubly = locked.intersect(exempt.keySet)
    assert(doubly.isEmpty, s"both locked and exempt (drop the exemption): $doubly")

    val blanket = (all -- locked -- exempt.keySet).toSeq.sorted
    val offenders = blanket.flatMap { name =>
      val qe = SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution
      // r11 verdict #1: cache substitution replaces every cached
      // subframe with an InMemoryRelation LEAF, so anything upstream
      // of a `.cache()` was invisible to this scan (q238 hid an
      // uncapped global-rank window there for a round). fn() only
      // REGISTERS its caches — the plan is still unresolved here —
      // so evicting them before the first plan access makes the
      // optimizer see the full pre-cache-substitution plan. Eviction
      // is hygiene-safe (suites run sequentially in the forked JVM;
      // a later materialization simply re-caches).
      CacheHygiene.sweep(spark)
      val p = qe.explainString(ExplainMode.fromString("formatted"))
      val cart = p.contains("CartesianProduct")
      val wins = lowCardWindows(qe.optimizedPlan)
      if (cart) Some(s"$name(cartesian)")
      else if (windowExempt.contains(name) && !wins.forall(windowGuarded))
        Some(s"$name(exempt window's collapsed-input claim violated)")
      else if (!windowExempt.contains(name) && wins.nonEmpty)
        Some(s"$name(low-card window)")
      else None
    }
    assert(offenders.isEmpty,
      s"anti-patterns in gate-query plans: $offenders")
    // coverage is total by construction; report the partition sizes so
    // a failing diff is easy to read
    info(s"locked=${locked.size} exempt=${exempt.size} blanket=${blanket.size}")
  }

  test("the low-cardinality-window detector actually fires (planted fixtures)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    def flagged(df: org.apache.spark.sql.DataFrame) = {
      // same pre-scan eviction as the blanket: a registered cache
      // must not occlude the subframe under inspection
      CacheHygiene.sweep(spark)
      lowCardWindows(df.queryExecution.optimizedPlan).nonEmpty
    }
    val base = spark.range(100).toDF("id")
    // 2-value derived pid — the exact q132 r7 shape
    val modWin = base.withColumn("pid", col("id") % 2)
      .withColumn("r", row_number().over(W.partitionBy("pid").orderBy("id")))
    assert(flagged(modWin), "id % 2 partition window must be flagged")
    // empty partition spec — one reducer sorts everything
    val globalWin = base
      .withColumn("r", row_number().over(W.orderBy("id")))
    assert(flagged(globalWin), "empty-partition window must be flagged")
    // boolean flag partition
    val boolWin = base.withColumn("f", col("id") > 50)
      .withColumn("r", row_number().over(W.partitionBy("f").orderBy("id")))
    assert(flagged(boolWin), "boolean-partition window must be flagged")
    // constant partition (foldable propagation inlines the literal)
    val litWin = base.withColumn("p", lit(1))
      .withColumn("r", row_number().over(W.partitionBy("p").orderBy("id")))
    assert(flagged(litWin), "literal-partition window must be flagged")
    // and the healthy shape does NOT fire: partition by a real key column
    val okWin = base
      .withColumn("r", row_number().over(W.partitionBy("id").orderBy("id")))
    assert(!flagged(okWin), "attribute-keyed window must pass")
    // the r11 q238 occlusion class: the global window sits BEHIND a
    // .cache() boundary and a downstream layer reads the cached frame
    // — substitution would swallow it into an InMemoryRelation leaf;
    // the pre-scan eviction must keep it visible
    val cachedWin = base
      .withColumn("r", row_number().over(W.orderBy("id"))).cache()
    val downstream = cachedWin.filter(col("r") <= 5).select("id")
    assert(flagged(downstream),
      "a cached global-window subframe must be flagged")
    // and limit-then-rank (the fix idiom) behind a cache still passes:
    // the surviving window is over the capped ≤k-row frame — but it IS
    // an empty-partition window, so it must be exempted or locked when
    // used in a gate query; here we only assert the cap is visible
    val cappedTop = base.orderBy(col("id").desc).limit(5)
    assert(!lowCardWindows(
      { CacheHygiene.sweep(spark); cappedTop.queryExecution.optimizedPlan })
      .nonEmpty, "TakeOrdered cap without a rank must pass")
  }

  test("the exemption guard verifies structure, not prose (planted fixtures)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    def guards(df: org.apache.spark.sql.DataFrame): Seq[Boolean] = {
      CacheHygiene.sweep(spark)
      lowCardWindows(df.queryExecution.optimizedPlan).map(windowGuarded)
    }
    val scan = Tables.lineitem(spark, sf("sf0.001"))
    // the violated-claim shape: a global window DIRECTLY over the
    // data-sized scan — an exemption whose "runs over the aggregate"
    // prose this plan contradicts must now fail the blanket
    val bare = scan
      .withColumn("r", row_number().over(W.orderBy("l_orderkey")))
    assert(guards(bare) == Seq(false),
      "a global window straight over a parquet scan must be UNGUARDED")
    // the claimed shape: the same window over the day-style AGGREGATE
    val agg = scan.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"))
      .withColumn("r", row_number().over(W.orderBy("l_returnflag")))
    assert(guards(agg) == Seq(true),
      "a global window over an aggregate of the scan must be guarded")
    // the limit-then-rank shape (q249's claim): cap before the rank
    val capped = scan.orderBy(col("l_extendedprice").desc).limit(50)
      .withColumn("r", row_number().over(W.orderBy(col("l_extendedprice").desc)))
    assert(guards(capped) == Seq(true),
      "a global window over a <=1024-row limit cap must be guarded")
    // an agg SIBLING does not launder a raw-scan input: agg JOIN scan
    // under the window still reaches the leaf uncollapsed
    val half = scan.groupBy(col("l_returnflag")).agg(count(lit(1)).as("c"))
    val joined = scan.join(broadcast(half), Seq("l_returnflag"))
      .withColumn("r", row_number().over(W.orderBy("l_orderkey")))
    assert(guards(joined) == Seq(false),
      "an aggregate sibling must not guard a window that still sees the scan")
  }
}
