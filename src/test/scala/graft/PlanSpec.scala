package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regressions: the scale properties the engine is
  * designed around must survive refactors — filters/projections reach
  * the scan, dims broadcast, top-k avoids global sorts, aggregates
  * split partial/final, window rank limits push down.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q2: range filters and projection reach the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)"), p)
    // pruned read schema — no columns beyond the 6 needed
    val schemaLine = p.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(!schemaLine.contains("l_shipdate") && !schemaLine.contains("l_tax"),
      schemaLine)
  }

  test("q3/q4: dimension joins are broadcast, not shuffled") {
    assert(plan("q3_join_broadcast_left").contains("BroadcastHashJoin"))
    val p4 = plan("q4_join_multi")
    assert(p4.contains("BroadcastHashJoin"), p4)
    assert(!p4.contains("SortMergeJoin"), p4) // all dims fit broadcast here
  }

  test("q1: aggregation plans partial+final HashAggregate") {
    val p = plan("q1_agg_rollup")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("Exchange"), p)
  }

  test("q7: top-k is TakeOrderedAndProject (no global sort)") {
    val p = plan("q7_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("\nSort "), p)
  }

  test("q6: rank filter pushes WindowGroupLimit below the shuffle") {
    val p = plan("q6_window_latest")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q25: rank()-filter also gets partial+final WindowGroupLimit") {
    // rank (not just row_number) must push the per-group top-k below
    // the window exchange: a Partial WindowGroupLimit on the map side
    // caps each partition's contribution at k rows per group
    val p = plan("q25_rank")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains(", 3, Partial"), p)
    assert(p.contains(", 3, Final"), p)
  }

  test("q38/q39: curation top-k and vocab top-k keep their scale shapes") {
    // per-language top-k: partial WindowGroupLimit caps each partition's
    // contribution before the window shuffle
    val p38 = plan("q38_curate_topk")
    assert(p38.contains("WindowGroupLimit"), p38)
    // global top-100: TakeOrderedAndProject, never a global sort
    val p39 = plan("q39_vocab_topk")
    assert(p39.contains("TakeOrderedAndProject"), p39)
    assert(!p39.contains("\nSort "), p39)
  }

  test("q50: query side broadcasts against a single corpus scan") {
    val p = plan("q50_ann_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    // formatted mode marks codegen'd operators with "[codegen id : N]"
    val p = plan("q2_filter_project")
    assert(p.contains("[codegen id :"), p)
  }

  test("q57: winnowing is map-only — no exchange anywhere in the plan") {
    val p = plan("q57_winnow")
    assert(!p.contains("Exchange"), p)
  }

  test("q58: bloom pre-filter drops corpus grams before any shuffle") {
    // find the FilterExec carrying the might_contain predicate and
    // assert nothing below it shuffles: the corpus side must shed
    // non-candidate grams inside its scan stage, so the only corpus
    // exchange (the final aggregate's) sees the candidate sliver only
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val wrapped = SparkEntry.queries("q58_bloom_decontam")(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    // AQE's wrapper node has no children — collect() would see nothing
    val root = wrapped match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bloomFilters = root.collect {
      case f: FilterExec
          if f.condition.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
    }
    assert(bloomFilters.nonEmpty, root.toString)
    bloomFilters.foreach { f =>
      val shufflesBelow = f.child.collect { case s: ShuffleExchangeLike => s }
      assert(shufflesBelow.isEmpty,
        s"bloom filter must be scan-side, found shuffle below it:\n$f")
    }
  }

  test("q2n: grouping sets plan one Expand + partial/final aggregate") {
    val p = plan("q2n_grouping_sets")
    assert(p.contains("Expand"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q2p: array higher-order functions are map-only — no exchange") {
    val p = plan("q2p_array_ops")
    assert(!p.contains("Exchange"), p)
  }

  // formatted explain prints every operator twice (tree line + detail
  // header "(N) Op"); count the detail headers for an exact node count
  private def nodes(p: String, op: String): Int =
    s"\\(\\d+\\) $op".r.findAllIn(p).length

  test("q2q: explode runs as a Generate, shuffling only for the aggregate") {
    val p = plan("q2q_explode_vocab")
    assert(nodes(p, "Generate") == 1, p)
    // word-count + distinct-doc count: at most the two aggregate
    // exchanges, never a pre-generator materialization
    assert(nodes(p, "Exchange") <= 2, p)
  }

  test("q2s: window value functions need exactly one shuffle") {
    val p = plan("q2s_first_last")
    assert(nodes(p, "Exchange") == 1, p)
  }

  test("q73: salted aggregate keeps partial combine on both phases") {
    // two groupBys → two exchanges max, with map-side partials (≥2
    // HashAggregates per phase: partial below, final above)
    val p = plan("q73_salted_agg")
    assert(nodes(p, "Exchange") <= 2, p)
    assert(nodes(p, "HashAggregate") >= 3, p)
  }

  test("q80: fuzzy join fans out before the generators, attaches names broadcast") {
    val p = plan("q80_fuzzy_join")
    // both exploded streams (segment index + substring probes) must
    // sit above an explicit round-robin exchange — a single-split dim
    // would otherwise generate and verify on one core
    assert(p.contains("REPARTITION_BY_NUM"), p)
    // the name re-attach joins on the id are broadcasts of the dim
    assert(p.contains("BroadcastHashJoin"), p)
    // the segment-key candidate join is an equi-join, never a loop
    // join (PassJoin's whole point is an exact key)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q82: resample generates the grid without a pre-shuffle, fills in one window") {
    val p = plan("q82_resample_ffill")
    assert(nodes(p, "Generate") == 1, p)
    assert(nodes(p, "Window") == 1, p)
  }

  test("q86: co-occurrence pairs are generated map-side — no self-join") {
    val p = plan("q86_copurchase")
    // the whole query is two aggregates and a generator; a Join node
    // would mean the bp-self-join shape snuck back in
    assert(!p.contains("Join"), p)
    assert(nodes(p, "Generate") >= 1, p)
  }

  test("q91: weighted sample runs on a range partition, windows stay keyed") {
    val p = plan("q91_weighted_sample")
    // the distributed prefix sum needs the explicit range exchange...
    assert(p.contains("rangepartitioning"), p)
    // ...and every Window over ROW data must be partitioned; the only
    // unpartitioned window runs on the partition-count offset frame,
    // which aggregates (HashAggregate) before its window — assert the
    // data-path window keys on the partition id
    assert(p.contains("windowspecdefinition(pid"), p)
  }

  test("q87: the whole SCD2 build rides ONE entity-keyed exchange") {
    val p = plan("q87_scd2")
    // window (user), rollup (user, version), chain window (user): the
    // user_id hash partitioning satisfies all three stages' clustering
    // requirements, so exactly one shuffle may appear
    assert(nodes(p, "Exchange") == 1, p)
    // lag (offset frame), running sum (unbounded frame), and the
    // version chain are three Window nodes — same partitioning, so
    // still zero extra shuffles
    assert(nodes(p, "Window") == 3, p)
  }

  test("q90: passage overlap has no pair join — only keyed aggregates") {
    val p = plan("q90_passage_overlap")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // chunk generation is a Generate; dedup/df/rollup are aggregates
    assert(nodes(p, "Generate") >= 1, p)
  }

  test("q92: the skyline never plans a join — dominance is all windows") {
    val p = plan("q92_skyline")
    // the O(n²) NOT EXISTS shape would surface as a nested-loop or
    // cartesian join; the two-phase prefix-minima form has none
    assert(!p.contains("Join"), p)
    assert(nodes(p, "Window") >= 2, p)
  }

  test("q100: interval merge rides one exchange; both windows share it") {
    val p = plan("q100_interval_merge")
    // running-max (offset frame) + island sum (unbounded frame) are
    // two Window nodes over the same (user, s, event_id) sort — one
    // user-keyed shuffle serves both plus the island rollup
    assert(nodes(p, "Exchange") == 1, p)
    assert(nodes(p, "Window") == 2, p)
  }

  test("q101/q102: graph expansion never plans an unbounded join") {
    for (q <- Seq("q101_khop", "q102_item_sim")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
    // top-3 neighbors must cap via WindowGroupLimit, never a full
    // per-item sort materialization. The Partial/Final pair only
    // materializes when the window input crosses an exchange; at
    // fixture SF the tiny dir side broadcasts and a single node caps
    // locally — at scale the split re-emerges with the shuffle
    val p2 = plan("q102_item_sim")
    assert(p2.contains("WindowGroupLimit"), p2)
  }

  test("q103: the PIT lookup is joinless — union + window, two exchanges") {
    val p = plan("q103_pit_join")
    // interval containment against the tiling SCD2 dimension rides
    // the as-of composition: NO join operator of any kind, one
    // exchange for the dimension build (user partitioning satisfies
    // both the version rollup and the same-µs collapse), one for the
    // tagged union's carry window
    assert(!p.contains("Join"), p)
    assert(nodes(p, "Exchange") == 2, p)
  }

  test("q104: the A/B scorecard is one partial+final aggregate pass") {
    val p = plan("q104_ab_test")
    assert(nodes(p, "Exchange") == 1, p)
    assert(nodes(p, "HashAggregate") == 2, p)
  }

  test("q105: MAD passes share one cached scan; stat attaches broadcast") {
    val p = plan("q105_mad_outliers")
    // the median/deviation frames are cached — consumers read the
    // InMemoryRelation, not fresh parquet scans — and the tiny
    // per-type med/mad frames attach via broadcast, never sort-merge
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q106: growth accounting is two shuffles; churn emits map-side") {
    val p = plan("q106_growth_accounting")
    // one user-keyed exchange feeds the day-first flag AND the
    // prev/next-day lags; the single-pass explode (Generate) emits
    // activity + churn rows without re-computing the windowed frame;
    // the day rollup is the only other exchange
    assert(nodes(p, "Exchange") == 2, p)
    assert(nodes(p, "Generate") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q107: attribution is the joinless as-of shape plus one rollup") {
    val p = plan("q107_attribution")
    assert(!p.contains("Join"), p)
    assert(nodes(p, "Exchange") == 2, p)
    assert(nodes(p, "Window") == 1, p)
  }

  test("q108: association rules never plan a cartesian pair join") {
    val p = plan("q108_assoc_rules")
    // pairs come from the capped map-side basket generator (q86's
    // shape), never a fact-table self-join; the only loop join allowed
    // is the broadcast of the 1-row basket-count normalizer
    assert(!p.contains("CartesianProduct"), p)
    assert(nodes(p, "Generate") >= 1, p)
  }

  test("q109: PMI collocations are map-side explodes, never a self-join") {
    val p = plan("q109_pmi_collocations")
    // unigrams and adjacent pairs each come from one explode over the
    // token arrays (∝ corpus tokens); the unigram-count attach is an
    // equi-join; the only loop join allowed is the broadcast of the
    // 1-row token-count normalizer
    assert(!p.contains("CartesianProduct"), p)
    assert(nodes(p, "Generate") >= 2, p)
    // top-100 never plans a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q113: Benford is one partial+final digit rollup + broadcast total") {
    val p = plan("q113_benford")
    // the 9-row digit histogram aggregates partial+final; the grand
    // total attaches as a broadcast 1-row frame — no shuffled join of
    // any kind, and never a cartesian
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("q110: the radius join is a grid-cell equi-join, never a loop join") {
    val p = plan("q110_geo_join")
    // the O(n·m) cross-distance shape must not appear: blocking turns
    // it into a hash join on the (gx, gy) cell key
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q111: EWMA is one user-keyed exchange and one fused Window") {
    val p = plan("q111_ewma")
    // row_number and the 20-row collect_list frame sort identically —
    // Spark fuses them into a single Window node over one shuffle
    assert(nodes(p, "Exchange") == 1, p)
    assert(nodes(p, "Window") == 1, p)
  }

  test("q112: global ranks run the two-phase range pattern, pinned by cache") {
    val p = plan("q112_rfm")
    // three global row_numbers → range repartitions, never a
    // single-task all-rows Window.orderBy over the user frame
    assert(p.contains("rangepartitioning"), p)
    // the stamped frame must branch from ONE materialized assignment
    // (the q112-quartile-5 regression): both consumers read the cache
    assert(p.contains("InMemoryTableScan"), p)
    // every data-path window is partitioned by __pid; the only
    // unpartitioned window runs on the metadata-sized offset frame
    assert(p.contains("windowspecdefinition(__pid"), p)
  }

  test("q114: session paths assemble on ONE user-keyed exchange") {
    val p = plan("q114_session_paths")
    // flags, running session index, rn, and the session-start carry
    // all share the user sort; the only other exchanges are the two
    // path rollups; top-50 is TakeOrderedAndProject, no global sort
    assert(nodes(p, "Window") >= 3, p)
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(nodes(p, "Exchange") <= 3, p)
  }

  test("q115: AUC prefix sum runs range-partitioned, never a global window") {
    val p = plan("q115_auc")
    // the distinct-score frame is data-sized: negBelow must come from
    // the two-phase range pattern (q91/q112), with the stamped frame
    // pinned so both branches read one partition assignment; the only
    // join is the broadcast of the metadata-sized offset table
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q116: trigram scoring is one explode + keyed equi-joins, no loops") {
    val p = plan("q116_trigram_quality")
    // trigrams come from a map-side explode (∝ corpus tokens); the
    // count attach is an equi-join on the trigram key — never a
    // cartesian or nested-loop shape
    assert(nodes(p, "Generate") >= 1, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q119: bounded-staleness as-of stays joinless — union + one window") {
    val p = plan("q119_asof_tolerance")
    // the tolerance is a map-side projection over q2g's shape: still
    // no join anywhere, one union-keyed window pass
    assert(!p.contains("Join"), p)
    assert(nodes(p, "Window") == 1, p)
    assert(p.contains("Union"), p)
  }

  test("q120: forward as-of is the same joinless union+window shape") {
    val p = plan("q120_asof_forward")
    assert(!p.contains("Join"), p)
    assert(nodes(p, "Window") == 1, p)
    assert(p.contains("Union"), p)
  }

  test("q118: jw linkage keeps q80's compressed-space shape") {
    val p = plan("q118_jw_linkage")
    // the jw verify runs on the distinct candidate NAME pairs (q80's
    // PassJoin blocking), never per id pair, and the expansion joins
    // attach names broadcast — no cartesian anywhere
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("graft.functions.TextExpressions.jaroWinklerScore") ||
      p.contains("jarowinkler") || p.contains("JaroWinkler"), p)
  }

  test("q117: chi² margins derive from the cell frame — one data-sized agg") {
    val p = plan("q117_chi2_drift")
    // the 35-cell contingency aggregate is the only data-sized work;
    // margins/N come from the cell frame and attach broadcast — no
    // shuffled join or cartesian anywhere
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q121: both fusion rankings run range-partitioned; top-10 is TakeOrdered") {
    val p = plan("q121_hybrid_rrf")
    // the BM25 and cosine global ranks use the q112 two-phase prefix
    // pattern — never a single-task ORDER BY window over a data-sized
    // frame; the only loop join is the broadcast 1-row query vector
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q122: cohort LTV is joinless — one window + rollup aggregates") {
    val p = plan("q122_cohort_ltv")
    // the cohort month derives from a window min over o_custkey (no
    // join against a first-order frame); the cumulative sum's window
    // sees only the (cohort, age) rollup
    assert(!p.contains("Join"), p)
    assert(nodes(p, "Window") == 2, p)
    assert(nodes(p, "HashAggregate") >= 2, p)
  }

  test("q123: seasonal anomaly caches branch points, never a loop join") {
    val p = plan("q123_seasonal_anomaly")
    // the ranked-scan and deviation frames each materialize once and
    // feed both their median pick and their downstream consumer
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q124: containment pairs come from map-side generators, no self-join") {
    val p = plan("q124_containment")
    // shingle explode, postings pair explode, direction explode — the
    // candidate stream never plans a shingle-table self-join and the
    // count attach is an equi-join
    assert(nodes(p, "Generate") >= 3, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q125: recall eval keeps both top-5 selections as WindowGroupLimit") {
    val p = plan("q125_recall_eval")
    // both rankings keep their partial+final rank pushdown; the only
    // loop join is q50's documented broadcast query-set scan
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q126: recommendations are equi-joins + anti-join + WindowGroupLimit") {
    val p = plan("q126_recommend")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.toLowerCase.contains("leftanti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q127: BPE rounds run on checkpointed dictionary state, winner broadcast") {
    val p = plan("q127_bpe_train")
    // corpus touched once: every training round reads the round's
    // CHECKPOINTED word dictionary (localCheckpoint truncates the
    // lambda lineage — a cached chain cost ~16 s of pure Catalyst
    // planning at ANY data size); the per-round winner attaches as a
    // broadcast 1-row frame; pair generation is a map-side explode
    assert(p.contains("Scan ExistingRDD"), p)
    assert(nodes(p, "Generate") >= 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q128: encode reads the checkpointed final state; corpus-side joins only") {
    val p = plan("q128_bpe_encode")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(nodes(p, "HashAggregate") >= 2, p)
  }

  test("q129: top-1000 vocabulary pick is TakeOrdered, regression constant-sized") {
    val p = plan("q129_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q130: survivorship picks are WindowGroupLimit over one cached attach") {
    val p = plan("q130_survivorship")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q131: multi-touch credit is joinless prefix counts, never a pair join") {
    val p = plan("q131_multi_touch")
    // round-9 skew fix: the only pairing machinery allowed is the
    // as-of union + running-count window — a purchase×touch join
    // (even a user-keyed equi-join) fans out per-user activity² and
    // measured 15.9× under the planted hot user. The one remaining
    // join attaches the per-purchase n_touch margin BY PURCHASE ID —
    // keys are unique, no fan-out.
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Union"), p)
    assert(p.contains("windowspecdefinition(user_id"), p)
  }

  test("q132: per-step latency ranks run the two-phase range pattern") {
    val p = plan("q132_funnel_latency")
    // the converted-user latency frame is data-sized and `step` has
    // exactly TWO values — the global per-step rank must come from
    // range partitions on (step, lat_us, …) with partition-local
    // row_numbers (windowed by __pid) plus a broadcast offset attach,
    // never a 2-partition Window.partitionBy(step) single-reducer sort
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("InMemoryTableScan"), p) // pinned partition stamp
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("BroadcastHashJoin"), p) // offset/count attach
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q133: semantic clusters are a checkpoint leaf, shared per session") {
    import org.apache.spark.sql.execution.LogicalRDD
    // the label-propagation loop checkpoints every round, so the
    // RESULT plan must be a (projected) LogicalRDD leaf — the O(1)
    // plan-size design (the cache-based variant grew the logical tree
    // ~4× per jump round: 6.5 GB of catalyst trees by round 9)
    def leaves(name: String): Seq[Int] =
      SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.analyzed.collect {
          case lr: LogicalRDD => lr.rdd.id
        }.toSeq
    val first = leaves("q133_semantic_clusters")
    assert(first.nonEmpty, "q133 must return a localCheckpoint-backed leaf")
    // and the memoized canonical frame is SHARED: a second build must
    // reuse the same checkpointed RDD, not re-run the propagation
    assert(leaves("q133_semantic_clusters") == first,
      "canonical frame must be memoized per (session, sfDir)")
  }

  test("q134/q135: grouped prefix runs range-partitioned, never per-group windows") {
    // both use Kernels.groupedPrefixSum: segment/flag has ≤5
    // values, so the rank/cumsum must come from range partitions with
    // the group LEADING the range key — partition-local windows over
    // (__pid, group), broadcast offset attach, no single-reducer sort
    for (q <- Seq("q134_gini", "q135_weighted_median")) {
      val p = plan(q)
      assert(p.contains("rangepartitioning"), s"$q\n$p")
      assert(p.contains("windowspecdefinition(__pid"), s"$q\n$p")
      assert(p.contains("InMemoryTableScan"), s"$q\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q\n$p")
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
    }
  }

  test("q138/q141: both dedup reports read the SAME memoized canonical leaf") {
    import org.apache.spark.sql.execution.LogicalRDD
    def leaves(name: String): Set[Int] =
      SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.analyzed.collect {
          case lr: LogicalRDD => lr.rdd.id
        }.toSet
    val a = leaves("q138_cluster_sizes")
    val b = leaves("q141_cross_source_dups")
    assert(a.nonEmpty, "q138 must read the checkpoint-backed canonical frame")
    assert((a & b).nonEmpty,
      "q138 and q141 must share one canonical materialization per session")
  }

  test("q140: calibration attaches truth by shingle equi-joins, no cartesian") {
    val p = plan("q140_sketch_calibration")
    // the candidate pairs are LSH-bounded (q42); the exact-Jaccard
    // attach must be shingle/doc-keyed equi-joins over the pair frame
    assert(nodes(p, "Generate") >= 1, p) // map-side shingle explode
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q142: the melt is a map-side Generate feeding one partial+final agg") {
    val p = plan("q142_unpivot")
    assert(nodes(p, "Generate") >= 1, p) // stack(), inside the scan stage
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("Join"), p) // reshaping must not plan a join
  }

  test("q143: per-user best pick pushes WindowGroupLimit; top-20 is TakeOrdered") {
    val p = plan("q143_streaks")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q144: gram matrix shuffles ONE pre-combined gram state") {
    val p = plan("q144_gram_matrix")
    // r13 shape: the d(d+1)/2 products run as a fused loop inside the
    // GramCells TypedImperativeAggregate, which MUST pre-combine
    // map-side and merge across the exchange (ObjectHashAggregate
    // partial/final) — the shuffle carries one constant-size state
    // per partition however many vectors flow through; the cells
    // explode AFTER the aggregate (one Generate over ≤2080 rows)
    assert(p.toLowerCase.contains("gramcells"), p)
    assert(nodes(p, "ObjectHashAggregate") >= 2, p)
    assert(nodes(p, "Generate") >= 1, p)
    assert(nodes(p, "Exchange") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q146: purity majority pick is WindowGroupLimit over the count frame") {
    val p = plan("q146_cluster_purity")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("InMemoryTableScan"), p) // lc frame branches twice
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q147: readability is map-only — no exchange anywhere in the plan") {
    val p = plan("q147_readability")
    assert(!p.contains("Exchange"), p)
  }

  test("q148: degree histogram is equi-joined pairs + partial/final aggs") {
    val p = plan("q148_degree_dist")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q149: the sketch aggregate plans partial+final — merge, not re-scan") {
    val p = plan("q149_source_sketch_sim")
    // the TypedImperativeAggregate must pre-combine map-side and
    // merge across the exchange (ObjectHashAggregate partial/final);
    // source pairs then compare SKETCHES — no shingle-level join
    // between sources anywhere
    assert(p.toLowerCase.contains("minhashsketch"), p)
    assert(nodes(p, "ObjectHashAggregate") >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q154: hll registers plan partial+final — 1 KB state merge, not re-scan") {
    val p = plan("q154_hll_distinct")
    // the register sketch must pre-combine map-side and merge across
    // the exchange, exactly like q149's MinHash sibling — per-group
    // state is 1024 bytes regardless of group size
    assert(p.toLowerCase.contains("hllregisters"), p)
    assert(nodes(p, "ObjectHashAggregate") >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q159: per-period ranks run the grouped two-phase range pattern") {
    val p = plan("q159_decile_migration")
    // `period` has exactly TWO values — the q132 single-reducer class;
    // the rank must come from range partitions with (pid, period)-
    // local windows plus a broadcast offset attach
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("InMemoryTableScan"), p) // pinned partition stamp
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q158: all KL margins derive from ONE pinned token-count pass") {
    val p = plan("q158_unigram_kl")
    // tc/sm/gl and the dense left join must all read the cached
    // (source, tok, c_s) aggregate — uncached, each branch re-explodes
    // the corpus (4 parquet scans measured in the r9 plan audit)
    assert(nodes(p, "InMemoryTableScan") >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q162: heavy hitters = sketch pass + candidate-only exact verify") {
    val p = plan("q162_heavy_hitters")
    // pass 1 must be the constant-state MG aggregate (partial+final);
    // pass 2's exact count must be candidate-filtered via a broadcast
    // semi-join — never a full-cardinality token GROUP BY
    assert(p.toLowerCase.contains("misragries"), p)
    assert(nodes(p, "ObjectHashAggregate") >= 2, p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q160: degree sketch pre-combines 256 B register state, not id sets") {
    val p = plan("q160_degree_sketch")
    // the escape-hatch trade q148's doc promises: the per-item
    // neighbor aggregate must be the HLL register merge (constant
    // state) planned partial+final — never exact countDistinct's
    // expand/dedup machinery
    assert(p.toLowerCase.contains("hllregisters"), p)
    assert(nodes(p, "ObjectHashAggregate") >= 2, p)
    assert(!p.toLowerCase.contains("countdistinct") &&
      !p.contains("CartesianProduct"), p)
  }

  test("q150: both rank-1 picks stay WindowGroupLimit; candidates LSH-bounded") {
    val p = plan("q150_knn_confusion")
    assert(p.contains("WindowGroupLimit"), p) // top-5 and majority picks
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q151: calibration deciles ride the two-phase global rank") {
    val p = plan("q151_score_calibration")
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q152: the two-timeline merge is JOINLESS — union + entity windows") {
    val p = plan("q152_interval_align")
    // the naive encoding (interval x interval ON overlap) would plan
    // a quadratic theta join; this shape must stay a union of change
    // sets with forward-fill windows on entity-keyed exchanges, and
    // both branches must read ONE cached dedup pass (uncached, the
    // union re-planned the scan + (cust, day) exchange per branch)
    assert(!p.contains("Join"), p)
    assert(nodes(p, "Window") >= 3, p)
    assert(p.contains("Union"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q153: both KS CDFs ride ONE range-partitioned prefix pass") {
    val p = plan("q153_ks_drift")
    // the distinct-score frame is data-sized: both cumulative counts
    // must come from one two-phase range pass (never a single-task
    // global window), sharing one pinned partition stamp
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q166: exact ranks ride the grouped two-phase prefix; sketch is one hash agg") {
    val p = plan("q166_histogram_quantiles")
    // the per-type rank must be the grouped range-partitioned prefix
    // (event_type has ~5 values — a partitionBy(event_type) window
    // over raw events would funnel the population through 5 tasks),
    // and the histogram build must be an ordinary partial+final hash
    // aggregate (the bucket counts ARE the mergeable sketch)
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q167: split audit is two aggregates + one hash-keyed window, no joins") {
    val p = plan("q167_split_leakage")
    // dup groups collapse in ONE (content-hash, split) aggregate and
    // the cross-split flag runs on that collapsed frame — never a
    // join back to raw documents
    assert(!p.contains("Join"), p)
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(nodes(p, "Window") == 1, p)
  }

  test("q168: packing offsets ride the ungrouped two-phase prefix") {
    val p = plan("q168_chunk_packing")
    // the global token offset must be the range-partitioned prefix
    // sum (never a single-task ORDER BY window over documents); the
    // total-chunks denominator is a broadcast scalar
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q169: both layout ranks ride the two-phase prefix; probes broadcast") {
    val p = plan("q169_zorder_layout")
    // each layout's file assignment is a range-partitioned global
    // rank (never a single-task ORDER BY over events), the row-count
    // denominator and the probe grid are broadcast metadata
    assert(nodes(p, "RangePartitioning") >= 2 ||
      p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q211: both curve layouts ride CELL prefix sums; one events scan") {
    val p = plan("q211_hilbert_layout")
    // Morton AND Hilbert file assignments are grouped prefix sums over
    // the 16-bit-key cell frames (the q169 collapse applied twice) —
    // range-partitioned, never a single-task row rank; the Hilbert
    // recurrence itself is map-side integer CASE arithmetic on the scan
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q170: gram containment is an equi semi-join on hash keys") {
    val p = plan("q170_ngram_decontam")
    // the only data-sized join is LeftSemi on the 16-byte gram hash —
    // never a nested-loop or cartesian over text
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q171: sketch build is partial+final register merge; masks one pass") {
    val p = plan("q171_hll_overlap")
    // the register sketch pre-combines map-side (q154's contract) and
    // the exact side is ONE user-keyed bit_or aggregate — everything
    // after either pass is pairs-x-masks metadata
    assert(p.toLowerCase.contains("hllregisters"), p)
    assert(nodes(p, "ObjectHashAggregate") >= 2, p)
    assert(p.toLowerCase.contains("bit_or"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q172: CUPED is one user aggregate + moment algebra, no windows") {
    val p = plan("q172_cuped")
    // per-user (x, y) builds in ONE partial+final hash aggregate; the
    // pooled moment frame is a broadcast scalar; no window, no sort,
    // no second data pass
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 2-row x 1-row
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q173: CUSUM windows run on the cached daily metadata frame only") {
    val p = plan("q173_cusum_changepoint")
    // the one data pass is the (type, day) count; every window sits
    // above the cached <= |types|*|days| frame
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q174: bloom build is a mergeable bit_or aggregate over ranked files") {
    val p = plan("q174_bloom_index")
    // file assignment rides the two-phase prefix; the bloom index is
    // an ordinary partial+final bit_or aggregate; probe checks are
    // broadcast equi-joins on the word key
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.toLowerCase.contains("bit_or"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q175: burstiness is one user-keyed window + TakeOrdered top-k") {
    val p = plan("q175_burstiness")
    // the only data-sized shuffle is the user-keyed lag window; the
    // top-20 pick must be TakeOrderedAndProject, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(nodes(p, "Window") == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
  }

  test("q176: conformal rank rides the grouped two-phase prefix") {
    val p = plan("q176_conformal_interval")
    // the k-th-residual pick is the grouped range-partitioned prefix
    // (event_type is the ~5-value skewed-group case); per-type stats
    // and qhat attach by broadcast only
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q177: metrics run on one cached cell aggregate, broadcast-joined") {
    val p = plan("q177_langid_eval")
    // the only data-sized pass is q34's tokenization feeding ONE
    // (labeled, predicted) aggregate; margins/tp join by broadcast
    // over the cached ≤|langs|² cell frame
    assert(p.contains("InMemoryTableScan"), p)
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q178: k-anonymity is two aggregates, no joins beyond the scalar") {
    val p = plan("q178_k_anonymity")
    // one QI-keyed partial+final count + the band rollup; the total
    // is a broadcast scalar
    assert(nodes(p, "HashAggregate") >= 4, p) // two partial+final pairs
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q179: encoding profile is stack -> one keyed aggregate -> metadata") {
    val p = plan("q179_encoding_profile")
    // the stack generator runs map-side; the (column, value) dedup
    // aggregate pre-combines before its exchange; no joins or windows
    assert(p.contains("Generate"), p)
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q180: fan-out audit never runs the join — one count + TakeOrdered") {
    val p = plan("q180_join_skew_audit")
    // the diagnostic is per-key cardinality algebra, not the join
    // itself: one user-keyed partial+final count, a broadcast scalar
    // total, and a TakeOrdered top-10
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q181: FK checks are anti-joins; dimension parents broadcast") {
    val p = plan("q181_fk_integrity")
    assert(p.contains("LeftAnti"), p)
    // the six dim-parent checks must broadcast their parent side
    assert(nodes(p, "BroadcastHashJoin") >= 6, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q182: one cached basket frame feeds both split branches") {
    val p = plan("q182_reco_holdout")
    // the (order, part, is_train) frame materializes once; the train
    // pair stream and the test eval both read the InMemoryRelation
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q183: KM statistics run on the cached per-user cohort frame") {
    val p = plan("q183_km_survival")
    // the user cohort frame caches once (days + risk both read it);
    // the day dimension broadcasts; the only unpartitioned window is
    // the <= |days|-row KM fold
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q184: MI is one cell aggregate + metadata joins, no data windows") {
    val p = plan("q184_mutual_info")
    assert(p.contains("InMemoryTableScan"), p)
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q185: ACF runs entirely on the cached daily metadata frame") {
    val p = plan("q185_acf")
    // the one data pass is the (type, day) count; the lag self-join
    // and moment rollup read the InMemoryRelation
    assert(p.contains("InMemoryTableScan"), p)
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q186: l-diversity is two aggregates + a broadcast scalar") {
    val p = plan("q186_l_diversity")
    assert(nodes(p, "HashAggregate") >= 4, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q188: one hash-agg pass onto year-digit cells; totals broadcast") {
    val p = plan("q188_benford")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"), p)
  }

  test("q189: trim-range sums ride the grouped two-phase prefix over cells") {
    val p = plan("q189_trimmed_mean")
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q191: fact-to-fact join shuffles on the key; rollup collapses") {
    val p = plan("q191_reconciliation")
    // both facts exchange on orderkey (the bucketing seam); the band
    // rollup is an ordinary partial+final agg; no window anywhere
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("q192: S, ties and the fold all run on the cached daily frame") {
    val p = plan("q192_mann_kendall")
    assert(p.contains("InMemoryTableScan"), p)
    assert(nodes(p, "Scan parquet") <= 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q190: pair join and median window run on the cached daily frame") {
    val p = plan("q190_theil_sen")
    // the ONE data pass is the (type, day) count; the self-join and
    // the rank window must consume the cache, never re-scan events
    assert(p.contains("InMemoryTableScan"), p)
    assert(nodes(p, "Scan parquet") <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q187: decile cuts ride the grouped two-phase prefix; folds on cells") {
    val p = plan("q187_psi_drift")
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q193: sampled holdout keeps q182's shapes — cached basket frame, " +
      "post-agg leftsemi, scalar-only nested-loop joins") {
    val p = plan("q193_reco_holdout_sampled")
    // the (order, part, is_train) frame materializes once and both
    // split branches read the cache; the md5-mod sampling filters are
    // in-plan (they are the scale knob)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("md5"), p)
    // eval-item restriction lands POST-agg as a semi join (the
    // measured pre-agg dead end is documented in the scaladoc)
    assert(p.contains("LeftSemi"), p)
    // top-3 neighbor rank pushes partial WindowGroupLimit
    assert(p.contains("WindowGroupLimit"), p)
    // the ONLY nested-loop joins are the four-scalar result assembly
    // (1-row broadcast frames); the data-sized legs are all equi-joins
    assert(nodes(p, "BroadcastNestedLoopJoin") == 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q198: cohort serving fans out through equi-joins only") {
    val p = plan("q198_recommend_sampled")
    // both md5-mod knobs (train-basket sample, serving cohort) in-plan
    assert(p.contains("md5"), p)
    // owned-item cache feeds the fan-out join AND the anti-join
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.toLowerCase.contains("leftanti"), p)
    // per-cust top-3 pushes partial WindowGroupLimit
    assert(p.contains("WindowGroupLimit"), p)
    // the cohort fan-out must never plan nested-loop: every data-sized
    // leg is an item- or (cust,item)-keyed equi-join
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("q194: water-fill rides one tokenization pass; no data-sized joins") {
    val p = plan("q194_token_budget")
    // ONE pass over documents for the source-keyed token sum; the
    // water-fill branches (anchor, budget, ranks, saturation) all read
    // the cached ≤|sources| frame — broadcast scalars only downstream
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q196: live sketch builds as a partial+final ObjectHashAggregate") {
    // pin the LIVE estimator path explicitly (under Verify the gate
    // query swaps in the dumped fixture, so its own plan is mode-
    // dependent): the KLL state must pre-combine map-side like every
    // mergeable sketch — never collect values
    val live = operators.SketchOps
      .kllEstimatesFrame(spark, sf("sf0.001"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(live.toLowerCase.contains("klldoubles"), live)
    assert(nodes(live, "ObjectHashAggregate") >= 2, live)
    // downstream calibration (either mode): cells cache + broadcast
    // joins on the metadata frames, no cartesian anywhere
    val p = plan("q196_kll_quantiles")
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q200: moment sums ride the cached joint cells; marginals broadcast") {
    val p = plan("q200_spearman")
    // ONE data pass builds the joint (source, chars, tokens) cells;
    // the doubled-rank marginals join back as broadcasts
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q201: pair CDF walk runs on replicated CELLS, never on data") {
    val p = plan("q201_wasserstein")
    // one (type, cents) cell pass; the |types|² pair frame is a
    // broadcast inequality join over the totals (metadata), and the
    // merged-CDF windows partition on the pair key
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("windowspecdefinition(ta"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q202: quantile match is the union+suffix-window on cell frames") {
    val p = plan("q202_quantile_normalize")
    // one (source, chars) cell pass; the pooled frame aggregates FROM
    // the cached cells (no second scan); the unpartitioned pooled
    // prefix window and the per-source match window both run on
    // value-cardinality-bounded frames — metadata sorts by design
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q203: DEFLATE scoring is a map-side scalar on the one scan") {
    val p = plan("q203_compress_quality")
    // the native expression rides the scan; the ONLY exchange is the
    // final ≤|sources| partial+final aggregate
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.toLowerCase.contains("deflateratio"), p)
    assert(nodes(p, "Exchange") == 1, p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q204: grid tau-b rides cached cells; pair algebra never touches data") {
    val p = plan("q204_kendall_tau")
    // ONE data pass builds the raw joint cells (cached — min/max AND
    // banding read the same frame); the ≤64² banded cells cache again
    // and feed n/S/tie branches; the lexicographic self-join is
    // cell×cell metadata
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(nodes(p, "InMemoryTableScan") >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q205: pairwise rank-sum walks replicated CELLS (the q201 posture)") {
    val p = plan("q205_mann_whitney")
    // one (source, value) cell pass; the |sources|² pair frame
    // replicates cells via broadcast joins; rank windows partition on
    // the pair key
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("windowspecdefinition(sa"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q206: JSD shares q158's one-pass dense-frame shape") {
    val p = plan("q206_js_divergence")
    // one token-cell pass feeds the corpus margin, source margin, AND
    // the dense join; margins ride in as broadcasts
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q208: HITS half-steps are cached state; scalar-only cross joins") {
    // the formatted explain INLINES unmaterialized cached plans (with
    // fresh ids per reference), so string node-counting overstates —
    // walk the optimized LOGICAL plan instead, where each cached
    // half-step is an InMemoryRelation leaf.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q208_hits")(spark, sf("sf0.001"))
      .queryExecution
    val joins = qe.optimizedPlan.collect { case j: Join => j }
    // above the cache boundaries only the TWO final normalizers
    // remain, and their cross joins carry a 1-row broadcast max frame
    val cross = joins.filter(_.condition.isEmpty)
    assert(cross.length == 2, qe.optimizedPlan.treeString)
    assert(joins.forall(j => j.condition.nonEmpty || j.hint.rightHint
      .exists(_.strategy.nonEmpty)), qe.optimizedPlan.treeString)
    val caches = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
    assert(caches.nonEmpty, qe.optimizedPlan.treeString)
    assert(!qe.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q209: perplexity is ONE corpus pass — no scoring join at all") {
    val p = plan("q209_perplexity")
    // both splits are conditional counts on the same cached cell
    // frame; the only join is the broadcast ≤|sources| margin
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q217: all 32 bootstrap replicates ride ONE exploded hash aggregate") {
    val p = plan("q217_poisson_bootstrap")
    // the Poisson trick's whole point: B replicates must be ONE scan
    // exploded ×32 into a partial+final aggregate keyed on the
    // replicate id (≤32 cells per task pre-shuffle), plus one plain
    // pass for the exact point estimate — never B shuffled resamples
    assert(nodes(p, "Generate") >= 1, p) // the ×32 replicate explode
    assert(nodes(p, "Scan parquet") == 2, p) // replicate pass + point pass
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(p.contains("InMemoryTableScan"), p) // 32-row frame reused 4×
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q218: jackknife is one 64-cell aggregate — no window, no resort") {
    val p = plan("q218_bucket_jackknife")
    // per-bucket sums collapse map-side; every leave-one-out ratio and
    // the variance ride the cached 64-row frame with broadcast scalars
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q219: doc offsets ride the two-phase prefix; fit is on bucket cells") {
    val p = plan("q219_heaps_law")
    // doc start positions must come from the range-partitioned
    // two-phase prefix sum (never one task sorting all docs), the
    // corpus pass is ONE posexplode into the min-per-term aggregate,
    // and the regression runs on the ≤64-cell power-of-two rollup
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(nodes(p, "Generate") >= 1, p) // the one posexplode pass
    assert(p.contains("InMemoryTableScan"), p) // vocab frame reused
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q220: ANOVA is one k-cell moment aggregate, joinless on data") {
    val p = plan("q220_anova")
    // the F statistic needs only per-source (n, Σx, Σx²) — one
    // map-side-combined pass; everything else is the k-row frame with
    // a broadcast 1-row total
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(nodes(p, "HashAggregate") >= 2, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q221: Brier rides one cached event pass; decomposition on 20 cells") {
    val p = plan("q221_brier_decomposition")
    // min/max, the exact-integer Brier sum, and the bin cells must all
    // read ONE materialized (cents, y) frame; no data-sized window
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(nodes(p, "HashAggregate") >= 4, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q222: MRR/MAP share q214's one-pass shape — user-keyed windows only") {
    val p = plan("q222_mrr_map")
    // one events pass into the cached (user, type) frame; the top-10
    // margin is metadata; hits join broadcast; per-user ranks
    // partition on user_id (a real key)
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("windowspecdefinition(user_id"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q223: blocking metrics COUNT pairs — no pair materialization") {
    val p = plan("q223_blocking_metrics")
    // candidate/truth/co-blocked pairs come from three size rollups
    // (Σ n(n−1) over cells), never an enumerated pair join; the truth
    // clusters read the memoized q49 canonical frame
    assert(p.contains("InMemoryTableScan"), p)
    assert(nodes(p, "HashAggregate") >= 6, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q224: Cramér's V is one cell aggregate + broadcast margins") {
    val p = plan("q224_cramers_v")
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q225: one scored fan-out feeds the truth and all three truncations") {
    val p = plan("q225_dim_truncation_recall")
    // all four cosines ride ONE cached broadcast-cohort pass (q50's
    // shape); per-(query, k) top-10s are q_id-keyed windows over that
    // cache — never a re-scored corpus per k
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("windowspecdefinition(q_id"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q226: SRM is one distinct + one day rollup — no window, no join") {
    val p = plan("q226_srm_check")
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(nodes(p, "HashAggregate") >= 4, p) // distinct + rollup, partial+final
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q227: clustering coefficients reuse q85's oriented wedge shape") {
    val p = plan("q227_local_clustering")
    // edges, degrees, and the oriented adjacency must be cached (the
    // census reads the adjacency three times); the rollup is 10 cells
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q228: Neyman allocation is one moment aggregate + cell algebra") {
    val p = plan("q228_neyman_allocation")
    // one documents pass; the largest-remainder rank is a ≤|sources|
    // metadata sort on the cached weight frame
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("windowspecdefinition"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q229: split search is cells + two-phase prefix + TakeOrdered") {
    val p = plan("q229_split_finding")
    // candidate thresholds live on the value-cardinality-bounded cell
    // frame; cumulative label counts are the range-partitioned prefix;
    // the winning splits come from TakeOrdered, never a global sort
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q230: richness is one tokenization pass + frequency rollup") {
    val p = plan("q230_vocab_richness")
    assert(nodes(p, "Scan parquet") == 1, p)
    assert(nodes(p, "Generate") == 1, p)
    assert(nodes(p, "HashAggregate") >= 4, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q231: AP rides one cached cell frame + descending two-phase prefix") {
    val p = plan("q231_pr_auc")
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q232: pooled rank walk is a two-phase prefix over value cells") {
    val p = plan("q232_kruskal_wallis")
    // the doubled-rank walk must range-partition the pooled (v) cells
    // — never a one-task global sort — and everything after the cells
    // is metadata-sized aggregation
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q241: Hill threshold walk is a descending two-phase prefix") {
    val p = plan("q241_hill_tail")
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q244: median walk is a two-phase prefix; the 2x2 is one conditional agg") {
    val p = plan("q244_confusion_panel")
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q247: threshold search is cells + two-phase prefix + TakeOrdered") {
    val p = plan("q247_youden_threshold")
    // candidate cuts live on the value cells; TP/FP come off the
    // range-partitioned prefix (totals ride the metadata offsets
    // frame); the winner is TakeOrdered(1), never a global sort
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q245: gains walk carries BOTH prefixes in one range shuffle") {
    val p = plan("q245_gains_lift")
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(__pid"), p)
    // one Window node carries cum AND cumk (same spec → one physical
    // node), so exactly one __pid window spec appears per frame pass
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q238: marker-word pick is TakeOrdered (limit-then-rank), pairs broadcast") {
    val p = plan("q238_burrows_delta")
    // the r11 verdict fix: the top-30 word pick must plan as
    // TakeOrderedAndProject (map-side capped), never a global
    // row_number over the Heaps-bounded word margin through one
    // reducer — and the cache boundary must not hide a Window
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q210: vocab-budget pick is TakeOrdered (limit-then-rank)") {
    val p = plan("q210_oov_rate")
    // same idiom as q238/q129: the top-K vocabulary pick is
    // TakeOrderedAndProject off the train margin, not a global rank
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q248: pair sweep is cells × cumulative cells — no pair materialization") {
    val p = plan("q248_cliffs_delta")
    // the only windows partition by source (a real key) over the
    // densified metadata grid; the source list broadcasts onto the
    // grid (BroadcastNestedLoopJoin, never CartesianProduct); the
    // a-cells × b-cumulative join is an equi-join on v
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q251: DeLong components ride the two-phase prefix over cents cells") {
    val p = plan("q251_delong_auc")
    // the cumulative pos/neg walk is range-partitioned with the local
    // __pid window (the q247 device) — never a one-task global sort;
    // totals attach broadcast
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("__pid"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q253: silhouette is one posexplode + broadcast centroid attach") {
    val p = plan("q253_silhouette")
    // centroids (label × dim metadata) broadcast onto the exploded
    // term frame; no shuffle carries a vector twice, no window at all
    assert(p.contains("Generate"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q256: Mahalanobis is two passes over one cached feature frame") {
    val p = plan("q256_mahalanobis")
    // the parameter row (means + inverse entries) attaches by
    // broadcast; scoring re-reads the cached features — no join keyed
    // on data, no window
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("q258: both CDFs ride ONE two-phase prefix over score cells") {
    val p = plan("q258_cvm_drift")
    // the q153 device: one range shuffle, one pinned __pid window
    // carrying both running sums — never a one-task global sort
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("__pid"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q264: pooled AD walk is two-phase; per-source walks key on source") {
    val p = plan("q264_k_sample_ad")
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("__pid"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // grid × sources
  }

  test("q307/q309: the k-fold sweep is one pass — cell joins broadcast") {
    // leave-fold-out from totals: the ONLY data-sized work is the one
    // (group, fold) cell aggregation; margins and SSE are cell algebra
    // behind broadcast joins — a SortMergeJoin here would mean a fold
    // loop re-shuffled data it already had in cells
    // explicit plan("...") calls: the coverage spec's lock extraction
    // reads these literally — a loop variable would leave the two
    // queries in the blanket instead of the locked set
    for (p <- Seq(plan("q307_kfold_cv"), plan("q309_group_kfold"))) {
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      // partial+final on the cell aggregation
      assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    }
  }

  test("q308: incremental gold keeps/merges via broadcast anti/semi joins") {
    val p = plan("q308_incremental_gold")
    // untouched days pass through a broadcast ANTI join; touched base
    // cells route to the merge through a broadcast SEMI join — the
    // touched-day set is the broadcast side in both (<= |days| rows)
    assert(p.contains("BroadcastHashJoin LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin LeftSemi"), p)
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the base+delta cell merge may sort-merge: both inputs are
    // (day, type) cell frames (time-range-bounded metadata)
  }

  test("lake scans carry date PartitionFilters (pruning, not full scans)") {
    import graft.etl.{BronzeToSilver, EtlConfig, Fixtures, Lake}
    // the date predicates in readBronze/readSilver must prune at the
    // partition level — at 100× lake size a lookback query may only
    // touch its own date directories
    val lake = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val cfg = EtlConfig(
      referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(2 * 3600)))
    val bronze = Fixtures.bronzeTelemetry(spark, nDevices = 2, rowsPerDevice = 30)
    Lake.writeBronze(bronze, lake)
    Lake.writeSilver(
      BronzeToSilver.run(bronze, Fixtures.deviceCatalog(spark, 2), cfg), lake)

    def partitionFilters(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .linesIterator.filter(_.trim.startsWith("PartitionFilters"))
        .mkString("\n")

    val pb = partitionFilters(Lake.readBronze(spark, lake, hoursBack = 24, cfg))
    assert(pb.contains("date") && pb.contains(">="),
      s"bronze scan must prune on date: <$pb>")
    val ps = partitionFilters(Lake.readSilver(spark, lake, daysBack = 7, cfg))
    assert(ps.contains("date") && ps.contains(">="),
      s"silver scan must prune on date: <$ps>")
  }

  test("Bronze→Silver→sink plan: one sort, no SortAggregate, shuffles on device_id and date") {
    import graft.etl.{BronzeToSilver, EtlConfig, Fixtures, Lake}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, to_date}
    // the F3 dedup and the rolling windows share one (device_id,
    // timestamp) sort; the sink adds only the date shuffle. A second
    // dedup (or dropDuplicates) would bring back a key shuffle, sorts
    // and sort-based First() aggregates over every column.
    val bronze = Fixtures.bronzeTelemetry(spark, nDevices = 2, rowsPerDevice = 30,
      dirty = true)
    val df = Lake.byDate(
      BronzeToSilver.run(bronze, Fixtures.deviceCatalog(spark, 2), EtlConfig())
        .withColumn("date", to_date(col("timestamp"))))
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val nodes = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case n => n
    }
    assert(nodes.count(_.isInstanceOf[SortExec]) == 1, p)
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), p)
    val shuffleKeys = nodes.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
        case other => Seq(other.toString)
      }
    }
    assert(shuffleKeys.sortBy(_.mkString) == Seq(Seq("date"), Seq("device_id")), p)
  }
}
