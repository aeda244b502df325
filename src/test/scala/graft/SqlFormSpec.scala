package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

/** The SQL form of a query: a `QueryDef` without a body runs its oracle
  * text through `Tables.sql`. A body stays only with a reason, and the
  * ratchet below fails when a body loses its reason or a reason loses
  * its body, so the next query whose text Spark can run shows up here
  * by itself.
  */
class SqlFormSpec extends SparkSpec {

  private val defs: Map[String, QueryDef] = SparkEntry.groups.reduce(_ ++ _)

  private def lock(test: String) =
    s"PlanSpec lock \"$test\" fails on the SQL plan"

  /** Queries that keep a DataFrame body although Spark analyzes their
    * oracle text. A "slower" entry cites the medians of 5 alternating
    * body/SQL pairs at sf0.1 on a 4-core host (the SQL form converts
    * only when its median is no slower than the body's slowest run;
    * "rerun" is a second, 9-pair A/B of the closest calls, and a query
    * converts only if it passes both). An "engine check" body computes
    * something the text cannot: a Spark operator or builtin the query
    * exists to gate, whose verdict the oracle pins as a literal, or a
    * plan other code runs over other inputs, which the oracle hash is
    * what checks. */
  private val bodyReasons: Map[String, String] = Map(
    "q80_fuzzy_join" -> ("slower: SQL 13.18 s vs 0.42 s at sf0.1. The SQL " +
      "plans one BroadcastHashJoin on p_brand alone: 7,998,672 same-brand " +
      "row pairs, each scored by levenshtein, in the one task of part's " +
      "single split. The body matches the 1,600 distinct (brand, name) " +
      "values instead of the 20,000 rows, finds candidates by PassJoin " +
      "segment keys after round-robin fan-outs, and expands the 503,800 " +
      "result pairs by equi-joins; " +
      lock("q80: fuzzy join fans out before the generators, attaches names broadcast")),
    "q101_khop" -> "slower: SQL 1.58 s vs 0.30 s at sf0.1",
    "q102_item_sim" -> "slower: SQL 2.30 s vs 0.91 s at sf0.1",
    "q148_degree_dist" -> "slower: SQL 2.39 s vs 1.62 s at sf0.1 (rerun 1.98 s vs 1.30 s)",
    "q16_null_handling" -> "slower: SQL 0.116 s vs 0.102 s at sf0.1 (rerun 0.118 s vs 0.104 s)",
    "q19_semi_join" -> "slower: SQL 0.322 s vs 0.273 s at sf0.1 (rerun 0.297 s vs 0.253 s)",
    "q250_pettitt" -> "slower: SQL 0.280 s vs 0.204 s at sf0.1",
    "q254_bh_fdr" -> "slower: SQL 0.206 s vs 0.144 s at sf0.1",
    "q29_having" -> "slower: SQL 0.185 s vs 0.149 s at sf0.1 (rerun 0.212 s vs 0.173 s)",
    "q2_filter_project" -> "slower: SQL 0.128 s vs 0.121 s at sf0.1 (body's slowest run 0.125 s)",
    "q2t_argmax" -> "slower: SQL 0.352 s vs 0.128 s at sf0.1",
    "q3_join_broadcast_left" -> ("slower: SQL 0.250 s vs 0.224 s at sf0.1 " +
      "(rerun tied, 0.203 s vs 0.202 s)"),
    "q6_window_latest" -> ("slower: SQL 0.234 s vs 0.198 s at sf0.1 " +
      "(rerun tied, 0.173 s vs 0.169 s)"),
    "q136_dau_mau" -> "slower: SQL 0.354 s vs 0.314 s at sf0.1 (rerun; first A/B 0.233 s vs 0.207 s)",
    "q156_debounce" -> "slower: SQL 0.243 s vs 0.219 s at sf0.1",
    "q249_rbo" -> "slower: SQL 0.387 s vs 0.294 s at sf0.1",
    "q2d_time_range_window" -> "slower: SQL 0.123 s vs 0.107 s at sf0.1",
    "q2q_explode_vocab" -> "slower: SQL 0.212 s vs 0.199 s at sf0.1",
    "q2o_corr_stats" -> ("engine check: the body asserts Spark's native corr, " +
      "covar_samp and stddev_samp against the exact moments; the text pins " +
      "corr_ok, stddev_ok and covar_ok as the literal TRUE"),
    "q74_approx_quantile" -> ("engine check: the body holds Spark's " +
      "approx_percentile to the exact [p45, p55] band; the text pins " +
      "approx_ok as the literal TRUE"),
    "q2k_session_window" -> ("engine check: the body runs Spark's native " +
      "session_window aggregate; the text is gaps-and-islands SQL"),
    "q83_stream_conversions" -> ("engine check: the body runs the " +
      "stream-stream EventStreams.conversionJoin on bounded frames; the " +
      "text is q2j's batch join"),
    "q191_reconciliation" -> ("engine check: the body is " +
      "CurationOps.reconciliationOn, the plan BucketingSpec and Scale's " +
      "bucket A/B run over the bucketed lake; the text checks its answer"),
    "q129_zipf_fit" -> lock("q129: top-1000 vocabulary pick is TakeOrdered, regression constant-sized"),
    "q158_unigram_kl" -> lock("q158: all KL margins derive from ONE pinned token-count pass"),
    "q162_heavy_hitters" -> lock("q162: heavy hitters = sketch pass + candidate-only exact verify"),
    "q206_js_divergence" -> lock("q206: JSD shares q158's one-pass dense-frame shape"),
    "q73_salted_agg" -> lock("q73: salted aggregate keeps partial combine on both phases"),
    "q86_copurchase" -> lock("q86: co-occurrence pairs are generated map-side — no self-join"),
    "q92_skyline" -> lock("q92: the skyline never plans a join — dominance is all windows"),
    "q108_assoc_rules" -> lock("q108: association rules never plan a cartesian pair join"),
    "q110_geo_join" -> lock("q110: the radius join is a grid-cell equi-join, never a loop join"),
    "q111_ewma" -> lock("q111: EWMA is one user-keyed exchange and one fused Window"),
    "q115_auc" -> lock("q115: AUC prefix sum runs range-partitioned, never a global window"),
    "q126_recommend" -> lock("q126: recommendations are equi-joins + anti-join + WindowGroupLimit"),
    "q134_gini" -> lock("q134/q135: grouped prefix runs range-partitioned, never per-group windows"),
    "q142_unpivot" -> lock("q142: the melt is a map-side Generate feeding one partial+final agg"),
    "q153_ks_drift" -> lock("q153: both KS CDFs ride ONE range-partitioned prefix pass"),
    "q182_reco_holdout" -> lock("q182: one cached basket frame feeds both split branches"),
    "q224_cramers_v" -> lock("q224: Cramér's V is one cell aggregate + broadcast margins"),
    "q229_split_finding" -> lock("q229: split search is cells + two-phase prefix + TakeOrdered"),
    "q244_confusion_panel" -> lock("q244: median walk is a two-phase prefix; the 2x2 is one conditional agg"),
    "q247_youden_threshold" -> lock("q247: threshold search is cells + two-phase prefix + TakeOrdered"))

  test("every body whose oracle text Spark analyzes has a reason to stay") {
    val analyzable = defs.collect {
      case (name, qd) if qd.body.isDefined &&
          Try(Tables.sql(spark, sf("sf0.001"), qd.oracle)).isSuccess => name
    }.toSet
    val missing = (analyzable -- bodyReasons.keySet).toSeq.sorted
    assert(missing.isEmpty, "Spark analyzes these oracle texts: convert each " +
      s"to the SQL form or give its body a reason: $missing")
    val stale = (bodyReasons.keySet -- analyzable).toSeq.sorted
    assert(stale.isEmpty, s"reasons for queries without an analyzable body: $stale")
    val form = ("^(slower: SQL [0-9.]+ s vs [0-9.]+ s at sf0\\.1|PlanSpec lock |" +
      "blanket |engine check: )").r
    val unformed = bodyReasons.filter { case (_, r) => form.findPrefixOf(r).isEmpty }
    assert(unformed.isEmpty, s"reasons must name what the SQL form loses: $unformed")
  }

  private def distinctUserTypes(dir: String): Long =
    Tables.events(spark, dir).select("user_id", "event_type").distinct().count()

  test("a SQL-form query runs over a directory holding only the tables it names") {
    assert(defs("q20_dedup").body.isEmpty)
    val dir = Files.createTempDirectory("graft-sqlform")
    val _ = Files.copy(Paths.get(sf("sf0.001"), "events.parquet"),
      dir.resolve("events.parquet"))
    val got = SparkEntry.queries("q20_dedup")(spark, dir.toString).count()
    assert(got == distinctUserTypes(sf("sf0.001")))
  }

  test("a SQL-form frame keeps its own sfDir when a later call rebinds the views") {
    val q = SparkEntry.queries("q20_dedup")
    val small = q(spark, sf("sf0.001"))
    val large = q(spark, sf("sf0.01"))
    val (nSmall, nLarge) =
      (distinctUserTypes(sf("sf0.001")), distinctUserTypes(sf("sf0.01")))
    assert(nSmall != nLarge, "the fixtures must tell the two directories apart")
    assert(small.count() == nSmall)
    assert(large.count() == nLarge)
  }
}
