package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Semantic invariants of the round-11 tranche (q217–q228) that the
  * hash gates can't see: estimator algebra (bootstrap/jackknife CIs
  * bracket sanely, decompositions reconcile, allocations conserve the
  * budget) rather than value equality, which Verify/check.py already
  * pins at three SFs.
  */
class AnalyticsOps10Spec extends SparkSpec {
  private val d = sf("sf0.001")

  test("q217: bootstrap CI brackets the point mean; SE positive") {
    val r = BusinessOps.q217PoissonBootstrap.fn(spark, d).head()
    val (point, bm, se) = (r.getAs[Double]("point_mean"),
      r.getAs[Double]("boot_mean"), r.getAs[Double]("boot_se"))
    val (lo, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
    assert(lo < hi, s"lo=$lo hi=$hi")
    assert(se > 0)
    // the Poisson bootstrap is unbiased for the mean: the replicate
    // mean-of-means sits within a few SEs of the exact point estimate
    assert(math.abs(bm - point) < 5 * se, s"point=$point boot=$bm se=$se")
    assert(lo <= point && point <= hi,
      s"percentile interval [$lo,$hi] must cover the point mean $point")
  }

  test("q218: jackknife matches a direct leave-one-out recomputation") {
    import org.apache.spark.sql.functions._
    val r = BusinessOps.q218BucketJackknife.fn(spark, d).head()
    assert(r.getAs[Long]("n_buckets") == 64L)
    assert(r.getAs[Double]("jk_se") > 0)
    assert(r.getAs[Double]("ci_lo") < r.getAs[Double]("avg_cents") &&
      r.getAs[Double]("avg_cents") < r.getAs[Double]("ci_hi"))
    // independent reference for the jackknife ALGEBRA: take the
    // engine's bucket sums (the md5-mod recipe itself is pinned by the
    // three-SF hash gate) and recompute LOO ratios, mean, and SE in
    // plain driver-side Scala
    val byB = graft.Tables.orders(spark, d)
      .select((conv(substring(md5(col("o_orderkey").cast("string")), 1, 15),
        16, 10).cast("long") % 64).as("b"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("cents")).as("sb"))
      .collect().toSeq
      .map(r0 => (r0.getAs[Long]("nb"), r0.getAs[Long]("sb")))
    val (nT, sT) = (byB.map(_._1).sum, byB.map(_._2).sum)
    val loo = byB.map { case (nb, sb) => (sT - sb).toDouble / (nT - nb) }
    val rbar = loo.map(x => math.floor(x * 1e6 + 0.5)).sum / 64 / 1e6
    val vv = loo.map(x => math.floor((x - rbar) * (x - rbar) * 1e3 + 0.5)).sum
    val seRef = math.sqrt(((vv / 1e3) * 63) / 64)
    assert(math.abs(r.getAs[Double]("jk_se") - seRef) < 1e-9,
      s"engine=${r.getAs[Double]("jk_se")} ref=$seRef")
  }

  test("q219: Heaps fit is sublinear and anchored (0 < beta < 1)") {
    val r = TextStatsOps.q219HeapsLaw.fn(spark, d).head()
    assert(r.getAs[Long]("vocab") <= r.getAs[Long]("n_tokens"))
    assert(r.getAs[Long]("n_points") >= 5, "need enough checkpoints to fit")
    val beta = r.getAs[Double]("beta")
    assert(beta > 0 && beta < 1, s"Heaps beta out of range: $beta")
  }

  test("q220: ANOVA decomposition reconciles (SSB + SSW = SST ≥ 0)") {
    val r = StatsOps.q220Anova.fn(spark, d).head()
    val (ssb, ssw) = (r.getAs[Double]("ssb"), r.getAs[Double]("ssw"))
    assert(ssb >= 0 && ssw >= 0)
    assert(r.getAs[Double]("f_stat") >= 0)
    val eta = r.getAs[Double]("eta_sq")
    assert(eta >= 0 && eta <= 1)
    assert(math.abs(eta - ssb / (ssb + ssw)) < 1e-9)
  }

  test("q221: Brier in [0,1]; binned-identity residual stays bin-width-bounded") {
    val r = EvalOps.q221BrierDecomposition.fn(spark, d).head()
    val b = r.getAs[Double]("brier")
    assert(b >= 0 && b <= 1)
    assert(r.getAs[Double]("reliability") >= 0)
    assert(r.getAs[Double]("resolution") >= 0)
    val unc = r.getAs[Double]("uncertainty")
    assert(unc >= 0 && unc <= 0.25 + 1e-12)
    // the binned Murphy identity is exact only for bin-constant
    // forecasts; the residual (within-bin forecast variance minus
    // twice the within-bin forecast–outcome covariance) has indefinite
    // sign but is bounded by the bin width scale
    val gap = r.getAs[Double]("decomp_gap")
    assert(math.abs(gap) <= 0.01, s"gap=$gap exceeds the binning bound")
  }

  test("q221: constant scores (r = 0) degrade to p ≡ ȳ, never throw") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-brier0").toString
    // every event carries the same score → min = max → range 0; two of
    // four events are purchases → ȳ = 0.5, uncertainty = 0.25
    Seq((1L, "purchase", 2.5), (2L, "view", 2.5),
      (3L, "click", 2.5), (4L, "purchase", 2.5))
      .toDF("event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = EvalOps.q221BrierDecomposition.fn(spark, dir).head()
    assert(r.getAs[Long]("n_events") == 4L)
    assert(r.getAs[Double]("reliability") == 0.0)
    assert(r.getAs[Double]("resolution") == 0.0)
    assert(math.abs(r.getAs[Double]("uncertainty") - 0.25) < 1e-12)
    assert(math.abs(r.getAs[Double]("brier") - 0.25) < 1e-12)
    assert(r.getAs[Double]("decomp_gap") == 0.0)
  }

  test("q222: metric ordering invariants (hit rate bounds MRR ≥ MAP terms)") {
    val r = EvalOps.q222MrrMap.fn(spark, d).head()
    val (n, mrr, map) = (r.getAs[Long]("n_users"),
      r.getAs[Double]("mrr"), r.getAs[Double]("map_at10"))
    val hits = r.getAs[Long]("n_hits")
    assert(mrr >= 0 && mrr <= 1 && map >= 0 && map <= 1)
    assert(hits <= n)
    // every hit contributes at most 1 to RR, so mrr ≤ hit rate
    assert(mrr <= hits.toDouble / n + 1e-9)
  }

  test("q223: blocking metrics are ratios in [0,1]; counts consistent") {
    val r = DedupOps.q223BlockingMetrics.fn(spark, d).head()
    val rr = r.getAs[Double]("reduction_ratio")
    val pc = r.getAs[Double]("pairs_completeness")
    assert(rr >= 0 && rr <= 1)
    assert(pc >= 0 && pc <= 1)
    // co-blocked truth pairs can never exceed either parent count
    assert(r.getAs[Double]("co_pairs2") <= r.getAs[Double]("truth_pairs2"))
    assert(r.getAs[Double]("co_pairs2") <= r.getAs[Double]("cand_pairs2"))
  }

  test("q224: correction only shrinks V; both in [0,1]") {
    val r = StatsOps.q224CramersV.fn(spark, d).head()
    val (v, vc) = (r.getAs[Double]("v"), r.getAs[Double]("v_corrected"))
    assert(v >= 0 && v <= 1 && vc >= 0 && vc <= 1)
    assert(vc <= v + 1e-9, s"corrected $vc must not exceed raw $v")
    assert(r.getAs[Double]("chi2") >= 0)
  }

  test("q225: recall is monotone in kept dimensions") {
    val rows = EvalOps.q225DimTruncationRecall.fn(spark, d)
      .collect().map(r => r.getAs[Int]("k_dims") -> r.getAs[Double]("recall"))
      .toMap
    assert(rows.keySet == Set(8, 16, 32))
    rows.values.foreach(v => assert(v >= 0 && v <= 1))
    // more retained dimensions can only improve agreement with the
    // full-precision truth (up to rank-tie noise at 6 dp — allow 2%)
    assert(rows(32) >= rows(8) - 0.02, s"$rows")
    assert(rows(32) >= rows(16) - 0.02, s"$rows")
  }

  test("q226: arm counts partition active users; flag matches chi2") {
    val rows = BusinessOps.q226SrmCheck.fn(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r: Row =>
      val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      val chi2 = r.getAs[Double]("chi2")
      assert(chi2 >= 0)
      assert(r.getAs[Boolean]("srm_flag") ==
        (((na - nb) * (na - nb)).toDouble / (na + nb) > 10.83))
    }
  }

  test("q227: per-bin coefficients live inside their bin") {
    val rows = AnalyticsOps10Support.q227Rows(spark, d)
    assert(rows.nonEmpty)
    rows.foreach { case (bin, n, mean) =>
      assert(n > 0)
      assert(bin >= 0 && bin <= 9)
      assert(mean >= bin / 10.0 - 1e-9, s"bin=$bin mean=$mean")
      // bin 9 holds everything up to c = 1.0 inclusive
      val hi = if (bin == 9) 1.0 else (bin + 1) / 10.0
      assert(mean <= hi + 1e-9, s"bin=$bin mean=$mean")
    }
  }

  test("q229: gains are valid and the reported splits beat the median cell") {
    val rows = EvalOps.q229SplitFinding.fn(spark, d).collect()
    assert(rows.length == 5)
    val gains = rows.map(_.getAs[Double]("gini_gain"))
    // Gini gain of a binary split is bounded by the root impurity ≤ 0.5
    gains.foreach(g => assert(g >= 0 && g <= 0.5, s"gain $g"))
    // output is ordered best-first with the fixed-point tiebreak
    assert(gains.sameElements(gains.sorted(Ordering[Double].reverse)))
    rows.foreach { r =>
      assert(r.getAs[Long]("k_left") <= r.getAs[Long]("n_left"))
    }
  }

  test("q230: Chao1 dominates observed vocab; unseen mass is a ratio") {
    val rows = TextStatsOps.q230VocabRichness.fn(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[Long]("vocab")
      assert(r.getAs[Double]("chao1") >= v - 1e-6,
        "Chao1 is a lower bound on TRUE vocab, so ≥ observed")
      assert(r.getAs[Long]("f1") + r.getAs[Long]("f2") <= v)
      val u = r.getAs[Double]("unseen_mass")
      assert(u >= 0 && u <= 1)
    }
  }

  test("q231: AP sits between base rate and 1; counts reconcile") {
    val r = EvalOps.q231PrAuc.fn(spark, d).head()
    val (base, ap) = (r.getAs[Double]("base_rate"), r.getAs[Double]("pr_auc"))
    assert(base > 0 && base < 1)
    assert(ap >= 0 && ap <= 1)
    // a score with ANY signal (and even a random one, in expectation)
    // yields AP ≥ a vanishing fraction under the base rate — sanity
    // floor only, the real value is pinned by the three-SF hash gate
    assert(ap >= base * 0.5, s"ap=$ap base=$base")
    assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n_events"))
  }

  test("q228: allocations conserve the exact budget and are Neyman-shaped") {
    import org.apache.spark.sql.functions._
    val out = SketchOps.q228NeymanAllocation.fn(spark, d)
    val total = graft.Tables.documents(spark, d).count()
    val allocs = out.select(sum(col("alloc"))).head().getLong(0)
    assert(allocs == total / 10,
      s"largest-remainder must conserve the budget: $allocs vs ${total / 10}")
    out.collect().foreach { r =>
      assert(r.getAs[Long]("alloc") >= 0)
      assert(r.getAs[Double]("sigma") >= 0)
    }
  }
}

private object AnalyticsOps10Support {
  def q227Rows(spark: org.apache.spark.sql.SparkSession, d: String)
      : Seq[(Long, Long, Double)] =
    GraphOps.q227LocalClustering.fn(spark, d).collect().toSeq
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_nodes"),
        r.getAs[Double]("mean_coef")))
}
