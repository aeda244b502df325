package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form contracts for the experiment/monitoring tranche: CUPED
  * on a perfectly-correlated covariate (theta, adjusted means, and
  * variance reduction all have exact answers) and CUSUM on a planted
  * level shift (the peak location and height are hand-computable).
  */
class AnalyticsOps6Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("q172: perfectly correlated covariate gives theta=2, var_reduction=1") {
    val dir = tmp("graft-cuped")
    // user u: one pre event of u cents, one post event of 2u cents ->
    // y = 2x exactly, so theta = 2, var_reduction = corr^2 = 1, and
    // every variant's adjusted mean collapses to the POOLED post mean
    // (CUPED removes all between-variant covariate imbalance):
    // sum y = 2 * (1+..+8) = 72 over 8 users -> 9.0
    val evs = (1 to 8).flatMap { u =>
      Seq((u.toLong * 2, "2024-01-05 00:00:00", u.toLong, u / 100.0),
        (u.toLong * 2 + 1, "2024-01-20 00:00:00", u.toLong, 2 * u / 100.0))
    }
    evs.toDF("event_id", "tss", "user_id", "value")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .withColumn("event_type", lit("purchase"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = BusinessOps.q172Cuped.fn(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == 8L, rows.toSeq) // all users
    rows.foreach { r =>
      assert(r.getDouble(4) == 2.0, r)   // theta
      assert(r.getDouble(5) == 1.0, r)   // var_reduction
      assert(r.getDouble(3) == 9.0, r)   // mean_y_adj = pooled mean
    }
  }

  test("q173: planted level shift peaks the CUSUM at the last low day") {
    val dir = tmp("graft-cusum")
    // type 'a': days 0..4 have 1 event/day, days 5..9 have 3 ->
    // n_days=10, total=20, scaled steps are -10 then +10, so |S'|
    // peaks at 50 on day index 4 (epoch day 19727); norm = 50/200
    val evs = (0 until 10).flatMap { d =>
      val n = if (d < 5) 1 else 3
      (0 until n).map(k => (d.toLong * 10 + k,
        java.sql.Timestamp.from(java.time.Instant
          .parse("2024-01-01T00:00:00Z").plusSeconds(86400L * d + k))))
    }
    evs.toDF("event_id", "ts")
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("a"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SeriesOps.q173CusumChangepoint.fn(spark, dir).collect()
    assert(rows.length == 1, rows.toSeq)
    val r = rows.head
    assert(r.getLong(1) == 10L, r)          // n_days
    assert(r.getLong(2) == 20L, r)          // total
    assert(r.getLong(3) == 19723L + 4, r)   // cp_day
    assert(r.getLong(4) == 50L, r)          // max_abs_cusum (scaled)
    assert(r.getDouble(5) == 0.25, r)       // cusum_norm
  }

  test("q175: metronome user scores B = -1; bursty user matches closed form") {
    val dir = tmp("graft-burst")
    val base = java.time.Instant.parse("2024-01-05T00:00:00Z")
    def ev(id: Long, u: Long, s: Long) = (id,
      java.sql.Timestamp.from(base.plusSeconds(s)), u)
    // user 1: gaps 10,10,10 s -> sigma=0 -> B = -1 exactly
    // user 2: gaps 1,1,28 s -> closed-form B recomputed below
    // user 3: ONE gap -> filtered (needs >= 2 gaps for a sigma)
    val evs = Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 20), ev(4, 1, 30),
      ev(10, 2, 0), ev(11, 2, 1), ev(12, 2, 2), ev(13, 2, 30),
      ev(20, 3, 0), ev(21, 3, 5))
    evs.toDF("event_id", "ts", "user_id")
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SeriesOps.q175Burstiness.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L), out)
    assert(out(1L) == ((3L, -1.0)), out)
    // recompute user 2 with the same double math: m=3, sg=30e6,
    // sgg=1e12+1e12+784e12
    val (m, sg, sgg) = (3.0, 30e6, 786e12)
    val som = math.sqrt(m * sgg - sg * sg) / m
    val mu = sg / m
    val want = math.floor(((som - mu) / (som + mu)) * 1000000 + 0.5) / 1000000
    assert(out(2L)._2 == want, s"${out(2L)} vs $want")
  }

  test("q175: all-zero gaps (single-timestamp burst) report B = -1, not 0/0") {
    val dir = tmp("graft-burst0")
    // 3 events on ONE timestamp -> gaps 0,0 -> sigma = mu = 0; the
    // guard must report the metronome limit -1 (Spark NULL vs DuckDB
    // NaN would otherwise diverge AND misrank the exact bot class
    // this query screens for)
    (1 to 3).map(i => (i.toLong, 1L))
      .toDF("event_id", "user_id")
      .withColumn("ts", to_timestamp(lit("2024-01-05 00:00:00")))
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SeriesOps.q175Burstiness.fn(spark, dir).collect()
    assert(out.length == 1 && out.head.getDouble(3) == -1.0 &&
      out.head.getDouble(2) == 0.0, out.toSeq)
  }

  test("q176: conformal quantile and coverage are closed-form") {
    val dir = tmp("graft-conf")
    // cal (pre): cents 1..10 -> n=10, S=55; scaled residuals
    // |10y - 55| sorted: 5,5,15,15,25,25,35,35,45,45; k =
    // ceil(0.9 * 11) = 10 -> qhat = 45 -> qhat_cents = 4.5
    // eval (post): cents 1, 5, 10, 11 -> residuals 45, 5, 45, 55 ->
    // covered 3 of 4
    val evs =
      (1 to 10).map(k => (k.toLong, "2024-01-05 00:00:00", k / 100.0)) ++
      Seq((101L, "2024-01-20 00:00:00", 0.01),
        (102L, "2024-01-20 00:00:00", 0.05),
        (103L, "2024-01-20 00:00:00", 0.10),
        (104L, "2024-01-20 00:00:00", 0.11))
    evs.toDF("event_id", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("a"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = StatsOps.q176ConformalInterval.fn(spark, dir).collect()
    assert(out.length == 1, out.toSeq)
    val r = out.head
    assert(r.getLong(1) == 10L, r)        // n_cal
    assert(r.getLong(2) == 4L, r)         // n_eval
    assert(r.getDouble(3) == 4.5, r)      // qhat_cents
    assert(r.getDouble(4) == 0.75, r)     // coverage
    graft.CacheHygiene.sweep(spark)       // groupedPrefixSums pins a cache
  }

  test("q180: fan-out ranks keys by n^2 with exact output shares") {
    val dir = tmp("graft-fanout")
    // users with 4 / 2 / 1 events -> out rows 16 / 4 / 1, total 21
    val evs = (1 to 4).map(i => (i.toLong, 1L)) ++
      (5 to 6).map(i => (i.toLong, 2L)) ++ Seq((7L, 3L))
    evs.toDF("event_id", "user_id")
      .withColumn("ts", to_timestamp(lit("2024-01-05 00:00:00")))
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SketchOps.q180JoinSkewAudit.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def share(o: Long) = math.floor((o / 21.0) * 1000000 + 0.5) / 1000000
    assert(out.toSeq == Seq(
      (1L, 4L, 16L, share(16)),
      (2L, 2L, 4L, share(4)),
      (3L, 1L, 1L, share(1))), out.toSeq)
  }

  test("q183: KM credits censored users and ignores pre-signup purchases") {
    val dir = tmp("graft-km")
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def ev(id: Long, u: Long, tpe: String, day: Int, hour: Int = 0) =
      (id, java.sql.Timestamp.from(
        base.plusSeconds(86400L * day + 3600L * hour)), u, tpe)
    // u1 converts day 0; u2 day 2; u3 censored at horizon (day 4, set
    // by its view); u4 signs up day 2, censored (cens 2); u5 has no
    // signup -> excluded; u6's purchase PRECEDES its signup -> the
    // purchase must not count, u6 is censored (cens 2).
    // KM: t=0: 1 event / 5 at risk -> 0.8; t=2: 1 / 4 -> 0.6
    val evs = Seq(
      ev(1, 1, "signup", 0), ev(2, 1, "purchase", 0, 1),
      ev(3, 2, "signup", 0), ev(4, 2, "purchase", 2),
      ev(5, 3, "signup", 0), ev(6, 3, "view", 4),
      ev(7, 4, "signup", 2),
      ev(8, 5, "purchase", 0),
      ev(9, 6, "purchase", 0), ev(10, 6, "signup", 2))
    evs.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = BusinessOps.q183KmSurvival.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out == Map(0L -> ((5L, 1L, 0.8)), 2L -> ((4L, 1L, 0.6))), out)
  }

  test("q184: dependent cells give MI = H = ln 2, nmi 1; independent give 0") {
    def write(dir: String, evs: Seq[(Long, Int, String)]): Unit = {
      val base = java.time.Instant.parse("2024-01-05T00:00:00Z")
      evs.map { case (id, hour, tpe) => (id,
        java.sql.Timestamp.from(base.plusSeconds(3600L * hour)), tpe) }
        .toDF("event_id", "ts", "event_type")
        .withColumn("user_id", lit(1L))
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val d1 = tmp("graft-mi1")
    // type 'a' only at hour 0, 'b' only at hour 1 -> perfect dependence
    write(d1, Seq((1L, 0, "a"), (2L, 0, "a"), (3L, 1, "b"), (4L, 1, "b")))
    val r1 = StatsOps.q184MutualInfo.fn(spark, d1).head()
    val ln2 = math.floor(
      2 * math.floor(0.5 * math.log(2.0) * 1e9 + 0.5) / 1000 + 0.5) / 1e6
    assert(r1.getDouble(0) == ln2, r1)  // mi_nats
    assert(r1.getDouble(1) == ln2 && r1.getDouble(2) == ln2, r1)
    assert(r1.getDouble(3) == 1.0, r1)  // nmi
    val d2 = tmp("graft-mi2")
    // uniform 2x2 -> independence, MI exactly 0
    write(d2, Seq((1L, 0, "a"), (2L, 1, "a"), (3L, 0, "b"), (4L, 1, "b")))
    val r2 = StatsOps.q184MutualInfo.fn(spark, d2).head()
    assert(r2.getDouble(0) == 0.0 && r2.getDouble(3) == 0.0, r2)
  }

  test("q185: alternating series has acf -1 at odd lags, +1 at even") {
    val dir = tmp("graft-acf")
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // daily counts 1,3,1,3,... over 14 days: a period-2 oscillation
    // -> Pearson r = -1 at odd lags, +1 at even lags, exactly
    val evs = (0 until 14).flatMap { d =>
      val n = if (d % 2 == 0) 1 else 3
      (0 until n).map(j => (d.toLong * 10 + j, java.sql.Timestamp.from(
        base.plusSeconds(86400L * d + j))))
    }
    evs.toDF("event_id", "ts")
      .withColumn("user_id", lit(1L)).withColumn("event_type", lit("a"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SeriesOps.q185Acf.fn(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 7, out)
    (1L to 7L).foreach { k =>
      val (n, r) = out(k)
      assert(n == 14 - k, s"lag $k: $out")
      assert(r == (if (k % 2 == 1) -1.0 else 1.0), s"lag $k: $out")
    }
  }

  test("q188: Benford MAD scorecard is closed-form on a planted spiked feed") {
    val dir = tmp("graft-benford")
    // 2020: 3 totals leading with 1, 2 with 2, 5 with 9 -> shares
    // 0.3 / 0.2 / 0.5 against expected log10(1+1/d)
    val totals = Seq(100.00, 150.00, 199.99, 250.00, 210.00,
      900.00, 900.00, 900.00, 900.00, 900.00)
    totals.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("o_orderkey", "o_totalprice")
      .withColumn("o_custkey", lit(1L))
      .withColumn("o_orderstatus", lit("F"))
      .withColumn("o_orderdate", to_timestamp(lit("2020-06-01 00:00:00")))
      .withColumn("o_orderpriority", lit("1-URGENT"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = StatsOps.q188Benford.fn(spark, dir).head()
    assert(r.getLong(0) == 2020L && r.getLong(1) == 10L, r)
    // replicate the engine's zero-filled grid + fixed-point MAD fold
    def expected(d: Long): Double =
      math.floor(math.log10(1 + 1.0 / d) * 1000000 + 0.5) / 1000000
    val share = Map(1L -> 0.3, 2L -> 0.2, 9L -> 0.5).withDefaultValue(0.0)
    val dvs = (1L to 9L).map(d => d -> math.abs(share(d) - expected(d)))
    val mad = dvs.map { case (_, dv) =>
      math.floor(dv * 1e9 + 0.5).toLong }.sum.toDouble / 9000000000L
    assert(r.getDouble(2) == mad, s"$r vs $mad")
    assert(r.getDouble(3) == dvs.map(_._2).max, r)
    // worst digit: max dv, smaller digit on quantized ties
    val worst = dvs.maxBy { case (d, dv) =>
      math.floor(dv * 1e9 + 0.5).toLong * 16 + (9 - d) }._1
    assert(r.getLong(4) == worst, r)
    // a 50%-spike-at-9 feed must read as nonconforming (MAD > 0.015)
    assert(r.getDouble(2) > 0.015, r)
  }

  test("q189: trimmed mean exact when tied runs straddle the trim boundary") {
    val dir = tmp("graft-trim")
    // 20 rows, k = 2: five 1-cent, ten 5-cent, five 9-cent. The trim
    // cuts INTO both boundary runs (drops two 1s and two 9s), so the
    // clamp algebra — not a whole-run pick — carries the answer:
    // kept = 3·1 + 10·5 + 3·9 = 80 over 16 rows -> 5.0
    val evs = (Seq.fill(5)(0.01) ++ Seq.fill(10)(0.05) ++ Seq.fill(5)(0.09))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    evs.toDF("event_id", "value")
      .withColumn("ts", to_timestamp(lit("2024-01-05 00:00:00")))
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("a"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = StatsOps.q189TrimmedMean.fn(spark, dir).head()
    assert(r.getLong(1) == 20L && r.getLong(2) == 2L, r)
    assert(r.getLong(3) == 80L, r)
    assert(r.getDouble(4) == 5.0, r)
    graft.CacheHygiene.sweep(spark) // groupedPrefixSums pins a cache
  }

  test("q190: Theil-Sen slope ignores a planted outage day where OLS cannot") {
    val dir = tmp("graft-theilsen")
    // daily counts over days 0..8: c = 10 + day (slope 1), except day
    // 4 is an outage spike of 1000 events. Pairwise-slope median stays
    // 1.0 (only the 8 of 36 pairs touching day 4 are corrupted); an
    // OLS fit over the same days gives slope ~0 by symmetry of the
    // centered spike — the robustness this estimator exists for.
    var id = 0L
    val evs = (0 to 8).flatMap { day =>
      val n = if (day == 4) 1000 else 10 + day
      (1 to n).map { _ => id += 1; (id, s"2024-01-0${day + 1} 00:00:00") }
    }
    evs.toDF("event_id", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("a"))
      .withColumn("value", lit(0.0))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SeriesOps.q190TheilSen.fn(spark, dir).head()
    assert(r.getLong(1) == 36L, r) // C(9,2) pairs
    assert(r.getDouble(2) == 1.0, r)
    graft.CacheHygiene.sweep(spark) // daily frame is pinned
  }

  test("q192: MK statistic exact on a monotone series with one planted tie") {
    val dir = tmp("graft-mk")
    // daily counts over days 0..5: 10,11,12,12,14,15 — strictly
    // increasing except one tied pair. Hand count: S = 14 (15 pairs,
    // 14 concordant, 1 tie), n = 6, tie group t=2 ->
    // 18Var = 6*5*17 - 2*1*9 = 492, Z = 13 / sqrt(492/18)
    var id = 0L
    val counts = Seq(10, 11, 12, 12, 14, 15)
    val evs = counts.zipWithIndex.flatMap { case (n, day) =>
      (1 to n).map { _ => id += 1; (id, s"2024-01-0${day + 1} 00:00:00") }
    }
    evs.toDF("event_id", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("a"))
      .withColumn("value", lit(0.0))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SeriesOps.q192MannKendall.fn(spark, dir).head()
    assert(r.getLong(1) == 6L && r.getLong(2) == 14L, r)
    assert(r.getLong(3) == 492L, r)
    val want = math.floor((13.0 / math.sqrt(492.0 / 18.0)) * 1e6 + 0.5) / 1e6
    assert(r.getDouble(4) == want, s"$r vs $want")
    graft.CacheHygiene.sweep(spark) // daily frame is pinned
  }

  test("q187: PSI matches the hand-folded value on a planted shift") {
    val dir = tmp("graft-psi")
    // pre: cents 1..100 -> decile cuts at 10,20,..,90, ten rows per
    // bin; post: 50 events all at 95 cents (bin 9). Laplace shares:
    // p_b = 11/110 for every bin; q_9 = 51/60, q_other = 1/60.
    val evs =
      (1 to 100).map(k => (k.toLong, "2024-01-05 00:00:00", k / 100.0)) ++
      (1 to 50).map(k => (200L + k, "2024-01-20 00:00:00", 0.95))
    import org.apache.spark.sql.functions.to_timestamp
    evs.toDF("event_id", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("a"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = StatsOps.q187PsiDrift.fn(spark, dir).head()
    assert(r.getLong(1) == 100L && r.getLong(2) == 50L, r)
    // replicate the engine's fixed-point fold exactly
    def term(p: Double, q: Double): Long =
      math.floor((p - q) * math.log(p / q) * 1e9 + 0.5).toLong
    val fp = (0 until 9).map(_ => term(11.0 / 110, 1.0 / 60)).sum +
      term(11.0 / 110, 51.0 / 60)
    val want = math.floor(fp.toDouble / 1000 + 0.5) / 1e6
    assert(r.getDouble(3) == want, s"$r vs $want")
    assert(r.getDouble(3) > 0.25, "a planted shift must read as action-level")
    graft.CacheHygiene.sweep(spark) // groupedPrefixSums pins a cache
  }
}
