package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form contracts for the round-9 analytics tranche (q155–
  * q159; q154's estimator contract lives in SketchAggregatesSpec
  * beside its aggregate). */
class AnalyticsOps5Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def day(s: String): Long = java.time.LocalDate.parse(s).toEpochDay

  test("q155: transition counts and row-normalized probabilities") {
    import spark.implicits._
    val dir = tmp("graft-markov")
    // user 1: A→B→A; user 2: A→B; user 3: A→A
    // transitions: A→B ×2, B→A ×1, A→A ×1 → from A margin 3, from B 1
    Seq((1L, 1L, "A", "2026-01-01 10:00:00"),
      (2L, 1L, "B", "2026-01-01 10:01:00"),
      (3L, 1L, "A", "2026-01-01 10:02:00"),
      (4L, 2L, "A", "2026-01-01 11:00:00"),
      (5L, 2L, "B", "2026-01-01 11:01:00"),
      (6L, 3L, "A", "2026-01-01 12:00:00"),
      (7L, 3L, "A", "2026-01-01 12:01:00"))
      .toDF("event_id", "user_id", "event_type", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = BusinessOps.q155MarkovTransitions.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(
      ("A", "B") -> ((2L, 3L, 2.0 / 3.0)),
      ("A", "A") -> ((1L, 3L, 1.0 / 3.0)),
      ("B", "A") -> ((1L, 1L, 1.0))), out)
  }

  test("q156: 5-second same-(user,type) lag suppression counts") {
    import spark.implicits._
    val dir = tmp("graft-debounce")
    // user 1 type X at 0s, 3s, 10s → the 3s event is within 5s of the
    // previous (suppressed), the 10s one is 7s after (kept);
    // user 2 type Y single event → kept
    Seq((1L, 1L, "X", "2026-01-01 00:00:00"),
      (2L, 1L, "X", "2026-01-01 00:00:03"),
      (3L, 1L, "X", "2026-01-01 00:00:10"),
      (4L, 2L, "Y", "2026-01-01 00:00:01"))
      .toDF("event_id", "user_id", "event_type", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SeriesOps.q156Debounce.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      "X" -> ((3L, 1L, 2L)),
      "Y" -> ((1L, 0L, 1L))), out)
  }

  test("q157: cohort triangle counts users by first-day and week index") {
    import spark.implicits._
    val dir = tmp("graft-retention")
    // users 1,2 cohort Jan 1; user 1 returns on day 7 (week 1);
    // user 3's cohort is Jan 9 (its own row at week 0)
    Seq((1L, 1L, "2026-01-01 10:00:00"),
      (2L, 1L, "2026-01-08 10:00:00"), // day 7 → wk 1
      (3L, 2L, "2026-01-01 11:00:00"),
      (4L, 3L, "2026-01-09 09:00:00"))
      .toDF("event_id", "user_id", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = BusinessOps.q157RetentionTriangle.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      (day("2026-01-01"), 0L) -> 2L,
      (day("2026-01-01"), 1L) -> 1L,
      (day("2026-01-09"), 0L) -> 1L), out)
  }

  test("q158: smoothed KL matches the hand-rolled double reference") {
    import spark.implicits._
    val dir = tmp("graft-kl")
    // corpus: a×3, b×2 → V=2, N=5; source w = "a a b" (n=3),
    // source p = "a b" (n=2)
    Seq((1L, "a a b", "w"), (2L, "a b", "p"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def term(cs: Long, ns: Long, c: Long, n: Long, v: Long): Long = {
      val p = (cs + 1).toDouble / (ns + v)
      val q = (c + 1).toDouble / (n + v)
      math.floor(p * math.log(p / q) * 1000000000L + 0.5).toLong
    }
    val wantW = term(2, 3, 3, 5, 2) + term(1, 3, 2, 5, 2)
    val wantP = term(1, 2, 3, 5, 2) + term(1, 2, 2, 5, 2)
    val out = TextStatsOps.q158UnigramKl.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map("w" -> ((3L, wantW)), "p" -> ((2L, wantP))), out)
    // KL of a distribution against a mixture containing it is >= 0
    assert(wantW >= 0 && wantP >= 0)
  }

  test("q162: output is the exact heavy-hitter set, sketch only proposes") {
    import spark.implicits._
    val dir = tmp("graft-hh")
    // 1000 tokens: "the" ×10 (1.0% ≥ 0.5% threshold), "of" ×5
    // (exactly at 200·5 = 1000 = N), "rare" ×4 (just below), filler
    // unique tokens for the rest
    val toks = Seq.fill(10)("the") ++ Seq.fill(5)("of") ++
      Seq.fill(4)("rare") ++ (1 to 981).map(i => s"u$i")
    Seq((1L, toks.mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SketchOps.q162HeavyHitters.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map(
      "the" -> ((10L, 0.01)),
      "of" -> ((5L, 0.005))), out)
    graft.CacheHygiene.sweep(spark)
  }

  test("q165: dataset card rows carry exact volume/dup/lang stats") {
    import spark.implicits._
    val dir = tmp("graft-card")
    Seq((1L, "x y", "en", "A", 3L), (2L, "x y", "en", "A", 3L),
      (3L, "z", "de", "A", 1L), (4L, "solo doc", "fr", "B", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextStatsOps.q165DatasetCard.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getString(7),
        r.getDouble(8)))).toMap
    // A: 3 docs, 5 tokens, 7 chars, 2 exact-dup rows, majority en (2/3)
    assert(out("A") == ((3L, 5L, 7L, 2L, 2.0 / 3.0, 7.0 / 3.0,
      "en", 2.0 / 3.0)), out)
    // B: singleton — no dups, its own lang at share 1
    assert(out("B") == ((1L, 2L, 8L, 0L, 0.0, 8.0, "fr", 1.0)), out)
    graft.CacheHygiene.sweep(spark)
  }

  test("q164: rolling exact counts are the 7-day window; estimates track") {
    import spark.implicits._
    val dir = tmp("graft-rolling")
    // day 0: users {1,2}; day 1: {2,3}; day 8: {9}
    // trailing-7d exact: d0=2, d1=3, d2..d6=3 (both days in window),
    // d7=2 (day 0 aged out), d8=1 (only day 8 in window)
    Seq((1L, 1L, "2026-01-01 10:00:00"), (2L, 2L, "2026-01-01 11:00:00"),
      (3L, 2L, "2026-01-02 10:00:00"), (4L, 3L, "2026-01-02 11:00:00"),
      (5L, 9L, "2026-01-09 10:00:00"))
      .toDF("event_id", "user_id", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val d0 = day("2026-01-01")
    val out = SketchOps.q164RollingDistinct.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val wantExact = Map(d0 -> 2L, (d0 + 1) -> 3L, (d0 + 2) -> 3L,
      (d0 + 3) -> 3L, (d0 + 4) -> 3L, (d0 + 5) -> 3L, (d0 + 6) -> 3L,
      (d0 + 7) -> 2L, (d0 + 8) -> 1L)
    assert(out.view.mapValues(_._1).toMap == wantExact, out)
    // linear-counting estimates at these cardinalities are near-exact
    out.values.foreach { case (_, relErr) => assert(relErr < 0.05, out) }
    graft.CacheHygiene.sweep(spark)
  }

  test("q163: CMS estimates are exact-or-over, true counts exact") {
    import spark.implicits._
    val dir = tmp("graft-cms")
    val toks = Seq.fill(7)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma")
    Seq((1L, toks.mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SketchOps.q163CountMin.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set("alpha", "beta", "gamma"), out)
    assert(out("alpha")._1 == 7L && out("beta")._1 == 3L &&
      out("gamma")._1 == 1L, out)
    // the CMS guarantee: never an undercount
    out.values.foreach { case (t, e, over) =>
      assert(e >= t && over == e - t, out)
    }
  }

  test("q161: centroid cosine matches the quantized-int reference") {
    import spark.implicits._
    val dir = tmp("graft-drift")
    // label 1: two (1,0) vectors → centroid (1,0); label 2: one (0,1)
    // → global centroid (2/3, 1/3); cosines computed through the SAME
    // quantize-then-sum path the query defines
    Seq((1L, Seq(1.0f, 0.0f), 1), (2L, Seq(1.0f, 0.0f), 1),
      (3L, Seq(0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def fp(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    def cosRef(a: Seq[Double], b: Seq[Double]): Double = {
      val num = a.zip(b).map { case (x, y) => fp(x * y) }.sum
      val na = a.map(x => fp(x * x)).sum
      val nb = b.map(x => fp(x * x)).sum
      math.floor(((num.toDouble / math.sqrt(na.toDouble)) /
        math.sqrt(nb.toDouble)) * 1e6 + 0.5) / 1e6
    }
    val g = Seq(2.0 / 3.0, 1.0 / 3.0)
    val out = ClusteringOps.q161CentroidDrift.fn(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map(
      1 -> ((2L, cosRef(Seq(1.0, 0.0), g))),
      2 -> ((1L, cosRef(Seq(0.0, 1.0), g)))), out)
  }

  test("q166: exact quantiles closed-form; histogram estimate one-sided < 1/8") {
    import spark.implicits._
    val dir = tmp("graft-histq")
    // type A: cents 1..100 (value k/100) → p50 rank 50 → 50¢,
    // p95 → 95¢, p99 → 99¢. Bucket math for 50¢: e=5, idx=8·5+(50>>2)−8
    // =44, ub=(4+9)·4−1=51 — pins the log-linear sub-bucket formula.
    // type B: cents 1..8 → all sub-8 buckets are EXACT (idx=v, ub=v).
    val a = (1 to 100).map(k => (k.toLong, "A", k / 100.0))
    val b = (1 to 8).map(k => (200L + k, "B", k / 100.0))
    (a ++ b).toDF("event_id", "event_type", "value")
      .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SketchOps.q166HistogramQuantiles.fn(spark, dir).collect()
    assert(rows.length == 6, rows.toSeq)
    val m = rows.map(r => (r.getString(0), r.getLong(1)) ->
      ((r.getLong(3), r.getLong(4)))).toMap // (exact, est)
    assert(m(("A", 50L)) == ((50L, 51L)), m)
    assert(m(("A", 95L)) == ((95L, 95L)), m)
    assert(m(("A", 99L)) == ((99L, 103L)), m)
    // sub-8 cents: the histogram IS exact
    assert(m(("B", 50L))._1 == m(("B", 50L))._2, m)
    assert(m(("B", 95L))._1 == m(("B", 95L))._2, m)
    // the one-sided guarantee, every row: exact ≤ est < exact · 9/8
    rows.foreach { r =>
      val (exact, est) = (r.getLong(3), r.getLong(4))
      assert(est >= exact && est.toDouble < exact * 1.125,
        s"${r.getString(0)}/${r.getLong(1)}: exact=$exact est=$est")
    }
  }

  test("q159: decile migration pairs early and late ranks per customer") {
    import spark.implicits._
    val dir = tmp("graft-decile")
    // early (Jan): c1 spends 1.00, c2 spends 2.00 → ranks 1,2 of 2 →
    //   deciles 0 and 5; late (Mar): c2 spends 0.50, c1 spends 1.00 →
    //   deciles 0 (c2) and 5 (c1) → matrix: c1 (0→5), c2 (5→0)
    Seq((1L, 1L, 1.00, "2026-01-01 00:00:00"),
      (2L, 2L, 2.00, "2026-01-02 00:00:00"),
      (3L, 2L, 0.50, "2026-03-01 00:00:00"),
      (4L, 1L, 1.00, "2026-03-02 00:00:00"))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "tss")
      .withColumn("o_orderdate", to_timestamp(col("tss"))).drop("tss")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = BusinessOps.q159DecileMigration.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 5L) -> 1L, (5L, 0L) -> 1L), out)
    graft.CacheHygiene.sweep(spark) // groupedPrefixSum pins a cache
  }

  test("q171: exact intersection is closed-form; sketch algebra is consistent") {
    import spark.implicits._
    val dir = tmp("graft-hllov")
    // users 1..100 fire both types; 101..150 only type 'a':
    // exact |a ∩ b| = 100, |a| = 150, |b| = 100
    val evs =
      (1 to 150).map(u => (u.toLong * 2, u.toLong, "a")) ++
      (1 to 100).map(u => (u.toLong * 2 + 1, u.toLong, "b"))
    evs.toDF("event_id", "user_id", "event_type")
      .withColumn("ts", to_timestamp(lit("2024-01-05 00:00:00")))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SketchOps.q171HllOverlap.fn(spark, dir).collect()
    assert(rows.length == 1, rows.toSeq)
    val r = rows.head
    assert(r.getString(0) == "a" && r.getString(1) == "b", r)
    assert(r.getLong(2) == 100L, r) // exact intersection
    val (estA, estB, estU, estI) =
      (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
    // inclusion-exclusion identity holds exactly as computed
    assert(estI == (estA + estB) - estU, r)
    // union of a superset: est_union must equal est_a (same register
    // array — b's members are all in a)
    assert(estU == estA, r)
    // p=10 sketch on 100-150 distinct runs in the linear-counting
    // regime: estimates land within a few percent of truth
    assert(math.abs(estA - 150.0) / 150.0 < 0.10, r)
    assert(math.abs(estI - 100.0) / 100.0 < 0.15, r)
  }
}
