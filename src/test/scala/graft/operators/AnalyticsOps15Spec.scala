package graft.operators

import graft.SparkSpec

/** Closed-form fixtures for the round-12 tranche three (q258–q264):
  * textbook values on hand-computable inputs plus degenerate guards.
  */
class AnalyticsOps15Spec extends SparkSpec {
  private val d = sf("sf0.001")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, Double, Long)]): Unit = {
    import spark.implicits._
    rows.map { case (id, uid, t, v, day) =>
      (id, new java.sql.Timestamp(1705000000000L + day * 86400000L),
        uid, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeOrders(dir: String,
      rows: Seq[(Long, Double, Long)]): Unit = {
    import spark.implicits._
    rows.map { case (id, price, day) =>
      (id, 1L, "O", price,
        new java.sql.Timestamp(1704067200000L + day * 86400000L),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  private def writeDocsN(dir: String,
      rows: Seq[(Long, String, String, Long)]): Unit = {
    import spark.implicits._
    rows.map { case (id, src, text, nc) => (id, text, "en", src, nc) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("q258: hand CvM on a 2x2 fixture; identical samples give 0") {
    val dir = tmp("graft-cvm")
    // grp 0 (even ids): {1, 2}; grp 1 (odd ids): {1, 3} → only v = 2
    // has a gap (|1 − .5| = .5, t = 1) → T = (4/16)·0.25 = 0.0625
    writeEvents(dir, Seq((0L, 1L, "view", 0.01, 0L),
      (2L, 1L, "view", 0.02, 0L), (1L, 1L, "view", 0.01, 0L),
      (3L, 1L, "view", 0.03, 0L)))
    val r = StatsOps.q258CvmDrift.fn(spark, dir).head()
    assert((r.getAs[Long]("n_a"), r.getAs[Long]("n_b")) == ((2L, 2L)))
    assert(r.getAs[Double]("cvm_t") == 0.0625)
    val dir2 = tmp("graft-cvm0")
    writeEvents(dir2, Seq((0L, 1L, "view", 0.01, 0L),
      (1L, 1L, "view", 0.01, 0L)))
    assert(StatsOps.q258CvmDrift.fn(spark, dir2)
      .head().getAs[Double]("cvm_t") == 0.0)
  }

  test("q259: fully ordered months give the textbook J and z") {
    val dir = tmp("graft-jt")
    // Jan: {1, 2} cents·100, Feb: {3, 4} → J = 4, E = 2,
    // Var = (16·11 − 8·7)/72 = 5/3 → z = 2/sqrt(5/3)
    writeOrders(dir, Seq((1L, 0.01, 0L), (2L, 0.02, 1L),
      (3L, 0.03, 32L), (4L, 0.04, 33L)))
    val r = StatsOps.q259Jonckheere.fn(spark, dir).head()
    assert(r.getAs[Long]("n_orders") == 4L)
    assert(r.getAs[Long]("n_months") == 2L)
    assert(r.getAs[Double]("j_stat") == 4.0)
    assert(r.getAs[Double]("j_null") == 2.0)
    val z = math.floor(2.0 / math.sqrt(5.0 / 3) * 1e6 + 0.5) / 1e6
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-9)
  }

  test("q259: one month of orders has no earlier month, so J is NULL") {
    import org.apache.spark.sql.functions._
    val dir = tmp("graft-jt1")
    val orders = graft.Tables.orders(spark, d)
      .withColumn("mon", date_trunc("month", col("o_orderdate")))
    val first = orders.agg(min(col("mon"))).head().get(0)
    orders.filter(col("mon") === lit(first)).drop("mon")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = StatsOps.q259Jonckheere.fn(spark, dir).head()
    assert(r.getAs[Long]("n_months") == 1L)
    assert(r.getAs[Long]("n_orders") > 1L)
    assert(r.isNullAt(r.fieldIndex("j_stat")))
  }

  test("q260: two sources in perfect agreement give W = 1") {
    import spark.implicits._
    val dir = tmp("graft-kw2")
    Seq((1L, "a a b", "en", "A", 5L), (2L, "a a a b", "en", "B", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = StatsOps.q260KendallsW.fn(spark, dir).head()
    assert(r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[Long]("n_words") == 2L)
    assert(r.getAs[Double]("w") == 1.0)
    assert(r.getAs[Double]("chi2") == 2.0)
  }

  test("q260: reversed rankings give W = 0") {
    import spark.implicits._
    val dir = tmp("graft-kw0")
    // A ranks a above b, B ranks b above a → R2 sums equal → S2 = 0
    Seq((1L, "a a b", "en", "A", 5L), (2L, "a b b", "en", "B", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = StatsOps.q260KendallsW.fn(spark, dir).head()
    assert(r.getAs[Double]("w") == 0.0)
  }

  test("q261: hand Chapman estimate with the truth beside it") {
    val dir = tmp("graft-cap")
    // day offset 1 = 2024-01-12 (even): users {1, 2};
    // day offset 0 = 2024-01-11 (odd): users {2, 3}
    // n1 = n2 = 2, m = 1, true = 3 → N̂ = 9/2 − 1 = 3.5,
    // se = sqrt(3·3·1·1/(4·3)) = sqrt(0.75)
    writeEvents(dir, Seq((1L, 1L, "view", 1.0, 1L),
      (2L, 2L, "view", 1.0, 1L), (3L, 2L, "view", 1.0, 0L),
      (4L, 3L, "view", 1.0, 0L)))
    val r = SketchOps.q261CaptureRecapture.fn(spark, dir).head()
    assert((r.getAs[Long]("n_even"), r.getAs[Long]("n_odd"),
      r.getAs[Long]("n_both"), r.getAs[Long]("n_true"))
      == ((2L, 2L, 1L, 3L)))
    assert(r.getAs[Double]("n_hat") == 3.5)
    val se = math.floor(math.sqrt(0.75) * 1e6 + 0.5) / 1e6
    assert(r.getAs[Double]("se") == se)
  }

  test("q262: hand Cochran's Q; all-identical rows degrade to 0") {
    val dir = tmp("graft-cq")
    // h2 = 0 everywhere ("t" has no digit); doc1: h1 = 1 (2000 chars),
    // h3 = 1 (2000 > 6·1); doc2: h3 only (10 > 6); doc3: none (3 < 6)
    // C = (1, 0, 2), R = (2, 1, 0): Q = 2(3·5 − 9)/(3·3 − 5) = 3
    writeDocsN(dir, Seq((1L, "A", "t", 2000L), (2L, "A", "t", 10L),
      (3L, "A", "t", 3L)))
    val r = StatsOps.q262CochransQ.fn(spark, dir).head()
    assert((r.getAs[Long]("n_long"), r.getAs[Long]("n_digit"),
      r.getAs[Long]("n_longtok")) == ((1L, 0L, 2L)))
    assert(r.getAs[Double]("q_stat") == 3.0)
    val dir2 = tmp("graft-cq0")
    writeDocsN(dir2, Seq((1L, "A", "t", 3L), (2L, "A", "t", 3L)))
    assert(StatsOps.q262CochransQ.fn(spark, dir2)
      .head().getAs[Double]("q_stat") == 0.0)
  }

  test("q263: the panel matches the closed form on the engine's own counts") {
    import org.apache.spark.sql.functions._
    val r = BusinessOps.q263MdePower.fn(spark, d).head()
    // recompute the md5 arm split independently (the q243-spec device)
    val m = graft.Tables.events(spark, d)
      .select(expr("conv(substring(md5(cast(user_id AS string)), 1, 15)," +
        " 16, 10)").cast("long").as("h"),
        (col("event_type") === "purchase").cast("long").as("y"),
        to_date(col("ts")).as("day"))
    val a = m.filter(col("h") % 2 === 0)
      .agg(count(lit(1)).as("na"), sum(col("y")).as("ka")).head()
    val b = m.filter(col("h") % 2 =!= 0)
      .agg(count(lit(1)).as("nb"), countDistinct(col("day")).as("days"))
      .head()
    val (na, ka) = (a.getAs[Long]("na"), a.getAs[Long]("ka"))
    val (nb, days) = (b.getAs[Long]("nb"), b.getAs[Long]("days"))
    assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
    assert(r.getAs[Long]("n_days") == days)
    val p = ka.toDouble / na
    val zsum = 1.959963984540054 + 0.8416212335729143
    val mde = zsum * math.sqrt(2 * p * (1 - p) / nb)
    assert(math.abs(r.getAs[Double]("mde_abs")
      - math.floor(mde * 1e6 + 0.5) / 1e6) < 1e-12)
    val nReq = 2 * p * (1 - p) * (zsum * zsum) / ((0.05 * p) * (0.05 * p))
    assert(r.getAs[Long]("n_req_per_arm") == math.ceil(nReq).toLong)
    assert(r.getAs[Long]("days_required")
      == math.ceil(nReq / (nb.toDouble / days)).toLong)
  }

  test("q264: separated two-group fixture matches the hand A2akN") {
    val dir = tmp("graft-ad")
    // X = {1, 2}, Y = {3, 4}: per-value terms are exactly 1/3, 9/11,
    // 9/11, 1/3 for each source → A2 = (3/4)·2·(S/2), S = 2/3 + 18/11
    writeDocsN(dir, Seq((1L, "X", "t", 1L), (2L, "X", "t", 2L),
      (3L, "Y", "t", 3L), (4L, "Y", "t", 4L)))
    val r = StatsOps.q264KSampleAd.fn(spark, dir).head()
    assert(r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[Long]("n_docs") == 4L)
    // recompute through the same quantized chain
    val t6 = Seq(1.0 / 3, 9.0 / 11, 9.0 / 11, 1.0 / 3)
      .map(t => math.floor(t * 1e6 + 0.5).toLong)
    val s6 = t6.sum
    val per = math.floor((s6.toDouble / 1e6 / 2) * 1e9 + 0.5).toLong
    val a2 = math.floor((3.0 / 4 * (2.0 * per / 1e9)) * 1e6 + 0.5) / 1e6
    assert(r.getAs[Double]("a2_stat") == a2,
      s"got ${r.getAs[Double]("a2_stat")} want $a2")
    // identical samples score 0
    val dir2 = tmp("graft-ad0")
    writeDocsN(dir2, Seq((1L, "X", "t", 1L), (2L, "X", "t", 2L),
      (3L, "Y", "t", 1L), (4L, "Y", "t", 2L)))
    assert(StatsOps.q264KSampleAd.fn(spark, dir2)
      .head().getAs[Double]("a2_stat") == 0.0)
  }
}
