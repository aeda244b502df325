package graft.operators

import graft.SparkSpec

/** Closed-form fixtures for the round-12 tranche (q248–q257):
  * textbook values on hand-computable inputs, degenerate guards, and
  * driver-side recomputations where the closed form is long
  * (Mahalanobis, RBO).
  */
class AnalyticsOps13Spec extends SparkSpec {
  private val d = sf("sf0.001")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** documents fixture with explicit n_chars and lang (the shared
    * writeDocs helper derives n_chars from the text — these tests
    * need to control it). */
  private def writeDocsN(dir: String,
      rows: Seq[(Long, String, String, Long)]): Unit = {
    import spark.implicits._
    rows.map { case (id, src, lang, nc) => (id, "t", lang, src, nc) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def writeDocsText(dir: String,
      rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, src, text) =>
      (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, Double, Long)]): Unit = {
    import spark.implicits._
    // (event_id, user_id, type, value, dayOffset)
    rows.map { case (id, uid, t, v, day) =>
      (id, new java.sql.Timestamp(1705000000000L + day * 86400000L),
        uid, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeOrders(dir: String,
      rows: Seq[(Long, Double, Long)]): Unit = {
    import spark.implicits._
    // (o_orderkey, o_totalprice, dayOffset from 2024-01-01)
    rows.map { case (id, price, day) =>
      (id, 1L, "O", price,
        new java.sql.Timestamp(1704067200000L + day * 86400000L), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  private def writeEmbeddings(dir: String,
      rows: Seq[(Long, Seq[Float], Int)]): Unit = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("q248: hand-computed delta on two small samples; bands attach") {
    val dir = tmp("graft-cd")
    // A = {1,2,3}, B = {2,4}: gt (a>b) = 1 (3>2), ties = 1 (2=2),
    // lt = 6-1-1 = 4 → delta = (1-4)/6 = -0.5 → |d| ≥ 0.474 → large
    writeDocsN(dir, Seq((1L, "A", "en", 1L), (2L, "A", "en", 2L),
      (3L, "A", "en", 3L), (4L, "B", "en", 2L), (5L, "B", "en", 4L)))
    val r = StatsOps.q248CliffsDelta.fn(spark, dir).head()
    assert(r.getAs[String]("source_a") == "A")
    assert((r.getAs[Long]("n_a"), r.getAs[Long]("n_b")) == ((3L, 2L)))
    assert(math.abs(r.getAs[Double]("cliffs_delta") + 0.5) < 1e-9)
    assert(r.getAs[String]("magnitude") == "large")
  }

  test("q248: identical distributions give delta 0, negligible") {
    val dir = tmp("graft-cd0")
    writeDocsN(dir, Seq((1L, "A", "en", 5L), (2L, "A", "en", 7L),
      (3L, "B", "en", 5L), (4L, "B", "en", 7L)))
    val r = StatsOps.q248CliffsDelta.fn(spark, dir).head()
    assert(r.getAs[Double]("cliffs_delta") == 0.0)
    assert(r.getAs[String]("magnitude") == "negligible")
  }

  test("q249: one shared word at depth 2 matches the closed form") {
    val dir = tmp("graft-rbo")
    // even half: "a a b" → ranks a=1, b=2; odd half: "a c c" →
    // ranks c=1, a=2. Shared: a at max-depth 2 → a_d = 1 for d ≥ 2
    writeDocsText(dir, Seq((2L, "A", "a a b"), (1L, "A", "a c c")))
    val r = EvalOps.q249Rbo.fn(spark, dir).head()
    assert((r.getAs[Long]("n_a"), r.getAs[Long]("n_b")) == ((2L, 2L)))
    assert(r.getAs[Long]("overlap_at_k") == 1L)
    // same quantized chain as the engine/oracle share
    val s9 = (2 to 50).map { dd =>
      val p9 = math.floor(math.pow(0.9, dd - 1) * 1e9 + 0.5)
      math.floor(p9 * 1.0 / dd + 0.5).toLong
    }.sum
    val expected = math.floor((0.1 * (s9.toDouble / 1e9)) * 1e6 + 0.5) / 1e6
    assert(math.abs(r.getAs[Double]("rbo") - expected) < 1e-9,
      s"got ${r.getAs[Double]("rbo")} want $expected")
  }

  test("q249: identical halves give RBO 1") {
    val dir = tmp("graft-rbo1")
    writeDocsText(dir, Seq((2L, "A", "a a b"), (1L, "A", "a a b")))
    val r = EvalOps.q249Rbo.fn(spark, dir).head()
    // a_d = min(d, 2) for both 2-word lists → rbo = (1-p)·Σ p^(d-1)·
    // min(d,2)/d over d=1..50, computed on the same quantized grid
    val s9 = (1 to 50).map { dd =>
      val p9 = math.floor(math.pow(0.9, dd - 1) * 1e9 + 0.5)
      math.floor(p9 * math.min(dd, 2).toDouble / dd + 0.5).toLong
    }.sum
    val expected = math.floor((0.1 * (s9.toDouble / 1e9)) * 1e6 + 0.5) / 1e6
    assert(math.abs(r.getAs[Double]("rbo") - expected) < 1e-9)
  }

  test("q250: a planted level shift is localized with the textbook K") {
    val dir = tmp("graft-pett")
    // days 0-3 at 0.10, days 4-7 at 10.00: max |U_t| at t = 4,
    // U_4 = -16 (all 16 cross pairs negative) → K = 16, change day =
    // 4th day; p = 2·exp(-6·256/(8³+8²)) = 2·exp(-8/3)
    writeOrders(dir, (0L to 7L).map(i =>
      (i, if (i < 4) 0.10 else 10.00, i)))
    val r = SeriesOps.q250Pettitt.fn(spark, dir).head()
    assert(r.getAs[Long]("n_days") == 8L)
    assert(r.getAs[java.sql.Date]("change_day").toString == "2024-01-04")
    assert(r.getAs[Double]("k_stat") == 16.0)
    val p = math.floor(2 * math.exp(-6.0 * 256 / (512 + 64)) * 1e9 + 0.5) / 1e9
    assert(math.abs(r.getAs[Double]("p_approx") - p) < 1e-12)
  }

  test("q251: interleaved scores match the hand DeLong variance") {
    val dir = tmp("graft-delong")
    // pos scores {1,2}, neg scores {1,2}: AUC = 0.5; V10 = {0.25,
    // 0.75}, V01 = {0.25, 0.75} → var10 = var01 = 0.125;
    // se = sqrt(0.125/2 + 0.125/2) = sqrt(0.125)
    writeEvents(dir, Seq((1L, 1L, "purchase", 0.01, 0L),
      (2L, 1L, "purchase", 0.02, 0L), (3L, 1L, "view", 0.01, 0L),
      (4L, 1L, "view", 0.02, 0L)))
    val r = StatsOps.q251DelongAuc.fn(spark, dir).head()
    assert((r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg")) == ((2L, 2L)))
    assert(r.getAs[Double]("auc") == 0.5)
    val se = math.sqrt(0.125)
    assert(math.abs(r.getAs[Double]("se") - se) < 1e-6)
    assert(math.abs(r.getAs[Double]("ci_lo")
      - (0.5 - 1.959963984540054 * se)) < 1e-5)
  }

  test("q251: perfect separation degrades se and CI width to 0") {
    val dir = tmp("graft-delong1")
    writeEvents(dir, Seq((1L, 1L, "purchase", 0.02, 0L),
      (2L, 1L, "purchase", 0.02, 0L), (3L, 1L, "view", 0.01, 0L),
      (4L, 1L, "view", 0.01, 0L)))
    val r = StatsOps.q251DelongAuc.fn(spark, dir).head()
    assert(r.getAs[Double]("auc") == 1.0)
    assert(r.getAs[Double]("se") == 0.0)
    assert(r.getAs[Double]("ci_lo") == 1.0 &&
      r.getAs[Double]("ci_hi") == 1.0)
  }

  test("q252: two-user fixture matches the hand delta-method chain") {
    val dir = tmp("graft-ratio")
    // u1: x=100 cents, y=2 events; u2: x=0, y=2 → R = 25; cxx = 5000,
    // cyy = cxy = 0, ȳ = 2 → var = 5000/(2·4) = 625 → se = 25
    writeEvents(dir, Seq((1L, 1L, "purchase", 1.00, 0L),
      (2L, 1L, "view", 9.99, 0L), (3L, 2L, "view", 5.00, 0L),
      (4L, 2L, "click", 5.00, 0L)))
    val r = StatsOps.q252RatioDeltaCi.fn(spark, dir).head()
    assert(r.getAs[Long]("n_users") == 2L)
    assert(r.getAs[Double]("ratio_cents_per_event") == 25.0)
    assert(r.getAs[Double]("se") == 25.0)
    assert(math.abs(r.getAs[Double]("ci_lo")
      - (25.0 - 1.959963984540054 * 25)) < 1e-5)
  }

  test("q253: two separated labels give the closed-form silhouette") {
    val dir = tmp("graft-sil")
    // label 0 at x ∈ {(0,0),(0,2)}, label 1 at {(10,0),(10,2)}:
    // every vector has a = 1, b = sqrt(101) →
    // s = (sqrt(101) - 1)/sqrt(101), identical for all four
    writeEmbeddings(dir, Seq(
      (1L, Seq(0f, 0f), 0), (2L, Seq(0f, 2f), 0),
      (3L, Seq(10f, 0f), 1), (4L, Seq(10f, 2f), 1)))
    val rows = ClusteringOps.q253Silhouette.fn(spark, dir)
      .collect().map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean_silhouette"))).toMap
    val b = math.sqrt(101.0)
    val s6 = math.floor(((b - 1.0) / b) * 1e6 + 0.5) / 1e6
    assert(rows(0L)._1 == 2L && rows(1L)._1 == 2L)
    assert(math.abs(rows(0L)._2 - s6) < 1e-6, s"${rows(0L)._2} vs $s6")
    assert(math.abs(rows(1L)._2 - s6) < 1e-6)
  }

  test("q254: a planted drifted day is rejected, quiet days are not") {
    val dir = tmp("graft-bh")
    // 49 quiet days at 20/100 purchases, one day at 60/100: the
    // drifted day barely moves the pooled rest (quiet-day z ≈ −0.2,
    // p ≈ 0.84), so only the drifted day survives BH at q = 0.05
    val rows = (0L until 50L).flatMap { day =>
      val k = if (day == 7L) 60 else 20
      (0 until 100).map { i =>
        (day * 100 + i, i.toLong,
          if (i < k) "purchase" else "view", 1.0, day)
      }
    }
    writeEvents(dir, rows)
    val out = AnalyticsOps13List.q254(spark, dir)
    val byDay = out.collect().map(r =>
      r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Boolean]("reject"), r.getAs[Double]("p_bh"))).toMap
    assert(byDay.size == 50)
    val drifted = byDay.filter(_._2._1)
    assert(drifted.keySet == Set("2024-01-18"),
      s"rejected set: ${drifted.keySet}")
  }

  test("q254: symmetric days give z = 0, p = 1, no rejections") {
    val dir = tmp("graft-bh0")
    writeEvents(dir, (0 until 20).map { i =>
      (i.toLong, i.toLong, if (i % 2 == 0) "purchase" else "view",
        1.0, (i / 10).toLong) })
    val out = AnalyticsOps13List.q254(spark, dir).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Double]("z") == 0.0)
      // the A&S polynomial's residual at 0 is ~1e-9 — p lands at
      // 0.999999999 on the report grid, which is the approximation,
      // not an engine defect
      assert(r.getAs[Double]("p_raw") >= 0.999999998)
      assert(!r.getAs[Boolean]("reject"))
    }
  }

  test("q255: three balanced sources match the hand MoM prior") {
    val dir = tmp("graft-eb")
    // rates 0.2 / 0.5 / 0.8 over n = 10 each: mean .5, var .09,
    // s0 = .25/.09 - 1 = 16/9; shrunk(k=2) = (2 + .5·16/9)/(10+16/9)
    val rows = Seq(("A", 2), ("B", 5), ("C", 8)).flatMap {
      case (src, k) => (0 until 10).map { i =>
        (src.hashCode.toLong * 100 + i, src,
          if (i < k) "en" else "de") }
    }.zipWithIndex.map { case ((_, src, lang), i) =>
      (i.toLong, src, lang, 10L) }
    writeDocsN(dir, rows)
    val out = AnalyticsOps13List.q255(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("rate"), r.getAs[Double]("shrunk_rate"))).toMap
    val s0 = 0.5 * 0.5 / 0.09 - 1
    def shrunk(k: Int) =
      math.floor((k + 0.5 * s0) / (10 + s0) * 1e6 + 0.5) / 1e6
    assert(out("A")._1 == 0.2 && math.abs(out("A")._2 - shrunk(2)) < 1e-6)
    assert(out("B")._1 == 0.5 && math.abs(out("B")._2 - shrunk(5)) < 1e-6)
    assert(out("C")._1 == 0.8 && math.abs(out("C")._2 - shrunk(8)) < 1e-6)
  }

  test("q255: zero cross-source variance degrades shrunk to raw") {
    val dir = tmp("graft-eb0")
    writeDocsN(dir, Seq((1L, "A", "en", 1L), (2L, "A", "de", 1L),
      (3L, "B", "en", 1L), (4L, "B", "de", 1L)))
    val out = AnalyticsOps13List.q255(spark, dir).collect()
    out.foreach { r =>
      assert(r.getAs[Double]("shrunk_rate") == r.getAs[Double]("rate"))
    }
  }

  test("q256: sf0.001 counts match a driver-side recomputation") {
    import org.apache.spark.sql.functions._
    // recompute the whole chain in plain Scala from the same features
    val f = graft.Tables.documents(spark, d)
      .select(col("source"), col("n_chars").cast("long").as("x1"),
        size(split(col("text"), " ", -1)).cast("long").as("x2"))
      .collect().map { r =>
        val x1 = r.getAs[Long]("x1"); val x2 = r.getAs[Long]("x2")
        val x3 = math.floor(x1.toDouble / x2 * 1000 + 0.5).toLong
        (r.getAs[String]("source"), x1, x2, x3)
      }
    val n = f.length.toLong
    def s(g: ((String, Long, Long, Long)) => BigInt): BigInt =
      f.map(g).sum
    val (s1, s2, s3) = (s(t => BigInt(t._2)), s(t => BigInt(t._3)),
      s(t => BigInt(t._4)))
    val (m1, m2, m3) =
      (s1.toDouble / n, s2.toDouble / n, s3.toDouble / n)
    def cv(sij: BigInt, si: BigInt, sj: BigInt): Double =
      math.floor((sij.toDouble - (si.toDouble / n) * sj.toDouble)
        / (n - 1) * 1e6 + 0.5) / 1e6
    val c11 = cv(s(t => BigInt(t._2) * t._2), s1, s1)
    val c22 = cv(s(t => BigInt(t._3) * t._3), s2, s2)
    val c33 = cv(s(t => BigInt(t._4) * t._4), s3, s3)
    val c12 = cv(s(t => BigInt(t._2) * t._3), s1, s2)
    val c13 = cv(s(t => BigInt(t._2) * t._4), s1, s3)
    val c23 = cv(s(t => BigInt(t._3) * t._4), s2, s3)
    val det = c11 * (c22 * c33 - c23 * c23) -
      c12 * (c12 * c33 - c23 * c13) + c13 * (c12 * c23 - c22 * c13)
    val (a11, a12, a13) = (c22 * c33 - c23 * c23,
      c13 * c23 - c12 * c33, c12 * c23 - c13 * c22)
    val (a22, a23, a33) = (c11 * c33 - c13 * c13,
      c12 * c13 - c11 * c23, c11 * c22 - c12 * c12)
    val exp = f.groupBy(_._1).map { case (src, rows) =>
      val d6s = rows.map { case (_, x1, x2, x3) =>
        if (n <= 3 || math.floor(det * 1e9 + 0.5) <= 0) 0L
        else {
          val (dx1, dx2, dx3) = (x1 - m1, x2 - m2, x3 - m3)
          val d2 = dx1 * dx1 * (a11 / det) + dx2 * dx2 * (a22 / det) +
            dx3 * dx3 * (a33 / det) + 2 * (dx1 * dx2) * (a12 / det) +
            2 * (dx1 * dx3) * (a13 / det) + 2 * (dx2 * dx3) * (a23 / det)
          math.floor(d2 * 1e6 + 0.5).toLong
        }
      }
      src -> (d6s.count(_ > 16266236L).toLong,
        math.floor(d6s.max.toDouble / 1e6 * 1e6 + 0.5) / 1e6)
    }
    val got = AnalyticsOps13List.q256(spark, d).collect().map(r =>
      r.getAs[String]("source") -> (r.getAs[Long]("n_outliers"),
        r.getAs[Double]("max_d2"))).toMap
    assert(got.keySet == exp.keySet)
    exp.foreach { case (src, (cnt, mx)) =>
      assert(got(src)._1 == cnt, s"$src: ${got(src)._1} vs $cnt")
      assert(math.abs(got(src)._2 - mx) < 1e-6, s"$src max_d2")
    }
    // and the screen actually fires somewhere at this SF
    assert(exp.values.map(_._1).sum > 0,
      "expected at least one joint outlier in sf0.001")
  }

  test("q256: identical docs (singular covariance) degrade to 0") {
    val dir = tmp("graft-mah0")
    writeDocsText(dir, (1L to 5L).map(i => (i, "A", "a b c")))
    val r = AnalyticsOps13List.q256(spark, dir).head()
    assert(r.getAs[Long]("n_outliers") == 0L)
    assert(r.getAs[Double]("max_d2") == 0.0)
  }

  test("q257: two monthly maxima match the hand Gumbel MoM") {
    val dir = tmp("graft-gum")
    // Jan: days at 1.00/… max 100 cents; Feb: max 300 cents
    writeOrders(dir, Seq((1L, 0.50, 0L), (2L, 1.00, 1L),
      (3L, 2.00, 32L), (4L, 3.00, 33L)))
    val r = AnalyticsOps13List.q257(spark, dir).head()
    assert(r.getAs[Long]("n_blocks") == 2L)
    val mean = 200.0
    val sd = math.sqrt(((100.0 - 200) * (100 - 200)
      + (300.0 - 200) * (300 - 200)) / 1)
    val beta = sd * 0.7796968012336761
    val mu = mean - 0.5772156649015329 * beta
    val rl = mu - beta * math.log(-math.log(11.0 / 12.0))
    assert(r.getAs[Double]("mean_max_cents") == 200.0)
    assert(math.abs(r.getAs[Double]("gumbel_mu")
      - math.floor(mu * 100 + 0.5) / 100) < 1e-9)
    assert(math.abs(r.getAs[Double]("return_level_12")
      - math.floor(rl * 100 + 0.5) / 100) < 1e-9)
  }
}

/** Indirection for the tranche-two queries so the spec reads
  * uniformly. */
private object AnalyticsOps13List {
  def q254(s: org.apache.spark.sql.SparkSession, d: String) =
    StatsOps.q254BhFdr.fn(s, d)
  def q255(s: org.apache.spark.sql.SparkSession, d: String) =
    StatsOps.q255EbShrinkage.fn(s, d)
  def q256(s: org.apache.spark.sql.SparkSession, d: String) =
    StatsOps.q256Mahalanobis.fn(s, d)
  def q257(s: org.apache.spark.sql.SparkSession, d: String) =
    StatsOps.q257GumbelMaxima.fn(s, d)
}
