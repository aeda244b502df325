package graft.operators

import graft.SparkSpec

/** Closed-form fixtures and semantic invariants for the round-11
  * tranche-five queries (q232–q241) — the algebra the three-SF hash
  * gates can't independently witness: textbook-value checks on tiny
  * hand-computable inputs, degenerate-input guards, and metric
  * axioms (symmetry ranges, identity-of-indiscernibles).
  */
class AnalyticsOps11Spec extends SparkSpec {
  private val d = sf("sf0.001")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocs(dir: String, rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, src, text) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("q232: disjoint two-group fixture matches the textbook H") {
    import spark.implicits._
    val dir = tmp("graft-kw")
    // A = {1,2,3}, B = {4,5,6}: no ties, R_A = 6, R_B = 15,
    // H = 12/(6·7)·(36/3 + 225/3) − 3·7 = 27/7 ≈ 3.857143
    Seq((1L, "A", 1L), (2L, "A", 2L), (3L, "A", 3L),
      (4L, "B", 4L), (5L, "B", 5L), (6L, "B", 6L))
      .map { case (id, s, n) => (id, "x", "en", s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = StatsOps.q232KruskalWallis.fn(spark, dir).head()
    assert(r.getAs[Long]("n_groups") == 2L)
    assert(math.abs(r.getAs[Double]("h_stat") - 27.0 / 7) < 1e-4,
      s"h=${r.getAs[Double]("h_stat")}")
  }

  test("q232: fully tied input degrades to H = 0, never throws") {
    import spark.implicits._
    val dir = tmp("graft-kw0")
    Seq((1L, "A", 7L), (2L, "B", 7L), (3L, "B", 7L))
      .map { case (id, s, n) => (id, "x", "en", s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = StatsOps.q232KruskalWallis.fn(spark, dir).head()
    assert(r.getAs[Double]("h_stat") == 0.0)
  }

  test("q233: a planted source-exclusive word ranks first for its source") {
    val dir = tmp("graft-llr")
    writeDocs(dir, Seq(
      (1L, "A", "zzz zzz zzz common common"),
      (2L, "A", "zzz zzz common word word"),
      (3L, "B", "common word word common word"),
      (4L, "B", "word common word common word")))
    val top = TextStatsOps.q233LlrKeyness.fn(spark, dir)
      .filter("source = 'A' AND rnk = 1").head()
    assert(top.getAs[String]("word") == "zzz", top.toString)
    assert(top.getAs[Double]("g2") > 0)
  }

  test("q234: hand-computed bigram spectrum (N1=1, N2=1, N=3)") {
    val dir = tmp("graft-gt")
    // bigrams: "a b" ×2, "c d" ×1 → N=3, N1=1, N2=1
    writeDocs(dir, Seq((1L, "A", "a b"), (2L, "A", "a b"), (3L, "A", "c d")))
    val rows = TextStatsOps.q234GoodTuring.fn(spark, dir)
      .collect().map(r => r.getAs[Long]("r") ->
        (r.getAs[Long]("n_words"), r.getAs[Double]("raw_mass"),
          r.getAs[Double]("gt_count"))).toMap
    assert(math.abs(rows(0L)._2 - 1.0 / 3) < 1e-6) // unseen mass N1/N
    // r=1: gt r* = (1+1)·N2/N1 = 2
    assert(rows(1L)._1 == 1L && math.abs(rows(1L)._3 - 2.0) < 1e-6)
    // r=2: no N3 → gt 0, raw mass 2/3
    assert(math.abs(rows(2L)._2 - 2.0 / 3) < 1e-6 && rows(2L)._3 == 0.0)
  }

  test("q235: identical pre/post gives H = 0; disjoint gives H = 1") {
    import spark.implicits._
    val dir = tmp("graft-hell")
    val pre = new java.sql.Timestamp(1705363200000L - 86400000L)
    val post = new java.sql.Timestamp(1705363200000L + 86400000L)
    // type "same": identical histograms both periods → H = 0
    // type "diff": disjoint supports → BC = 0 → H = 1
    Seq(
      (1L, pre, 1L, "same", 1.0), (2L, pre, 1L, "same", 9.0),
      (3L, post, 1L, "same", 1.0), (4L, post, 1L, "same", 9.0),
      (5L, pre, 1L, "diff", 1.0), (6L, pre, 1L, "diff", 2.0),
      (7L, post, 1L, "diff", 9.0), (8L, post, 1L, "diff", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = StatsOps.q235HellingerDrift.fn(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") ->
        r.getAs[Double]("hellinger")).toMap
    assert(m("same") == 0.0, m.toString)
    assert(m("diff") == 1.0, m.toString)
  }

  test("q236: hand-computed d on two small samples") {
    import spark.implicits._
    val dir = tmp("graft-cd")
    // A = {2,4,6} (mean 4, ss 8), B = {1,2,3} (mean 2, ss 2)
    // sp = sqrt((8+2)/4) = sqrt(2.5), d = 2/sqrt(2.5) ≈ 1.264911
    Seq(("A", 2L), ("A", 4L), ("A", 6L), ("B", 1L), ("B", 2L), ("B", 3L))
      .zipWithIndex
      .map { case ((s, n), i) => (i.toLong, "x", "en", s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = StatsOps.q236CohensD.fn(spark, dir).head()
    val dExp = 2.0 / math.sqrt(2.5)
    assert(math.abs(r.getAs[Double]("cohens_d") - dExp) < 1e-6)
    // Hedges J = 1 − 3/(4·6−9) = 0.8
    assert(math.abs(r.getAs[Double]("hedges_g") - dExp * 0.8) < 1e-6)
  }

  test("q237: constant lengths degrade to F = 0; unequal spread fires") {
    import spark.implicits._
    val dir = tmp("graft-bf")
    Seq(("A", 5L), ("A", 5L), ("B", 5L), ("B", 5L))
      .zipWithIndex
      .map { case ((s, n), i) => (i.toLong, "x", "en", s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r0 = StatsOps.q237BrownForsythe.fn(spark, dir).head()
    assert(r0.getAs[Double]("f_bf") == 0.0)
    val dir2 = tmp("graft-bf2")
    // A tight around 10, B spread wide: BF should be clearly > 1
    Seq(("A", 10L), ("A", 10L), ("A", 11L), ("A", 9L),
      ("B", 1L), ("B", 40L), ("B", 2L), ("B", 40L))
      .zipWithIndex
      .map { case ((s, n), i) => (i.toLong, "x", "en", s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val r1 = StatsOps.q237BrownForsythe.fn(spark, dir2).head()
    assert(r1.getAs[Double]("f_bf") > 1.0, s"f=${r1.getAs[Double]("f_bf")}")
  }

  test("q238: identical-content sources have Delta 0, different > 0") {
    val dir = tmp("graft-bd")
    writeDocs(dir, Seq(
      (1L, "A", "the cat sat on the mat the end"),
      (2L, "B", "the cat sat on the mat the end"),
      (3L, "C", "quantum flux inverts the manifold gauge field theory")))
    val m = TextStatsOps.q238BurrowsDelta.fn(spark, dir)
      .collect().map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b")) -> r.getAs[Double]("delta")).toMap
    assert(m(("A", "B")) == 0.0, m.toString)
    assert(m(("A", "C")) > 0.0 && m(("B", "C")) > 0.0, m.toString)
  }

  test("q239: hand-computed vocabulary overlap") {
    val dir = tmp("graft-vj")
    writeDocs(dir, Seq(
      (1L, "A", "a b c"), (2L, "B", "b c d"), (3L, "C", "x y")))
    val rows = TextStatsOps.q239VocabJaccard.fn(spark, dir)
      .collect().map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b")) ->
        (r.getAs[Long]("vocab_common"), r.getAs[Double]("jaccard"))).toMap
    assert(rows(("A", "B")) == ((2L, 0.5)), rows.toString)
    assert(rows(("A", "C")) == ((0L, 0.0)), rows.toString)
  }

  test("q239: a 64th source raises the bitmask width guard, never overflows") {
    val dir = tmp("graft-vj64")
    writeDocs(dir, (1L to 64L).map(i => (i, f"s$i%02d", "a b")))
    val e = intercept[Exception] {
      TextStatsOps.q239VocabJaccard.fn(spark, dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains(">63 sources")),
      e.toString)
    // and exactly 63 sources still works (bit 62 is the last safe one)
    val dir2 = tmp("graft-vj63")
    writeDocs(dir2, (1L to 63L).map(i => (i, f"s$i%02d", "a b")))
    val n = TextStatsOps.q239VocabJaccard.fn(spark, dir2).count()
    assert(n == 63L * 62 / 2)
  }

  test("q240: a single-token source degrades simpson to 0, never NaN") {
    val dir = tmp("graft-sd1")
    writeDocs(dir, Seq((1L, "A", "solo")))
    val r = TextStatsOps.q240SimpsonDiversity.fn(spark, dir).head()
    assert(r.getAs[Long]("n_tokens") == 1L)
    assert(r.getAs[Double]("simpson") == 0.0)
    assert(r.getAs[Double]("inv_simpson") == 0.0)
  }

  test("q238: delta divides by the actual marker-word count, not 30") {
    // 4-word vocabulary → |top| = 4 < 30; two one-doc sources with
    // frequency profiles A=(2a,1b,1c) B=(1a,1b,2d) over n=4 tokens.
    // f9 grids: a: A .5 B .25; b: both .25; c: A .25 B 0; d: A 0 B .5
    // population SD over 2 sources = half the gap → z = ±1 for every
    // word with a gap, 0 for b → Σ|za−zb| = 2+0+2+2 = 6e6 → mean over
    // FOUR words = 1.5 (a literal /30 would deflate this to 0.2)
    val dir = tmp("graft-bd4")
    writeDocs(dir, Seq((1L, "A", "a a b c"), (2L, "B", "a b d d")))
    val r = TextStatsOps.q238BurrowsDelta.fn(spark, dir).head()
    assert(math.abs(r.getAs[Double]("delta") - 1.5) < 1e-6, r.toString)
  }

  test("q240: uniform 3-word source has inv-Simpson 5 (n=6,c=2) and H=ln3") {
    val dir = tmp("graft-sd")
    // counts {2,2,2}: λ = 3·2·1/(6·5) = 0.2 → inv 5; H = ln 3
    writeDocs(dir, Seq((1L, "A", "a b c a b c")))
    val r = TextStatsOps.q240SimpsonDiversity.fn(spark, dir).head()
    assert(r.getAs[Long]("vocab") == 3L)
    assert(math.abs(r.getAs[Double]("simpson") - 0.2) < 1e-6)
    assert(math.abs(r.getAs[Double]("inv_simpson") - 5.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("shannon") - math.log(3)) < 1e-5)
    assert(math.abs(r.getAs[Double]("eff_vocab") - 3.0) < 1e-4)
  }

  test("q241: Hill alpha matches a driver-side recomputation") {
    import org.apache.spark.sql.functions._
    val r = StatsOps.q241HillTail.fn(spark, d).head()
    val (n, k, xk) = (r.getAs[Long]("n_orders"), r.getAs[Long]("k"),
      r.getAs[Long]("xk_cents"))
    assert(k == math.min(math.max(10L, n / 100), n - 1))
    // independent reference: exact top-k walk in plain Scala
    val cents = graft.Tables.orders(spark, d)
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted(Ordering[Long].reverse)
    assert(xk == cents(k.toInt - 1), s"xk=$xk ref=${cents(k.toInt - 1)}")
    val s9 = cents.take(k.toInt).filter(_ > xk)
      .map(v => math.floor(math.log(v.toDouble / xk) * 1e9 + 0.5).toLong)
      .sum
    val ref = math.floor(k / (s9 / 1e9) * 1e6 + 0.5) / 1e6
    assert(math.abs(r.getAs[Double]("hill_alpha") - ref) < 1e-9,
      s"engine=${r.getAs[Double]("hill_alpha")} ref=$ref")
    assert(r.getAs[Double]("hill_alpha") > 0)
  }

  test("q241: a single repeated value degrades to alpha = 0, never throws") {
    import spark.implicits._
    val dir = tmp("graft-hill0")
    // one value holds ALL mass: the k-th order statistic exists (the
    // tie-straddle edge), nothing sits above it, s9 = 0 → alpha 0
    (1L to 40L).map(i => (i, 123.45))
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = StatsOps.q241HillTail.fn(spark, dir).head()
    assert(r.getAs[Long]("xk_cents") == 12345L)
    assert(r.getAs[Double]("hill_alpha") == 0.0)
  }
}
