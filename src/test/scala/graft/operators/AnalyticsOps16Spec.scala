package graft.operators

import graft.SparkSpec

/** Closed-form fixtures for the round-12 tranche four (q265–q270). */
class AnalyticsOps16Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocsText(dir: String,
      rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, src, text) =>
      (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def writeDocsN(dir: String,
      rows: Seq[(Long, String, String, Long)]): Unit = {
    import spark.implicits._
    rows.map { case (id, src, text, nc) => (id, text, "en", src, nc) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def writeEmbeddings(dir: String,
      rows: Seq[(Long, Seq[Float], Int)]): Unit = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("q265: two tiny LMs match the hand smoothed cross-entropies") {
    val dir = tmp("graft-xent")
    // A = "a a b" (n=3), B = "a c" (n=2), V = 3:
    // p_A(a) = 3/6, p_A(c→oov) = 1/6 → H(B|A) = −(ln .5 + ln 1/6)/2
    // p_B(a) = 2/5, oov = 1/5 → H(A|B) = −(2·ln .4 + ln .2)/3
    writeDocsText(dir, Seq((1L, "A", "a a b"), (2L, "B", "a c")))
    def q9(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    val hBA = -(q9(math.log(0.5)) + q9(math.log(1.0 / 6))).toDouble / 1e9 / 2
    // B→A: matched a-count 2 at l9(ln 2/5), unmatched b-count 1 at
    // the OOV default l9(ln 1/5)
    val hAB = -(2.0 * q9(math.log(2.0 / 5)) + q9(math.log(1.0 / 5)))
      .toDouble / 1e9 / 3
    val rows = TextStatsOps.q265CrossEntropyMatrix.fn(spark, dir)
      .collect().map(r => (r.getAs[String]("source_train"),
        r.getAs[String]("source_eval")) ->
        r.getAs[Double]("cross_entropy")).toMap
    assert(rows.size == 2)
    assert(rows(("A", "B")) == math.floor(hBA * 1e6 + 0.5) / 1e6)
    assert(rows(("B", "A")) == math.floor(hAB * 1e6 + 0.5) / 1e6)
  }

  test("q266: an isotropic 2-D cross has participation ratio 2") {
    val dir = tmp("graft-pr")
    writeEmbeddings(dir, Seq((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0),
      (3L, Seq(-1f, 0f), 0), (4L, Seq(0f, -1f), 0)))
    val r = ClusteringOps.q266ParticipationRatio.fn(spark, dir).head()
    assert(r.getAs[Long]("n_vectors") == 4L)
    assert(r.getAs[Long]("dim") == 2L)
    // C = diag(2/3, 2/3) on the 1e-9 grid → PR = 2 exactly (up to the
    // shared quantization, recomputed through the same chain)
    val c9 = math.floor((2.0 - 0.0 / 4) / 3 * 1e9 + 0.5).toLong
    val tr = (2 * c9).toDouble / 1e9
    val tr2 = (2.0 * c9 * c9) / 1e18
    val pr = math.floor(tr * tr / tr2 * 1e6 + 0.5) / 1e6
    assert(r.getAs[Double]("participation_ratio") == pr)
    assert(math.abs(pr - 2.0) < 1e-6)
    // a collapsed cloud (one direction only) has PR 1
    val dir2 = tmp("graft-pr1")
    writeEmbeddings(dir2, Seq((1L, Seq(1f, 0f), 0), (2L, Seq(-1f, 0f), 0),
      (3L, Seq(2f, 0f), 0)))
    val r2 = ClusteringOps.q266ParticipationRatio.fn(spark, dir2).head()
    assert(math.abs(r2.getAs[Double]("participation_ratio") - 1.0) < 1e-5)
  }

  test("q267: orthogonal pair has mean cosine 0; aligned pair has 1") {
    val dir = tmp("graft-ani")
    writeEmbeddings(dir, Seq((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0)))
    val r = ClusteringOps.q267Anisotropy.fn(spark, dir).head()
    assert(r.getAs[Long]("n_vectors") == 2L)
    assert(r.getAs[Double]("mean_cosine") == 0.0)
    val nrm = math.floor(math.sqrt(2e18) / 2 / 1e9 * 1e6 + 0.5) / 1e6
    assert(r.getAs[Double]("mean_vector_norm") == nrm)
    val dir2 = tmp("graft-ani1")
    writeEmbeddings(dir2, Seq((1L, Seq(3f, 0f), 0), (2L, Seq(5f, 0f), 0)))
    val r2 = ClusteringOps.q267Anisotropy.fn(spark, dir2).head()
    assert(math.abs(r2.getAs[Double]("mean_cosine") - 1.0) < 1e-6)
  }

  test("q268: equal weights give ESS = n; a 1:3 split gives 1.6") {
    val dir = tmp("graft-ess")
    writeDocsN(dir, Seq((1L, "EQ", "t", 1L), (2L, "EQ", "t", 1L),
      (3L, "SK", "t", 1L), (4L, "SK", "t", 3L)))
    val out = SketchOps.q268EssKish.fn(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("ess"), r.getAs[Double]("deff"))).toMap
    assert(out("EQ") == ((2.0, 1.0)))
    assert(out("SK") == ((1.6, 1.25)))
  }

  test("q269: a bipartite star is perfectly disassortative (r = -1)") {
    import spark.implicits._
    val dir = tmp("graft-assort")
    // supplier 1 serves customers 1..3 → hub-leaf wiring
    Seq((1L, 1L), (2L, 2L), (3L, 3L))
      .map { case (ok, ck) => (ok, ck, "O", 1.0,
        new java.sql.Timestamp(1704067200000L), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .map { case (ok, sk) => (ok, sk, 1L, 1.0, 1.0) }
      .toDF("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = GraphOps.q269Assortativity.fn(spark, dir).head()
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Double]("assortativity") == -1.0)
  }

  test("q270: constant chars-per-token isolates the chars~tokens link") {
    val dir = tmp("graft-pcorr")
    // x3 = 5000 for every doc (x1 = 5·x2 exactly) → c33 = 0 →
    // r13 = r23 = 0, r12 = 1, r12|3 = 1, and both other partials
    // degrade to 0 on the |r|=1 denominator guard
    writeDocsN(dir, Seq((1L, "A", "a b", 10L),
      (2L, "A", "a b c d", 20L), (3L, "A", "a b c d e f", 30L)))
    val r = StatsOps.q270PartialCorr.fn(spark, dir).head()
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Double]("r12") == 1.0)
    assert(r.getAs[Double]("r13") == 0.0)
    assert(r.getAs[Double]("r23") == 0.0)
    assert(r.getAs[Double]("r12_given_3") == 1.0)
    assert(r.getAs[Double]("r13_given_2") == 0.0)
    assert(r.getAs[Double]("r23_given_1") == 0.0)
  }
}
