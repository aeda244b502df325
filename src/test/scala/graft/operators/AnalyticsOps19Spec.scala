package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the round-12 tranche seven (q281–q286). */
class AnalyticsOps19Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocs(dir: String,
      rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, src, text) =>
      (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (id, ms, t, v) =>
      (id, new java.sql.Timestamp(ms), 1L, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** doc_ids partitioned by the shared md5 split bucket. */
  private def splitIds(n: Int): (Seq[Long], Seq[Long]) = {
    import spark.implicits._
    val b = (1 to n).map(_.toLong).toDF("doc_id")
      .withColumn("b", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, " +
          "10) AS BIGINT) % 100"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    (b.filter(_._2 < 80).map(_._1).toSeq, b.filter(_._2 >= 80).map(_._1).toSeq)
  }

  test("q281: hand-built KN model scores the held-out bigrams exactly") {
    val dir = tmp("graft-kn")
    val (train, test) = splitIds(60)
    assert(train.nonEmpty && test.size >= 2)
    // train "a b a b": c(a,b)=2 c(b,a)=1; test "a b x" + "z a" ->
    // P=0.775, 0.15, 0.4 (seen, seen-context/unseen-bigram, unseen
    // context) -> H=1.022768, ppl=2.780882 (python recompute)
    writeDocs(dir, Seq((train.head, "A", "a b a b"),
      (test(0), "A", "a b x"), (test(1), "A", "z a")))
    val r = TextStatsOps.q281KneserNey.fn(spark, dir).head()
    assert(r.getAs[Long]("n_test_bigrams") == 3L)
    assert(r.getAs[Double]("kn_cross_entropy") == 1.022768)
    assert(r.getAs[Double]("kn_perplexity") == 2.780882)
  }

  test("q282: constant 25-token doc 0.04, 26-distinct doc 1.0") {
    val dir = tmp("graft-mattr")
    val const25 = Seq.fill(25)("x").mkString(" ")
    val dist26 = (1 to 26).map(i => s"w$i").mkString(" ")
    writeDocs(dir, Seq((1L, "A", const25), (2L, "A", dist26),
      (3L, "A", "too short")))
    val r = TextStatsOps.q282Mattr.fn(spark, dir).head()
    assert(r.getAs[Long]("n_docs_scored") == 2L)
    assert(r.getAs[Long]("n_docs_short") == 1L)
    assert(r.getAs[Double]("mattr") == 0.52)
  }

  test("q283: duplicated halves give CKA 1, constant half gives 0") {
    import spark.implicits._
    val dir = tmp("graft-cka")
    def vec(xs: Seq[Float]): Array[Float] =
      (xs ++ xs).toArray // second half mirrors the first
    def vecConst(xs: Seq[Float]): Array[Float] =
      (xs ++ Seq.fill(32)(0.5f)).toArray
    val base = (1 to 8).map(i =>
      (0 until 32).map(j => ((i * 7 + j * 3) % 11 - 5) / 4.0f))
    val rows =
      base.zipWithIndex.map { case (xs, i) => ((i + 1).toLong, vec(xs), 0) } ++
      base.zipWithIndex.map { case (xs, i) => ((i + 100).toLong, vecConst(xs), 1) }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = ClusteringOps.q283CkaHalves.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("label") -> r.getAs[Double]("cka")).toMap
    assert(out(0L) == 1.0) // Cxy = Cxx = Cyy cell-for-cell
    assert(out(1L) == 0.0) // zero-variance Y block degrades
  }

  test("q284: identical halves 0, full separation 2 at far bins") {
    val dir = tmp("graft-mmd")
    val day = 86400000L
    // days 1,2 -> mid = 1: early = day 1, late = day 2
    writeEvents(dir,
      // view: same distribution both days -> every gap 0
      Seq((1L, 1 * day, "view", 1.0), (2L, 1 * day, "view", 3.0),
        (3L, 2 * day, "view", 1.0), (4L, 2 * day, "view", 3.0),
        // click: 1.0 early vs 3.0 late -> bins 0 and 63,
        // kernel at distance 63 rounds to 0 -> mmd2 = 1 + 1 = 2
        (5L, 1 * day, "click", 1.0), (6L, 2 * day, "click", 3.0)))
    val out = StatsOps.q284MmdDrift.fn(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("mmd2"))
      .toMap
    assert(out("view") == 0.0)
    assert(out("click") == 2.0)
  }

  test("q285: exact join-cardinality probe and sane selectivity rows") {
    import spark.implicits._
    val dir = tmp("graft-sel")
    Seq((1L, 1.0), (1L, 1.0), (2L, 2.0))
      .toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(Tuple1(1L), Tuple1(2L)).toDF("o_orderkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = SketchOps.q285SelectivityAudit.fn(spark, dir)
      .collect().map(r => r.getAs[String]("probe") ->
        (r.getAs[Double]("est_rows"), r.getAs[Long]("actual_rows"),
          r.getAs[Double]("q_error"))).toMap
    assert(rows.size == 10)
    // est = 3*2/max(2,2) = 3; actual = 2*1 + 1*1 = 3
    assert(rows("join_orderkey") == ((3.0, 3L, 1.0)))
    assert(rows.values.forall(_._3 >= 1.0)) // q_error is a ratio >= 1
    // 100 cents sits in probe 0 ([100,120)); 200 in probe 8 only
    assert(rows("sel_00")._2 == 2L)
    assert(rows("sel_08")._2 == 1L)
  }

  test("q286: a one-day-shifted copy peaks at lag -1 with ccf 1") {
    val dir = tmp("graft-ccf")
    val day = 86400000L
    val ramp = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0)
    writeEvents(dir,
      ramp.zipWithIndex.map { case (v, i) =>
        ((i + 1).toLong, (i + 1) * day, "click", v) } ++
      ramp.zipWithIndex.map { case (v, i) =>
        ((i + 100).toLong, (i + 2) * day, "view", v) })
    val out = SeriesOps.q286CrossCorrelation.fn(spark, dir)
      .collect().map(r => r.getAs[Long]("lag") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("ccf"))).toMap
    // view day d+1 equals click day d: join matches at lag -1
    assert(out(-1L) == ((6L, 1.0)))
    assert(out(0L)._2 < 1.0)
  }
}
