package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the round-12 tranche six (q275–q280). */
class AnalyticsOps18Spec extends SparkSpec {

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

  /** Events at explicit epoch-ms timestamps (day/hour grids). */
  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (id, ms, t, v) =>
      (id, new java.sql.Timestamp(ms), 1L, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeLineitem(dir: String,
      rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    rows.map { case (o, p) => (o, p) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  test("q275: 'a a b' gives K = 10^4 * (5 - 3) / 9") {
    val dir = tmp("graft-yule")
    writeDocs(dir, Seq((1L, "A", "a a b")))
    val r = TextStatsOps.q275YuleK.fn(spark, dir).head()
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("n_types") == 2L)
    assert(r.getAs[Double]("yule_k") == 2222.222222)
  }

  test("q275: all-distinct tokens score K = 0") {
    val dir = tmp("graft-yule0")
    writeDocs(dir, Seq((1L, "A", "a b c d")))
    assert(TextStatsOps.q275YuleK.fn(spark, dir).head()
      .getAs[Double]("yule_k") == 0.0)
  }

  test("q276: symmetric 3-point fixture; constant series degrades to 0") {
    val dir = tmp("graft-jb")
    val day = 86400000L
    writeEvents(dir, Seq(
      (1L, 1 * day, "view", 1.0), (2L, 2 * day, "view", 2.0),
      (3L, 3 * day, "view", 3.0),
      (4L, 1 * day, "click", 7.0), (5L, 2 * day, "click", 7.0)))
    val out = StatsOps.q276JarqueBera.fn(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val v = out("view")
    // mu=200c, m2=20000/3, m3=0, m4/m2^2=1.5 -> exk=-1.5,
    // JB = 3/6 * (0 + 2.25/4) = 0.28125
    assert(v.getAs[Double]("skewness") == 0.0)
    assert(v.getAs[Double]("ex_kurtosis") == -1.5)
    assert(v.getAs[Double]("jarque_bera") == 0.28125)
    val c = out("click")
    assert(c.getAs[Double]("skewness") == 0.0 &&
      c.getAs[Double]("jarque_bera") == 0.0)
  }

  test("q277: linear ramp over 8 days gives r1 = 0.625, Q = 24.84127") {
    val dir = tmp("graft-lb")
    val day = 86400000L
    writeEvents(dir, (1 to 8).map(d =>
      (d.toLong, d * day, "view", d.toDouble)))
    val r = SeriesOps.q277LjungBox.fn(spark, dir).head()
    assert(r.getAs[Long]("n_days") == 8L)
    assert(r.getAs[Double]("r1") == 0.625)
    assert(r.getAs[Double]("q_lb") == 24.84127)
  }

  test("q277: constant daily series degrades to r1 = 0, Q = 0") {
    val dir = tmp("graft-lb0")
    val day = 86400000L
    writeEvents(dir, (1 to 9).map(d =>
      (d.toLong, d * day, "view", 5.0)))
    val r = SeriesOps.q277LjungBox.fn(spark, dir).head()
    assert(r.getAs[Double]("r1") == 0.0)
    assert(r.getAs[Double]("q_lb") == 0.0)
  }

  test("q278: hand-counted runs over a 10-day fixture") {
    val dir = tmp("graft-runs")
    val day = 86400000L
    val vals = Seq(1.0, 9.0, 1.0, 9.0, 1.0, 9.0, 5.0, 9.0, 1.0, 9.0)
    writeEvents(dir, vals.zipWithIndex.map { case (v, i) =>
      ((i + 1).toLong, (i + 1) * day, "view", v) })
    // lower median = 5 (dropped); signs -+-+-+ +-+ -> 8 runs, 5 pos 4 neg
    val r = SeriesOps.q278RunsTest.fn(spark, dir).head()
    assert(r.getAs[Long]("n_runs") == 8L)
    assert(r.getAs[Long]("n_pos") == 5L)
    assert(r.getAs[Long]("n_neg") == 4L)
    assert(r.getAs[Double]("z") == 1.847404)
  }

  test("q278: one-sided split degrades to z = 0") {
    val dir = tmp("graft-runs0")
    val day = 86400000L
    // median 1 (lower); the single 2 is the only non-median day
    writeEvents(dir, Seq((1L, 1 * day, "view", 1.0),
      (2L, 2 * day, "view", 1.0), (3L, 3 * day, "view", 2.0)))
    val r = SeriesOps.q278RunsTest.fn(spark, dir).head()
    assert(r.getAs[Long]("n_neg") == 0L)
    assert(r.getAs[Double]("z") == 0.0)
  }

  test("q279: alternating hourly series: avar 2 at tau=1, 0 above") {
    val dir = tmp("graft-avar")
    val hour = 3600000L
    writeEvents(dir, (0 to 7).map(h =>
      ((h + 1).toLong, h * hour, "view",
        if (h % 2 == 0) 1.0 else 3.0)))
    val out = SeriesOps.q279AllanVariance.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("tau_hours") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("allan_var"))).toMap
    // tau=1: 7 diffs of +-2 -> 7*4/(2*7*1) = 2.0
    assert(out(1L) == ((7L, 2.0)))
    // tau=2: all block sums 4e6 -> 0; tau=4: both sums 8e6 -> 0
    assert(out(2L) == ((3L, 0.0)))
    assert(out(4L) == ((1L, 0.0)))
    // tau=8: one block, no pair -> row dropped
    assert(!out.contains(8L))
  }

  test("q279: a missing hour drops incomplete blocks, not the stream") {
    val dir = tmp("graft-avar-gap")
    val hour = 3600000L
    // hours 0,1,2,3 with hour 2 ABSENT: tau=2 block 0 complete,
    // block 1 incomplete -> no adjacent pair at tau=2
    writeEvents(dir, Seq((1L, 0 * hour, "view", 1.0),
      (2L, 1 * hour, "view", 3.0), (3L, 3 * hour, "view", 5.0)))
    val out = SeriesOps.q279AllanVariance.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("tau_hours") -> r.getAs[Long]("n_pairs"))
      .toMap
    // tau=1: only hours 0-1 adjacent (1-3 not consecutive) -> 1 pair
    assert(out(1L) == 1L)
    assert(!out.contains(2L))
  }

  test("q280: a support-2 triangle is a perfect rich club at k=1") {
    val dir = tmp("graft-rc")
    writeLineitem(dir, Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), // edge 1-2 x2
      (3L, 1L), (3L, 3L), (4L, 1L), (4L, 3L), // edge 1-3 x2
      (5L, 2L), (5L, 3L), (6L, 2L), (6L, 3L))) // edge 2-3 x2
    val rows = GraphOps.q280RichClub.fn(spark, dir).collect()
    assert(rows.length == 1) // k >= 2 thresholds have N_k = 0 < 2
    val r = rows.head
    assert(r.getAs[Long]("k") == 1L)
    assert(r.getAs[Long]("n_nodes") == 3L)
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Double]("phi") == 1.0)
  }

  test("q280: single-support pairs generate no edges and no rows") {
    val dir = tmp("graft-rc0")
    writeLineitem(dir, Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L)))
    assert(GraphOps.q280RichClub.fn(spark, dir).count() == 0L)
  }
}
