package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the round-12 tranche ten (q296–q298). */
class AnalyticsOps22Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (id, ms, u, t, v) =>
      (id, new java.sql.Timestamp(ms), u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private val day = 86400000L
  private val hour = 3600000L

  test("q296: counts [1,3] give VMR 1; constant counts give 0") {
    val dir = tmp("graft-disp")
    writeEvents(dir,
      Seq((1L, 1 * day, 1L, "view", 1.0),
        (2L, 2 * day, 1L, "view", 1.0), (3L, 2 * day, 1L, "view", 1.0),
        (4L, 2 * day, 1L, "view", 1.0),
        (5L, 1 * day, 1L, "click", 1.0), (6L, 1 * day, 1L, "click", 1.0),
        (7L, 2 * day, 1L, "click", 1.0), (8L, 2 * day, 1L, "click", 1.0)))
    val out = StatsOps.q296CountDispersion.fn(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val v = out("view")
    assert(v.getAs[Long]("n_days") == 2L &&
      v.getAs[Long]("n_events") == 4L)
    assert(v.getAs[Double]("vmr") == 1.0)
    assert(v.getAs[Double]("dispersion_stat") == 1.0)
    assert(out("click").getAs[Double]("vmr") == 0.0)
  }

  test("q297: hours {0,1,2,10} -> coverage 4/11, gap 7 after hour 2") {
    val dir = tmp("graft-cov")
    writeEvents(dir,
      Seq(0L, 1L, 2L, 10L).zipWithIndex.map { case (h, i) =>
        ((i + 1).toLong, h * hour, 1L, "view", 1.0) } ++
      Seq((9L, 5 * hour, 1L, "click", 1.0)))
    val out = SeriesOps.q297CoverageGaps.fn(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val v = out("view")
    assert(v.getAs[Long]("n_hours") == 4L && v.getAs[Long]("span") == 11L)
    assert(v.getAs[Double]("coverage") == 0.363636)
    assert(v.getAs[Long]("max_gap_hours") == 7L)
    assert(v.getAs[Long]("gap_after_hour") == 2L)
    val c = out("click")
    assert(c.getAs[Long]("span") == 1L &&
      c.getAs[Double]("coverage") == 1.0 &&
      c.getAs[Long]("max_gap_hours") == 0L &&
      c.getAs[Long]("gap_after_hour") == -1L)
  }

  test("q298: one single-track user and one 50/50 user") {
    val dir = tmp("graft-uent")
    writeEvents(dir,
      (1 to 4).map(i => (i.toLong, i * day, 1L, "view", 1.0)) ++
      Seq((5L, 1 * day, 2L, "view", 1.0), (6L, 2 * day, 2L, "view", 1.0),
        (7L, 3 * day, 2L, "click", 1.0),
        (8L, 4 * day, 2L, "click", 1.0)))
    val r = BusinessOps.q298UserTypeEntropy.fn(spark, dir).head()
    assert(r.getAs[Long]("n_users") == 2L)
    assert(r.getAs[Double]("max_entropy") == 0.693147) // ln 2
    assert(r.getAs[Double]("mean_entropy") == 0.346574)
    assert(r.getAs[Double]("frac_single_type") == 0.5)
  }
}
