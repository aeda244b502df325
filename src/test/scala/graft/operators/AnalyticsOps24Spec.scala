package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the round-12 tranche twelve (q303–q306). */
class AnalyticsOps24Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (id, ms, t, v) =>
      (id, new java.sql.Timestamp(ms), 1L, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeOrders(dir: String,
      rows: Seq[(Long, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (dayIdx, total) =>
      (new java.sql.Timestamp(dayIdx * 86400000L), total) }
      .toDF("o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  private val day = 86400000L

  test("q303: alternation - lag 1 clears the band, lag 2 does not") {
    val dir = tmp("graft-corr")
    writeEvents(dir, (1 to 10).map { dd =>
      (dd.toLong, dd * day, "view", if (dd % 2 == 0) 3.0 else 1.0) })
    val out = SeriesOps.q303Correlogram.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("lag") -> (r.getAs[Double]("r"),
        r.getAs[Double]("bartlett_se"), r.getAs[Long]("significant")))
      .toMap
    assert(out(1L) == ((-0.9, 0.316228, 1L))) // python recompute
    assert(out(2L) == ((0.8, 0.511859, 0L)))
    assert(out.keySet.max == 9L) // 10 days: pairs exist to lag 9 only
  }

  test("q304: the perfect knee keeps exactly the two zero-SSE splits") {
    val dir = tmp("graft-bci")
    writeOrders(dir, (1 to 12).map { dd =>
      val v = if (dd <= 6) 10.0 * dd else 60.0 + 50.0 * (dd - 6)
      (dd.toLong, v) })
    val r = SeriesOps.q304BreakConfidence.fn(spark, dir).head()
    assert(r.getAs[Long]("n_candidates") == 2L) // i=5 and i=6
    assert(r.getAs[Long]("ci_lo_day") == 5L)
    assert(r.getAs[Long]("ci_hi_day") == 6L)
    assert(r.getAs[Long]("width_days") == 1L)
    assert(r.getAs[Long]("best_day") == 5L) // q299's tiebreak
  }

  test("q305: 1..10 on one day ribbons to exactly 1 / 5 / 9") {
    val dir = tmp("graft-ribbon")
    writeEvents(dir, (1 to 10).map { i =>
      (i.toLong, 1 * day, "view", i.toDouble) })
    val r = SeriesOps.q305DailyQuantiles.fn(spark, dir).head()
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Double]("p10") == 1.0)
    assert(r.getAs[Double]("p50") == 5.0)
    assert(r.getAs[Double]("p90") == 9.0)
  }

  test("q306: separated weekend values give U = 0, z = -3.605551") {
    val dir = tmp("graft-wknd")
    writeEvents(dir, (1 to 14).map { dd =>
      val weekend = Set(0L, 6L).contains((dd + 4L) % 7)
      (dd.toLong, dd * day, "view", if (weekend) 9.0 else 1.0) })
    val r = SeriesOps.q306WeekendContrast.fn(spark, dir).head()
    assert(r.getAs[Long]("n_weekday") == 10L)
    assert(r.getAs[Long]("n_weekend") == 4L)
    assert(r.getAs[Long]("u2") == 0L) // every weekday below every weekend
    assert(r.getAs[Double]("z") == -3.605551) // python recompute
  }
}
