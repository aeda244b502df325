package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form contracts for the third analytics batch — the exact
  * cohort arithmetic and stratum-median selection the SF gate's
  * hash-match can't explain on its own. */
class AnalyticsOps3Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("cohort LTV: hand-computed cohorts, ages, revenue, cumulative sums") {
    import spark.implicits._
    val dir = tmp("graft-ltv")
    Seq(
      // c1: cohort 2024-01, orders at ages 0, 1, 3
      (1L, "2024-01-15", 10.00), (1L, "2024-02-20", 20.00),
      (1L, "2024-04-01", 5.50),
      // c2: cohort 2024-02, both orders at age 0
      (2L, "2024-02-05", 7.25), (2L, "2024-02-25", 2.75),
      // c3: cohort 2024-01 (joins c1's cohort), age 0
      (3L, "2024-01-31", 100.00))
      .toDF("o_custkey", "d", "o_totalprice")
      .withColumn("o_orderdate", to_timestamp(col("d")))
      .drop("d")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val out = BusinessOps.q122CohortLtv.fn(spark, dir)
      .collect()
      .map(r => (r.getTimestamp(0).toString.take(7),
        r.getAs[Number](1).longValue) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(out.size == 4, out)
    // (cohort, age) -> (n_orders, n_active, revenue, cum_revenue)
    assert(out(("2024-01", 0L)) == ((2L, 2L, 110.00, 110.00)))
    assert(out(("2024-01", 1L)) == ((1L, 1L, 20.00, 130.00)))
    assert(out(("2024-01", 3L)) == ((1L, 1L, 5.50, 135.50)))
    assert(out(("2024-02", 0L)) == ((2L, 1L, 10.00, 10.00)))
  }

  test("seasonal anomaly: stratum-local median/MAD, mad>0 guard, exact ratio") {
    import spark.implicits._
    val dir = tmp("graft-seasonal")
    // stratum (t, 10h): values 1..21 plus one wild outlier.
    //   median of {1..21, 1000} = (11 + 12)/2 = 11.5
    //   adevs: {0.5..10.5} (each twice except 10.5) + 988.5 → MAD = 5.5
    //   threshold 6·MAD = 33 → only the outlier (adev 988.5) flags.
    val normal = (1 to 21).map(i => (i.toLong, s"2026-01-01 10:00:${i + 10}",
      "t", i.toDouble))
    val outlier = Seq((99L, "2026-01-01 10:00:59", "t", 1000.0))
    // stratum (t, 11h): constant values → MAD = 0 → mad>0 guard
    // suppresses the stratum entirely
    val flat = (1 to 8).map(i => (200L + i, s"2026-01-01 11:00:0$i", "t", 7.0))
    (normal ++ outlier ++ flat)
      .toDF("event_id", "tss", "event_type", "value")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val rows = SeriesOps.q123SeasonalAnomaly.fn(spark, dir).collect()
    assert(rows.length == 1, rows.mkString(";"))
    val r = rows.head
    assert(r.getLong(0) == 99L)
    assert(r.getInt(2) == 10)
    assert(r.getDouble(3) == 1000.0)
    assert(r.getDouble(4) == 11.5) // med
    assert(r.getDouble(5) == 5.5) // mad
    assert(r.getDouble(6) == math.floor(988.5 / 5.5 * 10000 + 0.5) / 10000)
  }
}
