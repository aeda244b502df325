package graft.streaming

import graft.SparkSpec
import graft.etl.{EtlConfig, Fixtures, Lake, SilverToGold}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two refinery streams running at once, as `start` runs them. */
class RefineryStreamsSpec extends SparkSpec {

  private def multiset(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("concurrent Silver and Gold streams converge to batch gold over the final silver") {
    val lake = java.nio.file.Files.createTempDirectory("graft-refineries").toString
    // four 30 s deliveries across midnight: every delivery after the
    // first rewrites a Silver date partition that Gold may be reading
    val start = java.time.Instant.parse("2025-07-15T23:59:00Z")
    val cfg = EtlConfig(referenceInstant = Some(start.plusSeconds(2 * 3600)))
    val catalog = Fixtures.deviceCatalog(spark, 3)
    val full = Fixtures.bronzeTelemetry(spark, nDevices = 3,
      rowsPerDevice = 120, start = start).cache()
    def append(k: Int): Unit =
      full.filter(
          col("timestamp") >= lit(start.plusSeconds(30L * k).toString) &&
            col("timestamp") < lit(start.plusSeconds(30L * (k + 1)).toString))
        .withColumn("date", to_date(try_to_timestamp(col("timestamp"))))
        .write.partitionBy("date").mode("append") // as the ingest sink does
        .parquet(s"$lake/bronze/telemetry")

    append(0)
    val silver = SilverRefinery.start(spark, lake, catalog, cfg,
      triggerInterval = "100 milliseconds")
    try {
      // the first delivery reaches Silver before Gold starts (Gold can
      // also start on a lake without Silver: GoldRefinerySpec)
      silver.processAllAvailable()
      val gold = GoldRefinery.start(spark, lake, cfg,
        triggerInterval = "100 milliseconds")
      try {
        for (k <- 1 to 3) {
          append(k)
          // one Silver rewrite per delivery while Gold keeps running;
          // rethrows if the Silver stream has died
          silver.processAllAvailable()
          assert(gold.exception.isEmpty, gold.exception)
        }
        silver.stop()
        gold.processAllAvailable()
      } finally gold.stop()
    } finally silver.stop()

    val finalSilver = spark.read.parquet(s"$lake/silver/energy_usage").drop("date").cache()
    assert(finalSilver.count() == 3 * 120)
    val de = SilverToGold.dailyEnergyConsumption(finalSilver, cfg)
    val dh = SilverToGold.deviceHealthMetrics(finalSilver, cfg)
    val bs = SilverToGold.dailyBusinessSummary(de, dh, cfg)
    def goldTable(name: String, like: DataFrame) =
      spark.read.parquet(s"$lake/gold/$name").select(like.columns.map(col): _*)
    assert(multiset(goldTable("daily_energy_consumption", de)) == multiset(de))
    assert(multiset(goldTable("device_health_metrics", dh)) == multiset(dh))
    assert(multiset(goldTable("daily_business_summary", bs)) == multiset(bs))
  }
}
