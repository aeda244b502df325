package graft.streaming

import graft.SparkSpec
import graft.etl.{BronzeToSilver, EtlConfig, Fixtures, Lake, SilverToGold}
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class GoldRefinerySpec extends SparkSpec {

  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("streaming gold equals batch gold across a micro-batch split") {
    val lake = java.nio.file.Files.createTempDirectory("graft-goldref").toString
    // span two date partitions so the daily-energy dynamic overwrite
    // exercises per-date recompute, and batch 2 revisits batch 1's
    // devices so the health merge rewrites existing rows
    val start = java.time.Instant.parse("2025-07-15T23:59:00Z")
    val cfg = EtlConfig(referenceInstant = Some(start.plusSeconds(2 * 3600)))
    val catalog = Fixtures.deviceCatalog(spark, 3)
    val full = Fixtures.bronzeTelemetry(spark, nDevices = 3,
      rowsPerDevice = 120, start = start).cache()
    val splitTs = start.plusSeconds(90).toString // batch 2 = rows 90..119

    // silver arrives in two deliveries (the refinery's input cadence)
    def silverOf(bronze: org.apache.spark.sql.DataFrame) =
      BronzeToSilver.run(bronze, Fixtures.deviceCatalog(spark, 3), cfg)
    Lake.writeSilver(silverOf(full.filter(col("timestamp") < lit(splitTs))), lake)
    GoldRefinery.runOnce(spark, lake, cfg)
    // second delivery APPENDS files like the streaming refinery sink
    silverOf(full.filter(col("timestamp") >= lit(splitTs)))
      .withColumn("date", to_date(col("timestamp")))
      .write.partitionBy("date").mode("append")
      .parquet(s"$lake/silver/energy_usage")
    GoldRefinery.runOnce(spark, lake, cfg)

    // batch comparison path: one-shot SilverToGold over the SAME
    // silver lake bytes (fresh frames — see SilverRefinerySpec note)
    val silver = spark.read.parquet(s"$lake/silver/energy_usage")
      .drop("date").cache()
    val de = SilverToGold.dailyEnergyConsumption(silver, cfg)
    val dh = SilverToGold.deviceHealthMetrics(silver, cfg)
    val bs = SilverToGold.dailyBusinessSummary(de, dh, cfg)

    val gotDe = spark.read.parquet(s"$lake/gold/daily_energy_consumption")
    val gotDh = spark.read.parquet(s"$lake/gold/device_health_metrics")
    val gotBs = spark.read.parquet(s"$lake/gold/daily_business_summary")
    assert(gotDe.count() > 0 && gotDh.count() == 3 && gotBs.count() == 2)
    // column-order-insensitive, multiset-exact parity per table
    assert(multiset(gotDe.select(de.columns.map(col): _*)) == multiset(de))
    assert(multiset(gotDh.select(dh.columns.map(col): _*)) == multiset(dh))
    assert(multiset(gotBs.select(bs.columns.map(col): _*)) == multiset(bs))

    // idempotent: draining again with no new silver changes nothing
    GoldRefinery.runOnce(spark, lake, cfg)
    assert(multiset(spark.read.parquet(s"$lake/gold/daily_business_summary")
      .select(bs.columns.map(col): _*)) == multiset(bs))
  }

  test("untouched devices keep their health rows when a batch misses them") {
    val lake = java.nio.file.Files.createTempDirectory("graft-goldref2").toString
    val start = java.time.Instant.parse("2025-07-20T10:00:00Z")
    val cfg = EtlConfig(referenceInstant = Some(start.plusSeconds(2 * 3600)))
    val full = Fixtures.bronzeTelemetry(spark, nDevices = 4,
      rowsPerDevice = 60, start = start).cache()
    def silverOf(bronze: org.apache.spark.sql.DataFrame) =
      BronzeToSilver.run(bronze, Fixtures.deviceCatalog(spark, 4), cfg)

    // delivery 1: all devices; delivery 2: a single device only
    Lake.writeSilver(silverOf(full), lake)
    GoldRefinery.runOnce(spark, lake, cfg)
    val one = full.filter(col("device_id") === "device_001")
    silverOf(one)
      .withColumn("date", to_date(col("timestamp")))
      .write.partitionBy("date").mode("append")
      .parquet(s"$lake/silver/energy_usage")
    GoldRefinery.runOnce(spark, lake, cfg)

    val dh = spark.read.parquet(s"$lake/gold/device_health_metrics")
    assert(dh.count() == 4, "one row per device, no dup from the merge")
    // the raw append duplicated device_001's history; BOTH the
    // refinery's recompute and the batch comparison read the same
    // silver bytes, so parity must hold including the duplication —
    // and devices 002-004, untouched by batch 2, must still match
    val silver = spark.read.parquet(s"$lake/silver/energy_usage")
      .drop("date")
    val expect = SilverToGold.deviceHealthMetrics(silver, cfg)
    assert(multiset(dh.select(expect.columns.map(col): _*)) == multiset(expect))
  }

  test("a drain's progress counts the Silver rows it was delivered") {
    val lake = java.nio.file.Files.createTempDirectory("graft-goldref-progress").toString
    val start = java.time.Instant.parse("2025-07-15T23:59:00Z")
    val cfg = EtlConfig(referenceInstant = Some(start.plusSeconds(2 * 3600)))
    val full = Fixtures.bronzeTelemetry(spark, nDevices = 3,
      rowsPerDevice = 120, start = start).cache()
    val splitTs = start.plusSeconds(90).toString
    def silverOf(bronze: org.apache.spark.sql.DataFrame) =
      BronzeToSilver.run(bronze, Fixtures.deviceCatalog(spark, 3), cfg)
    val checkpoint = Lake.checkpointPath(lake, "gold_refinery")
    // every job of a drain, the side-by-side write's included, carries
    // the query's id and the run's job group, by which a listener
    // attributes it to the stream
    def drain(): Long = {
      val run = footprint(streamInputRows(checkpoint)(GoldRefinery.runOnce(spark, lake, cfg)))
      def tags(key: String) = run.jobs.map(j => Option(j.properties.getProperty(key))).distinct
      assert(run.jobs.nonEmpty)
      assert(tags("sql.streaming.queryId") == Seq(Some(checkpointQueryId(checkpoint))))
      assert(tags("spark.jobGroup.id").size == 1 && tags("spark.jobGroup.id").head.nonEmpty)
      run.result
    }
    Lake.writeSilver(silverOf(full.filter(col("timestamp") < lit(splitTs))), lake)
    assert(drain() == 3 * 90)
    silverOf(full.filter(col("timestamp") >= lit(splitTs)))
      .withColumn("date", to_date(col("timestamp")))
      .write.partitionBy("date").mode("append")
      .parquet(Lake.silverPath(lake))
    assert(drain() == 3 * 30)
  }

  test("the refineries can start on an empty lake, before Bronze and Silver exist") {
    val lake = java.nio.file.Files.createTempDirectory("graft-goldref-empty").toString
    val start = java.time.Instant.parse("2025-07-15T23:59:00Z")
    val cfg = EtlConfig(referenceInstant = Some(start.plusSeconds(2 * 3600)))
    val catalog = Fixtures.deviceCatalog(spark, 3)
    GoldRefinery.runOnce(spark, lake, cfg)
    SilverRefinery.runOnce(spark, lake, catalog, cfg)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(lake, "gold")), "no Gold written")

    Lake.writeBronze(Fixtures.bronzeTelemetry(spark, nDevices = 3,
      rowsPerDevice = 120, start = start), lake)
    SilverRefinery.runOnce(spark, lake, catalog, cfg)
    GoldRefinery.runOnce(spark, lake, cfg)

    val silver = spark.read.parquet(Lake.silverPath(lake)).drop("date").cache()
    assert(silver.count() == 3 * 120)
    val de = SilverToGold.dailyEnergyConsumption(silver, cfg)
    val dh = SilverToGold.deviceHealthMetrics(silver, cfg)
    val bs = SilverToGold.dailyBusinessSummary(de, dh, cfg)
    def back(path: String, like: org.apache.spark.sql.DataFrame) =
      spark.read.parquet(path).select(like.columns.map(col): _*)
    assert(multiset(back(Lake.dailyEnergyPath(lake), de)) == multiset(de))
    assert(multiset(back(Lake.deviceHealthPath(lake), dh)) == multiset(dh))
    assert(multiset(back(Lake.businessSummaryPath(lake), bs)) == multiset(bs))
    val _ = silver.unpersist()
  }

  test("a Gold refresh throws a failed write only after both side-by-side writes end") {
    val lake = java.nio.file.Files.createTempDirectory("graft-goldref-fail").toString
    val start = java.time.Instant.parse("2025-07-20T10:00:00Z")
    val cfg = EtlConfig(referenceInstant = Some(start.plusSeconds(2 * 3600)))
    Lake.writeSilver(BronzeToSilver.run(Fixtures.bronzeTelemetry(spark, nDevices = 3,
      rowsPerDevice = 60, start = start), Fixtures.deviceCatalog(spark, 3), cfg), lake)
    // device health, the write beside the calling thread's, fails as it runs
    val failHealth: Lake.Tap = (name, df) =>
      if (name == "gold_device_health")
        df.filter(assert_true(lit(false), lit("health write failed")).isNull)
      else df
    val e = intercept[Exception](Lake.refreshGold(spark, lake, cfg,
      Seq(java.time.LocalDate.parse("2025-07-20")), failHealth))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("health write failed")), e)
    drainListeners()
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(spark.read.parquet(Lake.dailyEnergyPath(lake)).count() == 3,
      "daily energy, written on the calling thread, finished")
  }

  test("a Gold refresh reads on when an overwrite deletes Silver files it opened") {
    val lake = java.nio.file.Files.createTempDirectory("graft-goldref-race").toString
    val start = java.time.Instant.parse("2025-07-15T10:00:00Z")
    val cfg = EtlConfig(referenceInstant = Some(start.plusSeconds(2 * 3600)))
    Lake.writeSilver(BronzeToSilver.run(Fixtures.bronzeTelemetry(spark, nDevices = 3,
      rowsPerDevice = 60, start = start), Fixtures.deviceCatalog(spark, 3), cfg), lake)
    def crcFiles(): Int = java.nio.file.Files.walk(
        java.nio.file.Paths.get(Lake.silverPath(lake))).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet.crc"))
    assert(crcFiles() > 0, "the local file system writes no checksum files")
    // every local file this session opens goes through the vanishing
    // file system until the refresh returns
    val armed = Seq("fs.file.impl" -> classOf[CrcVanishingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    try {
      armed.foreach { case (k, v) => spark.conf.set(k, v) }
      Lake.refreshGold(spark, lake, cfg, Seq(java.time.LocalDate.parse("2025-07-15")))
    } finally armed.foreach { case (k, _) => spark.conf.unset(k) }
    assert(crcFiles() == 0, "the refresh opened no Silver file")

    val silver = spark.read.parquet(Lake.silverPath(lake)).drop("date")
    val de = SilverToGold.dailyEnergyConsumption(silver, cfg)
    val dh = SilverToGold.deviceHealthMetrics(silver, cfg)
    val gotDe = spark.read.parquet(Lake.dailyEnergyPath(lake))
    val gotDh = spark.read.parquet(Lake.deviceHealthPath(lake))
    assert(gotDh.count() == 3)
    assert(multiset(gotDe.select(de.columns.map(col): _*)) == multiset(de))
    assert(multiset(gotDh.select(dh.columns.map(col): _*)) == multiset(dh))
  }
}

/** A local file system under which a Silver data file loses its `.crc`
  * checksum file as soon as a reader has opened it: what a concurrent
  * Silver overwrite does to a Gold scan that opened the date's files
  * before the overwrite deleted them. */
class CrcVanishingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    if (f.getName.endsWith(".parquet") && f.toUri.getPath.contains("/silver/"))
      getRawFileSystem.delete(getChecksumFile(f), false)
    in
  }
}
