package graft.etl

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.{GoldRefinery, SilverRefinery}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch and streaming write each medallion table through the same
  * `Lake` sink, so mixing the two paths keeps every table readable. */
class MedallionSinksSpec extends SparkSpec {

  private def multiset(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  // names, order and types; a file source reads every column nullable
  private def shape(s: org.apache.spark.sql.types.StructType) =
    s.fields.toSeq.map(f => f.name -> f.dataType)

  test("Silver's declared schema is the schema its table reads back with") {
    val lake = Files.createTempDirectory("graft-silver-schema").toString
    val cfg = EtlConfig(
      referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(2 * 3600)))
    Lake.writeBronze(Fixtures.bronzeTelemetry(spark, nDevices = 4, rowsPerDevice = 30,
      dirty = true), lake)
    Lake.refreshSilver(spark, lake, Fixtures.deviceCatalog(spark, 4), cfg,
      Seq(java.time.LocalDate.parse("2025-07-15")))
    assert(shape(spark.read.parquet(Lake.silverPath(lake)).schema) == shape(Lake.SilverSchema))
  }

  test("readSilver on a fresh lake reads no rows, with Silver's declared schema") {
    val lake = Files.createTempDirectory("graft-silver-empty").toString
    val silver = Lake.readSilver(spark, lake, daysBack = 7, EtlConfig(
      referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(2 * 3600))))
    assert(silver.count() == 0)
    assert(shape(silver.schema) == shape(Lake.SilverSchema))
  }

  test("a batch pass between refinery drains keeps every Gold date") {
    val lake = Files.createTempDirectory("graft-sinks").toString
    val cfg = EtlConfig(referenceInstant = Some(Instant.parse("2025-07-15T14:00:00Z")))
    val catalog = Fixtures.deviceCatalog(spark, 3)
    // one delivery = 3 devices × 60 rows from `start`, appended as the
    // ingest sink appends
    def deliver(start: String): Unit =
      Fixtures.bronzeTelemetry(spark, nDevices = 3, rowsPerDevice = 60,
          start = Instant.parse(start))
        .withColumn("date", to_date(try_to_timestamp(col("timestamp"))))
        .write.partitionBy("date").mode("append")
        .parquet(Lake.bronzePath(lake))

    Seq("2025-07-13T12:00:00Z", "2025-07-14T12:00:00Z", "2025-07-15T12:00:00Z")
      .foreach(deliver)
    SilverRefinery.runOnce(spark, lake, catalog, cfg)
    GoldRefinery.runOnce(spark, lake, cfg)
    // the batch pass with EtlRunner's default lookbacks
    EtlRunner.pass(spark, lake, catalog, cfg, hoursBack = 24, daysBack = 7)
    deliver("2025-07-15T12:01:00Z")
    SilverRefinery.runOnce(spark, lake, catalog, cfg)
    GoldRefinery.runOnce(spark, lake, cfg)

    val silver = spark.read.parquet(Lake.silverPath(lake)).drop("date").cache()
    val de = SilverToGold.dailyEnergyConsumption(silver, cfg)
    val dh = SilverToGold.deviceHealthMetrics(silver, cfg)
    val bs = SilverToGold.dailyBusinessSummary(de, dh, cfg)
    assert(de.count() == 9, "3 devices × 3 dates")
    def back(path: String, like: DataFrame) =
      spark.read.parquet(path).select(like.columns.map(col): _*)
    assert(multiset(back(Lake.dailyEnergyPath(lake), de)) == multiset(de))
    assert(multiset(back(Lake.deviceHealthPath(lake), dh)) == multiset(dh))
    assert(multiset(back(Lake.businessSummaryPath(lake), bs)) == multiset(bs))
    val _ = silver.unpersist()
  }

  test("a batch pass after refinery drains leaves Silver and Gold as the drains left them") {
    val lake = Files.createTempDirectory("graft-refresh").toString
    val cfg = EtlConfig(referenceInstant = Some(Instant.parse("2025-07-15T14:00:00Z")))
    val catalog = Fixtures.deviceCatalog(spark, 3)
    // 3 devices × 60 one-second rows per delivery, appended as the
    // ingest sink appends; the 24 h lookback's cutoff (07-14T14:00)
    // falls between the 07-14 deliveries
    def deliverAndDrain(root: String, starts: String*): Unit = {
      starts.foreach { start =>
        Fixtures.bronzeTelemetry(spark, nDevices = 3, rowsPerDevice = 60,
            start = Instant.parse(start))
          .withColumn("date", to_date(try_to_timestamp(col("timestamp"))))
          .write.partitionBy("date").mode("append")
          .parquet(Lake.bronzePath(root))
      }
      SilverRefinery.runOnce(spark, root, catalog, cfg)
      GoldRefinery.runOnce(spark, root, cfg)
    }
    val july14 = Seq("2025-07-14T12:00:00Z", "2025-07-14T12:01:00Z",
      "2025-07-14T15:00:00Z")
    // one micro-batch holds 07-05 and 07-14
    deliverAndDrain(lake, "2025-07-05T12:00:00Z" +: july14: _*)

    // snapshots are collected: a cached frame is re-read once the pass
    // overwrites its files, and would compare the new data with itself
    val tables = Seq(Lake.silverPath(lake), Lake.dailyEnergyPath(lake),
      Lake.deviceHealthPath(lake), Lake.businessSummaryPath(lake))
    def byName(path: String) = {
      val df = spark.read.parquet(path)
      df.select(df.columns.sorted.map(col): _*)
    }
    val drained = tables.map(t => t -> multiset(byName(t))).toMap
    assert(drained(Lake.silverPath(lake)).values.sum == 4 * 3 * 60)
    // 07-14's Silver is what a lake that never held 07-05 gets
    val only0714 = Files.createTempDirectory("graft-refresh-0714").toString
    deliverAndDrain(only0714, july14: _*)
    def silverOn0714(root: String) = multiset(byName(Lake.silverPath(root))
      .filter(col("date") === lit(java.sql.Date.valueOf("2025-07-14"))))
    assert(silverOn0714(lake).values.sum == 3 * 3 * 60)
    assert(silverOn0714(lake) == silverOn0714(only0714))

    EtlRunner.pass(spark, lake, catalog, cfg, hoursBack = 24, daysBack = 7)
    tables.foreach(t => assert(multiset(byName(t)) == drained(t), t))

    val silver = spark.read.parquet(Lake.silverPath(lake)).drop("date").cache()
    val de = SilverToGold.dailyEnergyConsumption(silver, cfg)
    val dh = SilverToGold.deviceHealthMetrics(silver, cfg)
    val bs = SilverToGold.dailyBusinessSummary(de, dh, cfg)
    def back(path: String, like: DataFrame) =
      spark.read.parquet(path).select(like.columns.map(col): _*)
    assert(multiset(back(Lake.dailyEnergyPath(lake), de)) == multiset(de))
    assert(multiset(back(Lake.deviceHealthPath(lake), dh)) == multiset(dh))
    assert(multiset(back(Lake.businessSummaryPath(lake), bs)) == multiset(bs))
    val _ = silver.unpersist()
  }

  test("only Lake spells a medallion table's path or a partition overwrite mode") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".scala"))
      .map(f => f -> new String(Files.readAllBytes(Paths.get(f)), "UTF-8"))
      .toSeq
    def spelledIn(needle: String) =
      sources.collect { case (f, t) if t.contains(needle) => f }.sorted
    val lake = Seq("src/main/scala/graft/etl/Lake.scala")
    assert(spelledIn("/silver/energy_usage") == lake)
    assert(spelledIn("/gold/") == lake)
    assert(spelledIn("partitionOverwriteMode") == lake)
    // and only Lake writes Silver or Gold
    val sink = ("\\b(writeSilver|writeGold|writeDailyEnergy|writeDeviceHealth|" +
      "writeBusinessSummary)\\s*\\(").r
    assert(sources.collect {
      case (f, t) if sink.findFirstIn(t).isDefined => f }.sorted == lake)
  }
}
