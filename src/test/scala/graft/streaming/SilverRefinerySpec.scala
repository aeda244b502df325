package graft.streaming

import java.time.LocalDate

import graft.SparkSpec
import graft.etl.{BronzeToSilver, EtlConfig, Fixtures, Lake}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}

class SilverRefinerySpec extends SparkSpec {

  // first in the suite, so that its compiles are counted against a
  // cold code cache
  test("the date step is one shuffle-free job that skips rows without a date") {
    // a tailed table's `date` partition column; a null is a row in
    // the null date partition (Bronze's unparseable timestamps)
    val dates = Seq("2025-07-15", null, "2025-07-16", null, "2025-07-15", "2025-07-16")
      .map(d => Row(Option(d).map(java.sql.Date.valueOf).orNull))
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(dates, 3),
      StructType(Seq(StructField("date", DateType))))
    val step = footprint(LakeTail.dates(batch))
    assert(step.result == Seq(LocalDate.parse("2025-07-15"), LocalDate.parse("2025-07-16")))
    assert(step.jobs.size == 1, step.jobs.map(_.jobId))
    // an Exchange in its plan would add a stage to the job
    assert(step.jobs.head.stageInfos.size == 1, step.jobs.head.stageInfos.map(_.name))
    assert(step.compiles <= 3, s"${step.compiles} generated classes compiled")
  }

  test("a drain's progress counts the Bronze rows it was delivered") {
    val lake = java.nio.file.Files.createTempDirectory("graft-refinery-progress").toString
    val cfg = EtlConfig(
      referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(2 * 3600)))
    val catalog = Fixtures.deviceCatalog(spark, 3)
    val checkpoint = Lake.checkpointPath(lake, "silver_refinery")
    // dirty rows included: an unparseable timestamp is still an input row
    val first = Fixtures.bronzeTelemetry(spark, nDevices = 3, rowsPerDevice = 50, dirty = true)
    Lake.writeBronze(first, lake)
    assert(streamInputRows(checkpoint)(
      SilverRefinery.runOnce(spark, lake, catalog, cfg)) == first.count())
    val second = Fixtures.bronzeTelemetry(spark, nDevices = 3, rowsPerDevice = 20,
      start = Fixtures.DefaultStart.plusSeconds(600))
    second.withColumn("date", to_date(try_to_timestamp(col("timestamp"))))
      .write.partitionBy("date").mode("append")
      .parquet(Lake.bronzePath(lake))
    assert(streamInputRows(checkpoint)(
      SilverRefinery.runOnce(spark, lake, catalog, cfg)) == 3 * 20)
  }

  test("file-source stream refines new bronze into silver exactly once") {
    val lake = java.nio.file.Files.createTempDirectory("graft-refinery").toString
    val cfg = EtlConfig(
      referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(2 * 3600)))
    val catalog = Fixtures.deviceCatalog(spark, 4)

    Lake.writeBronze(
      Fixtures.bronzeTelemetry(spark, nDevices = 4, rowsPerDevice = 80), lake)
    SilverRefinery.runOnce(spark, lake, catalog, cfg)

    val silver = Lake.readSilver(spark, lake, daysBack = 7, cfg)
    assert(silver.count() == 4 * 80)
    assert(silver.columns.contains("temp_1h_avg"))
    assert(silver.filter(col("quality_score").isNull).count() == 0)

    // drain again with the same checkpoint: no new input ⇒ no dup rows
    SilverRefinery.runOnce(spark, lake, catalog, cfg)
    assert(Lake.readSilver(spark, lake, daysBack = 7, cfg).count() == 4 * 80)
  }

  test("streaming silver equals batch silver across batch and midnight boundaries") {
    val lake = java.nio.file.Files.createTempDirectory("graft-refinery2").toString
    // rows start 1 min before midnight so the fixture spans two date
    // partitions; the second micro-batch lands entirely on day 2
    val start = java.time.Instant.parse("2025-07-15T23:59:00Z")
    val cfg = EtlConfig(
      referenceInstant = Some(start.plusSeconds(2 * 3600)))
    val catalog = Fixtures.deviceCatalog(spark, 3)
    val full = Fixtures.bronzeTelemetry(spark, nDevices = 3,
      rowsPerDevice = 120, start = start).cache()
    val splitTs = start.plusSeconds(90).toString // batch 2 = rows 90..119
    val part1 = full.filter(col("timestamp") < lit(splitTs))
    val part2 = full.filter(col("timestamp") >= lit(splitTs))

    Lake.writeBronze(part1, lake)
    SilverRefinery.runOnce(spark, lake, catalog, cfg)
    // second delivery APPENDS files like the streaming ingest sink
    // (writeBronze's partition overwrite would replace day 2's rows)
    part2.withColumn("date", to_date(try_to_timestamp(col("timestamp"))))
      .write.partitionBy("date").mode("append")
      .parquet(s"$lake/bronze/telemetry")
    SilverRefinery.runOnce(spark, lake, catalog, cfg)

    val streamed = Lake.readSilver(spark, lake, daysBack = 7, cfg).drop("date")
    // batch comparison path = EtlRunner.pass's: fresh bronze scan of
    // the same lake bytes through the same batch transform (fresh
    // DataFrame instances — reusing `full`/`catalog` across both sides
    // of exceptAll trips attribute resolution)
    val batch = BronzeToSilver.run(
      Lake.readBronze(spark, lake, hoursBack = 48, cfg).drop("date"),
      Fixtures.deviceCatalog(spark, 3), cfg)
      .select(streamed.columns.map(col): _*)
    assert(streamed.count() == 3 * 120)
    // frame-exact: every window column identical to the one-shot batch
    // (multiset compare on collected rows — exceptAll over two window
    // plans trips an INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in Spark 4.1)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(multiset(streamed) == multiset(batch))
  }

  test("late rows for day D leave day D+1's Silver files untouched") {
    val lake = java.nio.file.Files.createTempDirectory("graft-refinery3").toString
    val start = java.time.Instant.parse("2025-07-15T23:58:00Z")
    val cfg = EtlConfig(referenceInstant = Some(start.plusSeconds(2 * 3600)))
    val catalog = Fixtures.deviceCatalog(spark, 2)
    val full = Fixtures.bronzeTelemetry(spark, nDevices = 2,
      rowsPerDevice = 240, start = start).cache()
    // withhold day 1's final 20 rows (seconds 100-119); batch 1 still
    // contains ALL of day 2
    val lateLo = start.plusSeconds(100).toString
    val lateHi = start.plusSeconds(120).toString
    val late = full.filter(col("timestamp") >= lit(lateLo) &&
      col("timestamp") < lit(lateHi))
    val onTime = full.filter(col("timestamp") < lit(lateLo) ||
      col("timestamp") >= lit(lateHi))

    Lake.writeBronze(onTime, lake)
    SilverRefinery.runOnce(spark, lake, catalog, cfg)
    // a rewrite of day 2 would replace its files with new ones
    def day2Files() = new java.io.File(Lake.silverPath(lake), "date=2025-07-16").list().toSet
    val day2Before = day2Files()
    late.withColumn("date", to_date(try_to_timestamp(col("timestamp"))))
      .write.partitionBy("date").mode("append")
      .parquet(s"$lake/bronze/telemetry")
    SilverRefinery.runOnce(spark, lake, catalog, cfg)
    assert(day2Before.exists(_.endsWith(".parquet")))
    assert(day2Files() == day2Before)

    val streamed = Lake.readSilver(spark, lake, daysBack = 7, cfg).drop("date")
    val batch = BronzeToSilver.run(
      Lake.readBronze(spark, lake, hoursBack = 48, cfg).drop("date"),
      Fixtures.deviceCatalog(spark, 2), cfg)
      .select(streamed.columns.map(col): _*)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(streamed.count() == 2 * 240)
    assert(multiset(streamed) == multiset(batch))
  }
}
