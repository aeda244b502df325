package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class BronzeToSilverSpec extends SparkSpec {

  private lazy val cfg = EtlConfig()
  private lazy val bronzeDirty =
    Fixtures.bronzeTelemetry(spark, nDevices = 5, rowsPerDevice = 100,
      dirty = true)
  private lazy val catalog = Fixtures.deviceCatalog(spark, 5)
  private lazy val cleaned = BronzeToSilver.validateAndClean(bronzeDirty, cfg)
  private lazy val silver = BronzeToSilver.run(bronzeDirty, catalog, cfg)

  test("F1-F7: dirty rows are dropped, clean rows survive") {
    val clean = 5 * 100
    // 9 dirty rows: null-user, bad-timestamp, extreme temp, extreme
    // power, negative energy are dropped (5); null-optionals row,
    // duplicate pair (→1), late event survive (4 rows → 3 after dedup)
    assert(cleaned.count() == clean + 3)
    assert(cleaned.filter(col("temperature") > 100).count() == 0)
    assert(cleaned.filter(col("power_usage") > 10000).count() == 0)
    assert(cleaned.filter(col("energy_consumption_wh") < 0).count() == 0)
  }

  test("F3: exact duplicate (device_id, timestamp) keeps one survivor") {
    val dupes = cleaned.groupBy("device_id", "timestamp").count()
      .filter(col("count") > 1)
    assert(dupes.count() == 0)
  }

  // the dirty fixture plus one key's edge cases: an exact duplicate, a
  // same-key row with other values, and the row with a null timestamp
  // and with a null device_id
  private lazy val keyRow = bronzeDirty.filter(col("device_id") === "device_001" &&
    col("timestamp") === Fixtures.DefaultStart.plusSeconds(10).toString)
  private lazy val nullKeys = keyRow.withColumn("timestamp", lit(null).cast("string"))
    .union(keyRow.withColumn("device_id", lit(null).cast("string")))
  private lazy val exactDups = bronzeDirty.union(keyRow).union(nullKeys)
  private lazy val keyEdges =
    exactDups.union(keyRow.withColumn("temperature", col("temperature") + 1))

  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("F3/F4: one row per (device_id, timestamp), none with a null key") {
    val out = BronzeToSilver.validateAndClean(keyEdges, cfg)
    assert(out.groupBy("device_id", "timestamp").count()
      .filter(col("count") > 1).count() == 0)
    assert(out.filter(col("device_id").isNull || col("timestamp").isNull)
      .count() == 0)
    // the edge rows add no row: same survivors as the dirty fixture
    assert(out.count() == cleaned.count())
    // the same-key pair keeps one of its two rows, whole
    val base = keyRow.head().getAs[Double]("temperature")
    val kept = out.filter(col("device_id") === "device_001" &&
      col("timestamp") === lit(Fixtures.DefaultStart.plusSeconds(10)))
      .select("temperature").collect().map(_.getDouble(0))
    assert(kept.length == 1 && Set(base, base + 1).contains(kept.head),
      kept.mkString(","))
  }

  test("F3: on exact duplicates Silver equals the dropDuplicates formulation") {
    // the dedup this stage had before the lag window: dropDuplicates
    // on the key, ahead of the same null drop and filters
    def oldValidateAndClean(df: org.apache.spark.sql.DataFrame) =
      BronzeToSilver.screen(
        df.withColumn("timestamp", try_to_timestamp(col("timestamp")))
          .dropDuplicates("device_id", "timestamp"), cfg)
    def silverVia(validated: org.apache.spark.sql.DataFrame) =
      BronzeToSilver.derivedMetrics(BronzeToSilver.detectLateEvents(
        BronzeToSilver.enrichWithCatalog(validated, catalog), cfg), cfg)
    val got = BronzeToSilver.run(exactDups, catalog, cfg)
    val want = silverVia(oldValidateAndClean(exactDups))
    assert(got.count() == 5 * 100 + 3)
    assert(multiset(got) == multiset(want))
  }

  test("W1-W3: a date's rows depend on that date's Bronze rows alone") {
    // per device: 20 rows before midnight (fewer than a 60-row frame),
    // then 100 on the next date
    val before = Fixtures.bronzeTelemetry(spark, nDevices = 2, rowsPerDevice = 20,
      start = java.time.Instant.parse("2025-07-14T23:59:40Z"))
    val day = Fixtures.bronzeTelemetry(spark, nDevices = 2, rowsPerDevice = 100,
      seed = 7L)
    val cat = Fixtures.deviceCatalog(spark, 2)
    val together = BronzeToSilver.run(before.union(day), cat, cfg)
      .filter(to_date(col("timestamp")) === lit(java.sql.Date.valueOf("2025-07-15")))
    val alone = BronzeToSilver.run(day, cat, cfg)
    assert(alone.count() == 2 * 100)
    assert(multiset(together) == multiset(alone))
  }

  test("J1: a duplicated catalog row does not duplicate Silver rows") {
    val dupCatalog = catalog.union(catalog.filter(col("device_id") === "device_002"))
    val got = BronzeToSilver.run(bronzeDirty, dupCatalog, cfg)
    assert(got.groupBy("device_id", "timestamp").count()
      .filter(col("count") > 1).count() == 0)
    assert(multiset(got) == multiset(silver))
  }

  test("quality score: null optionals −0.1 each, extremes −0.2 each") {
    // dirty row device_003: 3 null optionals + temp 60 (>50) + power
    // 6000 (>5000) → 1.0 − 0.3 − 0.2 − 0.2 = 0.3
    val r = cleaned.filter(col("location").isNull &&
      col("device_id") === "device_003")
      .select("quality_score", "is_valid").head()
    assert(math.abs(r.getDouble(0) - 0.3) < 1e-9)
    assert(!r.getBoolean(1)) // 0.3 < 0.5
    // clean rows keep a perfect score
    assert(cleaned.filter(col("quality_score") === 1.0).count() >= 5 * 100 - 10)
  }

  test("J1: catalog enrichment fills nulls and computes device_age_days") {
    val enriched = BronzeToSilver.enrichWithCatalog(cleaned, catalog)
    // the null-optionals row gets catalog values back
    val filled = enriched.filter(col("device_id") === "device_003" &&
      col("quality_score") === 0.3).head()
    assert(filled.getAs[String]("location") != null)
    assert(filled.getAs[String]("manufacturer") != null)
    // device_001 installed 2024-01-15, events at 2025-07-15 → 547 days
    val age = enriched.filter(col("device_id") === "device_001")
      .select("device_age_days").head().getInt(0)
    assert(age == 547)
  }

  test("ST4: late event flagged, not dropped; delay in hours") {
    val late = silver.filter(col("is_late_event"))
    assert(late.count() == 1)
    val d = late.select("processing_delay_hours").head().getDouble(0)
    assert(math.abs(d - 49.0) < 0.01)
    // normal rows: 2-12 s ingest delay, never late
    assert(silver.filter(!col("is_late_event")).count() == silver.count() - 1)
  }

  test("W2/W3: 60-row rolling mean matches hand computation") {
    import scala.jdk.CollectionConverters._
    val rows = silver.filter(col("device_id") === "device_001")
      .orderBy("timestamp")
      .select("temperature", "temp_1h_avg", "has_alert", "alert_frequency_1h")
      .collectAsList().asScala
    val temps = rows.map(_.getDouble(0)).toArray
    rows.zipWithIndex.foreach { case (r, i) =>
      val lo = math.max(0, i - 59)
      val expected = temps.slice(lo, i + 1).sum / (i - lo + 1)
      assert(math.abs(r.getDouble(1) - expected) < 1e-9,
        s"row $i rolling mean ${r.getDouble(1)} != $expected")
    }
    val alerts = rows.map(r => if (r.getBoolean(2)) 1.0 else 0.0).toArray
    rows.zipWithIndex.foreach { case (r, i) =>
      val lo = math.max(0, i - 59)
      assert(r.getDouble(3) == alerts.slice(lo, i + 1).sum)
    }
  }

  test("energy_efficiency: energy/power when power>0 else 0") {
    val bad = silver.filter(
      (col("power_usage") > 0 && abs(col("energy_efficiency") -
        col("energy_consumption_wh") / col("power_usage")) > lit(1e-9)) ||
        (col("power_usage") <= 0 && col("energy_efficiency") =!= 0.0))
    assert(bad.count() == 0)
  }
}
