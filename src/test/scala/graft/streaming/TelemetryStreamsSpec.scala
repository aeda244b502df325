package graft.streaming

import java.sql.Timestamp
import java.time.Instant

import graft.SparkSpec
import graft.etl.Fixtures
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class TelemetryStreamsSpec extends SparkSpec {

  test("watermarked tumbling windows aggregate per device, drop very-late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val jsonRows = Fixtures
      .bronzeTelemetry(spark, nDevices = 2, rowsPerDevice = 1500)
      .select(to_json(struct(col("*"))).as("v")).as[String].collect()

    val agg = TelemetryStreams.windowedDeviceAggregates(
      BronzeIngest.parseAndValidate(source.toDF()),
      window = "5 minutes", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    // two micro-batches: the watermark advances BETWEEN batches, so
    // append-mode windows only close once later data has arrived in a
    // subsequent batch (1500 s of data ⇒ watermark 1500−600=900 s ⇒
    // the first 5-min window is closed)
    val (first, rest) = jsonRows.splitAt(600)
    source.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    source.addData(rest.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    // append mode emits only watermark-closed windows; 600 s of data
    // per device → the first 5-min window is closed for both devices
    val out = spark.table("win_agg")
    assert(out.count() >= 2)
    val r = out.filter(col("device_id") === "device_001").orderBy("window_start").head()
    assert(r.getAs[Long]("n_readings") == 300) // 5 min × 1 msg/s
    assert(r.getAs[Double]("power_avg") > 0)
  }

  test("session windows: streaming (watermarked, 2 batches) equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Instant.parse("2025-07-15T00:00:00Z")
    def row(dev: String, s: Int, wh: Double) =
      (dev, Timestamp.from(base.plusSeconds(s.toLong)).toString, wh)
    // two devices, bursts separated by > 5 min gaps; burst 2 of d1 is
    // SPLIT ACROSS THE BATCH BOUNDARY so the merge exercises session
    // state carry-over; "wm" is a watermark sentinel only
    val burst1 = Seq(row("d1", 0, 1.0), row("d1", 30, 2.0), row("d1", 60, 3.0),
      row("d2", 10, 5.0), row("d2", 50, 5.0))
    val burst2a = Seq(row("d1", 1200, 1.5), row("d1", 1230, 1.5))
    val burst2b = Seq(row("d1", 1260, 1.5), row("d2", 1300, 4.0))
    val sentinel = Seq(row("wm", 10800, 0.0))
    val all = burst1 ++ burst2a ++ burst2b ++ sentinel

    val source = MemoryStream[(String, String, Double)]
    val stream = TelemetryStreams.deviceSessions(
      source.toDF().toDF("device_id", "timestamp", "energy_consumption_wh"),
      gap = "5 minutes", watermark = Some("1 minute"))
    val q = stream.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    source.addData(burst1 ++ burst2a: _*)
    q.processAllAvailable()
    source.addData(burst2b ++ sentinel: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessions")
      .filter(col("device_id") =!= "wm")
      .select("device_id", "session_start", "session_end", "n_readings",
        "energy_wh")
      .collect().map(_.toSeq).toSet
    val batch = TelemetryStreams.deviceSessions(
      all.toDF("device_id", "timestamp", "energy_consumption_wh"),
      gap = "5 minutes")
      .filter(col("device_id") =!= "wm")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streaming sessions != batch sessions:\n$streamed\nvs\n$batch")
    // d1 = two sessions (burst1; burst2 spans the batch boundary and
    // must still merge into ONE session of 3 readings)
    val d1Sessions = batch.filter(_.head == "d1")
    assert(d1Sessions.size == 2, d1Sessions)
    assert(d1Sessions.forall(_(3) == 3L), d1Sessions)
  }

  test("alert streak detector fires exactly at minStreak consecutive alerts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    val base = Instant.parse("2025-07-15T00:00:00Z")
    def ev(dev: String, s: Int, alert: String) =
      TelemetryStreams.DeviceEvent(dev,
        Timestamp.from(base.plusSeconds(s.toLong)), alert)
    val source = MemoryStream[TelemetryStreams.DeviceEvent]
    source.addData(
      ev("d1", 0, "none"), ev("d1", 1, "high_power"), ev("d1", 2, "high_power"),
      ev("d1", 3, "high_power"), ev("d1", 4, "high_power"), ev("d1", 5, "none"),
      ev("d2", 0, "high_temperature"), ev("d2", 1, "none"),
      ev("d2", 2, "high_temperature"))

    val streaks = TelemetryStreams.alertStreaks(source.toDS(), minStreak = 3)
    // alertStreaks keeps processing-time timeout state, so the query
    // NEVER settles on its own: under AvailableNow it churns empty
    // micro-batches until the awaitTermination deadline (the old shape
    // burned a flat 120 s of suite budget — thousands of checkpoint
    // deltas of nothing), and processAllAvailable never returns for
    // the same reason. The assertions depend only on data-driven
    // output, so poll the sink until its first row appears and then
    // until the row count holds across two checks with at least one
    // micro-batch between them — a spurious later row (a duplicate
    // fire, a d2 streak) still lands before the stop.
    val q = streaks.writeStream.format("memory").queryName("streaks")
      .outputMode("append").start()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def rows = spark.table("streaks").count()
    def batchId = Option(q.lastProgress).fold(-1L)(_.batchId)
    while (rows == 0 && System.nanoTime() < deadline) Thread.sleep(100)
    var settled = false
    while (!settled && System.nanoTime() < deadline) {
      val (n, b) = (rows, batchId)
      while (batchId == b && System.nanoTime() < deadline) Thread.sleep(100)
      settled = rows == n
    }
    q.stop()
    val out = spark.table("streaks").as[TelemetryStreams.AlertStreak].collect()
    // d1: one streak reaches 3 (fires once, at the 3rd consecutive);
    // d2 never reaches 3
    assert(out.length == 1)
    assert(out.head.device_id == "d1")
    assert(out.head.streak == 3)
    assert(out.head.since == Timestamp.from(base.plusSeconds(1)))
    assert(out.head.until == Timestamp.from(base.plusSeconds(3)))
  }
}
