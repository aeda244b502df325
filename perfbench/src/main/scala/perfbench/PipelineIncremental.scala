package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.etl.{BronzeToSilver, EtlConfig, Fixtures, Lake, SilverToGold}
import graft.streaming.{BronzeIngest, GoldRefinery, SilverRefinery}
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import scala.jdk.CollectionConverters._

/** pipeline_incremental: open loop. A generator writes telemetry files on
  * a fixed schedule; the Bronze ingest stream (file source) picks them up,
  * and a refinery loop runs `SilverRefinery.runOnce` then
  * `GoldRefinery.runOnce` back to back, on top of drained history.
  * Per-cycle recompute and streaming overhead dominate here, and are
  * invisible in pipeline_batch.
  *
  * The two refineries run one after the other, not as the concurrent
  * `SilverRefinery.start` / `GoldRefinery.start` streams: run together,
  * Gold's micro-batch can list a Silver file that Silver's partition
  * overwrite deletes before Gold reads it, and the Gold stream then dies
  * with FAILED_READ_FILE.FILE_NOT_EXIST (see README.md).
  */
object PipelineIncremental {
  val Devices = 100
  val HistorySeconds = 120
  /** Each device sends one message a second, spread over this many files
    * a second, so that every run yields enough freshness samples. */
  val FilesPerSecond = 5
  /** Bronze micro-batch cadence: short against the refinery cycle, long
    * enough that Bronze batches do not crowd the refineries off the
    * cores. */
  val BronzeTrigger = "2 seconds"
  val DrainTimeoutMs = 90000L

  /** One Bronze micro-batch from its progress report. */
  private final case class Batch(cumRows: Long, endMs: Long, rows: Long, busyMs: Long)

  /** One pass of the refinery loop, with the Silver rows it consumed. */
  private final case class Cycle(silverStart: Long, silverEnd: Long,
      goldEnd: Long, silverRows: Long, goldRows: Long)

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  private def batches(ps: Seq[StreamingQueryProgress]): Seq[Batch] = {
    var cum = 0L
    ps.sortBy(_.batchId).filter(_.numInputRows > 0).map { p =>
      cum += p.numInputRows
      val busy: Long = p.durationMs.get("triggerExecution")
      Batch(cum, startMs(p) + busy, p.numInputRows, busy)
    }
  }

  /** The id a checkpoint gives every run of its streaming query. */
  private def queryId(checkpoint: String): String = {
    val meta = new String(Files.readAllBytes(Paths.get(checkpoint, "metadata")), UTF_8)
    "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(meta).get.group(1)
  }

  private final case class Setup(dir: Path, lake: String, bronze: StreamingQuery)

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tracer}
    val total = HistorySeconds + ctx.seconds
    val cfg = EtlConfig(referenceInstant = Some(Gen.Base.plusSeconds(total)))
    val catalog = Fixtures.deviceCatalog(spark, Devices).cache()
    val perFile = Devices / FilesPerSecond
    val historyRows = Devices.toLong * HistorySeconds
    val log = new ProgressLog(spark)
    // device-major: the line of device d at second s is lines(d * total + s)
    val lines = Gen.cleanLines(spark, ctx.seed, Devices, total)

    def awaitRows(q: StreamingQuery, rows: Long): Unit = {
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      while (q.recentProgress.map(_.numInputRows).sum < rows) {
        q.exception.foreach(e => throw e)
        require(System.currentTimeMillis() < deadline,
          s"stream ${q.id} did not read $rows rows")
        Thread.sleep(50)
      }
    }

    // Set-up: history through the Bronze stream, drained by both
    // refineries.
    val (setups, setupS) = Common.repeatedSetup(ctx, "incremental") { dir =>
      val src = dir.resolve("in")
      val lake = dir.resolve("lake").toString
      Gen.writeFiles((0 until Devices).flatMap(d =>
        lines.slice(d * total, d * total + HistorySeconds)).toArray, src, 4)
      val bronze = BronzeIngest.start(
        BronzeIngest.parseAndValidate(spark.readStream.text(src.toString)),
        lake, dir.resolve("bronze-ckpt").toString, BronzeTrigger)
      awaitRows(bronze, historyRows)
      SilverRefinery.runOnce(spark, lake, catalog, cfg)
      GoldRefinery.runOnce(spark, lake, cfg)
      Setup(dir, lake, bronze)
    }
    setups.init.foreach(_.bronze.stop())
    val Setup(dir, lake, bronze) = setups.last
    val silverId = queryId(s"$lake/_checkpoints/silver_refinery")
    val goldId = queryId(s"$lake/_checkpoints/gold_refinery")
    tracer.attribute(bronze.id.toString, "bronze_ingest")
    tracer.attribute(silverId, "silver_refinery")
    tracer.attribute(goldId, "gold_refinery")
    val lakePath = Paths.get(lake)
    val filesBefore = Common.partFiles(lakePath)

    // The refinery loop, on its own thread.
    val cycles = new ConcurrentLinkedQueue[(Long, Long, Long)]
    val loopErrors = new ConcurrentLinkedQueue[Throwable]
    @volatile var stopLoop = false
    val loop = new Thread(() =>
      try while (!stopLoop) {
        val s0 = System.currentTimeMillis()
        tracer.span("silver_refinery")(SilverRefinery.runOnce(spark, lake, catalog, cfg))
        val s1 = System.currentTimeMillis()
        tracer.span("gold_refinery")(GoldRefinery.runOnce(spark, lake, cfg))
        cycles.add((s0, s1, System.currentTimeMillis()))
      } catch { case e: Throwable => loopErrors.add(e) })
    val loopStart = System.currentTimeMillis()
    loop.start()
    // Start the schedule as an idle cycle ends, so that every run meets
    // the loop in the same phase rather than at a random point of a cycle.
    while (cycles.size < 2 && loopErrors.isEmpty) Thread.sleep(5)

    // Timed part: open loop, file i due at t0 + i / FilesPerSecond s.
    val src = dir.resolve("in")
    val tmp = Files.createDirectories(dir.resolve("tmp"))
    val nFiles = ctx.seconds * FilesPerSecond
    val t0 = System.currentTimeMillis()
    val due = Array.tabulate(nFiles)(i => t0 + i * 1000L / FilesPerSecond)
    val lateMs = Array.ofDim[Long](nFiles)
    for (i <- 0 until nFiles) {
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val second = HistorySeconds + i / FilesPerSecond
      val slice = (i % FilesPerSecond) * perFile
      val body = (slice until slice + perFile)
        .map(d => lines(d * total + second)).mkString("", "\n", "\n")
      val f = tmp.resolve(f"gen-$i%06d.json")
      Files.write(f, body.getBytes(UTF_8))
      Files.move(f, src.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      lateMs(i) = System.currentTimeMillis() - due(i)
    }

    Common.log(s"generated $nFiles files")

    // Visibility per file, from progress reports and the loop's clock:
    // the Bronze batch whose cumulative input covers the file, then the
    // first cycle whose Silver pass had consumed that batch; the file is
    // in Gold when that cycle's Gold pass ends. Gold itself is not read.
    final case class Seen(bronze: Long, silver: Long, gold: Long)
    def refineryCycles(): Seq[Cycle] = {
      def rowsIn(id: String, from: Long, to: Long) = log.of(id)
        .filter(p => startMs(p) >= from && startMs(p) <= to)
        .map(_.numInputRows).sum
      cycles.asScala.toSeq.map { case (s0, s1, g1) =>
        Cycle(s0, s1, g1, rowsIn(silverId, s0, s1), rowsIn(goldId, s1, g1))
      }
    }
    def visibility(): Array[Option[Seen]] = {
      val b = batches(bronze.recentProgress.toSeq)
      val cum = refineryCycles().scanLeft((historyRows, Option.empty[Cycle])) {
        case ((rows, _), c) => (rows + c.silverRows, Some(c))
      }.collect { case (rows, Some(c)) => (rows, c) }
      Array.tabulate(nFiles) { i =>
        val rows = historyRows + (i + 1L) * perFile
        for {
          bb <- b.find(_.cumRows >= rows)
          (_, c) <- cum.find(_._1 >= bb.cumRows)
        } yield Seen(bb.endMs, c.silverEnd, c.goldEnd)
      }
    }
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    var seen = visibility()
    while (seen.exists(_.isEmpty) && System.currentTimeMillis() < deadline &&
        loopErrors.isEmpty && bronze.isActive) {
      Thread.sleep(100)
      seen = visibility()
    }
    stopLoop = true
    loop.join()
    // progress reports reach the log asynchronously: map again once all
    // of them have arrived
    SparkInternals.waitUntilEmpty(spark.sparkContext)
    seen = visibility()
    val problems = Seq.newBuilder[String]
    problems ++= loopErrors.asScala.map(e => s"refinery loop failed: $e")
    bronze.exception.foreach(e => problems += s"bronze stream failed: $e")
    val bronzeBatches = batches(bronze.recentProgress.toSeq)
    problems ++= bronzeBatches.map(_.cumRows).filterNot(c =>
      c >= historyRows && (c - historyRows) % perFile == 0)
      .map(c => s"a bronze batch ends inside a file, at row $c")
    val visible = seen.zip(due).collect { case (Some(v), d) => (v, d) }
    def ages(f: Seen => Long) = visible.map { case (v, d) => (f(v) - d) / 1000.0 }.toSeq
    val freshness = ages(_.gold)
    var failed = (nFiles - visible.length).toLong
    if (failed > 0) problems += s"$failed of $nFiles files never reached gold"

    val filesAfter = Common.partFiles(lakePath)
    val newFiles = filesAfter.filter { case (p, _) => !filesBefore.contains(p) }
    val events = nFiles.toLong * perFile
    val layers =
      if (!tracer.traced) Map.empty[String, Double]
      else {
        val b = bronzeBatches.filter(_.endMs >= t0)
        val busy = refineryCycles().filter(c => c.silverStart >= loopStart &&
          c.silverRows > 0)
        val rowsNew = busy.map(_.silverRows).sum.toDouble
        val recomputed =
          tracer.counters("silver_refinery").recordsWritten.get().toDouble
        Map(
          "gen.events" -> events.toDouble,
          "gen.late_max_s" -> lateMs.max / 1000.0,
          "bronze_ingest.busy_s" -> b.map(_.busyMs).sum / 1000.0,
          "bronze_ingest.rows_in" -> b.map(_.rows).sum.toDouble,
          "bronze_ingest.visible_p50_s" -> Stats.percentile(ages(_.bronze), 0.5),
          "silver_refinery.batch_s" ->
            Stats.mean(busy.map(c => (c.silverEnd - c.silverStart) / 1000.0)),
          "silver_refinery.rows_new" -> rowsNew,
          "silver_refinery.rows_recomputed" -> recomputed,
          "silver_refinery.useful_ratio" ->
            (if (recomputed > 0) rowsNew / recomputed else 0.0),
          "silver_refinery.visible_p50_s" -> Stats.percentile(ages(_.silver), 0.5),
          "gold_refinery.batch_s" ->
            Stats.mean(busy.map(c => (c.goldEnd - c.silverEnd) / 1000.0)),
          "gold_refinery.silver_rows_read" -> busy.map(_.goldRows).sum.toDouble,
          "lake.files_written" -> newFiles.size.toDouble,
          "lake.bytes_written_per_event" -> newFiles.values.sum.toDouble / events,
          "trace.latency_p50_s" -> Stats.percentile(freshness, 0.5),
          "trace.spans" -> tracer.spanCount.toDouble) ++
          Seq("bronze_ingest", "silver_refinery", "gold_refinery")
            .flatMap(l => Counters.perOp(tracer, l, nFiles))
      }
    bronze.stop()
    Common.log("refinery cycles with input (silver s/gold s/rows): " +
      refineryCycles().filter(_.silverRows > 0).map(c =>
        f"${(c.silverEnd - c.silverStart) / 1e3}%.1f/" +
          f"${(c.goldEnd - c.silverEnd) / 1e3}%.1f/${c.silverRows}").mkString(" "))
    Common.log(s"${visible.length} of $nFiles files reached gold; " +
      f"median freshness ${if (freshness.isEmpty) 0.0 else Stats.median(freshness)}%.2f s")

    // Outside timing: drain what the loop left (nothing, when every file
    // reached Gold), then Bronze must hold every generated row, Silver must
    // equal the batch refinery over the final Bronze, and Gold the batch
    // Gold over the final Silver.
    if (failed > 0) {
      SilverRefinery.runOnce(spark, lake, catalog, cfg)
      GoldRefinery.runOnce(spark, lake, cfg)
    }
    val finalBronze = Lake.readBronze(spark, lake, PipelineBatch.AllHours, cfg)
    val bronzeRows = finalBronze.count()
    val silver = spark.read.parquet(s"$lake/silver/energy_usage").drop("date")
    val de = SilverToGold.dailyEnergyConsumption(silver, cfg)
    val dh = SilverToGold.deviceHealthMetrics(silver, cfg)
    val wrong =
      (if (bronzeRows == historyRows + events) Nil
       else Seq(s"bronze rows $bronzeRows, generated ${historyRows + events}")) ++
        Checks.sameRows("silver", silver, BronzeToSilver.run(
          finalBronze.drop("date"), Fixtures.deviceCatalog(spark, Devices), cfg)) ++
        Checks.sameRows("gold daily energy",
          spark.read.parquet(s"$lake/gold/daily_energy_consumption"), de) ++
        Checks.sameRows("gold device health",
          spark.read.parquet(s"$lake/gold/device_health_metrics"), dh) ++
        Checks.sameRows("gold business summary",
          spark.read.parquet(s"$lake/gold/daily_business_summary"),
          SilverToGold.dailyBusinessSummary(de, dh, cfg))
    problems ++= wrong
    if (wrong.nonEmpty) failed = nFiles
    val bronzeOut = bronzeRows - historyRows

    val e2e =
      if (tracer.traced) Map.empty[String, Double]
      else Map(
        "setup_s" -> setupS,
        "latency_p50_s" -> Stats.percentile(freshness, 0.5))
    val bronzeCounts =
      if (!tracer.traced) Map.empty[String, Double]
      else Map("bronze_ingest.rows_out" -> bronzeOut.toDouble,
        "bronze_ingest.rejected" -> (events - bronzeOut).toDouble)
    Outcome(nFiles.toLong, failed, e2e, layers ++ bronzeCounts, problems.result())
  }
}
