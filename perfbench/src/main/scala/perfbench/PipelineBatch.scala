package perfbench

import java.nio.file.Path

import graft.etl.{BronzeToSilver, EtlConfig, Fixtures, Lake, SilverToGold}
import graft.streaming.BronzeIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** pipeline_batch: closed loop, one full medallion pass at a time over a
  * fixed dirty telemetry set — the paper's throughput claim. */
object PipelineBatch {
  val Devices = 200
  val SecondsPerDevice = 180
  val InputFiles = 8
  /** Untraced timed passes per run, at least; latency is their median. */
  val MinPasses = 2
  /** Look-backs wide enough that every generated row, late ones too, is
    * in every pass. */
  val AllHours: Int = 24 * 365 * 200
  val AllDays: Int = 365 * 200

  /** Best of two writes to the noop sink: the cost of computing `df`. */
  private def noop(df: DataFrame): Double =
    Seq.fill(2)(
      Common.seconds(df.write.format("noop").mode("overwrite").save())._2).min

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tracer}
    val cfg = EtlConfig(referenceInstant =
      Some(Gen.Base.plusSeconds(SecondsPerDevice)))
    val catalog = Fixtures.deviceCatalog(spark, Devices).cache()
    val problems = Seq.newBuilder[String]

    var firstLines: Array[String] = null
    val (setups, setupS) = Common.repeatedSetup(ctx, "batch") { dir =>
      val g = Gen.withDirt(
        Gen.cleanLines(spark, ctx.seed, Devices, SecondsPerDevice), ctx.seed)
      Gen.writeFiles(g.lines, dir, InputFiles)
      if (firstLines == null) firstLines = g.lines
      else if (!firstLines.sameElements(g.lines))
        problems += "generator gave different lines for one seed"
      (g, dir)
    }
    val (gen, input) = setups.last
    val truth = gen.truth

    /** One pass into a fresh lake; returns its wall time. */
    def pass(lake: Path): Double = Common.seconds {
      val root = lake.toString
      tracer.span("bronze_ingest") {
        Lake.writeBronze(BronzeIngest.parseAndValidate(
          spark.read.text(input.toString)), root)
      }
      tracer.span("silver") {
        val bronze = Lake.readBronze(spark, root, AllHours, cfg).drop("date")
        Lake.writeSilver(BronzeToSilver.run(bronze, catalog, cfg), root)
      }
      tracer.span("gold") {
        val silver = Lake.readSilver(spark, root, AllDays, cfg).cache()
        val daily = SilverToGold.dailyEnergyConsumption(silver, cfg)
        val health = SilverToGold.deviceHealthMetrics(silver, cfg)
        Lake.writeGold(daily, health,
          SilverToGold.dailyBusinessSummary(daily, health, cfg), root)
        val _ = silver.unpersist()
      }
      tracer.span("dashboard") { Dashboard.refresh(spark, root, cfg, tracer) }
    }._2

    def check(lake: Path): Seq[String] = {
      val root = lake.toString
      val silverRows = Lake.readSilver(spark, root, AllDays, cfg).count()
      val readings = spark.read.parquet(s"$root/gold/daily_energy_consumption")
        .agg(sum(col("total_readings"))).head().getLong(0)
      Checks.batchPass(truth, silverRows, readings)
    }

    // Warm-up pass, not measured: JIT and codegen.
    val warm = ctx.work.resolve("batch-warm")
    Common.log(f"warm-up pass ${tracer.tracing(false)(pass(warm))}%.2f s")

    // Timed passes until `seconds` of pass time is spent, and at least
    // `MinPasses`. A traced run alternates untraced and traced passes, at
    // least two of each, to measure tracing overhead.
    val plain = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[Double]
    var spent = 0.0
    var k = 0
    var failed = 0L
    var lastLake = warm
    var filesWritten = 0L
    var bytesWritten = 0L
    val minPasses = if (tracer.traced) 4 else MinPasses
    while (spent < ctx.seconds || k < minPasses) {
      val lake = ctx.work.resolve(s"batch-pass-$k")
      val withTrace = tracer.traced && k % 2 == 1
      val wall = tracer.tracing(withTrace)(pass(lake))
      spent += wall
      Common.log(f"pass $k ${if (withTrace) "traced" else "untraced"} $wall%.2f s")
      (if (withTrace) traced else plain) += wall
      val bad = check(lake)
      if (bad.nonEmpty) { failed += 1; problems ++= bad }
      val files = Common.partFiles(lake)
      filesWritten += files.size
      bytesWritten += files.values.sum
      Common.deleteTree(lastLake)
      lastLake = lake
      k += 1
    }
    val plainWalls = plain.result()
    val passWall = Stats.median(plainWalls)

    // Once per run, outside timing: the reject counters against the
    // generator's ground truth, from the last pass's lake.
    val root = lastLake.toString
    val bronze = Lake.readBronze(spark, root, AllHours, cfg).drop("date")
    val bronzeRows = bronze.count()
    val counted = rejectCounts(bronze, cfg) ++ Map(
      "bronze_ingest.rows_out" -> bronzeRows,
      "bronze_ingest.rejected" -> (truth.lines - bronzeRows),
      "silver.rows_out" -> Lake.readSilver(spark, root, AllDays, cfg).count(),
      "silver.late_flagged" -> Lake.readSilver(spark, root, AllDays, cfg)
        .filter(col("is_late_event")).count())
    val truthBad = Checks.rejects(truth, counted)
    if (truthBad.nonEmpty) { failed = k.toLong; problems ++= truthBad }

    val e2e = Map("setup_s" -> setupS, "latency_p50_s" -> passWall)

    val layers =
      if (!tracer.traced) Map.empty[String, Double]
      else {
        val tracedWalls = traced.result()
        tracer.drain()
        val counterLayers = Seq("bronze_ingest", "silver", "gold", "dashboard")
          .flatMap(l => Counters.perOp(tracer, l, tracedWalls.size))
        val stages = stageBreakdown(ctx, input, catalog, cfg)
        Map(
          "gen.events" -> truth.lines.toDouble,
          "gen.dirty_lines" -> truth.dirty.toDouble,
          "bronze_ingest.busy_s" -> mean(tracer, "bronze_ingest"),
          "bronze_ingest.rows_in" -> truth.lines.toDouble,
          "lake.files_written" -> filesWritten.toDouble / k,
          "lake.bytes_written_per_event" -> bytesWritten.toDouble / k / truth.lines,
          "trace.latency_p50_s" -> Stats.median(tracedWalls),
          "trace.overhead_share" -> (Stats.median(tracedWalls) / passWall - 1),
          "trace.spans" -> tracer.spanCount.toDouble
        ) ++ counted.map { case (n, v) => n -> v.toDouble } ++ stages ++
          Dashboard.Panels.map(p => s"dashboard.${p}_s" ->
            mean(tracer, s"dashboard.$p")) ++ counterLayers
      }
    Outcome(k.toLong, failed, e2e, layers, problems.result())
  }

  private def mean(tracer: Tracer, span: String): Double =
    Stats.mean(tracer.spansNamed(span).map(_.seconds))

  /** Rows each Silver rule removes, classified in the order
    * `BronzeToSilver.validateAndClean` applies them. */
  def rejectCounts(bronze: DataFrame, cfg: EtlConfig): Map[String, Long] = {
    val parsed = bronze.withColumn("ts", try_to_timestamp(col("timestamp")))
    val withTs = parsed.filter(col("ts").isNotNull)
    val deduped = withTs.dropDuplicates("device_id", "ts")
    val nullReq = Seq("device_id", "device_type", "user_id")
      .map(col(_).isNull).reduce(_ || _)
    val tempOk = col("temperature").between(cfg.tempRangeMin, cfg.tempRangeMax)
    val powerOk = col("power_usage").between(0, cfg.powerRangeMax)
    val energyOk = col("energy_consumption_wh") >= 0
    def n(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val r = deduped.agg(
      n(nullReq),
      n(!nullReq && !coalesce(tempOk, lit(false))),
      n(!nullReq && coalesce(tempOk, lit(false)) &&
        !coalesce(powerOk, lit(false))),
      n(!nullReq && coalesce(tempOk && powerOk, lit(false)) &&
        !coalesce(energyOk, lit(false)))).head()
    val total = bronze.count()
    val withTsN = withTs.count()
    Map(
      "silver.rejected.bad_timestamp" -> (total - withTsN),
      "silver.rejected.duplicate" -> (withTsN - deduped.count()),
      "silver.rejected.null_required" -> r.getLong(0),
      "silver.rejected.temp_range" -> r.getLong(1),
      "silver.rejected.power_range" -> r.getLong(2),
      "silver.rejected.negative_energy" -> r.getLong(3))
  }

  /** Traced run only: each Silver stage and Gold table timed on its own
    * through the noop sink. Stage times are cumulative deltas: stage k's
    * time is the noop write of stages 1..k minus that of 1..k-1. */
  private def stageBreakdown(ctx: Ctx, input: Path, catalog: DataFrame,
      cfg: EtlConfig): Map[String, Double] = {
    import ctx.spark
    val lake = ctx.work.resolve("batch-breakdown")
    val root = lake.toString
    Lake.writeBronze(BronzeIngest.parseAndValidate(
      spark.read.text(input.toString)), root)
    val bronze = Lake.readBronze(spark, root, AllHours, cfg).drop("date").cache()
    val _ = bronze.count()
    val validated = BronzeToSilver.validateAndClean(bronze, cfg)
    val enriched = BronzeToSilver.enrichWithCatalog(validated, catalog)
    val flagged = BronzeToSilver.detectLateEvents(enriched, cfg)
    val v = noop(validated)
    val e = noop(enriched)
    val l = noop(flagged)
    val d = noop(BronzeToSilver.derivedMetrics(flagged, cfg))
    val w = Common.seconds(
      Lake.writeSilver(BronzeToSilver.run(bronze, catalog, cfg), root))._2
    val silver = Lake.readSilver(spark, root, AllDays, cfg).cache()
    val daily = SilverToGold.dailyEnergyConsumption(silver, cfg)
    val health = SilverToGold.deviceHealthMetrics(silver, cfg)
    val summary = SilverToGold.dailyBusinessSummary(daily, health, cfg)
    val _ = silver.count() // cache fill, so each table times only itself
    val gd = noop(daily)
    val gh = noop(health)
    val gs = noop(summary)
    val gw = Common.seconds(Lake.writeGold(daily, health, summary, root))._2
    val _ = silver.unpersist()
    val _ = bronze.unpersist()
    val counters = ctx.tracer.counters("dashboard")
    ctx.tracer.drain()
    val before = counters.inputBytes.get()
    val filesRead = ctx.tracer.span("dashboard") {
      Dashboard.refresh(spark, root, cfg, ctx.tracer)
    }
    ctx.tracer.drain()
    Common.deleteTree(lake)
    Map(
      "silver.validate_s" -> v, "silver.enrich_s" -> (e - v),
      "silver.late_s" -> (l - e), "silver.derive_s" -> (d - l),
      "silver.write_s" -> w,
      "gold.daily_energy_s" -> gd, "gold.device_health_s" -> gh,
      "gold.business_summary_s" -> gs, "gold.write_s" -> gw,
      "dashboard.input_bytes_per_refresh" ->
        (counters.inputBytes.get() - before).toDouble,
      "dashboard.files_read_per_refresh" -> filesRead.toDouble)
  }
}

/** Spark task counters of one layer, per operation. */
object Counters {
  def perOp(tracer: Tracer, layer: String, ops: Double): Seq[(String, Double)] = {
    val c = tracer.counters(layer)
    val d = math.max(ops, 1.0)
    Seq(
      s"$layer.shuffle_bytes" -> c.shuffleBytes.get() / d,
      s"$layer.spill_bytes" -> c.spillBytes.get() / d,
      s"$layer.gc_ms" -> c.gcMs.get() / d,
      s"$layer.stages" -> c.stages.get() / d)
  }
}
