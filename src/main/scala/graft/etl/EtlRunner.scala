package graft.etl

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Batch orchestration entry point — the run_etl.py equivalent
  * (scripts/run_etl.py:123-143, SURVEY §2.9 ST7 / §7.2 M6).
  *
  * Usage:
  *   runMain graft.etl.EtlRunner --lake <dir> [--fixtures]
  *     [--devices 10] [--rows-per-device 3600]
  *     [--hours-back 24] [--days-back 7] [--at 2025-07-15T06:00:00Z]
  *     [--compact] [--compact-target-mb 128]
  *
  * `--fixtures` seeds the lake's Bronze layer from the deterministic
  * generator first (demo/CI mode; production Bronze comes from the
  * streaming ingest). One invocation = one full bronze→silver→gold
  * pass ("--once" semantics). `--interval-seconds N --iterations K`
  * reruns the pass K times on an N-second cadence (run_etl.py's
  * scheduler loop, ST7) — every write is idempotent (partition
  * overwrite), so any rerun cadence is safe and reprocessing never
  * duplicates rows (the ST8 fix).
  */
object EtlRunner {
  def main(args: Array[String]): Unit = {
    // flag-aware parsing: --fixtures takes no value, everything else
    // is --key value (sliding(2,2) would misalign after a bare flag)
    val opts = {
      val m = scala.collection.mutable.Map[String, String]()
      var i = 0
      while (i < args.length) {
        args(i) match {
          case "--fixtures" => m += "--fixtures" -> "true"; i += 1
          case "--compact" => m += "--compact" -> "true"; i += 1
          case k if k.startsWith("--") && i + 1 < args.length =>
            m += k -> args(i + 1); i += 2
          case other =>
            System.err.println(s"[etl] ignoring unrecognized argument: $other")
            i += 1
        }
      }
      m.toMap
    }
    val lake = opts.getOrElse("--lake",
      sys.env.getOrElse("GRAFT_LAKE", "/tmp/graft-lake"))
    val hoursBack = opts.getOrElse("--hours-back", "24").toInt
    val daysBack = opts.getOrElse("--days-back", "7").toInt
    // fixtures are pinned at 2025-07-15; anchor lookbacks there unless
    // --at overrides (wall-clock-free by default in demo mode)
    val cfg = EtlConfig(referenceInstant =
      opts.get("--at").map(Instant.parse)
        .orElse(if (args.contains("--fixtures"))
          Some(Fixtures.DefaultStart.plusSeconds(2 * 3600)) else None))

    val spark = graft.GraftSession.create()

    if (opts.contains("--fixtures")) {
      val nDevices = opts.getOrElse("--devices", "10").toInt
      val rowsPerDevice = opts.getOrElse("--rows-per-device", "3600").toInt
      Lake.writeBronze(
        Fixtures.bronzeTelemetry(spark, nDevices = nDevices,
          rowsPerDevice = rowsPerDevice, dirty = true), lake)
      println(s"[etl] seeded fixture bronze at $lake " +
        s"($nDevices devices × $rowsPerDevice rows)")
    }

    val catalog = opts.get("--catalog-csv")
      .map(Lake.readDeviceCatalog(spark, _))
      .getOrElse(Fixtures.deviceCatalog(spark))

    def onePass(): Unit = {
      val counts = pass(spark, lake, catalog, cfg, hoursBack, daysBack)
      println("[etl] " + counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }

    val iterations = opts.getOrElse("--iterations", "1").toInt
    val intervalS = opts.getOrElse("--interval-seconds", "0").toLong
    for (it <- 1 to iterations) {
      onePass()
      if (it < iterations && intervalS > 0) Thread.sleep(intervalS * 1000)
    }
    // optional lake maintenance after the passes: rewrite small-file
    // residue in the partitioned sinks (micro-batch ingest accretes
    // it; the scheduler would run this on a slower cadence)
    if (opts.contains("--compact")) {
      val target = opts.getOrElse("--compact-target-mb", "128").toLong << 20
      Seq(Lake.bronzePath(lake), Lake.silverPath(lake),
        Lake.businessSummaryPath(lake))
        // skipHotPartitions = 1: micro-batch ingest actively appends
        // to the newest date partition; compacting it here would race
        // the writer (see Lake.compact's concurrency contract)
        .foreach(Lake.compact(spark, _, targetBytes = target,
          skipHotPartitions = 1))
      println(s"[etl] compacted partitioned sinks (target ${target >> 20} MB)")
    }
    spark.stop()
  }

  /** One bronze→silver→gold pass; returns each layer's row count. The
    * counts come out of the writes themselves: Bronze rows in and the
    * Gold rows written are observed as the writes run, and Silver is
    * counted from the cached read-back that Gold is computed from.
    * Nothing is scanned or recomputed after the writes. */
  private[etl] def pass(spark: SparkSession, lake: String, catalog: DataFrame,
      cfg: EtlConfig, hoursBack: Int, daysBack: Int): Seq[(String, Long)] = {
    def counted(df: DataFrame): (DataFrame, Observation) = {
      val o = Observation()
      (df.observe(o, count(lit(1)).as("rows")), o)
    }
    def rows(o: Observation): Long = o.get("rows").asInstanceOf[Long]

    val (bronze, bronzeRows) = counted(
      Lake.readBronze(spark, lake, hoursBack, cfg).drop("date")) // re-derived on write
    Lake.writeSilver(BronzeToSilver.run(bronze, catalog, cfg), lake)

    val silverBack = Lake.readSilver(spark, lake, daysBack, cfg).cache()
    val daily = SilverToGold.dailyEnergyConsumption(silverBack, cfg)
    val health = SilverToGold.deviceHealthMetrics(silverBack, cfg)
    val (dailyOut, dailyRows) = counted(daily)
    val (healthOut, healthRows) = counted(health)
    val (summaryOut, summaryRows) =
      counted(SilverToGold.dailyBusinessSummary(daily, health, cfg))
    Lake.writeGold(dailyOut, healthOut, summaryOut, lake)
    val counts = Seq(
      "bronze" -> rows(bronzeRows),
      "silver" -> silverBack.count(), // served by the cache Gold filled
      "gold_daily_energy" -> rows(dailyRows),
      "gold_device_health" -> rows(healthRows),
      "gold_business_summary" -> rows(summaryRows))
    val _ = silverBack.unpersist()
    counts
  }
}
