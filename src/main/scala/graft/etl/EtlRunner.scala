package graft.etl

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Batch orchestration entry point — the run_etl.py equivalent
  * (scripts/run_etl.py:123-143, SURVEY §2.9 ST7 / §7.2 M6).
  *
  * Usage:
  *   runMain graft.etl.EtlRunner --lake <dir> [--fixtures]
  *     [--devices 10] [--rows-per-device 3600] [--catalog-csv <file>]
  *     [--hours-back 24] [--days-back 7] [--at 2025-07-15T06:00:00Z]
  *     [--interval-seconds 0] [--iterations 1]
  *     [--compact] [--compact-target-mb 128]
  *
  * Any other argument exits with status 2 and the usage line.
  * `--fixtures` seeds the lake's Bronze layer from the deterministic
  * generator first (demo/CI mode; production Bronze comes from the
  * streaming ingest). One invocation = one full bronze→silver→gold
  * pass ("--once" semantics). `--interval-seconds N --iterations K`
  * reruns the pass K times on an N-second cadence (run_etl.py's
  * scheduler loop, ST7) — every write is idempotent (partition
  * overwrite), so any rerun cadence is safe and reprocessing never
  * duplicates rows (the ST8 fix).
  *
  * A pass refreshes through the same `Lake` calls as the refineries.
  * `--hours-back` selects Silver event dates, from the date that many
  * hours before the reference instant (`--at`, else now) to the
  * instant's own date, and each is recomputed whole (a write replaces
  * whole date partitions). `--days-back` selects the Gold daily-energy
  * dates (the reference's S8 window). Deviation: the
  * reference computes device health over the last 7 days of Silver;
  * here it comes from all of Silver, as in the refineries, and the
  * business summary from the Gold tables read back.
  */
object EtlRunner {

  /** Every flag, with its value's name ("" for a bare switch). */
  private val Flags = Seq("--lake" -> "DIR", "--fixtures" -> "",
    "--devices" -> "N", "--rows-per-device" -> "N", "--catalog-csv" -> "FILE",
    "--hours-back" -> "H", "--days-back" -> "D", "--at" -> "INSTANT",
    "--interval-seconds" -> "S", "--iterations" -> "K",
    "--compact" -> "", "--compact-target-mb" -> "MB")

  private[etl] val Usage = "usage: runMain graft.etl.EtlRunner " + Flags.map {
    case (f, "") => s"[$f]"
    case (f, v) => s"[$f $v]"
  }.mkString(" ")

  /** Bare switches map to "true", every other flag to the argument
    * after it; None on an unknown flag, a stray value or a flag
    * missing its value. */
  private[etl] def parse(args: Seq[String]): Option[Map[String, String]] =
    args match {
      case Seq() => Some(Map.empty)
      case f +: rest if Flags.contains(f -> "") => parse(rest).map(_ + (f -> "true"))
      case f +: v +: rest if Flags.exists(_._1 == f) => parse(rest).map(_ + (f -> v))
      case _ => None
    }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toSeq).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val lake = opts.getOrElse("--lake",
      sys.env.getOrElse("GRAFT_LAKE", "/tmp/graft-lake"))
    val hoursBack = opts.getOrElse("--hours-back", "24").toInt
    val daysBack = opts.getOrElse("--days-back", "7").toInt
    // fixtures are pinned at 2025-07-15; anchor lookbacks there unless
    // --at overrides (wall-clock-free by default in demo mode)
    val cfg = EtlConfig(referenceInstant =
      opts.get("--at").map(Instant.parse)
        .orElse(if (opts.contains("--fixtures"))
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

  /** One bronze→silver→gold pass: `Lake.refreshSilver` over the
    * `hoursBack` dates, then `Lake.refreshGold` over the `daysBack`
    * dates. Returns each layer's row count, observed as the refreshes
    * run: the Bronze rows the Silver refresh read (its context day
    * included) and the rows written to each table. Nothing is scanned
    * or recomputed after the writes. An empty lake gives zero counts. */
  private[etl] def pass(spark: SparkSession, lake: String, catalog: DataFrame,
      cfg: EtlConfig, hoursBack: Int, daysBack: Int): Seq[(String, Long)] = {
    val observed = scala.collection.mutable.Map.empty[String, Observation]
    val tap: Lake.Tap = (name, df) => {
      val o = Observation()
      observed(name) = o
      df.observe(o, count(lit(1)).as("rows"))
    }
    def dateOf(t: Instant) = t.atZone(ZoneOffset.UTC).toLocalDate
    val today = dateOf(cfg.now)
    def through(from: LocalDate) =
      Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(today)).toSeq

    val _ = Lake.refreshSilver(spark, lake, catalog, cfg,
      through(dateOf(cfg.now.minusSeconds(hoursBack * 3600L))), tap)
    Lake.refreshGold(spark, lake, cfg, through(today.minusDays(daysBack)), tap)
    Seq("bronze", "silver", "gold_daily_energy", "gold_device_health",
      "gold_business_summary")
      // an observation without a value was dropped with the plan part
      // that AQE proved empty at run time (an empty Bronze read): 0 rows
      .map(k => k -> observed(k).get.getOrElse("rows", 0L).asInstanceOf[Long])
  }
}
