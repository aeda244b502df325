package graft.etl

import java.time.{Instant, LocalDate, ZoneOffset}

import scala.util.Try

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
  * Any other argument, or a value that does not convert, exits with
  * status 2 and the usage line.
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

  /** A run's settings: every flag's value, converted. */
  private[etl] final case class Options(lake: String, fixtures: Option[(Int, Int)],
      catalogCsv: Option[String], hoursBack: Int, daysBack: Int, cfg: EtlConfig,
      intervalSeconds: Long, iterations: Int, compactTargetMb: Option[Long])

  /** The one place flag values are converted; None where [[parse]]
    * rejects the arguments or a value does not convert (`--hours-back x`,
    * `--at nope`). */
  private[etl] def options(args: Seq[String]): Option[Options] = parse(args).flatMap { o =>
    def int(flag: String, default: Int) = o.get(flag).fold(default)(_.toInt)
    Try(Options(
      lake = o.getOrElse("--lake", sys.env.getOrElse("GRAFT_LAKE", "/tmp/graft-lake")),
      fixtures = Option.when(o.contains("--fixtures"))(
        (int("--devices", 10), int("--rows-per-device", 3600))),
      catalogCsv = o.get("--catalog-csv"),
      hoursBack = int("--hours-back", 24),
      daysBack = int("--days-back", 7),
      // fixtures are pinned at 2025-07-15; anchor lookbacks there unless
      // --at overrides (wall-clock-free by default in demo mode)
      cfg = EtlConfig(referenceInstant = o.get("--at").map(Instant.parse)
        .orElse(Option.when(o.contains("--fixtures"))(
          Fixtures.DefaultStart.plusSeconds(2 * 3600)))),
      intervalSeconds = o.get("--interval-seconds").fold(0L)(_.toLong),
      iterations = int("--iterations", 1),
      compactTargetMb = Option.when(o.contains("--compact"))(
        o.get("--compact-target-mb").fold(128L)(_.toLong)))).toOption
  }

  def main(args: Array[String]): Unit = {
    val o = options(args.toSeq).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val spark = graft.GraftSession.create()
    o.fixtures.foreach { case (nDevices, rowsPerDevice) =>
      Lake.writeBronze(
        Fixtures.bronzeTelemetry(spark, nDevices = nDevices,
          rowsPerDevice = rowsPerDevice, dirty = true), o.lake)
      println(s"[etl] seeded fixture bronze at ${o.lake} " +
        s"($nDevices devices × $rowsPerDevice rows)")
    }

    val catalog = o.catalogCsv.map(Lake.readDeviceCatalog(spark, _))
      .getOrElse(Fixtures.deviceCatalog(spark))

    for (it <- 1 to o.iterations) {
      val counts = pass(spark, o.lake, catalog, o.cfg, o.hoursBack, o.daysBack)
      println("[etl] " + counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
      if (it < o.iterations && o.intervalSeconds > 0) Thread.sleep(o.intervalSeconds * 1000)
    }
    // optional lake maintenance after the passes: rewrite Bronze's
    // small-file residue (micro-batch ingest accretes it; the
    // scheduler would run this on a slower cadence). Silver and the
    // business summary are written with repartition(date) and dynamic
    // overwrite, so each date holds one file and Lake.compact never
    // rewrites them.
    o.compactTargetMb.foreach { mb =>
      // skipHotPartitions = 1: micro-batch ingest actively appends to
      // the newest date partition; compacting it here would race the
      // writer (see Lake.compact's concurrency contract)
      Lake.compact(spark, Lake.bronzePath(o.lake), targetBytes = mb << 20,
        skipHotPartitions = 1)
      println(s"[etl] compacted Bronze (target $mb MB)")
    }
    spark.stop()
  }

  /** One bronze→silver→gold pass: `Lake.refreshSilver` over the
    * `hoursBack` dates, then `Lake.refreshGold` over the `daysBack`
    * dates. Returns each layer's row count, observed as the refreshes
    * run: the Bronze rows of the refreshed Silver dates and the rows
    * written to each table. Nothing is scanned or recomputed after the
    * writes. An empty lake gives zero counts. */
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

    Lake.refreshSilver(spark, lake, catalog, cfg,
      through(dateOf(cfg.now.minusSeconds(hoursBack * 3600L))), tap)
    Lake.refreshGold(spark, lake, cfg, through(today.minusDays(daysBack)), tap)
    Seq("bronze", "silver", "gold_daily_energy", "gold_device_health",
      "gold_business_summary")
      // an observation without a value was dropped with the plan part
      // that AQE proved empty at run time (an empty Bronze read): 0 rows
      .map(k => k -> observed(k).get.getOrElse("rows", 0L).asInstanceOf[Long])
  }
}
