package perfbench

import java.nio.file.{Files, Path}

import graft.etl.{DashboardQueries, EtlConfig, Lake}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import scala.jdk.CollectionConverters._

/** What a workload run needs: the session, the tracer, a scratch
  * directory inside the checkout, the seed and the measuring time. */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: Path,
    seed: Long, seconds: Int)

/** What a workload run reports. `endToEnd` is measured on untraced
  * operations; `layers` comes from traced ones. */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], layers: Map[String, Double],
    problems: Seq[String])

object Common {
  private val born = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%6.1fs] $msg")

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `setup` `SetupReps` times, each in its own directory; returns
    * every result, the last one to be measured, with the median set-up
    * time. */
  def repeatedSetup[T](ctx: Ctx, name: String)(setup: Path => T): (Seq[T], Double) = {
    val runs = (1 to SetupReps).map { r =>
      seconds(setup(ctx.work.resolve(s"$name-setup-$r")))
    }
    log(s"set-up: ${runs.map(r => f"${r._2}%.2f s").mkString(", ")}")
    (runs.map(_._1), Stats.median(runs.map(_._2)))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  /** Data files under `dir` (Spark's part files) with their sizes. */
  def partFiles(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Files the scans of an executed plan read, from their SQL metrics. */
  def filesRead(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case p => (p.children ++ p.subqueries).map(filesRead).sum
  }
}

/** The dashboard refresh: every panel read fresh from the lake and
  * collected, as the reference dashboard does on each refresh. */
object Dashboard {
  val Panels: Seq[String] = Seq("kpis", "energy_by_type", "daily_trend",
    "health_scatter", "health_gauge", "live_telemetry", "latest_summary",
    "alert_distribution")

  /** One refresh; returns the number of files its scans read. */
  def refresh(spark: SparkSession, lake: String, cfg: EtlConfig,
      tracer: Tracer): Long = {
    val daily = spark.read.parquet(s"$lake/gold/daily_energy_consumption")
    val health = spark.read.parquet(s"$lake/gold/device_health_metrics")
    val summary = spark.read.parquet(s"$lake/gold/daily_business_summary")
    val silver = Lake.readSilver(spark, lake, daysBack = 7, cfg)
    def frame(p: String): DataFrame = p match {
      case "kpis" => DashboardQueries.kpis(daily, silver, summary, health, cfg)
      case "energy_by_type" => DashboardQueries.energyByDeviceType(daily)
      case "daily_trend" => DashboardQueries.dailyTrend(daily)
      case "health_scatter" => DashboardQueries.deviceHealthScatter(health)
      case "health_gauge" => DashboardQueries.healthGauge(health)
      case "live_telemetry" =>
        DashboardQueries.liveTelemetry(silver, hoursBack = 2, cfg = cfg)
      case "latest_summary" => DashboardQueries.latestBusinessSummary(summary)
      case "alert_distribution" => DashboardQueries.alertDistribution(silver)
    }
    Panels.map { p =>
      tracer.span(s"dashboard.$p") {
        val df = frame(p)
        val _ = df.collect()
        Common.filesRead(df.queryExecution.executedPlan)
      }
    }.sum
  }
}
