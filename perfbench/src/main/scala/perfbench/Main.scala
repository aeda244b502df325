package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one JSON line: correct, attempted,
  * failed, and the metrics by name (end-to-end ones when untraced,
  * per-layer ones when traced). `run.py` builds the classpath and
  * starts this; see README.md.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> [--spans <file.jsonl>]
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "pipeline_batch" -> PipelineBatch.run,
    "pipeline_incremental" -> PipelineIncremental.run)

  /** The session every workload runs in, with Bench's settings. */
  def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val name = opt("--workload")
    val workload = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val traced = opt("--trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("--work")).toAbsolutePath)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    val runId = java.util.UUID.randomUUID().toString
    val tracer = new Tracer(spark, traced, runId)
    val ctx = Ctx(spark, tracer, work, opt("--seed").toLong,
      opt("--seconds").toInt)
    Common.log(s"$name seed ${ctx.seed}, ${ctx.seconds} s, " +
      s"${if (traced) "traced" else "untraced"}, local[$cores]")
    val out = try workload(ctx) finally {
      spark.streams.active.foreach(_.stop())
    }
    if (traced) opts.get("--spans").foreach(p => tracer.writeSpans(Paths.get(p)))
    out.problems.foreach(p => System.err.println(s"[perfbench] $name: $p"))
    val metrics =
      if (traced) out.layers
      else out.endToEnd + ("peak_rss_mb" -> Common.peakRssMb())
    spark.stop()
    Common.log("done")
    println(Json.obj(Seq(
      "correct" -> (out.failed == 0 && out.problems.isEmpty).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }))))
  }
}
