package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every main runs on, so a plan dumped by
  * ExplainAudit, a result dumped by Verify and a time taken by Bench
  * all come from the same config. */
object GraftSession {
  /** Local cores: SPARK_GRAFT_CPUS, else every core the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** SPARK_MASTER is the deployment override (a cluster URL). */
  val master: String = sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]")

  val conf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet carries TIMESTAMP(NANOS) — read as long, the
    // Tables loader converts to a µs TimestampType column
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // test SFs ship one ~1-60 MB file per table; the 128 MB default
    // would make every scan a single partition. 8 MB splits keep all
    // cores busy locally without perturbing the 100 TB story (where
    // files are many and the default is right).
    "spark.sql.files.maxPartitionBytes" -> "8m")

  def create(): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    // ERROR, not WARN: a stray shutdown warning printed after Bench's
    // JSON line would push it out of the stdout tail its reader parses.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
