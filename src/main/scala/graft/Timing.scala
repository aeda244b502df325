package graft

import org.apache.spark.sql.SparkSession

/** The timing protocol shared by Bench and Scale: an untimed footer
  * warm-up, SPARK_GRAFT_BENCH_RUNS timed runs per query (default 3)
  * reported as their median, and a cache sweep after each query.
  *
  * Run 1 includes that query's whole-stage-codegen compilation
  * (~0.1-0.3 s, pure one-time JVM cost), which the median discards —
  * and the median also discards a single slow outlier from a host load
  * spike. Steady-state is what scales to a long-lived cluster session.
  */
object Timing {
  val runs: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt

  /** Warm-up (untimed): parquet footers + session/codegen init via a
    * tiny read per table, so the first timed query doesn't carry
    * one-time JVM cost. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(5).collect()
      catch { case _: Throwable => () }
    }

  /** Even n: lower-middle (conservative — still excludes the
    * codegen-carrying max); odd n: exact middle. */
  def medianOf(ts: Seq[Double]): Double = {
    val s = ts.sorted
    s((s.length - 1) / 2)
  }

  /** Centisecond precision keeps Bench's JSON line inside the stdout
    * tail its reader parses; Locale.ROOT, because a comma-decimal default
    * locale would emit 1,50 and break the JSON. A failure is "-1". */
  def fmt(v: Double): String =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.2f",
      Double.box(v))

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Median and min of a query's timed runs; both -1 if any run threw. */
  final case class Timed(median: Double, min: Double)

  /** Times `n` runs of `action`, then sweeps the caches it built: they
    * stay hot across the query's own runs (steady-state median) but
    * are released before the next query, so a long session holds no
    * accumulated cached relations. */
  def time(spark: SparkSession, name: String, n: Int = runs)(
      action: => Unit): Timed = {
    val times = (1 to n).map { _ =>
      try seconds(action)
      catch { case e: Throwable =>
        // a failed query must be visible as -1, never reported as a
        // (fast) success with its failure duration
        System.err.println(s"[timing] $name FAILED: ${e.getMessage}")
        Double.NaN
      }
    }
    CacheHygiene.sweep(spark)
    if (times.exists(_.isNaN)) Timed(-1.0, -1.0)
    else Timed(medianOf(times), times.min)
  }

  /** The longest prefix of `entries` whose lengths, plus one separator
    * char each, sum to at most `budget`, and the count of entries left
    * out. A strict prefix: it stops at the first entry that does not
    * fit, so the omitted ones are exactly the tail. */
  def keepWithin(entries: Seq[String], budget: Int): (Seq[String], Int) = {
    val used = entries.scanLeft(0)(_ + _.length + 1).tail
    val n = used.indexWhere(_ > budget) match {
      case -1 => entries.size
      case i => i
    }
    (entries.take(n), entries.size - n)
  }
}
