package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(name: String) = s"/root/testdata/$name"

  /** Waits until every listener has seen every event posted so far. */
  def drainListeners(): Unit = ListenerBusDrain.drain(spark.sparkContext)

  /** What running `body` cost Spark: the jobs it started (each with
    * its stages) and the generated classes it compiled. Counts are
    * JVM-wide, so nothing else may run Spark work meanwhile. */
  final case class Footprint[T](result: T, jobs: Seq[SparkListenerJobStart],
      compiles: Long)

  def footprint[T](body: => T): Footprint[T] = {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { val _ = jobs.add(e) }
    }
    drainListeners() // earlier jobs' events must not reach the listener
    spark.sparkContext.addSparkListener(listener)
    try {
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val result = body
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      drainListeners()
      Footprint(result, jobs.asScala.toSeq, compiles)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The input rows that the streaming query checkpointed at
    * `checkpoint` reported in its progress while `body` ran. */
  def streamInputRows(checkpoint: String)(body: => Unit): Long = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val _ = progress.add(e.progress)
      }
    }
    spark.streams.addListener(listener)
    try {
      body
      drainListeners()
    } finally spark.streams.removeListener(listener)
    val id = checkpointQueryId(checkpoint)
    progress.asScala.filter(_.id.toString == id).map(_.numInputRows).sum
  }

  /** The id that every run of the streaming query checkpointed at
    * `checkpoint` shares, from the checkpoint's `metadata` file. */
  def checkpointQueryId(checkpoint: String): String = {
    val meta = new String(Files.readAllBytes(Paths.get(checkpoint, "metadata")), UTF_8)
    "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(meta).get.group(1)
  }
}
