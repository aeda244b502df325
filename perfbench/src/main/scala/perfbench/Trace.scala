package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.jdk.CollectionConverters._

/** One timed call into a layer: name, wall-clock bounds in ms, the span
  * that caused it, and the run it belongs to. */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long,
    parent: Long, runId: String) {
  def seconds: Double = (endMs - startMs) / 1000.0
  def toJson: String = Json.obj(Seq(
    "id" -> id.toString, "name" -> Json.str(name),
    "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
    "parent" -> parent.toString, "run_id" -> Json.str(runId)))
}

/** Spark task counters summed for one layer. */
final class LayerCounters {
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val recordsWritten = new AtomicLong
  val stages = new AtomicLong
}

/** The benchmark's tracing, built from the benchmark's own files only.
  *
  * With tracing off (`traced = false`) nothing is registered and `span`
  * just runs its body, so the end-to-end run pays nothing. With tracing
  * on, a SparkListener is registered and `span` sets a job group named
  * after the layer around the call; jobs of a streaming query are
  * attributed by the query's id instead. Jobs with neither are not
  * counted, so `tracing(false)` lets a traced run interleave untraced
  * operations to measure the tracing overhead.
  */
final class Tracer(spark: SparkSession, val traced: Boolean, runId: String) {
  private val enabled = new ThreadLocal[Boolean] {
    override def initialValue = true
  }
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val parents = new ThreadLocal[Long] { override def initialValue = 0L }

  private val layers = new ConcurrentHashMap[String, LayerCounters]
  private val stageLayer = new ConcurrentHashMap[Int, String]
  private val streamLayer = new ConcurrentHashMap[String, String]

  def counters(layer: String): LayerCounters =
    layers.computeIfAbsent(layer, _ => new LayerCounters)

  /** Names the layer whose jobs a streaming query runs. */
  def attribute(queryId: String, layer: String): Unit = {
    val _ = streamLayer.put(queryId, layer)
  }

  /** Runs `body` with this thread's spans on or off. */
  def tracing[T](on: Boolean)(body: => T): T = {
    val prev = enabled.get()
    enabled.set(on)
    try body finally enabled.set(prev)
  }

  /** Times `body` as a span; when tracing, tags its jobs with the layer
    * (the span name up to its first '.'). */
  def span[T](name: String)(body: => T): T =
    if (!traced || !enabled.get()) body
    else {
      val id = nextId.getAndIncrement()
      val parent = parents.get()
      val prevGroup = sc.getLocalProperty(SparkInternals.JobGroupId)
      val prevDesc = sc.getLocalProperty(SparkInternals.JobDescription)
      sc.setJobGroup(name.takeWhile(_ != '.'), name)
      parents.set(id)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        spans.add(Span(id, name, t0, System.currentTimeMillis(), parent, runId))
        parents.set(parent)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  def spansNamed(name: String): Seq[Span] =
    spans.asScala.filter(_.name == name).toSeq

  def spanCount: Int = spans.size

  /** Waits until every event posted so far reached the listeners. */
  def drain(): Unit = if (traced) SparkInternals.waitUntilEmpty(sc)

  def writeSpans(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path,
      spans.asScala.toSeq.sortBy(_.startMs).map(_.toJson + "\n").mkString
        .getBytes(UTF_8))
  }

  if (traced) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val query = props.flatMap(p =>
          Option(p.getProperty(StreamExecution.QUERY_ID_KEY)))
        val layer = query.flatMap(q => Option(streamLayer.get(q)))
          .orElse(props.flatMap(p =>
            Option(p.getProperty(SparkInternals.JobGroupId))))
        layer.foreach(l => e.stageIds.foreach(s => stageLayer.putIfAbsent(s, l)))
      }

      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageLayer.get(e.stageInfo.stageId)).foreach { l =>
          val _ = counters(l).stages.incrementAndGet()
        }

      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for {
          l <- Option(stageLayer.get(e.stageId))
          m <- Option(e.taskMetrics)
        } {
          val c = counters(l)
          c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          val _ = c.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
        }
    })
  }
}

/** Every streaming progress report of the session, by query id. Freshness
  * is mapped from these reports, so the streaming workload registers this
  * listener whether or not it is traced. */
final class ProgressLog(spark: SparkSession) {
  private val byQuery = new ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]]

  def of(queryId: String): Seq[StreamingQueryProgress] =
    Option(byQuery.get(queryId)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val _ = byQuery.computeIfAbsent(e.progress.id.toString,
        _ => new java.util.concurrent.ConcurrentLinkedQueue).add(e.progress)
    }
  })
}
