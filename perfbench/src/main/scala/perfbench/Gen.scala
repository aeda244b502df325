package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import graft.etl.Fixtures
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, struct, to_json}

import scala.util.Random

/** How many lines of each kind the generator wrote: the ground truth
  * that the Bronze and Silver reject counters must reproduce. */
final case class Truth(clean: Long, malformed: Long, missingField: Long,
    badTimestamp: Long, tempRange: Long, powerRange: Long,
    negativeEnergy: Long, duplicate: Long, late: Long) {
  def dirty: Long = malformed + missingField + badTimestamp + tempRange +
    powerRange + negativeEnergy + duplicate + late
  def lines: Long = clean + dirty
  /** Lines that fail Bronze's parse / required-field / timestamp check. */
  def bronzeRejected: Long = malformed + missingField + badTimestamp
  def bronzeRows: Long = lines - bronzeRejected
  /** Rows that survive every Silver rule: clean ones and late ones
    * (late events are flagged, not dropped). */
  def silverRows: Long = clean + late
}

final case class Generated(lines: Array[String], truth: Truth)

/** Seeded telemetry generator: clean rows from `Fixtures.bronzeTelemetry`
  * serialised as the producer's JSON, plus a stated share of each dirty
  * kind injected here, with ground truth.
  *
  * Event times start at `Base`, far in the future, because BronzeIngest
  * stamps `ingestion_time` with the wall clock and Silver flags an event
  * late when it was ingested more than 48 h after it happened: a future
  * base keeps every clean row on time under any wall clock before 2100,
  * and the injected late rows, dated `LateBase`, late under any wall
  * clock after it. The inputs then depend on the seed alone.
  */
object Gen {
  val Base: Instant = Instant.parse("2100-01-01T00:00:00Z")
  val LateBase: Instant = Fixtures.DefaultStart

  /** Share of the clean rows injected per dirty kind. */
  val DirtyShare = 0.001

  /** Clean JSON lines, device-major, `seconds` messages per device. */
  def cleanLines(spark: SparkSession, seed: Long, nDevices: Int,
      seconds: Int, start: Instant = Base): Array[String] = {
    import spark.implicits._
    Fixtures.bronzeTelemetry(spark, nDevices = nDevices,
        rowsPerDevice = seconds, start = start, seed = seed)
      .select(to_json(struct(col("*"))).as("v")).as[String].collect()
  }

  private val TsField = "\"timestamp\":\"([^\"]*)\"".r
  private def setField(line: String, field: String, value: String): String =
    line.replaceFirst(s""""$field":[^,}]*""", s""""$field":$value""")
  private def tsOf(line: String): String =
    TsField.findFirstMatchIn(line).get.group(1)
  /** The same instant half a second later: never a clean row's key. */
  private def halfSecondLater(line: String): String = {
    val t = Instant.parse(tsOf(line)).plusMillis(500).toString
    setField(line, "timestamp", "\"" + t + "\"")
  }

  /** Clean lines plus `DirtyShare` of each dirty kind, at seeded
    * positions. Every dirty line is derived from a distinct clean line,
    * so no two surviving rows share a (device, timestamp) key unless the
    * line is an injected duplicate. */
  def withDirt(clean: Array[String], seed: Long): Generated = {
    val rnd = new Random(seed * 7919 + 17)
    val k = math.max(1, math.round(clean.length * DirtyShare).toInt)
    val kinds = 8
    require(clean.length >= kinds * k, "too few clean rows to inject dirt")
    val templates = rnd.shuffle(clean.indices.toVector).take(kinds * k)
      .grouped(k).toVector.map(_.map(clean))
    val lateShift = java.time.Duration.between(LateBase, Base)
    val dirty: Vector[String] = Vector(
      templates(0).map(l => l.take(l.length / 2)), // malformed JSON
      templates(1).map(_.replaceFirst("\"user_id\":\"[^\"]*\",", "")),
      templates(2).map(setField(_, "timestamp", "\"not-a-time\"")),
      templates(3).zipWithIndex.map { case (l, i) =>
        setField(halfSecondLater(l), "temperature",
          if (i % 2 == 0) "150.0" else "-80.0") },
      templates(4).zipWithIndex.map { case (l, i) =>
        setField(halfSecondLater(l), "power_usage",
          if (i % 2 == 0) "20000.0" else "-5.0") },
      templates(5).map(l => setField(halfSecondLater(l),
        "energy_consumption_wh", "-1.0")),
      templates(6), // exact duplicates of existing lines
      templates(7).map { l => // same reading, dated before the watermark
        val t = Instant.parse(tsOf(l)).minus(lateShift).toString
        setField(l, "timestamp", "\"" + t + "\"") }
    ).flatten
    // seeded interleave: each dirty line goes to a random slot
    val slots = dirty.map(d => (rnd.nextInt(clean.length + 1), d))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val out = Array.newBuilder[String]
    out.sizeHint(clean.length + dirty.length)
    for (i <- 0 to clean.length) {
      slots.get(i).foreach(out ++= _)
      if (i < clean.length) out += clean(i)
    }
    Generated(out.result(), Truth(clean.length, k, k, k, k, k, k, k, k))
  }

  /** Writes `lines` as `files` JSON-lines files under `dir`. */
  def writeFiles(lines: Array[String], dir: Path, files: Int): Unit = {
    Files.createDirectories(dir)
    val per = (lines.length + files - 1) / files
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(dir.resolve(f"part-$i%05d.json"),
        chunk.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}
