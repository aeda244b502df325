package graft.streaming

import graft.etl.{Lake, Schemas}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming Kafka→Bronze ingest (SURVEY §2.1 S2/S4, §2.9 ST1-ST3),
  * re-expressed as one Structured Streaming query:
  *
  *   readStream(kafka) → from_json → validate (F1) → ingestion_time →
  *   writeStream.partitionBy(date).parquet + checkpoint
  *
  * The reference's hand-rolled buffer (flush at ≥100 msgs or 30 s,
  * ingest_bronze.py:149-161) becomes the trigger interval +
  * maxOffsetsPerTrigger; its at-least-once delivery (auto-commit
  * decoupled from writes, :56-57,192-196) upgrades to exactly-once
  * via checkpointing — a documented strict improvement (ST2).
  *
  * CI has no Kafka broker (SURVEY §7.5.7), so the parse/validate core
  * takes any DataFrame with a string `value` column: production binds
  * it to `spark.readStream.format("kafka")`, tests bind a
  * MemoryStream or file source. The transform itself is
  * source-agnostic — that is what makes it testable.
  */
object BronzeIngest {

  /** F1 message validation + Bronze stamping on a stream (or batch)
    * of JSON strings in `value`: schema-projected parse (nulls on
    * mismatch), required-field + timestamp-parse predicate, event
    * date for partitioning, processing-time ingestion stamp
    * (ingest_bronze.py:67-118). */
  def parseAndValidate(raw: DataFrame): DataFrame = {
    val parsed = raw
      .select(from_json(col("value").cast("string"), Schemas.bronzeTelemetry)
        .as("m"))
      .select("m.*")
    val requiredOk = Schemas.requiredFields
      .map(col(_).isNotNull)
      .reduce(_ && _)
    parsed
      .withColumn("event_ts", try_to_timestamp(col("timestamp")))
      .filter(requiredOk && col("event_ts").isNotNull)
      .withColumn("ingestion_time",
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
      .withColumn("date", to_date(col("event_ts")))
      .drop("event_ts")
  }

  /** Bind to a Kafka source (production path; mirrors consumer group /
    * offset config at ingest_bronze.py:49-60).
    *
    * The binding line itself is the ONE untested statement: this build
    * environment is fully offline and ships no Kafka connector,
    * client, or server jars (none in the Spark distribution, none in
    * the dependency cache), so neither a real nor an embedded broker
    * can exist here. Everything downstream of the source — the exact
    * kafka output schema (binary key/value + topic/partition/offset/
    * timestamp/timestampType), validation, the partitioned sink, and
    * exactly-once resume across a restart WITH new data — is
    * exercised by BronzeIngestSpec against memory and file sources
    * emitting that same wire schema. */
  def fromKafka(spark: SparkSession, bootstrapServers: String,
      topic: String = "smart_home.telemetry",
      maxOffsetsPerTrigger: Long = 100): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()

  /** Start the Bronze sink: event-date partitioned parquet with
    * exactly-once checkpointing, 30 s micro-batches (ST1). */
  def start(validated: DataFrame, outRoot: String, checkpoint: String,
      triggerInterval: String = "30 seconds"): StreamingQuery =
    validated.writeStream
      .format("parquet")
      .option("path", Lake.bronzePath(outRoot))
      .option("checkpointLocation", checkpoint)
      .partitionBy("date")
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
}
