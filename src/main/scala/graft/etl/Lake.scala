package graft.etl

import java.time.{Instant, LocalDate}
import java.util.concurrent.{CompletionException, ExecutorService, Executors}

import scala.util.Try

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Lake layout: partitioned parquet sinks and pruned scans
  * (SURVEY §2.1 S4-S10). This object is the one place that knows a
  * medallion table's path, partitioning and write mode; the batch pass
  * (`EtlRunner`) and the streaming refineries (`graft.streaming`) both
  * write through it, so the two paths cannot disagree on a layout.
  * Both refineries are one `LakeTail` each: it tails Bronze or Silver
  * through [[tail]] and hands a micro-batch's values of the tailed
  * table's `date` column to [[refreshSilver]] or [[refreshGold]]. The
  * TPC file-layout writers (clustered, Z-order, bucketed facts) live
  * in `graft.operators.LayoutOps`, not here.
  *
  * Layouts: Bronze, Silver, Gold daily energy and Gold business
  * summary are `partitionBy("date")` with dynamic partition overwrite
  * (the Bronze ingest stream appends instead); Gold device health is
  * flat and overwritten whole.
  *
  * Schemas: the refreshes, [[readSilver]] and the refinery streams
  * read Bronze and Silver with declared schemas ([[BronzeSchema]],
  * [[SilverSchema]]: the table's columns plus the `date` partition
  * column), so none of them infers one from file footers. A table
  * nothing has written yet reads as empty: [[tail]], [[readSilver]]
  * and [[refreshSilver]] make its directory first, so a refinery, a
  * pass or a Silver scan over an empty lake reads no rows instead of
  * failing.
  *
  * Refresh scope: the batch pass and the refineries recompute Silver
  * and Gold through [[refreshSilver]] and [[refreshGold]] only, so they
  * share one policy. The unit of a recompute is a whole event date:
  * the dynamic overwrite replaces every date a write holds, so a write
  * must hold all of each date's rows. A Silver date is recomputed from
  * that date's Bronze rows alone, as its rolling frames restart at each
  * event date (`BronzeToSilver.derivedMetrics`), so it comes out the
  * same whichever other dates a refresh holds. Gold recomputes daily
  * energy for its dates and device health from all of Silver side by
  * side (the two writes are independent), then the business summary
  * from those two tables read back.
  *
  * The reference hand-rolls partition pruning by constructing
  * YYYY/MM/DD paths and filtering files by mtime
  * (bronze_to_silver.py:38-80); here every dated table is written
  * `partitionBy("date")` and read with a date predicate, which
  * Catalyst turns into partition pruning — the 100 TB path: a
  * lookback query touches only its date directories regardless of
  * lake size.
  *
  * Deviation: the reference writes daily energy consumption flat
  * (silver_to_gold.py:277-312). Here it is date-partitioned, because
  * the Gold refinery rewrites only the dates a micro-batch touched. A
  * flat batch write beside those `date=` directories would be hidden
  * by partition discovery, and Gold would lose every other date.
  *
  * Idempotence (ST8): the reference appends overlapping windows and
  * dedups at read; we write rows already unique per key (Silver's
  * uniqueness comes from `BronzeToSilver`) and use dynamic partition
  * overwrite (`replaceWhere` semantics) so reprocessing a window
  * rewrites its partitions instead of duplicating them — documented
  * intentional deviation, oracle comparisons are on deduped sets.
  */
object Lake {

  private[graft] def bronzePath(root: String): String = s"$root/bronze/telemetry"
  private[graft] def silverPath(root: String): String = s"$root/silver/energy_usage"
  private[graft] def dailyEnergyPath(root: String): String =
    s"$root/gold/daily_energy_consumption"
  private[graft] def deviceHealthPath(root: String): String =
    s"$root/gold/device_health_metrics"
  private[graft] def businessSummaryPath(root: String): String =
    s"$root/gold/daily_business_summary"
  private[graft] def checkpointPath(root: String, name: String): String =
    s"$root/_checkpoints/$name"

  /** Every date-partitioned sink: dynamic partition overwrite, so a
    * write replaces exactly the dates it holds. `df` carries `date`. */
  private def writeByDate(df: DataFrame, path: String): Unit =
    byDate(df).write
      .partitionBy("date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  /** [[writeByDate]]'s transform: one writer set per date partition
    * (no small files). */
  private[graft] def byDate(df: DataFrame): DataFrame = df.repartition(col("date"))

  /** S7: Silver sink. No dedup here: `BronzeToSilver` already emits
    * one row per (device_id, timestamp). */
  def writeSilver(silver: DataFrame, root: String): Unit =
    writeByDate(silver.withColumn("date", to_date(col("timestamp"))), silverPath(root))

  /** S8: Silver scan with lookback pruning (days_back, anchored at
    * cfg.now — wall-clock-free under a pinned referenceInstant). */
  def readSilver(spark: SparkSession, root: String, daysBack: Int = 7,
      cfg: EtlConfig = EtlConfig()): DataFrame = {
    val cutoff = java.sql.Date.valueOf(
      cfg.now.atZone(java.time.ZoneOffset.UTC).toLocalDate.minusDays(daysBack))
    makeTableDir(spark, silverPath(root))
    spark.read.schema(SilverSchema)
      // S6 semantics: skip corrupt files with a warning instead of
      // failing the job (bronze_to_silver.py:96-101)
      .option("ignoreCorruptFiles", "true")
      .parquet(silverPath(root))
      .filter(col("date") >= lit(cutoff)) // partition pruning
  }

  /** S9: the three Gold sinks, as one pass writes them. */
  def writeGold(dailyEnergy: DataFrame, deviceHealth: DataFrame,
      businessSummary: DataFrame, root: String): Unit = {
    writeDailyEnergy(dailyEnergy, root)
    writeDeviceHealth(deviceHealth, root)
    writeBusinessSummary(businessSummary, root)
  }

  private def writeDailyEnergy(daily: DataFrame, root: String): Unit =
    writeByDate(daily, dailyEnergyPath(root))

  private def writeDeviceHealth(health: DataFrame, root: String): Unit =
    health.write.mode("overwrite").parquet(deviceHealthPath(root))

  private def writeBusinessSummary(summary: DataFrame, root: String): Unit =
    writeByDate(summary, businessSummaryPath(root))

  /** A refresh hands each frame it reads from Bronze or writes to a
    * table through a tap, under the batch pass's count names (`bronze`,
    * `silver`, `gold_daily_energy`, `gold_device_health`,
    * `gold_business_summary`); the pass counts rows with it. */
  type Tap = (String, DataFrame) => DataFrame
  private val untapped: Tap = (_, df) => df

  private def sqlDates(dates: Seq[LocalDate]): Seq[java.sql.Date] =
    dates.map(java.sql.Date.valueOf)

  /** Recomputes whole Silver event dates from those dates' Bronze rows;
    * a Silver date depends on no other date. The write keeps only rows
    * whose event date is in `dates`: the dynamic overwrite replaces
    * every date a write holds, so it must hold all of each. */
  def refreshSilver(spark: SparkSession, root: String, catalog: DataFrame,
      cfg: EtlConfig, dates: Seq[LocalDate], tap: Tap = untapped): Unit = {
    if (dates.isEmpty) return
    makeTableDir(spark, bronzePath(root)) // a lake without Bronze has no rows
    val bronze = bronzeScan(spark, root)
      .filter(col("date").isin(sqlDates(dates): _*)) // partition pruning
      .drop("date")
    val silver = BronzeToSilver.run(tap("bronze", bronze), catalog, cfg)
    writeSilver(tap("silver",
      silver.filter(to_date(col("timestamp")).isin(sqlDates(dates): _*))), root)
  }

  /** Recomputes Gold for Silver event dates: daily energy for `dates`
    * and device health (a whole-history, per-device metric) from all of
    * Silver, written side by side (see [[sideBySide]]); then the
    * business summary, whose global health means touch every date's
    * row, from those two Gold tables read back (they are
    * aggregate-sized). Each Gold table is read back with the schema of
    * the frame that wrote it.
    *
    * A Silver file listed here can vanish while a concurrent Silver
    * refresh overwrites its date: before it is opened, and the reads
    * skip it (`ignoreMissingFiles`), or after, and the reads go on
    * through the streams they opened ([[VectoredReads]]); the
    * rewrite's new files reach a later refresh of that date. */
  def refreshGold(spark: SparkSession, root: String, cfg: EtlConfig,
      dates: Seq[LocalDate], tap: Tap = untapped): Unit = {
    if (dates.isEmpty) return
    val silver = spark.read.schema(SilverSchema)
      .option("ignoreMissingFiles", "true")
      .option(VectoredReads, "false")
      .parquet(silverPath(root))
    val daily = tap("gold_daily_energy", SilverToGold.dailyEnergyConsumption(
      silver.filter(col("date").isin(sqlDates(dates): _*)).drop("date"), cfg))
    val health = tap("gold_device_health",
      SilverToGold.deviceHealthMetrics(silver.drop("date"), cfg))
    sideBySide(spark)(writeDailyEnergy(daily, root), writeDeviceHealth(health, root))
    writeBusinessSummary(tap("gold_business_summary", SilverToGold.dailyBusinessSummary(
      spark.read.schema(daily.schema).parquet(dailyEnergyPath(root)),
      spark.read.schema(health.schema).parquet(deviceHealthPath(root)),
      cfg)), root)
  }

  /** Daemon threads for [[sideBySide]]: they must not keep a JVM alive
    * after its `main` returns. */
  private lazy val sideThreads: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "lake-side-write")
    t.setDaemon(true)
    t
  }

  /** Runs `here` on this thread and `beside` on a daemon thread at the
    * same time, and returns or throws only once both have finished;
    * `here`'s failure wins, with `beside`'s suppressed in it. The
    * daemon thread carries this thread's Spark thread-locals (local
    * properties such as the job group and a streaming query's id, the
    * active session and the artifact state), so its jobs are
    * attributed, and cancelled with a stopped stream, as this
    * thread's are. */
  private def sideBySide(spark: SparkSession)(here: => Unit, beside: => Unit): Unit = {
    val side = SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], sideThreads)(beside)
    try here
    catch { case e: Throwable => Try(side.join()).failed.foreach(e.addSuppressed); throw e }
    try side.join() catch { case e: CompletionException => throw e.getCause }
  }

  /** Bronze on disk: the telemetry columns plus the `date` partition
    * column written by [[writeBronze]]. */
  private[graft] val BronzeSchema: StructType =
    Schemas.bronzeTelemetry.add("date", "date")

  /** Silver on disk: `BronzeToSilver`'s columns plus the `date`
    * partition column written by [[writeSilver]]. */
  private[graft] val SilverSchema: StructType =
    Schemas.silverEnergyUsage.add("date", "date")

  /** Makes a table's directory if it is missing, so that a scan or a
    * file stream over a table nothing has written yet sees no rows:
    * both fail on a missing directory, even with a declared schema. */
  private def makeTableDir(spark: SparkSession, path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val _ = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(dir)
  }

  /** The file stream a refinery tails over a table, `date` included:
    * Bronze's for the Silver refinery, Silver's for the Gold refinery. */
  private[graft] def tail(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    makeTableDir(spark, path)
    spark.readStream.schema(schema)
      .option("ignoreCorruptFiles", "true")
      // a file a concurrent overwrite (a refresh, a compaction)
      // deleted after the listing
      .option("ignoreMissingFiles", "true")
      .option(VectoredReads, "false")
      .parquet(path)
  }

  /** Off for the lake reads that race a concurrent overwrite
    * ([[refreshGold]]'s Silver read, [[tail]]). A vectored Parquet read
    * reopens the data file and its `.crc` checksum file by path (the
    * local file system's asynchronous channel), so an overwrite that
    * deletes them after the scan opened the file fails the read with a
    * NoSuchFileException, which `ignoreMissingFiles` does not cover.
    * With vectored reads off, row groups are read through the streams
    * opened with the file, which still read after the delete. */
  private val VectoredReads = "parquet.hadoop.vectored.io.enabled"

  /** Every Bronze row, `date` included. */
  private[graft] def bronzeScan(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(BronzeSchema)
      .option("ignoreCorruptFiles", "true") // S6 corrupt-file skip
      .parquet(bronzePath(root))

  /** S5-analog Bronze scan: event-date partition pruning via
    * predicate (replaces the reference's hand-built YYYY/MM/DD paths
    * + mtime windows; incremental tailing belongs to the streaming
    * ingest, graft.streaming). */
  def readBronze(spark: SparkSession, root: String, hoursBack: Int = 24,
      cfg: EtlConfig = EtlConfig()): DataFrame = {
    val cutoff: Instant = cfg.now.minusSeconds(hoursBack * 3600L)
    bronzeScan(spark, root)
      .filter(col("date") >= lit(java.sql.Date.valueOf(
        cutoff.atZone(java.time.ZoneOffset.UTC).toLocalDate)))
      .filter(try_to_timestamp(col("timestamp")) >=
        lit(java.sql.Timestamp.from(cutoff)))
  }

  /** S3: device-catalog CSV scan with the declared schema
    * (bronze_to_silver.py:29-36; header CSV, 10 rows). DATE-typed
    * installation_date is what makes the age computation work where
    * the reference's string-vs-tz subtraction silently failed. */
  def readDeviceCatalog(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.deviceCatalog)
      .csv(path)

  /** Billing CSV (config/billing_data.csv shape, SURVEY J3). */
  def readBillingData(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.billingData)
      .csv(path)

  /** Small-file compaction for a date-partitioned table: rewrite each
    * partition's many small files (the natural residue of frequent
    * micro-batch ingest) into ~`targetBytes`-sized ones. Sizing comes
    * from the actual on-disk bytes per partition, not a row-count
    * guess, so compaction stays correct as row width drifts. The
    * rewrite reuses dynamic partition overwrite — same idempotence
    * contract as the sinks: interrupting and rerunning converges.
    *
    * 100 TB shape: each date partition is compacted independently
    * (repartition keyed by the partition column + a PER-PARTITION
    * salt sized to that partition's own target file count), so the
    * shuffle moves each partition's bytes once and partitions compact
    * in parallel; untouched partitions are never rewritten. The null
    * partition (`__HIVE_DEFAULT_PARTITION__` — audit-only rows, see
    * writeBronze) is deliberately left alone: it is excluded from
    * both the rewrite and the row-size estimate.
    *
    * CONCURRENCY CONTRACT: a partition being rewritten must have no
    * concurrent writer — files appended between the listing/read and
    * the dynamic-overwrite commit would be silently dropped. Under
    * micro-batch ingest only the newest (hot) date partition is
    * actively written, so `skipHotPartitions = 1` (what EtlRunner
    * passes) excludes the lexicographically greatest partition value
    * — for zero-padded dates that IS the newest — and yesterday's
    * partitions, which the ingest never touches again, compact
    * safely. Cold tables can keep the 0 default. */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      skipHotPartitions: Int = 0): Unit = {
    val partitionCol = "date"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(root)) return
    // per-partition (bytes, fileCount) from the directory listing.
    // Everything downstream keys on the RAW directory segment (via
    // input_file_name), never on a cast-to-string of the partition
    // column — the two can disagree (Hive %xx escaping, zero-padded
    // numerics rendered back as "7" for dir "07"), and matching the
    // path bytes against themselves is exact by construction.
    val parts = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { s =>
        val files = fs.listStatus(s.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        val value = s.getPath.getName.split("=", 2)(1)
        (value, files.map(_.getLen).sum, files.length)
      }
      // the null partition holds audit-only rows (see writeBronze);
      // never rewritten
      .filter(_._1 != "__HIVE_DEFAULT_PARTITION__")
      // hot-partition exclusion (see concurrency contract above):
      // drop the N greatest partition values from consideration
      .sortBy(_._1)
      .dropRight(skipHotPartitions)
    val toCompact = parts.collect {
      // worth rewriting only when it shrinks the file count
      case (value, bytes, nFiles)
          if nFiles > math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt) =>
        value -> math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
    }.toMap
    if (toCompact.isEmpty) return
    // Read each selected partition DIRECTORY by path: pruning is by
    // construction (untouched partitions are never opened — no
    // predicate has to survive pushdown), no string-matching of
    // partition values anywhere (cast-to-string renderings, Hive %xx
    // escaping, and input_file_name's URL-encoding all disagree with
    // the raw listing in corner cases), and the per-partition salt
    // modulus rides along as a literal column.
    //
    // The reads use an EXPLICIT schema: the table's merged data
    // schema (one root schema resolution, so an additively-evolved
    // table keeps its newer columns — older rows null-fill via
    // unionByName) plus the partition column AS STRING. String is
    // deliberate: per-directory type INFERENCE can render a value
    // differently than its directory name (date=01 inferred as int 1
    // would be rewritten into a NEW date=1 directory, duplicating the
    // rows), while string parsing round-trips the directory name
    // byte-for-byte through the dynamic-overwrite write.
    val dataSchema = org.apache.spark.sql.types.StructType(
      spark.read.option("mergeSchema", "true").parquet(dir)
        .schema.filterNot(_.name == partitionCol))
    val readSchema = dataSchema.add(partitionCol,
      org.apache.spark.sql.types.StringType)
    val frames = toCompact.toSeq.map { case (value, nf) =>
      spark.read
        .schema(readSchema)
        .option("basePath", dir)
        .parquet(s"$dir/$partitionCol=$value")
        .withColumn("__nf", lit(nf))
    }
    val unioned = frames.reduce((a, b) =>
      a.unionByName(b, allowMissingColumns = true))
    // Sizing is row-count-based PER PARTITION: each partition's salt
    // spreads its rows over its own target file count (a global salt
    // would shred small partitions and break rerun convergence).
    // maxRecordsPerFile is a coarse backstop only — the max of the
    // per-partition rows-per-file bounds (+5% so a group sized exactly
    // at the bound yields ONE file, not a file plus a 1-row residue).
    val bounds = unioned.groupBy(col(partitionCol), col("__nf"))
      .agg(count(lit(1)).as("n"))
      .select(col("__nf"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (bounds.isEmpty) return
    val maxRecords = math.max(1L, bounds.map { case (nf, n) =>
      (n + nf - 1) / nf
    }.max * 21 / 20)
    // EXPLICIT shuffle partition count (2× the total target files):
    // a user-specified repartition count is exempt from AQE partition
    // coalescing, so distinct (partition, salt) groups stay in
    // distinct tasks except for hash collisions — a collision merges
    // two salt groups into one file of ~2× the target, bounded and
    // rare, where AQE coalescing could merge ALL of them.
    val shuffleN = math.max(1, (toCompact.values.sum * 2).toInt)
    // DETERMINISTIC salt: hash of the data columns, not
    // monotonically_increasing_id() — the id is assigned per task
    // attempt, so a speculative/retried map task would redistribute
    // rows across salt groups mid-write (file sizes skew on retry and
    // reruns don't converge byte-identically). A content hash gives
    // the same spread, survives retries, and makes compaction a pure
    // function of the input rows. Duplicate rows co-locate, but
    // maxRecordsPerFile still bounds any one file.
    val saltCols = dataSchema.map(f => col(f.name))
    unioned
      .repartition(shuffleN, col(partitionCol),
        pmod(xxhash64(saltCols: _*), col("__nf")))
      .drop("__nf")
      .write
      .partitionBy(partitionCol)
      .option("maxRecordsPerFile", maxRecords)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(dir)
  }

  /** S4-as-batch: Bronze sink partitioned by event date. try_: raw
    * bronze may carry unparseable timestamps; they land in the null
    * date partition, which readBronze's date >= cutoff predicate
    * excludes — such rows are retained for audit but never reach
    * Silver (they would fail timestamp validation regardless). */
  def writeBronze(bronze: DataFrame, root: String): Unit =
    writeByDate(bronze.withColumn("date", to_date(try_to_timestamp(col("timestamp")))),
      bronzePath(root))
}
