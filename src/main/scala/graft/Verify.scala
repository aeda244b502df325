package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Per-SF fixture tag. The path is normalized FIRST (trailing slash,
    * `//`, `/./`) so `/root/testdata/sf0.01` and `/root/testdata/sf0.01/`
    * name the SAME fixture dir — an un-normalized trailing-slash driver
    * invocation would otherwise silently point the oracle at a stale
    * per-SF fixture. */
  def sfTagOf(dir: String): String =
    Paths.get(dir).normalize().toString.replaceAll("[^A-Za-z0-9.]", "_")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) =
      (Paths.get(args(0)).normalize().toString, args(1))
    // optional third arg (local iteration only; the driver passes 2):
    // comma-separated query names — dump just those
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // Deterministic smart-home bronze fixture → parquet, so the
    // driver's DuckDB oracle can re-derive silver/gold (q60-q63) from
    // the same bytes Spark consumed (SmartHomeOracle.fixtureDir).
    val fx = operators.SmartHomeOracle.fixtureDir
    etl.Fixtures.bronzeTelemetry(spark, nDevices = 10, rowsPerDevice = 200,
      dirty = true).write.mode("overwrite")
      .parquet(s"$fx/smarthome_bronze.parquet")
    etl.Fixtures.deviceCatalog(spark).write.mode("overwrite")
      .parquet(s"$fx/device_catalog.parquet")
    etl.BillingJoin.billingFixture(spark).write.mode("overwrite")
      .parquet(s"$fx/billing.parquet")
    // Engine-specific sketch fixtures (LSH buckets, MinHash/SimHash
    // signatures): the hash values are data the oracle starts from;
    // everything downstream — banding, joins, scoring, ranking — is
    // re-derived independently in DuckDB (q42/q43/q44/q51). Tagged
    // per-SF so checks at different scale factors never cross wires.
    val sfTag = sfTagOf(sfDir)
    operators.SimilarityOps.lshBucketsFrame(spark, sfDir)
      .write.mode("overwrite").parquet(s"$fx/sf_$sfTag/lsh_buckets.parquet")
    operators.DedupOps.minhashSigFrame(spark, sfDir)
      .write.mode("overwrite").parquet(s"$fx/sf_$sfTag/minhash_sigs.parquet")
    operators.DedupOps.simhashFrame(spark, sfDir)
      .write.mode("overwrite").parquet(s"$fx/sf_$sfTag/simhash_sigs.parquet")
    operators.TextOps.rollingFpFrame(spark, sfDir)
      .write.mode("overwrite").parquet(s"$fx/sf_$sfTag/rolling_fps.parquet")
    operators.CurationOps.winnowKgramsFrame(spark, sfDir)
      .write.mode("overwrite").parquet(s"$fx/sf_$sfTag/winnow_kgrams.parquet")
    // KLL estimates: sketch contents move across runs with Spark's
    // partial-merge order, so q196 gates on THIS dump — the Spark
    // query and the DuckDB oracle read the same estimate bytes, and
    // the rank-error calibration downstream is deterministic.
    operators.SketchOps.kllEstimatesFrame(spark, sfDir)
      .write.mode("overwrite").parquet(s"$fx/sf_$sfTag/kll_estimates.parquet")
    // Per-doc DEFLATE ratios (1e-6 fixed point): zlib can't run in
    // DuckDB, so q203's oracle re-derives its banding/aggregation
    // from these engine-computed values (the minhash/simhash pattern)
    operators.TextStatsOps.deflateRatioFrame(spark, sfDir)
      .write.mode("overwrite").parquet(s"$fx/sf_$sfTag/deflate_ratios.parquet")
    multimodal.Multimodal.decode(
      multimodal.Multimodal.mediaFromDocuments(spark, Tables.documents(spark, sfDir)))
      .select("media_id", "kind", "width", "height", "duration_ms")
      .write.mode("overwrite").parquet(s"$fx/sf_$sfTag/decoded_media.parquet")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // per-query caches are released once the write lands — a
        // 130-query session must not accumulate cached relations
        CacheHygiene.sweep(spark)
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__SFTAG__", sfTag))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
