package perfbench

import java.nio.file.Files

import graft.etl.{EtlConfig, Lake}
import graft.streaming.BronzeIngest
import org.apache.spark.sql.functions._

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Exits non-zero when any fails. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Files.createTempDirectory("perfbench-selftest")
    val spark = Main.session(2, work)
    import spark.implicits._
    var failures = Seq.empty[String]
    var passed = 0
    def check(what: String)(ok: => Boolean): Unit =
      if (try ok catch { case e: Exception => println(s"  $what: $e"); false })
        passed += 1
      else failures :+= what
    def refuses(body: => Any): Boolean =
      try { body; false } catch { case _: IllegalArgumentException => true }

    // generator: one seed gives identical bytes, another seed other bytes
    def gen(seed: Long) = Gen.withDirt(Gen.cleanLines(spark, seed, 20, 120), seed)
    val a = gen(7)
    check("same seed, same lines")(a.lines.sameElements(gen(7).lines))
    check("other seed, other lines")(!a.lines.sameElements(gen(8).lines))
    check("ground truth counts every line")(a.truth.lines == a.lines.length)

    // percentile helper: at least ten samples beyond the percentile
    val xs = (1 to 100).map(_.toDouble)
    check("p50 of 19 refused")(refuses(Stats.percentile(xs.take(19), 0.5)))
    check("p50 of 20 allowed")(Stats.percentile(xs.take(20), 0.5) == 10.0)
    check("p90 of 99 refused")(refuses(Stats.percentile(xs.take(99), 0.9)))
    check("p90 of 100 allowed")(Stats.percentile(xs, 0.9) == 90.0)

    // pipeline_batch pass check
    val t = a.truth
    check("batch pass: right answer passes")(
      Checks.batchPass(t, t.silverRows, t.silverRows).isEmpty)
    check("batch pass: planted extra silver row fails")(
      Checks.batchPass(t, t.silverRows + 1, t.silverRows + 1).nonEmpty)
    check("batch pass: planted missing gold reading fails")(
      Checks.batchPass(t, t.silverRows, t.silverRows - 1).nonEmpty)

    // reject counters against ground truth, on a real Bronze write
    val cfg = EtlConfig(referenceInstant = Some(Gen.Base.plusSeconds(120)))
    val lake = work.resolve("lake").toString
    Lake.writeBronze(BronzeIngest.parseAndValidate(a.lines.toSeq.toDF("value")), lake)
    val bronze = Lake.readBronze(spark, lake, PipelineBatch.AllHours, cfg).drop("date")
    val counted = PipelineBatch.rejectCounts(bronze, cfg) ++ Map(
      "bronze_ingest.rows_out" -> bronze.count(),
      "bronze_ingest.rejected" -> (t.lines - bronze.count()),
      "silver.rows_out" -> t.silverRows, "silver.late_flagged" -> t.late)
    check("rejects: counters match ground truth")(Checks.rejects(t, counted).isEmpty)
    check("rejects: planted off-by-one fails")(Checks.rejects(t,
      counted.updated("silver.rejected.temp_range", t.tempRange + 1)).nonEmpty)

    // pipeline_incremental table equality
    val df = (1 to 50).map(i => (i, s"d$i", i * 0.5)).toDF("k", "s", "x")
    check("same rows: equal tables pass")(Checks.sameRows("t", df, df).isEmpty)
    check("same rows: column order ignored")(
      Checks.sameRows("t", df.select("x", "k", "s"), df).isEmpty)
    check("same rows: planted missing row fails")(
      Checks.sameRows("t", df.filter(col("k") =!= 7), df).nonEmpty)
    check("same rows: planted wrong value fails")(Checks.sameRows("t",
      df.withColumn("x", when(col("k") === 7, 99.0).otherwise(col("x"))), df)
      .nonEmpty)
    check("same rows: planted duplicate fails")(
      Checks.sameRows("t", df.union(df.filter(col("k") === 7)), df).nonEmpty)

    spark.stop()
    Common.deleteTree(work)
    if (failures.nonEmpty) {
      println(s"selftest FAILED: ${failures.mkString("; ")}")
      sys.exit(1)
    }
    println(s"selftest pass: $passed checks")
  }
}
