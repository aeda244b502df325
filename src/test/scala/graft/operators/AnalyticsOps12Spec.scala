package graft.operators

import graft.SparkSpec

/** Closed-form fixtures and invariants for the tranche-six operating-
  * point metrics (q242–q245): textbook values on hand-computable
  * inputs, degenerate guards, and a driver-side recomputation of the
  * SPRT likelihood walk.
  */
class AnalyticsOps12Spec extends SparkSpec {
  private val d = sf("sf0.001")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeEvents(dir: String,
      rows: Seq[(Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (id, t, v) =>
      (id, new java.sql.Timestamp(1705000000000L + id * 1000), 1L, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("q242: two-bin fixture gives ECE 0.25, MCE 0.5") {
    val dir = tmp("graft-ece")
    // bin 0: 4 events at score 0, none purchase → gap 0
    // bin 19: 4 events at score 1, half purchase → gap |1 − 0.5| = 0.5
    writeEvents(dir, Seq(
      (1L, "view", 0.0), (2L, "view", 0.0), (3L, "click", 0.0),
      (4L, "click", 0.0),
      (5L, "purchase", 1.0), (6L, "purchase", 1.0), (7L, "view", 1.0),
      (8L, "view", 1.0)))
    val r = EvalOps.q242CalibrationError.fn(spark, dir).head()
    assert(r.getAs[Long]("n_bins") == 2L)
    assert(math.abs(r.getAs[Double]("ece") - 0.25) < 1e-6)
    assert(math.abs(r.getAs[Double]("mce") - 0.5) < 1e-6)
  }

  test("q242: constant scores degrade to ECE = MCE = 0, never throw") {
    val dir = tmp("graft-ece0")
    writeEvents(dir, Seq((1L, "purchase", 3.0), (2L, "view", 3.0)))
    val r = EvalOps.q242CalibrationError.fn(spark, dir).head()
    assert(r.getAs[Double]("ece") == 0.0 && r.getAs[Double]("mce") == 0.0)
  }

  test("q243: LLR walk matches a driver-side recomputation; decisions consistent") {
    import org.apache.spark.sql.functions._
    val rows = BusinessOps.q243Sprt.fn(spark, d)
      .orderBy(col("day")).collect()
    assert(rows.nonEmpty)
    // cumulative counts are monotone
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_cum") <= b.getAs[Long]("n_cum"))
      assert(a.getAs[Long]("k_cum") <= b.getAs[Long]("k_cum"))
    case _ => ()
    }
    // independent p0 off arm A, then the Wald LLR algebra in plain Scala
    val pa = graft.Tables.events(spark, d)
      .select(expr("conv(substring(md5(cast(user_id AS string)), 1, 15)," +
        " 16, 10)").cast("long").as("h"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .filter(col("h") % 2 === 0)
      .agg(count(lit(1)).as("na"), sum(col("y")).as("ka")).head()
    val p0 = pa.getAs[Long]("ka").toDouble / pa.getAs[Long]("na")
    val p1 = math.min(0.999, 1.1 * p0)
    val bound = math.log(19.0)
    rows.foreach { r =>
      val (cn, ck) = (r.getAs[Long]("n_cum"), r.getAs[Long]("k_cum"))
      val ref = math.floor((ck * math.log(p1 / p0)
        + (cn - ck) * math.log((1 - p1) / (1 - p0))) * 1e6 + 0.5) / 1e6
      assert(math.abs(r.getAs[Double]("llr") - ref) < 1e-9,
        s"day=${r.getAs[java.sql.Date]("day")} engine=${r.getAs[Double]("llr")} ref=$ref")
      val dcn = r.getAs[String]("decision")
      val llr = r.getAs[Double]("llr")
      assert(dcn == (if (llr >= bound) "accept_h1"
        else if (llr <= -bound) "accept_h0" else "continue"))
    }
  }

  test("q243: pre-registered constant p0 — no peeking, same algebra") {
    import org.apache.spark.sql.functions._
    // the production shape: p0 fixed BEFORE the data; recompute the
    // Wald walk in plain Scala from the engine's own cumulative counts
    val p0 = 0.9 // registered null far above any observed purchase rate
    val rows = BusinessOps.sprtWalk(spark, d, Some(p0))
      .orderBy(col("day")).collect()
    assert(rows.nonEmpty)
    assert(rows.head.schema.fieldNames.toSeq ==
      Seq("day", "n_cum", "k_cum", "llr", "decision"))
    val p1 = math.min(0.999, 1.1 * p0)
    val bound = math.log(19.0)
    rows.foreach { r =>
      val (cn, ck) = (r.getAs[Long]("n_cum"), r.getAs[Long]("k_cum"))
      val ref = math.floor((ck * math.log(p1 / p0)
        + (cn - ck) * math.log((1 - p1) / (1 - p0))) * 1e6 + 0.5) / 1e6
      assert(math.abs(r.getAs[Double]("llr") - ref) < 1e-9)
      assert(r.getAs[String]("decision") == (if (ref >= bound) "accept_h1"
        else if (ref <= -bound) "accept_h0" else "continue"))
    }
    // a 90% null against a low observed rate must reject upward drift:
    // the last day's walk sits at/under the h0 boundary, never above
    assert(rows.last.getAs[Double]("llr") < 0.0)
    // out-of-range registrations are refused at the driver
    intercept[IllegalArgumentException] {
      BusinessOps.sprtWalk(spark, d, Some(1.0))
    }
    intercept[IllegalArgumentException] {
      BusinessOps.sprtWalk(spark, d, Some(0.0))
    }
  }

  test("q244: hand-computed confusion panel (med splits the cells)") {
    val dir = tmp("graft-cm")
    // 3 events at 1.00 (no purchases), 5 at 2.00 (3 purchases)
    // lower median = 200 cents → tp=3 fp=2 fn=0 tn=3
    writeEvents(dir, Seq(
      (1L, "view", 1.0), (2L, "view", 1.0), (3L, "click", 1.0),
      (4L, "purchase", 2.0), (5L, "purchase", 2.0), (6L, "purchase", 2.0),
      (7L, "view", 2.0), (8L, "click", 2.0)))
    val r = EvalOps.q244ConfusionPanel.fn(spark, dir).head()
    assert(r.getAs[Long]("threshold_cents") == 200L)
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"),
      r.getAs[Long]("tn")) == ((3L, 2L, 0L, 3L)))
    assert(math.abs(r.getAs[Double]("precision") - 0.6) < 1e-6)
    assert(r.getAs[Double]("recall") == 1.0)
    assert(math.abs(r.getAs[Double]("f1") - 0.75) < 1e-6)
    // mcc = (3·3 − 2·0)/sqrt(5·3·5·3) = 9/15
    assert(math.abs(r.getAs[Double]("mcc") - 0.6) < 1e-6)
  }

  test("q244: an empty margin degrades MCC to 0, never throws") {
    val dir = tmp("graft-cm0")
    // all events share one value → med = min → everything predicted
    // positive → tn = fn = 0 → MCC guard fires
    writeEvents(dir, Seq(
      (1L, "purchase", 1.0), (2L, "view", 1.0), (3L, "view", 1.0)))
    val r = EvalOps.q244ConfusionPanel.fn(spark, dir).head()
    assert(r.getAs[Long]("tn") == 0L && r.getAs[Long]("fn") == 0L)
    assert(r.getAs[Double]("mcc") == 0.0)
    assert(r.getAs[Double]("recall") == 1.0)
  }

  test("q246: hand-computed trend z on a two-bin fixture; constant degrades to 0") {
    val dir = tmp("graft-ca")
    // bin 0: 10 events, 0 purchases; bin 19: 10 events, 8 purchases
    writeEvents(dir, (1L to 10L).map(i => (i, "view", 0.0)) ++
      (11L to 18L).map(i => (i, "purchase", 1.0)) ++
      Seq((19L, "view", 1.0), (20L, "view", 1.0)))
    val r = StatsOps.q246CochranArmitage.fn(spark, dir).head()
    assert(r.getAs[Long]("n_events") == 20L && r.getAs[Long]("n_pos") == 8L)
    // N·Σwk − K·Σwn = 20·152 − 8·190 = 1520;
    // var = K(N−K)·(N·Σw²n − (Σwn)²)/N = 96·36100/20
    val ref = math.floor(1520.0 / math.sqrt(96.0 * 36100 / 20) * 1e6 + 0.5) / 1e6
    assert(math.abs(r.getAs[Double]("z_trend") - ref) < 1e-9,
      s"z=${r.getAs[Double]("z_trend")} ref=$ref")
    assert(r.getAs[Double]("z_trend") > 2.0)
    val dir2 = tmp("graft-ca0")
    writeEvents(dir2, Seq((1L, "purchase", 5.0), (2L, "view", 5.0)))
    assert(StatsOps.q246CochranArmitage.fn(spark, dir2)
      .head().getAs[Double]("z_trend") == 0.0)
  }

  test("q247: the separating cut wins with J = 1; degenerate labels are empty") {
    val dir = tmp("graft-yj")
    // c=100: 2 views; c=200: 1 purchase; c=300: 1 purchase
    // threshold 200 separates perfectly → TPR 1, FPR 0, J 1
    writeEvents(dir, Seq((1L, "view", 1.0), (2L, "view", 1.0),
      (3L, "purchase", 2.0), (4L, "purchase", 3.0)))
    val r = EvalOps.q247YoudenThreshold.fn(spark, dir).head()
    assert(r.getAs[Long]("threshold_cents") == 200L)
    assert(r.getAs[Double]("tpr") == 1.0 && r.getAs[Double]("fpr") == 0.0)
    assert(r.getAs[Double]("youden_j") == 1.0)
    val dir2 = tmp("graft-yj0")
    writeEvents(dir2, Seq((1L, "purchase", 1.0), (2L, "purchase", 2.0)))
    assert(EvalOps.q247YoudenThreshold.fn(spark, dir2).count() == 0L)
  }

  test("q245: ten distinct scores, purchases on top — capture and lift") {
    val dir = tmp("graft-gl")
    // scores 10..1, purchases at the two highest
    writeEvents(dir, (1L to 10L).map(i =>
      (i, if (i <= 2) "purchase" else "view", (11 - i).toDouble)))
    val rows = EvalOps.q245GainsLift.fn(spark, dir)
      .collect().map(r => r.getAs[Long]("decile") ->
        (r.getAs[Long]("eff_n"), r.getAs[Long]("captured_k"),
          r.getAs[Double]("capture_rate"), r.getAs[Double]("lift"))).toMap
    assert(rows(1L) == ((1L, 1L, 0.5, 5.0)), rows.toString)
    assert(rows(2L) == ((2L, 2L, 1.0, 5.0)), rows.toString)
    assert(rows(10L) == ((10L, 2L, 1.0, 1.0)), rows.toString)
    // capture is monotone in decile
    (1L to 9L).foreach(i => assert(rows(i)._3 <= rows(i + 1)._3))
  }
}
