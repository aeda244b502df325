package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.dec

/** Round-11 tranche six: the model-evaluation operating-point block —
  * expected/maximum calibration error (THE reported LLM-calibration
  * numbers, beside q221's Brier decomposition which explains WHERE the
  * loss lives), a Wald SPRT sequential A/B monitor (the always-valid
  * early-stopping view beside q104's fixed-horizon t-test and q226's
  * SRM guardrail), the thresholded confusion-matrix panel (precision/
  * recall/F1/MCC — the OPERATING POINT where q115/q231 grade the whole
  * ranking), and the cumulative gains/lift table (the "top-decile
  * capture" curve a budgeted campaign or data-selection pass actually
  * reads).
  *
  * Same house conventions as tranche five: one data pass to cells,
  * decimal(38,0)/HUGEINT count algebra, fixed-point quantization
  * before any order-dependent float sum, engine/oracle in identical
  * IEEE op order.
  */
object AnalyticsOps12 {

  /** Expected and maximum calibration error of the normalized
    * purchase-propensity score, 20 equal-width bins — q221's binning
    * device verbatim (same normalization, same r = 0 degenerate path)
    * so ECE/MCE and the Murphy decomposition read off the SAME
    * forecast. ECE = Σ (n_k/N)·|acc_k − conf_k| is the number
    * calibration papers report; MCE is its worst bin.
    *
    * Exactness: bin counts and sums exact int64; per-bin |conf − acc|
    * is one double chain — the ECE term quantizes at 1e-9 weighted by
    * the exact n_k/N ratio and int-sums (order-free); MCE is a MAX of
    * per-bin 1e-6-quantized gaps (max is order-free by itself).
    * Zero score range → conf_k defined as acc_k → ECE = MCE = 0.
    *
    * Scale shape: one min/max pass, one ≤20-cell bin aggregate,
    * everything downstream on the broadcast cell frame (q221's
    * posture exactly). */
  val q242CalibrationError: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |mm AS (
      |  SELECT min(c) AS m, max(c) - min(c) AS r FROM ev),
      |n AS (SELECT count(*) AS n FROM ev),
      |cell AS (
      |  SELECT least(19, CASE WHEN r = 0 THEN 0
      |                        ELSE ((c - m) * 20) // r END) AS k,
      |    count(*) AS nk,
      |    CAST(sum(y) AS BIGINT) AS syk,
      |    CAST(sum(c - m) AS BIGINT) AS sck
      |  FROM ev CROSS JOIN mm GROUP BY 1),
      |g AS (
      |  SELECT k, nk,
      |    abs(CASE WHEN r = 0 THEN CAST(syk AS DOUBLE) / nk
      |        ELSE CAST(sck AS DOUBLE) / nk / r END
      |      - CAST(syk AS DOUBLE) / nk) AS gap
      |  FROM cell CROSS JOIN mm),
      |agg AS (
      |  SELECT count(*) AS n_bins,
      |    CAST(sum(CAST(floor((CAST(nk AS DOUBLE) / n) * gap
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS ece9,
      |    max(CAST(floor(gap * 1000000 + 0.5) AS BIGINT)) AS mce6
      |  FROM g CROSS JOIN n)
      |SELECT n.n AS n_events, CAST(agg.n_bins AS BIGINT) AS n_bins,
      |  CAST(ece9 AS DOUBLE) / 1000000000 AS ece,
      |  CAST(mce6 AS DOUBLE) / 1000000 AS mce
      |FROM agg CROSS JOIN n""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .cache() // one events materialization feeds min/max and the bins
    val mm = ev.agg(min(col("c")).as("m"),
      (max(col("c")) - min(col("c"))).as("r"))
    val n = ev.agg(count(lit(1)).as("n"))
    val cell = ev.crossJoin(broadcast(mm))
      .groupBy(least(lit(19),
        when(col("r") === 0, lit(0L))
          .otherwise(expr("((c - m) * 20) div r"))).as("k"))
      .agg(count(lit(1)).as("nk"),
        sum(col("y")).cast("long").as("syk"),
        sum(col("c") - col("m")).cast("long").as("sck"))
    val acc = col("syk").cast("double") / col("nk")
    val conf = when(col("r") === 0, acc)
      .otherwise(col("sck").cast("double") / col("nk") / col("r"))
    val g = cell.crossJoin(broadcast(mm))
      .select(col("nk"), abs(conf - acc).as("gap"))
    val agg = g.crossJoin(broadcast(n))
      .agg(count(lit(1)).as("n_bins"),
        sum(floor((col("nk").cast("double") / col("n")) * col("gap")
          * 1000000000L + 0.5).cast("long")).cast("long").as("ece9"),
        max(floor(col("gap") * 1000000L + 0.5).cast("long")).as("mce6"))
    agg.crossJoin(broadcast(n))
      .select(col("n").as("n_events"),
        col("n_bins").cast("long").as("n_bins"),
        (col("ece9").cast("double") / 1000000000L).as("ece"),
        (col("mce6").cast("double") / 1000000L).as("mce"))
  }

  /** Wald SPRT sequential monitor for the md5 A/B split's purchase
    * conversion rate: arm A's overall rate is the null p0, the
    * alternative is a +10% lift (p1 = 1.1·p0 capped at 0.999), and
    * the per-day cumulative log-likelihood ratio of arm B's outcomes
    * walks between the α = β = 0.05 boundaries ±ln 19 ≈ ±2.944 —
    * the early-stopping view a daily experiment dashboard actually
    * renders, beside q104's fixed-horizon test (which is only valid
    * at its planned end) and q226's SRM guardrail. The day a boundary
    * is first crossed, the experiment could have STOPPED.
    *
    * A REGISTERED SPRT fixes p0 before any data arrives, so the walk
    * is parameterized: [[sprtWalk]] takes a pre-registered p0
    * constant, and production passes one. The GATE release (this
    * QueryDef) uses the self-estimated default — arm A's rate over
    * the whole window — because the oracle needs a value derivable
    * from the same tables; the scaladoc'd peeking caveat applies to
    * that default only, not to the constant-p0 overload (spec'd in
    * AnalyticsOps12Spec).
    *
    * Exactness: arm/day cells are exact counts off one pass (the
    * q226 md5-arm convention); p0 is a ratio of exact int64s; the
    * LLR per day k·ln(p1/p0) + (n−k)·ln(q1/q0) is one IEEE chain on
    * exact cumulative ints, floored 1e-6. Degenerate null (arm A
    * converts never or always — lift undefined) degrades to LLR = 0 /
    * 'continue' rather than throwing on ln(0).
    *
    * Scale shape: ONE events pass → (arm, day) cells; the cumulative
    * walk is a window over arm B's ≤|days| cells; output is |days|
    * rows of metadata. */
  val q243Sprt: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
      |      1, 15))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
      |    CAST(ts AS DATE) AS day,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |cell AS (
      |  SELECT arm, day, count(*) AS n, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev GROUP BY 1, 2),
      |pa AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS na, CAST(sum(k) AS BIGINT) AS ka
      |  FROM cell WHERE arm = 'A'),
      |b AS (
      |  SELECT day,
      |    CAST(sum(n) OVER (ORDER BY day) AS BIGINT) AS cn,
      |    CAST(sum(k) OVER (ORDER BY day) AS BIGINT) AS ck
      |  FROM cell WHERE arm = 'B'),
      |l AS (
      |  SELECT day, cn, ck,
      |    CASE WHEN ka = 0 OR ka = na THEN CAST(0 AS DOUBLE)
      |      ELSE floor((ck * ln(least(0.999, 1.1 * (CAST(ka AS DOUBLE) / na))
      |          / (CAST(ka AS DOUBLE) / na))
      |        + (cn - ck) * ln((1 - least(0.999,
      |            1.1 * (CAST(ka AS DOUBLE) / na)))
      |          / (1 - CAST(ka AS DOUBLE) / na)))
      |        * 1000000 + 0.5) / 1000000 END AS llr
      |  FROM b CROSS JOIN pa)
      |SELECT day, cn AS n_cum, ck AS k_cum, llr,
      |  CASE WHEN llr >= ln(CAST(19 AS DOUBLE)) THEN 'accept_h1'
      |    WHEN llr <= -ln(CAST(19 AS DOUBLE)) THEN 'accept_h0'
      |    ELSE 'continue' END AS decision
      |FROM l""".stripMargin
  )((s, d) => sprtWalk(s, d, p0Registered = None))

  /** The parameterized SPRT walk behind q243. `p0Registered = Some(c)`
    * is the production shape — a pre-registered null rate fixed before
    * the data, no peeking; `None` self-estimates p0 from arm A over
    * the window (the gate's oracle-able default, with the stated
    * peeking caveat). The LLR algebra, quantization, and decision
    * boundaries are identical in both modes. */
  private[operators] def sprtWalk(s: SparkSession, d: String,
      p0Registered: Option[Double]): DataFrame = {
    p0Registered.foreach(c => require(c > 0.0 && c < 1.0,
      s"pre-registered p0 must be in (0,1), got $c"))
    val ev = Tables.events(s, d)
      .select(when(expr(
        "conv(substring(md5(cast(user_id AS string)), 1, 15), 16, 10)")
        .cast("long") % 2 === 0, lit("A")).otherwise(lit("B")).as("arm"),
        to_date(col("ts")).as("day"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("arm"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"))
      .cache() // one events pass; the null and the walk reuse it
    // the null as a 1-row frame carrying p0r: either the registered
    // constant, or arm A's exact-int ratio (ka = 0 / ka = na are the
    // degenerate cases; as doubles those are exactly 0.0 / 1.0, so the
    // shared p0r-range guard below is equivalent to the old int test)
    val pa = p0Registered match {
      case Some(c) => s.range(1).select(lit(c).as("p0r"))
      case None => ev.filter(col("arm") === "A")
        .agg(sum(col("n")).cast("long").as("na"),
          sum(col("k")).cast("long").as("ka"))
        .select((col("ka").cast("double") / col("na")).as("p0r"))
    }
    val wn = Window.orderBy(col("day"))
    val b = ev.filter(col("arm") === "B")
      .select(col("day"),
        sum(col("n")).over(wn).cast("long").as("cn"),
        sum(col("k")).over(wn).cast("long").as("ck"))
    val p0 = col("p0r")
    val p1 = least(lit(0.999), lit(1.1) * p0)
    val llr = when(col("p0r") <= 0.0 || col("p0r") >= 1.0, lit(0.0))
      .otherwise(floor((col("ck") * log(p1 / p0)
        + (col("cn") - col("ck")) * log((lit(1) - p1) / (lit(1) - p0)))
        * 1000000L + 0.5) / 1000000L)
    val bound = math.log(19.0)
    b.crossJoin(broadcast(pa))
      .select(col("day"), col("cn").as("n_cum"), col("ck").as("k_cum"),
        llr.as("llr"),
        when(llr >= bound, lit("accept_h1"))
          .when(llr <= -bound, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** Thresholded confusion-matrix panel — precision, recall, F1, and
    * Matthews correlation for "predict purchase when the value score
    * clears its own median": the OPERATING POINT beside the threshold-
    * free rankings (q115 ROC-AUC, q231 PR-AUC). MCC is the balanced
    * single number under the purchase class's heavy imbalance, where
    * accuracy and even F1 mislead (Chicco & Jurman 2020).
    *
    * Exactness: the threshold is the exact integer lower median off
    * the value cells (2·cum ≥ n); the four confusion cells are exact
    * int64 counts in ONE conditional aggregate; each metric is one
    * double chain floored 1e-6, with every empty-margin division
    * degrading to 0 (stated — the convention sklearn's zero_division=0
    * uses). MCC's four margin products run in double (≤ N⁴ magnitude
    * is a RELATIVE-precision problem only; the op order is identical
    * in both engines).
    *
    * Scale shape: one events pass → value cells; the median walk is a
    * two-phase range-partitioned prefix over cells (the q166 idiom); one more cell-frame aggregate against the
    * broadcast threshold yields the 2×2; output is one row. */
  val q244ConfusionPanel: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |cell AS (
      |  SELECT c, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev GROUP BY 1),
      |w AS (
      |  SELECT c, cnt, k,
      |    CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM cell),
      |med AS (SELECT min(c) AS med FROM w WHERE 2 * cum >= n),
      |cm AS (
      |  SELECT
      |    CAST(sum(CASE WHEN c >= med THEN k ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN c >= med THEN cnt - k ELSE 0 END) AS BIGINT)
      |      AS fp,
      |    CAST(sum(CASE WHEN c < med THEN k ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN c < med THEN cnt - k ELSE 0 END) AS BIGINT)
      |      AS tn
      |  FROM cell CROSS JOIN med)
      |SELECT (SELECT med FROM med) AS threshold_cents,
      |  tp + fp + fn + tn AS n_events, tp, fp, fn, tn,
      |  CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(tp AS DOUBLE) / (tp + fp)) * 1000000 + 0.5)
      |      / 1000000 END AS precision,
      |  CASE WHEN tp + fn = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(tp AS DOUBLE) / (tp + fn)) * 1000000 + 0.5)
      |      / 1000000 END AS recall,
      |  CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn))
      |      * 1000000 + 0.5) / 1000000 END AS f1,
      |  CASE WHEN (tp + fp) * (tp + fn) = 0 OR (tn + fp) * (tn + fn) = 0
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
      |      / sqrt((CAST(tp + fp AS DOUBLE)) * (tp + fn)
      |        * (CAST(tn + fp AS DOUBLE)) * (tn + fn)))
      |      * 1000000 + 0.5) / 1000000 END AS mcc
      |FROM cm""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).cast("long").as("k"))
      .cache() // one events pass; median and the 2×2 reuse the cells
    // two-phase prefix (the q166/q229 idiom) for the median walk
    val w = AnalyticsOps2.groupedPrefixSums(cell, Seq.empty,
      Seq(col("c")), Seq((col("cnt"), "cum", Some("n"))))
    val med = w.filter(lit(2) * col("cum") >= col("n"))
      .agg(min(col("c")).as("med"))
    val cm = cell.crossJoin(broadcast(med))
      .agg(sum(when(col("c") >= col("med"), col("k")).otherwise(0L))
        .cast("long").as("tp"),
        sum(when(col("c") >= col("med"), col("cnt") - col("k"))
          .otherwise(0L)).cast("long").as("fp"),
        sum(when(col("c") < col("med"), col("k")).otherwise(0L))
          .cast("long").as("fn"),
        sum(when(col("c") < col("med"), col("cnt") - col("k"))
          .otherwise(0L)).cast("long").as("tn"))
    val prec = col("tp").cast("double") / (col("tp") + col("fp"))
    val rec = col("tp").cast("double") / (col("tp") + col("fn"))
    val f1 = (lit(2) * col("tp")).cast("double") /
      (lit(2) * col("tp") + col("fp") + col("fn"))
    val mccNum = (col("tp").cast("double") * col("tn")
      - col("fp").cast("double") * col("fn"))
    val mccDen = sqrt((col("tp") + col("fp")).cast("double")
      * (col("tp") + col("fn"))
      * (col("tn") + col("fp")).cast("double") * (col("tn") + col("fn")))
    cm.crossJoin(broadcast(med))
      .select(col("med").as("threshold_cents"),
        (col("tp") + col("fp") + col("fn") + col("tn")).as("n_events"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0, lit(0.0))
          .otherwise(floor(prec * 1000000L + 0.5) / 1000000L)
          .as("precision"),
        when(col("tp") + col("fn") === 0, lit(0.0))
          .otherwise(floor(rec * 1000000L + 0.5) / 1000000L).as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(0.0))
          .otherwise(floor(f1 * 1000000L + 0.5) / 1000000L).as("f1"),
        when((col("tp") + col("fp")) * (col("tp") + col("fn")) === 0
          || (col("tn") + col("fp")) * (col("tn") + col("fn")) === 0,
          lit(0.0))
          .otherwise(floor(mccNum / mccDen * 1000000L + 0.5) / 1000000L)
          .as("mcc"))
  }

  /** Cumulative gains/lift table at deciles of the descending value
    * score — the curve a budgeted selection actually reads ("the top
    * 20% of events by score capture X% of purchases, a Y× lift"),
    * beside q231's scalar PR-AUC summary of the same ranking. Tied
    * scores are INDIVISIBLE: each decile point reports at the end of
    * the tied block containing its nominal boundary floor(i·n/10),
    * with the effective position emitted (eff_n) rather than silently
    * pretending the cut is exact — a tie block cannot be split by any
    * deterministic ranker.
    *
    * Exactness: everything through eff_n/captured_k is exact integer
    * prefix algebra on the descending value cells; capture and lift
    * are one division each, floored 1e-6.
    *
    * Scale shape: one events pass → value cells; ONE two-phase descending
    * range-partitioned prefix over cells (both measures share the
    * shuffle); the 10 boundary rows broadcast-join
    * the cell frame (range predicate on metadata). Output: 10 rows. */
  val q245GainsLift: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |cell AS (
      |  SELECT c, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev GROUP BY 1),
      |w AS (
      |  SELECT c, cnt, k,
      |    CAST(sum(cnt) OVER (ORDER BY c DESC) AS BIGINT) AS cum,
      |    CAST(sum(k) OVER (ORDER BY c DESC) AS BIGINT) AS cumk
      |  FROM cell),
      |tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS kt
      |  FROM cell),
      |b AS (
      |  SELECT i.i AS decile, (i.i * tot.n) // 10 AS pos, tot.n, tot.kt
      |  FROM (SELECT unnest(range(1, 11)) AS i) i CROSS JOIN tot),
      |g AS (
      |  SELECT b.decile, b.pos, w.cum AS eff_n, w.cumk AS captured_k,
      |    b.n, b.kt
      |  FROM b JOIN w ON w.cum - w.cnt < b.pos AND b.pos <= w.cum)
      |SELECT CAST(decile AS BIGINT) AS decile, CAST(pos AS BIGINT) AS pos,
      |  eff_n, captured_k,
      |  CASE WHEN kt = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(captured_k AS DOUBLE) / kt) * 1000000 + 0.5)
      |      / 1000000 END AS capture_rate,
      |  CASE WHEN kt = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(((CAST(captured_k AS DOUBLE) / eff_n)
      |      / (CAST(kt AS DOUBLE) / n)) * 1000000 + 0.5) / 1000000 END
      |    AS lift
      |FROM g""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).cast("long").as("k"))
      .cache() // one events pass; prefix walk and totals reuse it
    // two-phase descending prefix (the q231 idiom), both measures in
    // ONE range shuffle
    val w = AnalyticsOps2.groupedPrefixSums(cell, Seq.empty,
      Seq(col("c").desc),
      Seq((col("cnt"), "cum", None), (col("k"), "cumk", None)))
    val tot = cell.agg(sum(col("cnt")).cast("long").as("n"),
      sum(col("k")).cast("long").as("kt"))
    val b = tot.select(explode(sequence(lit(1), lit(10))).as("decile"),
      col("n"), col("kt"))
      .withColumn("pos", expr("(decile * n) div 10"))
    w.join(broadcast(b),
      col("cum") - col("cnt") < col("pos") && col("pos") <= col("cum"))
      .select(col("decile").cast("long").as("decile"),
        col("pos").cast("long").as("pos"),
        col("cum").as("eff_n"), col("cumk").as("captured_k"),
        when(col("kt") === 0, lit(0.0))
          .otherwise(floor((col("cumk").cast("double") / col("kt"))
            * 1000000L + 0.5) / 1000000L).as("capture_rate"),
        when(col("kt") === 0, lit(0.0))
          .otherwise(floor(((col("cumk").cast("double") / col("cum"))
            / (col("kt").cast("double") / col("n"))) * 1000000L + 0.5)
            / 1000000L).as("lift"))
  }

  /** Cochran-Armitage trend test: is the purchase rate MONOTONE in
    * the value score, tested across q221's 20 ordered equal-width
    * bins (doses 0..19)? The trend question beside q232 (any level
    * difference, unordered) and q192's Mann-Kendall (trend in a time
    * series): a significant z here justifies using the score as a
    * RANKER at all — the precondition for q231/q245 readings.
    *
    * Exactness: all four sufficient statistics (Σwn, Σw²n, Σwk, K, N)
    * are exact integer sums over the ≤20-bin frame; cross products
    * N·Σwk, K·Σwn, (Σwn)² run in decimal(38,0)/HUGEINT (they reach
    * N² — int64 dies at ~3e9 events); z is one double chain floored
    * 1e-6. Zero variance (single bin, or p̄ ∈ {0,1}) degrades to
    * z = 0 — which includes the r = 0 degenerate score range.
    *
    * Scale shape: q221's binning — one min/max pass, one ≤20-cell
    * aggregate, one metadata rollup. Output: one row. */
  val q246CochranArmitage: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |mm AS (
      |  SELECT min(c) AS m, max(c) - min(c) AS r FROM ev),
      |cell AS (
      |  SELECT least(19, CASE WHEN r = 0 THEN 0
      |                        ELSE ((c - m) * 20) // r END) AS w,
      |    count(*) AS n, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev CROSS JOIN mm GROUP BY 1),
      |s AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk,
      |    CAST(sum(w * n) AS BIGINT) AS swn,
      |    CAST(sum(w * w * n) AS BIGINT) AS swwn,
      |    CAST(sum(w * k) AS BIGINT) AS swk
      |  FROM cell)
      |SELECT nn AS n_events, kk AS n_pos,
      |  CASE WHEN kk = 0 OR kk = nn
      |    OR CAST(nn AS HUGEINT) * swwn = CAST(swn AS HUGEINT) * swn
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor((
      |      CAST(CAST(nn AS HUGEINT) * swk
      |        - CAST(kk AS HUGEINT) * swn AS DOUBLE)
      |      / sqrt((CAST(kk AS DOUBLE) * (nn - kk))
      |        * CAST(CAST(nn AS HUGEINT) * swwn
      |            - CAST(swn AS HUGEINT) * swn AS DOUBLE) / nn))
      |      * 1000000 + 0.5) / 1000000 END AS z_trend
      |FROM s""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .cache() // one events materialization feeds min/max and the bins
    val mm = ev.agg(min(col("c")).as("m"),
      (max(col("c")) - min(col("c"))).as("r"))
    val cell = ev.crossJoin(broadcast(mm))
      .groupBy(least(lit(19),
        when(col("r") === 0, lit(0L))
          .otherwise(expr("((c - m) * 20) div r"))).as("w"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"))
    val st = cell.agg(sum(col("n")).cast("long").as("nn"),
      sum(col("k")).cast("long").as("kk"),
      sum(col("w") * col("n")).cast("long").as("swn"),
      sum(col("w") * col("w") * col("n")).cast("long").as("swwn"),
      sum(col("w") * col("k")).cast("long").as("swk"))
    val num = (dec(col("nn")) * col("swk")
      - dec(col("kk")) * col("swn")).cast("double")
    val varTerm = (col("kk").cast("double") * (col("nn") - col("kk"))) *
      (dec(col("nn")) * col("swwn") - dec(col("swn")) * col("swn"))
        .cast("double") / col("nn")
    st.select(col("nn").as("n_events"), col("kk").as("n_pos"),
      when(col("kk") === 0 || col("kk") === col("nn")
        || dec(col("nn")) * col("swwn") === dec(col("swn")) * col("swn"),
        lit(0.0))
        .otherwise(floor(num / sqrt(varTerm) * 1000000L + 0.5) / 1000000L)
        .as("z_trend"))
  }

  /** Youden-J optimal threshold: the cut on the value score that
    * maximizes TPR − FPR for predicting purchases — q244 reports the
    * panel AT a fixed (median) cut; this SEARCHES every candidate cut
    * in one pass and returns the best operating point, the number a
    * deployment actually sets. Ties on the quantized J break toward
    * the LOWEST threshold (the more sensitive cut), stated.
    *
    * Exactness: candidate thresholds are exactly the distinct score
    * values; TP/FP at each come from the exact two-phase prefix
    * (exclusive counts below the cut); TPR, FPR, J are one double
    * chain per cell quantized 1e-9 BEFORE the arg-max, so the winner
    * is deterministic. Degenerate labels (no positives or no
    * negatives — J undefined) yield an EMPTY result in both engines
    * rather than a fabricated row.
    *
    * Scale shape: one events pass → value cells → ONE two-phase
    * ascending prefix (the q229 idiom) → per-cell chains →
    * TakeOrdered(1). Never a global sort. */
  val q247YoudenThreshold: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |cell AS (
      |  SELECT c, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev GROUP BY 1),
      |w AS (
      |  SELECT c, cnt, k,
      |    CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) - cnt AS below_n,
      |    CAST(sum(k) OVER (ORDER BY c) AS BIGINT) - k AS below_k,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n,
      |    CAST(sum(k) OVER () AS BIGINT) AS kt
      |  FROM cell),
      |j AS (
      |  SELECT c,
      |    CAST(floor(((CAST(kt - below_k AS DOUBLE) / kt)
      |      - (CAST(n - kt - (below_n - below_k) AS DOUBLE) / (n - kt)))
      |      * 1000000000 + 0.5) AS BIGINT) AS j9,
      |    kt - below_k AS tp, n - kt - (below_n - below_k) AS fp, kt, n
      |  FROM w WHERE kt > 0 AND kt < n)
      |SELECT c AS threshold_cents,
      |  floor((CAST(tp AS DOUBLE) / kt) * 1000000 + 0.5) / 1000000 AS tpr,
      |  floor((CAST(fp AS DOUBLE) / (n - kt)) * 1000000 + 0.5) / 1000000
      |    AS fpr,
      |  CAST(j9 AS DOUBLE) / 1000000000 AS youden_j
      |FROM j ORDER BY j9 DESC, c LIMIT 1""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).cast("long").as("k"))
      .cache() // one events pass; prefix and totals reuse the cells
    val w0 = AnalyticsOps2.groupedPrefixSums(cell, Seq.empty,
      Seq(col("c")),
      Seq((col("cnt"), "cum", Some("n")), (col("k"), "cumk", Some("kt"))))
    val w = w0
      .withColumn("below_n", col("cum") - col("cnt"))
      .withColumn("below_k", col("cumk") - col("k"))
    val tp = col("kt") - col("below_k")
    val fp = col("n") - col("kt") - (col("below_n") - col("below_k"))
    val j = w.filter(col("kt") > 0 && col("kt") < col("n"))
      .select(col("c"),
        floor(((tp.cast("double") / col("kt"))
          - (fp.cast("double") / (col("n") - col("kt"))))
          * 1000000000L + 0.5).cast("long").as("j9"),
        tp.as("tp"), fp.as("fp"), col("kt"), col("n"))
    j.orderBy(col("j9").desc, col("c")).limit(1)
      .select(col("c").as("threshold_cents"),
        (floor((col("tp").cast("double") / col("kt")) * 1000000L + 0.5)
          / 1000000L).as("tpr"),
        (floor((col("fp").cast("double") / (col("n") - col("kt")))
          * 1000000L + 0.5) / 1000000L).as("fpr"),
        (col("j9").cast("double") / 1000000000L).as("youden_j"))
  }

  val all: Map[String, QueryDef] = Map(
    "q242_calibration_error" -> q242CalibrationError,
    "q243_sprt" -> q243Sprt,
    "q244_confusion_panel" -> q244ConfusionPanel,
    "q245_gains_lift" -> q245GainsLift,
    "q246_cochran_armitage" -> q246CochranArmitage,
    "q247_youden_threshold" -> q247YoudenThreshold)
}
