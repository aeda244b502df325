package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, epochDay}

/** Round-9 analytics tranche, part two: experiment readouts and
  * monitoring statistics whose 100 TB shape is "one user-keyed or
  * day-keyed aggregate, then metadata" — the class where the only
  * scale hazard is sneaking a second data pass or an unpartitioned
  * window into what should be pure rollup algebra.
  *
  * Cross-engine conventions as AnalyticsOps5: cents-exact money,
  * epoch-µs int64 time, exact integer moments with the final
  * divisions done once in IEEE double and rounded (1e-6 outputs,
  * 1e-9 for the reused regression slope), identical expression trees
  * on both engines.
  */
object AnalyticsOps6 {

  /** 2024-01-16 00:00 UTC in epoch-µs: the fixed pre/post boundary
    * splitting the 30-day event window in half. */
  private val PreEnd = 1705363200000000L

  /** CUPED-adjusted A/B readout — the variance-reduction layer on top
    * of q104's plain two-proportion test: per-user post-period spend
    * is adjusted by the pre-period covariate (theta = pooled
    * cov(X,Y)/var(X)), which shrinks metric variance by exactly the
    * squared pre/post correlation and is the standard way large
    * experiment platforms cut required sample size. Variant
    * assignment is the deterministic 60-bit md5 user hash mod 2
    * (reproducible anywhere); users with no pre-period activity
    * carry X = 0 (the zero-imputation convention).
    *
    * Scale shape: ONE user-keyed aggregate (map-side partial) builds
    * (x, y) per user; every statistic after that is moment algebra —
    * a 2-row variant rollup plus a 1-row pooled moment frame joined
    * back by broadcast. No second data pass, no windows. The moment
    * cross-products (n·Σxy − ΣxΣy etc.) are computed EXACTLY —
    * int64 per-user products summed into decimal(38,0)/HUGEINT (the
    * sums cross 2^63 at sf100-class user counts; q175's sgg
    * convention), cross-multiplied in decimal(38,0) (DuckDB: int128)
    * — so both engines cast the SAME
    * integer to double before the one theta division; theta is
    * rounded at 1e-9 before reuse, final columns at 1e-6.
    * var_reduction = corr²(x, y) — the fraction of metric variance
    * CUPED removes. */
  val q172Cuped: QueryDef = QueryDef.withOracle(
    s"""WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |    sum(CASE WHEN t < $PreEnd THEN cents ELSE 0 END) AS x,
      |    sum(CASE WHEN t >= $PreEnd THEN cents ELSE 0 END) AS y
      |  FROM e GROUP BY 1),
      |p AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM u),
      |th AS (
      |  SELECT n, sx,
      |    CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)
      |      ELSE floor((CAST(n * sxy - sx * sy AS DOUBLE)
      |        / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000000 + 0.5)
      |        / 1000000000 END AS theta,
      |    CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
      |      THEN CAST(0 AS DOUBLE)
      |      ELSE floor(((CAST(n * sxy - sx * sy AS DOUBLE)
      |          * CAST(n * sxy - sx * sy AS DOUBLE))
      |        / (CAST(n * sxx - sx * sx AS DOUBLE)
      |          * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000 + 0.5)
      |        / 1000000 END AS var_reduction
      |  FROM p),
      |v AS (
      |  SELECT CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
      |      1, 15))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
      |    count(*) AS nv, sum(x) AS sxv, sum(y) AS syv
      |  FROM u GROUP BY 1)
      |SELECT variant, nv AS n_users,
      |  floor((CAST(syv AS DOUBLE) / nv) * 1000000 + 0.5) / 1000000
      |    AS mean_y,
      |  floor(((CAST(syv AS DOUBLE) / nv) - theta
      |    * ((CAST(sxv AS DOUBLE) / nv) - (CAST(sx AS DOUBLE) / n)))
      |    * 1000000 + 0.5) / 1000000 AS mean_y_adj,
      |  theta, var_reduction
      |FROM v CROSS JOIN th""".stripMargin
  ) { (s, d) =>
    val perUser = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("t") < PreEnd, col("cents")).otherwise(0L)).as("x"),
        sum(when(col("t") >= PreEnd, col("cents")).otherwise(0L)).as("y"))
    // moment sums accumulate in decimal(38,0) (DuckDB: HUGEINT) — the
    // per-user cents products are ~1e12-1e14 and their SUM crosses 2^63
    // at sf100-class user counts; int64 accumulation would ANSI-throw
    // (the q175 sgg convention)
    val pooled = perUser.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("y")) * col("y")).as("syy"))
      .select(col("n"), col("sx"),
        (dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy")))
          .cast("double").as("numd"),
        (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
          .cast("double").as("dend"),
        (dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy")))
          .cast("double").as("denyd"))
      .select(col("n"), col("sx"),
        // zero covariate variance (e.g. a window with no pre-period
        // activity at all): CUPED degrades to the unadjusted readout
        when(col("dend") === 0, lit(0.0))
          .otherwise(floor((col("numd") / col("dend")) * 1000000000 + 0.5)
            / 1000000000).as("theta"),
        when(col("dend") === 0 || col("denyd") === 0, lit(0.0))
          .otherwise(floor(((col("numd") * col("numd")) /
            (col("dend") * col("denyd"))) * 1000000 + 0.5) / 1000000)
          .as("var_reduction"))
    val variant = expr("CASE WHEN CAST(conv(substring(md5(CAST(user_id " +
      "AS STRING)), 1, 15), 16, 10) AS BIGINT) % 2 = 0 " +
      "THEN 'A' ELSE 'B' END")
    perUser.groupBy(variant.as("variant"))
      .agg(count(lit(1)).as("nv"), sum(col("x")).as("sxv"),
        sum(col("y")).as("syv"))
      .crossJoin(broadcast(pooled))
      .select(col("variant"), col("nv").as("n_users"),
        (floor((col("syv").cast("double") / col("nv")) * 1000000 + 0.5)
          / 1000000).as("mean_y"),
        (floor(((col("syv").cast("double") / col("nv")) - col("theta") *
          ((col("sxv").cast("double") / col("nv")) -
            (col("sx").cast("double") / col("n")))) * 1000000 + 0.5)
          / 1000000).as("mean_y_adj"),
        col("theta"), col("var_reduction"))
  }

  /** CUSUM level-shift detection on daily per-type event volume — the
    * pipeline-monitoring statistic that flags WHEN a volume regime
    * changed, complementing q123's seasonal residual anomalies (which
    * day is odd) and q153's KS drift (whether two distributions
    * differ) with the classic cumulative-sum changepoint locator.
    * S_k = Σ_{i≤k} (c_i − mean) peaks at the most likely shift
    * point; kept EXACT by scaling through the day count
    * (S'_k = n_days·S_k = Σ n_days·c_i − k·total — pure int64, no
    * mean division), so the argmax is integer-deterministic;
    * `cusum_norm` = max|S'| / (n_days·total) is the one rounded
    * IEEE division (0 = flat, → 1 = extreme shift).
    *
    * Scale shape: ONE (type, day)-keyed count — partial+final hash
    * aggregate, the only data pass — collapses any event volume to a
    * ≤ |types|·|days| frame; the frame is cached and every window
    * (per-type totals, the running S'_k, the argmax rank) runs on
    * that metadata, partitioned by event_type. Ties on |S'| break to
    * the earliest day on both engines. */
  val q173CusumChangepoint: QueryDef = QueryDef.withOracle(
    """WITH daily AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
      |      AS day, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, day, c,
      |    count(*) OVER (PARTITION BY event_type) AS n_days,
      |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM daily),
      |cu AS (
      |  SELECT event_type, day, n_days, total,
      |    CAST(abs(sum(n_days * c - total) OVER (PARTITION BY event_type
      |      ORDER BY day)) AS BIGINT) AS abs_s
      |  FROM st),
      |rk AS (
      |  SELECT event_type, day, n_days, total, abs_s,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs_s DESC, day) AS rn
      |  FROM cu)
      |SELECT event_type, n_days, total, day AS cp_day,
      |  abs_s AS max_abs_cusum,
      |  floor((CAST(abs_s AS DOUBLE) / (n_days * total)) * 1000000 + 0.5)
      |    / 1000000 AS cusum_norm
      |FROM rk WHERE rn = 1""".stripMargin
  ) { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("t"))
      .withColumn("day", epochDay(col("t")))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
      .cache() // metadata-sized: ≤ |types| · |days| rows
    val byType = Window.partitionBy(col("event_type"))
    val cum = daily
      .withColumn("n_days", count(lit(1)).over(byType))
      .withColumn("total", sum(col("c")).over(byType))
      .withColumn("abs_s", abs(sum(col("n_days") * col("c") - col("total"))
        .over(byType.orderBy(col("day")))))
    cum
      .withColumn("rn", row_number().over(
        byType.orderBy(col("abs_s").desc, col("day"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_days"), col("total"),
        col("day").as("cp_day"), col("abs_s").as("max_abs_cusum"),
        (floor((col("abs_s").cast("double") /
          (col("n_days") * col("total"))) * 1000000 + 0.5) / 1000000)
          .as("cusum_norm"))
  }

  /** Top-20 burstiest users by the inter-arrival burstiness index
    * B = (σ−μ)/(σ+μ) of their event gaps (Goh & Barabási's
    * point-process statistic: −1 = metronome, 0 = Poisson, → 1 =
    * extreme bursts) — the behavioral screen that separates bots and
    * scripted traffic (B near −1 or with near-zero gaps) from human
    * sessions (bursty, B > 0).
    *
    * Scale shape: gaps are ONE user-keyed lag window (user
    * cardinality parallelism — the q155 posture); per-user moments
    * are exact integers (Σg in int64; Σg² crosses 2⁶³ for month-long
    * µs gaps, so it accumulates in decimal(38,0)/int128 — both
    * engines then cast the SAME integer to double for the one σ
    * computation; IEEE sqrt is exactly rounded, so σ is
    * deterministic). The top-20 pick is TakeOrdered on (B desc,
    * user_id) — never a global sort. Users need ≥ 3 events (2 gaps)
    * for a defined σ. */
  val q175Burstiness: QueryDef = QueryDef.withOracle(
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
      |g AS (
      |  SELECT user_id,
      |    t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
      |      AS gap
      |  FROM e),
      |m AS (
      |  SELECT user_id, count(*) AS m, sum(gap) AS sg,
      |    sum(CAST(gap AS HUGEINT) * gap) AS sgg
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING count(*) >= 2),
      |b AS (
      |  SELECT user_id, m AS n_gaps,
      |    floor((CAST(sg AS DOUBLE) / m) * 1000000 + 0.5) / 1000000
      |      AS mean_gap_us,
      |    CASE WHEN sg = 0 THEN CAST(-1 AS DOUBLE)
      |    ELSE
      |    floor(((sqrt(CAST(m * sgg - CAST(sg AS HUGEINT) * sg AS DOUBLE))
      |        / m - CAST(sg AS DOUBLE) / m)
      |      / (sqrt(CAST(m * sgg - CAST(sg AS HUGEINT) * sg AS DOUBLE))
      |        / m + CAST(sg AS DOUBLE) / m)) * 1000000 + 0.5) / 1000000
      |    END AS b_index
      |  FROM m)
      |SELECT user_id, n_gaps, mean_gap_us, b_index
      |FROM b ORDER BY b_index DESC, user_id LIMIT 20""".stripMargin
  ) { (s, d) =>
    val gaps = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("t"), col("event_id"))))
      .filter(col("gap").isNotNull)
    val m = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("m"), sum(col("gap")).as("sg"),
        sum(col("gap").cast("decimal(38,0)") * col("gap")).as("sgg"))
      .filter(col("m") >= 2)
    // σ·m = sqrt(m·Σg² − (Σg)²) exactly once; μ = Σg/m — identical
    // expression trees on both engines, sqrt is IEEE-exact
    val varNum = (col("m").cast("decimal(38,0)") * col("sgg") -
      col("sg").cast("decimal(38,0)") * col("sg").cast("decimal(38,0)"))
      .cast("double")
    val sigmaOverM = sqrt(varNum) / col("m")
    val mu = col("sg").cast("double") / col("m")
    m.select(col("user_id"), col("m").as("n_gaps"),
        (floor((col("sg").cast("double") / col("m")) * 1000000 + 0.5)
          / 1000000).as("mean_gap_us"),
        // all-zero gaps (a burst of events on one timestamp — the
        // exact bot class this screens for): σ = μ = 0 makes B 0/0;
        // the metronome limit (σ = 0, μ → 0⁺) is −1, so report that
        when(col("sg") === 0, lit(-1.0))
          .otherwise(floor(((sigmaOverM - mu) / (sigmaOverM + mu))
            * 1000000 + 0.5) / 1000000).as("b_index"))
      .orderBy(col("b_index").desc, col("user_id")).limit(20)
  }

  /** Split-conformal prediction intervals on event value per type —
    * the distribution-free uncertainty layer a model-scoring pipeline
    * ships with: calibration half (pre-period) sets the 90% residual
    * quantile around the calibration mean; the eval half reports the
    * achieved coverage (guaranteed ≥ 90% in expectation by
    * exchangeability, no distributional assumption).
    *
    * Exactness: everything is INTEGER until the last two divisions —
    * residuals are scaled through the calibration count
    * (r = |n·y − S| avoids the mean division), the conformal rank is
    * k = ⌈0.9(n+1)⌉ via integer ceil-div, and the eval-side coverage
    * test compares the same scaled integers. The k-th smallest
    * residual rides the GROUPED two-phase prefix over the COLLAPSED
    * (type, r) cell frame, not raw rows (the q187/q166 argument: r is
    * a pure function of cents given the per-type (n, S) constants, so
    * equal-r rows are contiguous under the oracle's (r, event_id)
    * tiebreak and the rank-k VALUE is the unique r run whose
    * cumulative count straddles k — the row-level tiebreak can't
    * change the selected value). ONE raw pass builds the (type,
    * cents) count; the prefix sorts value-cardinality cells, which at
    * sf100 replaces the spill-bound range sort of the raw calibration
    * rows (the q166 5.3× move). The oracle keeps the row-level rank
    * form. */
  val q176ConformalInterval: QueryDef = QueryDef.withOracle(
    s"""WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS t,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |cal AS (SELECT * FROM e WHERE t < $PreEnd),
      |cs AS (
      |  SELECT event_type, count(*) AS n, sum(cents) AS s,
      |    (9 * (count(*) + 1) + 9) // 10 AS k
      |  FROM cal GROUP BY 1),
      |cr AS (
      |  SELECT cal.event_type,
      |    abs(cs.n * cal.cents - cs.s) AS r, cal.event_id,
      |    row_number() OVER (PARTITION BY cal.event_type
      |      ORDER BY abs(cs.n * cal.cents - cs.s), cal.event_id) AS rn
      |  FROM cal JOIN cs USING (event_type)),
      |qh AS (
      |  SELECT cr.event_type, cr.r AS qhat
      |  FROM cr JOIN cs ON cs.event_type = cr.event_type
      |    AND cr.rn = cs.k),
      |ev AS (
      |  SELECT e.event_type, count(*) AS n_eval,
      |    sum(CASE WHEN abs(cs.n * e.cents - cs.s) <= qh.qhat
      |      THEN 1 ELSE 0 END) AS covered
      |  FROM e JOIN cs USING (event_type) JOIN qh USING (event_type)
      |  WHERE e.t >= $PreEnd GROUP BY 1)
      |SELECT ev.event_type, cs.n AS n_cal, ev.n_eval,
      |  floor((CAST(qh.qhat AS DOUBLE) / cs.n) * 1000000 + 0.5) / 1000000
      |    AS qhat_cents,
      |  floor((CAST(ev.covered AS DOUBLE) / ev.n_eval) * 1000000 + 0.5)
      |    / 1000000 AS coverage
      |FROM ev JOIN cs USING (event_type) JOIN qh USING (event_type)""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"), col("event_id"),
      unix_micros(col("ts")).as("t"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val cal = e.filter(col("t") < PreEnd)
    val cs = cal.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .withColumn("k", expr("(9 * (n + 1) + 9) div 10"))
    // cells, not rows: ONE (type, cents) count bounds the exchange by
    // value cardinality; symmetric cents values that map to the same r
    // merge in a second metadata-sized agg
    val rcells = cal.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(cs), Seq("event_type"))
      .select(col("event_type"),
        abs(col("n") * col("cents") - col("s")).as("r"), col("cnt"))
      .groupBy(col("event_type"), col("r"))
      .agg(sum(col("cnt")).as("cnt"))
    val ranked = AnalyticsOps2.groupedPrefixSums(rcells,
      Seq("event_type"), Seq(col("r")), Seq((col("cnt"), "cum", None)))
    val qh = ranked.join(broadcast(cs.select(col("event_type"), col("k"))),
        Seq("event_type"))
      .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("event_type"), col("r").as("qhat"))
    val evd = e.filter(col("t") >= PreEnd)
      .join(broadcast(cs.select(col("event_type"), col("n"), col("s"))),
        Seq("event_type"))
      .join(broadcast(qh), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(abs(col("n") * col("cents") - col("s")) <= col("qhat"),
          1L).otherwise(0L)).as("covered"))
    evd.join(broadcast(cs.select(col("event_type"), col("n"))),
        Seq("event_type"))
      .join(broadcast(qh), Seq("event_type"))
      .select(col("event_type"), col("n").as("n_cal"), col("n_eval"),
        (floor((col("qhat").cast("double") / col("n")) * 1000000 + 0.5)
          / 1000000).as("qhat_cents"),
        (floor((col("covered").cast("double") / col("n_eval")) * 1000000
          + 0.5) / 1000000).as("coverage"))
  }

  /** Self-join fan-out audit on events.user_id — the "why did my join
    * explode" diagnostic a 100 TB pipeline runs BEFORE a user-keyed
    * self-join (sessions × sessions, interactions × interactions):
    * each key's output contribution is n², so one hot key owns the
    * job. Reports the top-10 keys by output rows with their share of
    * the total — exactly the numbers that decide whether to salt
    * (q73's lever) or cap. On the adversarial-skew replica the
    * planted 1%-of-events user shows up owning ~99% of the would-be
    * output; on benign data shares are ~uniform.
    *
    * Scale shape: ONE user-keyed count (map-side partial) collapses
    * the events to per-key cardinalities; n² and the Σn² total are
    * exact integer algebra on that frame (the total accumulates in
    * decimal(38,0)/int128 — n² terms near 2⁶² must not wrap the
    * sum); top-10 is TakeOrdered. The join itself is never run. */
  val q180JoinSkewAudit: QueryDef = QueryDef.withOracle(
    """WITH k AS (
      |  SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      |o AS (SELECT user_id, n, n * n AS out_rows FROM k),
      |t AS (SELECT sum(CAST(n AS HUGEINT) * n) AS total FROM k)
      |SELECT user_id, n, out_rows,
      |  floor((CAST(out_rows AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000
      |    + 0.5) / 1000000 AS out_share
      |FROM o CROSS JOIN t
      |ORDER BY out_rows DESC, user_id LIMIT 10""".stripMargin
  ) { (s, d) =>
    val k = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    val t = k.agg(sum(col("n").cast("decimal(38,0)") * col("n"))
      .as("total"))
    k.select(col("user_id"), col("n"), (col("n") * col("n")).as("out_rows"))
      .crossJoin(broadcast(t))
      .select(col("user_id"), col("n"), col("out_rows"),
        (floor((col("out_rows").cast("double") /
          col("total").cast("double")) * 1000000 + 0.5) / 1000000)
          .as("out_share"))
      .orderBy(col("out_rows").desc, col("user_id")).limit(10)
  }

  /** Kaplan–Meier survival curve for time-to-first-purchase after
    * first signup — the right-censored statistic behind every
    * "conversion by day N" readout (q93's retention counts users who
    * DID convert; KM also credits the ones still at risk, which is
    * the unbiased read when the observation window cuts cohorts
    * short). Censoring time is the data's own horizon (global max
    * event day).
    *
    * Exactness discipline: risk sets and event counts are exact
    * integers on a ≤ |days|-row frame (suffix sums over the
    * metadata-sized day dimension); the survival product folds as
    * fixed-point ln terms (each ln(1 − d/n) quantized at 1e-9,
    * summed as int64 — the parity convention for float folds), and
    * the final exp is rounded at 1e-6.
    *
    * Scale shape: TWO user-keyed aggregates fused into one pass
    * (min signup ts, min eligible purchase ts via conditional min),
    * then everything runs on the day-offset rollup. */
  val q183KmSurvival: QueryDef = QueryDef.withOracle(
    """WITH u AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s,
      |    max(epoch_us(ts)) AS last_seen
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS p
      |  FROM events e JOIN u ON u.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= u.s
      |  GROUP BY 1),
      |hz AS (SELECT max(epoch_us(ts)) AS horizon FROM events),
      |c AS (
      |  SELECT u.user_id,
      |    CASE WHEN p.p IS NOT NULL
      |      THEN (p.p - p.p % 86400000000) // 86400000000
      |        - (u.s - u.s % 86400000000) // 86400000000 END AS d,
      |    (hz.horizon - hz.horizon % 86400000000) // 86400000000
      |      - (u.s - u.s % 86400000000) // 86400000000 AS cens
      |  FROM u CROSS JOIN hz LEFT JOIN p ON p.user_id = u.user_id
      |  WHERE u.s IS NOT NULL),
      |days AS (
      |  SELECT d AS t, count(*) AS n_events FROM c
      |  WHERE d IS NOT NULL GROUP BY 1),
      |risk AS (
      |  SELECT days.t, days.n_events,
      |    (SELECT count(*) FROM c WHERE (c.d IS NOT NULL AND c.d >= days.t)
      |      OR (c.d IS NULL AND c.cens >= days.t)) AS n_risk
      |  FROM days),
      |km AS (
      |  SELECT t, n_events, n_risk,
      |    sum(CASE WHEN n_events < n_risk
      |      THEN CAST(floor(ln(CAST(1 AS DOUBLE)
      |        - CAST(n_events AS DOUBLE) / n_risk) * 1000000000 + 0.5)
      |        AS BIGINT) ELSE 0 END) OVER (ORDER BY t) AS lsum_fp,
      |    max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY t) AS hit_zero
      |  FROM risk)
      |SELECT t AS day_offset, n_risk, n_events,
      |  CASE WHEN hit_zero = 1 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(exp(CAST(lsum_fp AS DOUBLE) / 1000000000) * 1000000
      |      + 0.5) / 1000000 END AS survival
      |FROM km""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("t"))
    val day = (c: Column) => epochDay(c)
    val u = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("t"))).as("s"))
      .filter(col("s").isNotNull)
    val p = ev.filter(col("event_type") === "purchase")
      .join(u, Seq("user_id"))
      .filter(col("t") >= col("s"))
      .groupBy(col("user_id")).agg(min(col("t")).as("p"))
    val hz = ev.agg(max(col("t")).as("horizon"))
    val c = u.join(p, Seq("user_id"), "left").crossJoin(broadcast(hz))
      .select((day(col("p")) - day(col("s"))).as("d"),
        (day(col("horizon")) - day(col("s"))).as("cens"))
      .cache() // one row per signup user; consumed by days + risk
    val days = c.filter(col("d").isNotNull)
      .groupBy(col("d").as("t")).agg(count(lit(1)).as("n_events"))
    // risk set via a broadcast inequality join on the <= |days|-row
    // day dimension (metadata x users, then one aggregate)
    val risk = c.crossJoin(broadcast(days))
      .filter((col("d").isNotNull && col("d") >= col("t")) ||
        (col("d").isNull && col("cens") >= col("t")))
      .groupBy(col("t"), col("n_events"))
      .agg(count(lit(1)).as("n_risk"))
    val byT = Window.orderBy(col("t")) // <= |days| rows: metadata
    risk
      .withColumn("lsum_fp", sum(when(col("n_events") < col("n_risk"),
        floor(log(lit(1.0) - col("n_events").cast("double") /
          col("n_risk")) * 1000000000 + 0.5).cast("long"))
        .otherwise(0L)).over(byT))
      .withColumn("hit_zero", max(when(col("n_events") === col("n_risk"),
        1).otherwise(0)).over(byT))
      .select(col("t").as("day_offset"), col("n_risk"), col("n_events"),
        when(col("hit_zero") === 1, lit(0.0))
          .otherwise(floor(exp(col("lsum_fp").cast("double") / 1000000000)
            * 1000000 + 0.5) / 1000000).as("survival"))
  }

  /** Mutual information between event_type and hour-of-day — the
    * feature-relevance screen (does WHEN depend on WHAT?) computed
    * exactly from one contingency rollup: MI and both entropies in
    * nats, plus the normalized coefficient MI / min(H_x, H_y).
    *
    * Scale shape: ONE (type, hour) partial+final count (≤ |types|·24
    * cells); margins, entropies, and the MI fold all run on that
    * metadata frame. Float discipline: each cell's ln term quantizes
    * at 1e-9 fixed point before the int64 sum (order-free), finals
    * round at 1e-6. */
  val q184MutualInfo: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT event_type AS x,
      |    (epoch_us(ts) % 86400000000) // 3600000000 AS y, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |mx AS (SELECT x, sum(n) AS nx FROM cell GROUP BY 1),
      |my AS (SELECT y, sum(n) AS ny FROM cell GROUP BY 1),
      |tot AS (SELECT sum(n) AS nn FROM cell),
      |mi AS (
      |  SELECT sum(CAST(floor((CAST(cell.n AS DOUBLE) / nn)
      |    * ln((CAST(cell.n AS DOUBLE) * nn)
      |      / (CAST(mx.nx AS DOUBLE) * my.ny)) * 1000000000 + 0.5)
      |    AS BIGINT)) AS mi_fp
      |  FROM cell JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
      |hx AS (
      |  SELECT sum(CAST(floor(-(CAST(nx AS DOUBLE) / nn)
      |    * ln(CAST(nx AS DOUBLE) / nn) * 1000000000 + 0.5) AS BIGINT))
      |    AS hx_fp
      |  FROM mx CROSS JOIN tot),
      |hy AS (
      |  SELECT sum(CAST(floor(-(CAST(ny AS DOUBLE) / nn)
      |    * ln(CAST(ny AS DOUBLE) / nn) * 1000000000 + 0.5) AS BIGINT))
      |    AS hy_fp
      |  FROM my CROSS JOIN tot)
      |SELECT
      |  floor(CAST(mi_fp AS DOUBLE) / 1000 + 0.5) / 1000000 AS mi_nats,
      |  floor(CAST(hx_fp AS DOUBLE) / 1000 + 0.5) / 1000000 AS h_type,
      |  floor(CAST(hy_fp AS DOUBLE) / 1000 + 0.5) / 1000000 AS h_hour,
      |  CASE WHEN least(hx_fp, hy_fp) = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(mi_fp AS DOUBLE) / least(hx_fp, hy_fp))
      |      * 1000000 + 0.5) / 1000000 END AS nmi
      |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(col("event_type").as("x"),
        expr("pmod(unix_micros(ts), 86400000000) div 3600000000").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
      .cache() // <= |types| * 24 cells
    val mx = cell.groupBy(col("x")).agg(sum(col("n")).as("nx"))
    val my = cell.groupBy(col("y")).agg(sum(col("n")).as("ny"))
    val tot = cell.agg(sum(col("n")).as("nn"))
    val mi = cell.join(broadcast(mx), Seq("x")).join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(tot))
      .agg(sum(floor((col("n").cast("double") / col("nn")) *
        log((col("n").cast("double") * col("nn")) /
          (col("nx").cast("double") * col("ny"))) * 1000000000 + 0.5)
        .cast("long")).as("mi_fp"))
    val hx = mx.crossJoin(broadcast(tot))
      .agg(sum(floor(-(col("nx").cast("double") / col("nn")) *
        log(col("nx").cast("double") / col("nn")) * 1000000000 + 0.5)
        .cast("long")).as("hx_fp"))
    val hy = my.crossJoin(broadcast(tot))
      .agg(sum(floor(-(col("ny").cast("double") / col("nn")) *
        log(col("ny").cast("double") / col("nn")) * 1000000000 + 0.5)
        .cast("long")).as("hy_fp"))
    mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(
        (floor(col("mi_fp").cast("double") / 1000 + 0.5) / 1000000)
          .as("mi_nats"),
        (floor(col("hx_fp").cast("double") / 1000 + 0.5) / 1000000)
          .as("h_type"),
        (floor(col("hy_fp").cast("double") / 1000 + 0.5) / 1000000)
          .as("h_hour"),
        // a constant margin (single type, or all events in one hour)
        // has zero entropy: MI is 0 too, so define nmi = 0
        when(least(col("hx_fp"), col("hy_fp")) === 0, lit(0.0))
          .otherwise(floor((col("mi_fp").cast("double") /
            least(col("hx_fp"), col("hy_fp"))) * 1000000 + 0.5) / 1000000)
          .as("nmi"))
  }

  /** Autocorrelation of daily event volume at lags 1–7, per type —
    * the seasonality detector that decides whether q123's weekly
    * baseline model is even the right shape (a strong lag-7 spike =
    * weekly rhythm; lag-1 dominance = momentum/trend). Pearson r at
    * lag k over the aligned (cₜ, cₜ₊ₖ) day pairs, EXACT integer
    * moments (n·Σxy − ΣxΣy over int64 day counts), one rounded
    * division per (type, lag).
    *
    * Scale shape: the ONLY data pass is the (type, day) count —
    * everything else is a self-join of the ≤ |types|·|days| cached
    * metadata frame on (type, day+lag) and a moment rollup to
    * |types|·7 rows. Degenerate guard: a constant series has zero
    * variance on either side — r reports 0 (both engines), never
    * NULL/NaN. */
  val q185Acf: QueryDef = QueryDef.withOracle(
    """WITH daily AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
      |      AS day, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |lg AS (SELECT unnest(range(1, 8)) AS k),
      |pairs AS (
      |  SELECT a.event_type, lg.k, a.c AS x, b.c AS y
      |  FROM daily a CROSS JOIN lg
      |  JOIN daily b ON b.event_type = a.event_type
      |    AND b.day = a.day + lg.k),
      |m AS (
      |  SELECT event_type, k, count(*) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM pairs GROUP BY 1, 2)
      |SELECT event_type, k AS lag_days, n AS n_pairs,
      |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
      |    THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(n * sxy - sx * sy AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |        * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000 + 0.5)
      |      / 1000000 END AS acf
      |FROM m""".stripMargin
  ) { (s, d) =>
    val daily = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("t"))
      .withColumn("day", epochDay(col("t")))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
      .cache() // metadata: ≤ |types| · |days| rows
    val lags = s.range(1).select(
      explode(sequence(lit(1L), lit(7L))).as("k"))
    val pairs = daily.crossJoin(broadcast(lags))
      .join(daily.select(col("event_type"),
        col("day").as("day2"), col("c").as("y")),
        Seq("event_type"))
      .filter(col("day2") === col("day") + col("k"))
      .select(col("event_type"), col("k"), col("c").as("x"), col("y"))
    val m = pairs.groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    m.select(col("event_type"), col("k").as("lag_days"),
      col("n").as("n_pairs"),
      when(col("n") * col("sxx") - col("sx") * col("sx") === 0 ||
        col("n") * col("syy") - col("sy") * col("sy") === 0, lit(0.0))
        .otherwise(floor(((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"))) * 1000000 + 0.5) / 1000000).as("acf"))
  }

  /** Population Stability Index of the value distribution, pre- vs
    * post-period per event type — the industry-standard model-input
    * drift monitor (PSI < 0.1 stable, > 0.25 action), completing the
    * drift triad: q117's χ² (binned counts test), q153's exact KS
    * (max CDF gap), and now the binned-share log statistic scorecards
    * actually alert on. Bins are the PRE period's own deciles (the
    * baseline defines the grid), ranks picked exactly via the
    * GROUPED two-phase prefix; shares are Laplace-smoothed
    * ((c+1)/(n+10), so a post-period bin emptied by drift contributes
    * a finite, engine-identical term); each (p−q)·ln(p/q) term
    * quantizes at 1e-9 fixed point before the int64 fold.
    *
    * Scale shape: ONE data pass — the (type, period, cents) count,
    * whose exchange is bounded by value cardinality, not rows. The
    * oracle's row-level rank pick collapses onto the cell frame:
    * rows with equal cents are contiguous in (cents, event_id)
    * order, so the rank-t value is the unique cents run whose
    * cumulative count straddles t — the grouped two-phase prefix
    * runs over cells, not rows (sf100: 12.9 s vs 49.4 s for the
    * row-ranked variant, same hashes). Binning joins the collapsed
    * value frame against 9 broadcast cuts; the PSI fold runs on
    * |types|·10 cells. */
  val q187PsiDrift: QueryDef = QueryDef.withOracle(
    s"""WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    CASE WHEN epoch_us(ts) < $PreEnd THEN 'pre' ELSE 'post' END
      |      AS period
      |  FROM events),
      |pre AS (
      |  SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM e WHERE period = 'pre'),
      |cuts AS (
      |  SELECT DISTINCT pre.event_type, i.i, pre.cents AS cut
      |  FROM pre JOIN (SELECT unnest(range(1, 10)) AS i) i
      |    ON pre.rn = (i.i * pre.n + 9) // 10),
      |vc AS (
      |  SELECT event_type, period, cents, count(*) AS cnt
      |  FROM e GROUP BY 1, 2, 3),
      |vb AS (
      |  SELECT vc.event_type, vc.period, vc.cnt,
      |    (SELECT count(*) FROM cuts c
      |     WHERE c.event_type = vc.event_type AND vc.cents > c.cut)
      |      AS bin
      |  FROM vc),
      |bc AS (
      |  SELECT event_type, period, bin, sum(cnt) AS c
      |  FROM vb GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT t.event_type, b.bin
      |  FROM (SELECT DISTINCT event_type FROM e) t
      |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b),
      |tot AS (
      |  SELECT event_type, period, CAST(sum(c) AS BIGINT) AS n
      |  FROM bc GROUP BY 1, 2),
      |sh AS (
      |  SELECT g.event_type, g.bin,
      |    (CAST(coalesce(p.c, 0) + 1 AS DOUBLE) / (tp.n + 10)) AS p,
      |    (CAST(coalesce(q.c, 0) + 1 AS DOUBLE) / (tq.n + 10)) AS q
      |  FROM grid g
      |  LEFT JOIN bc p ON p.event_type = g.event_type
      |    AND p.bin = g.bin AND p.period = 'pre'
      |  LEFT JOIN bc q ON q.event_type = g.event_type
      |    AND q.bin = g.bin AND q.period = 'post'
      |  JOIN tot tp ON tp.event_type = g.event_type AND tp.period = 'pre'
      |  JOIN tot tq ON tq.event_type = g.event_type AND tq.period = 'post')
      |SELECT sh.event_type, tp.n AS n_pre, tq.n AS n_post,
      |  floor(CAST(sum(CAST(floor((p - q) * ln(p / q) * 1000000000 + 0.5)
      |    AS BIGINT)) AS DOUBLE) / 1000 + 0.5) / 1000000 AS psi
      |FROM sh
      |JOIN tot tp ON tp.event_type = sh.event_type AND tp.period = 'pre'
      |JOIN tot tq ON tq.event_type = sh.event_type AND tq.period = 'post'
      |GROUP BY 1, 2, 3""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"), col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"),
      when(unix_micros(col("ts")) < PreEnd, "pre").otherwise("post")
        .as("period"))
    val vc = e.groupBy(col("event_type"), col("period"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // ≤ |types| · 2 · |distinct cents| cells — the only data pass
    // cum = running pre-period count in cents order; the oracle's
    // rank-(i·n+9)//10 row has the unique cents whose run straddles
    // the target (equal-cents rows are contiguous under the oracle's
    // (cents, event_id) tiebreak, so the tiebreak can't change the
    // selected VALUE) — the prefix runs over cells, never raw rows.
    val ranked = AnalyticsOps2.groupedPrefixSums(
      vc.filter(col("period") === "pre")
        .select(col("event_type"), col("cents"), col("cnt")),
      Seq("event_type"), Seq(col("cents")),
      Seq((col("cnt"), "cum", Some("n"))))
    val is = s.range(1).select(explode(sequence(lit(1L), lit(9L))).as("i"))
    val cuts = ranked.crossJoin(broadcast(is))
      .withColumn("t", expr("(i * n + 9) div 10"))
      .filter(col("cum") >= col("t") && col("cum") - col("cnt") < col("t"))
      .select(col("event_type"), col("cents").as("cut"))
    val vb = vc.join(broadcast(cuts.select(col("event_type"), col("cut"))),
        Seq("event_type"), "left")
      .groupBy(col("event_type"), col("period"), col("cents"), col("cnt"))
      .agg(sum(when(col("cents") > col("cut"), 1L).otherwise(0L)).as("bin"))
    val bc = vb.groupBy(col("event_type"), col("period"), col("bin"))
      .agg(sum(col("cnt")).as("c"))
      .cache() // ≤ |types| · 2 · 10 cells
    val grid = vc.select(col("event_type")).distinct()
      .crossJoin(broadcast(s.range(1).select(
        explode(sequence(lit(0L), lit(9L))).as("bin"))))
    val tot = bc.groupBy(col("event_type"), col("period"))
      .agg(sum(col("c")).as("n"))
    val pSide = bc.filter(col("period") === "pre")
      .select(col("event_type"), col("bin"), col("c").as("cp"))
    val qSide = bc.filter(col("period") === "post")
      .select(col("event_type"), col("bin"), col("c").as("cq"))
    val sh = grid
      .join(broadcast(pSide), Seq("event_type", "bin"), "left")
      .join(broadcast(qSide), Seq("event_type", "bin"), "left")
      .join(broadcast(tot.filter(col("period") === "pre")
        .select(col("event_type"), col("n").as("n_pre"))), Seq("event_type"))
      .join(broadcast(tot.filter(col("period") === "post")
        .select(col("event_type"), col("n").as("n_post"))), Seq("event_type"))
      .select(col("event_type"), col("n_pre"), col("n_post"),
        ((coalesce(col("cp"), lit(0L)) + 1).cast("double") /
          (col("n_pre") + 10)).as("p"),
        ((coalesce(col("cq"), lit(0L)) + 1).cast("double") /
          (col("n_post") + 10)).as("q"))
    sh.groupBy(col("event_type"), col("n_pre"), col("n_post"))
      .agg(sum(floor((col("p") - col("q")) * log(col("p") / col("q"))
        * 1000000000 + 0.5).cast("long")).as("psi_fp"))
      .select(col("event_type"), col("n_pre"), col("n_post"),
        (floor(col("psi_fp").cast("double") / 1000 + 0.5) / 1000000)
          .as("psi"))
  }

  /** Benford CONFORMITY DRIFT of order totals, per order year — the
    * year-level scorecard layer over q113's digit-level screen
    * (which emits the global observed-vs-expected rows): per year,
    * the Nigrini MAD statistic (mean absolute deviation of the nine
    * first-digit shares from log10(1 + 1/d); < 0.006 close
    * conformity, > 0.015 nonconformity), the worst digit and its
    * deviation — the shape a monitoring job alerts on, sliced by
    * time so a feed that DRIFTS into fabrication is caught even when
    * the all-time histogram still conforms.
    *
    * Parity: the leading digit comes from the decimal string of
    * exact cents (int64 renders identically on both engines); shares
    * are one IEEE division of exact int64 counts over a zero-filled
    * year×digit grid (a missing digit must contribute its full
    * expectation to MAD); the expectation rounds at 1e-6 (q113
    * convention); each |share − expected| term quantizes to 1e-9
    * fixed point BEFORE the 9-term fold (sum order differs across
    * engines), and MAD is one final division by 9e9.
    *
    * Scale shape: ONE pass — a partial+final count onto the
    * |years|·9 cell domain; the grid, year totals, and the MAD fold
    * all run on that metadata frame. No windows, no second pass. */
  val q188Benford: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5)
      |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders),
      |c AS (SELECT yr, digit, count(*) AS n_digit FROM d GROUP BY 1, 2),
      |t AS (SELECT yr, CAST(sum(n_digit) AS BIGINT) AS n_orders
      |      FROM c GROUP BY 1),
      |g AS (
      |  SELECT y.yr, ds.digit, coalesce(c.n_digit, 0) AS n_digit
      |  FROM (SELECT DISTINCT yr FROM c) y
      |  CROSS JOIN (SELECT unnest(range(1, 10)) AS digit) ds
      |  LEFT JOIN c ON c.yr = y.yr AND c.digit = ds.digit),
      |dev AS (
      |  SELECT g.yr, g.digit, t.n_orders,
      |    abs(CAST(g.n_digit AS DOUBLE) / t.n_orders
      |      - floor(log10(1 + CAST(1 AS DOUBLE) / g.digit) * 1000000 + 0.5)
      |        / 1000000) AS dv
      |  FROM g JOIN t USING (yr))
      |SELECT yr, n_orders,
      |  CAST(sum(CAST(floor(dv * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 9000000000 AS mad,
      |  max(dv) AS max_dev,
      |  max_by(digit,
      |    CAST(floor(dv * 1000000000 + 0.5) AS BIGINT) * 16 + (9 - digit))
      |    AS worst_digit
      |FROM dev GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val digits = Tables.orders(s, d).select(
      year(col("o_orderdate")).cast("long").as("yr"),
      substring(floor(col("o_totalprice") * 100 + 0.5).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
    val c = digits.groupBy(col("yr"), col("digit"))
      .agg(count(lit(1)).as("n_digit"))
      .cache() // ≤ |years| · 9 cells — everything below is metadata
    val t = c.groupBy(col("yr")).agg(sum(col("n_digit")).as("n_orders"))
    val grid = c.select(col("yr")).distinct()
      .crossJoin(broadcast(s.range(1).select(
        explode(sequence(lit(1L), lit(9L))).as("digit"))))
      .join(broadcast(c), Seq("yr", "digit"), "left")
      .select(col("yr"), col("digit"),
        coalesce(col("n_digit"), lit(0L)).as("n_digit"))
    val expected =
      floor(log10(lit(1) + lit(1.0).cast("double") / col("digit"))
        * 1000000 + 0.5) / 1000000
    val dev = grid.join(broadcast(t), Seq("yr"))
      .select(col("yr"), col("digit"), col("n_orders"),
        abs(col("n_digit").cast("double") / col("n_orders") - expected)
          .as("dv"))
    dev.groupBy(col("yr"), col("n_orders"))
      .agg(
        (sum(floor(col("dv") * 1000000000 + 0.5).cast("long")).cast("double")
          / 9000000000L).as("mad"),
        max(col("dv")).as("max_dev"),
        max_by(col("digit"),
          floor(col("dv") * 1000000000 + 0.5).cast("long") * 16
            + (lit(9L) - col("digit"))).as("worst_digit"))
      .select(col("yr"), col("n_orders"), col("mad"), col("max_dev"),
        col("worst_digit"))
  }

  /** Exact 10%-trimmed mean of event value per type — the robust
    * location estimate beside q105's MAD (outlier-resistant where the
    * plain mean is one fat-finger away from garbage), trimming
    * k = n div 10 rows from each tail in (v, event_id) rank order.
    *
    * The exact answer needs rank-RANGE sums, not just a rank pick —
    * and the q187/q166 cell argument extends: a value run covering
    * ranks (cum−cnt, cum] contributes min(cum, n−k) − max(cum−cnt, k)
    * rows (clamped at 0) to the kept middle, independent of the
    * row-level tiebreak. So the whole statistic folds over the
    * collapsed (type, v, cnt) frame: ONE raw-data pass (a
    * map-side-combined count bounded by value cardinality), the
    * grouped two-phase prefix over cells, then exact int64 clamp
    * algebra; the trimmed mean is one final IEEE division of exact
    * integers — no rounding needed on either engine. */
  val q189TrimmedMean: QueryDef = QueryDef.withOracle(
    """WITH v AS (
      |  SELECT event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v, event_id
      |  FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY v, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM v)
      |SELECT event_type, max(n) AS n, max(n) // 10 AS k,
      |  CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
      |    THEN v ELSE 0 END) AS BIGINT) AS sum_cents,
      |  CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
      |    THEN v ELSE 0 END) AS DOUBLE)
      |    / (max(n) - 2 * (max(n) // 10)) AS trimmed_mean_cents
      |FROM r GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val c = AnalyticsOps2.groupedPrefixSums(cells, Seq("event_type"),
      Seq(col("v")), Seq((col("cnt"), "cum", Some("n"))))
    // rows of this value run kept by the trim: overlap of the run's
    // rank interval (cum-cnt, cum] with the kept interval (k, n-k]
    val k = expr("n div 10")
    val kept = greatest(
      least(col("cum"), col("n") - k) - greatest(col("cum") - col("cnt"), k),
      lit(0L))
    c.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(k).as("k"),
        sum(kept * col("v")).as("sum_cents"))
      .select(col("event_type"), col("n"), col("k"), col("sum_cents"),
        (col("sum_cents").cast("double") / (col("n") - lit(2) * col("k")))
          .as("trimmed_mean_cents"))
  }

  /** Theil–Sen robust trend of daily per-type event volume — the
    * median of all pairwise slopes (c_j − c_i)/(day_j − day_i), the
    * estimator that shrugs off up to ~29% corrupted days where
    * q123-style least squares folds an outage spike straight into the
    * trend. Opens the robust-regression family beside the robust
    * location (q189 trimmed mean) and robust spread (q105 MAD) rows.
    *
    * Exactness: slopes are IEEE divisions of exact int64 count
    * deltas — bit-identical across engines — and the median is an
    * explicit LOWER-median rank pick (rank (m+1) div 2 in
    * (slope, day_i, day_j) order: a deterministic total order, no
    * interpolation), so no rounding is needed anywhere.
    *
    * Scale shape: ONE (type, day) count — the only data pass —
    * collapses any volume to a ≤ |types|·|days| cached frame; the
    * pair self-join, the rank window, and the median pick all run on
    * that metadata (≤ |types|·C(|days|,2) ≈ 2 k rows here; bound the
    * window before blaming the plan — the partitionBy(type) window
    * is on the pair frame, never on raw events). */
  val q190TheilSen: QueryDef = QueryDef.withOracle(
    """WITH daily AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
      |      AS day, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |slopes AS (
      |  SELECT a.event_type, a.day AS d1, b.day AS d2,
      |    CAST(b.c - a.c AS DOUBLE) / (b.day - a.day) AS slope
      |  FROM daily a
      |  JOIN daily b ON b.event_type = a.event_type AND b.day > a.day),
      |r AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY slope, d1, d2) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS m
      |  FROM slopes)
      |SELECT event_type, m AS n_pairs, slope AS ts_slope
      |FROM r WHERE rn = (m + 1) // 2""".stripMargin
  ) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        epochDay(unix_micros(col("ts"))).as("day"))
      .agg(count(lit(1)).as("c"))
      .cache() // ≤ |types| · |days| — the pair join runs on THIS
    val b = daily.select(col("event_type"), col("day").as("d2"),
      col("c").as("c2"))
    val slopes = daily.join(b, Seq("event_type"))
      .filter(col("d2") > col("day"))
      .select(col("event_type"), col("day").as("d1"), col("d2"),
        ((col("c2") - col("c")).cast("double") / (col("d2") - col("day")))
          .as("slope"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("d1"), col("d2"))
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(m + 1) div 2"))
      .select(col("event_type"), col("m").as("n_pairs"),
        col("slope").as("ts_slope"))
  }

  /** Mann–Kendall trend significance for daily per-type volume — the
    * hypothesis-test companion to q190's Theil–Sen magnitude (the
    * pair practitioners run together: MK says WHETHER a monotone
    * trend exists, TS says how steep): S = Σ sign(c_j − c_i) over
    * day pairs, the tie-corrected variance
    * 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (t = tie-group
    * sizes of the daily counts), and the continuity-corrected
    * Z = (S ∓ 1)/√Var.
    *
    * Exactness: S, n, and 18·Var are pure int64 (ties counted by
    * grouping the collapsed daily frame on c); Z is one identical
    * expression tree — (S∓1)/sqrt(var18/18.0), sqrt correctly
    * rounded by IEEE — rounded at 1e-6 (q113 convention), with a
    * var18 = 0 guard (a constant series has no trend to test).
    *
    * Scale shape: the same ONE (type, day) count as q190 — pairs,
    * tie groups, and the fold all run on the cached
    * ≤ |types|·|days| metadata frame. */
  val q192MannKendall: QueryDef = QueryDef.withOracle(
    """WITH daily AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
      |      AS day, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT a.event_type,
      |    CAST(sum(CASE WHEN b.c > a.c THEN 1
      |      WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM daily a
      |  JOIN daily b ON b.event_type = a.event_type AND b.day > a.day
      |  GROUP BY 1),
      |n AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
      |  FROM daily GROUP BY 1),
      |ties AS (
      |  SELECT event_type,
      |    CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
      |      AS tie_term
      |  FROM (SELECT event_type, c, CAST(count(*) AS BIGINT) AS t
      |        FROM daily GROUP BY 1, 2)
      |  WHERE t > 1 GROUP BY 1),
      |v AS (
      |  SELECT n.event_type, n.n_days, s.s_stat,
      |    n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
      |      - coalesce(ties.tie_term, 0) AS var18
      |  FROM n JOIN s USING (event_type)
      |  LEFT JOIN ties USING (event_type))
      |SELECT event_type, n_days, s_stat, var18,
      |  CASE WHEN var18 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(s_stat - CASE WHEN s_stat > 0 THEN 1
      |        WHEN s_stat < 0 THEN -1 ELSE 0 END AS DOUBLE)
      |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)) * 1000000 + 0.5)
      |      / 1000000 END AS z
      |FROM v""".stripMargin
  ) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        epochDay(unix_micros(col("ts"))).as("day"))
      .agg(count(lit(1)).as("c"))
      .cache() // ≤ |types| · |days| — pairs and ties both read THIS
    val b = daily.select(col("event_type"), col("day").as("d2"),
      col("c").as("c2"))
    val sStat = daily.join(b, Seq("event_type"))
      .filter(col("d2") > col("day"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("c2") > col("c"), 1L)
        .when(col("c2") < col("c"), -1L).otherwise(0L)).as("s_stat"))
    val n = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
        .as("tie_term"))
    val sgn = when(col("s_stat") > 0, 1L).when(col("s_stat") < 0, -1L)
      .otherwise(0L)
    n.join(sStat, Seq("event_type"))
      .join(ties, Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"), col("s_stat"),
        (col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5)
          - coalesce(col("tie_term"), lit(0L))).as("var18"))
      .select(col("event_type"), col("n_days"), col("s_stat"), col("var18"),
        when(col("var18") === 0, lit(0.0))
          .otherwise(floor(((col("s_stat") - sgn).cast("double")
            / sqrt(col("var18").cast("double") / 18.0)) * 1000000 + 0.5)
            / 1000000).as("z"))
  }

  val all: Map[String, QueryDef] = Map(
    "q172_cuped" -> q172Cuped,
    "q173_cusum_changepoint" -> q173CusumChangepoint,
    "q175_burstiness" -> q175Burstiness,
    "q176_conformal_interval" -> q176ConformalInterval,
    "q180_join_skew_audit" -> q180JoinSkewAudit,
    "q183_km_survival" -> q183KmSurvival,
    "q184_mutual_info" -> q184MutualInfo,
    "q185_acf" -> q185Acf,
    "q187_psi_drift" -> q187PsiDrift,
    "q188_benford" -> q188Benford,
    "q189_trimmed_mean" -> q189TrimmedMean,
    "q190_theil_sen" -> q190TheilSen,
    "q192_mann_kendall" -> q192MannKendall
  )
}
