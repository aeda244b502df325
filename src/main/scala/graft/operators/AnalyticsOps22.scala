package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Exact.{dec, epochDay}

/** Round-12 tranche ten: the operational data-health trio — count
  * overdispersion (are daily event counts Poisson-stable or bursty:
  * the capacity-planning and alert-threshold question for COUNTS,
  * where q276/q287 read values), stream coverage and gap audit (what
  * fraction of the expected hour grid actually has data, and the
  * longest outage — the number a backfill decision reads BEFORE any
  * statistic on the series is trusted), and per-user event-type
  * entropy (behavioral diversity: single-track vs mixed-usage users —
  * the engagement-mix number beside q136's DAU/MAU intensity).
  *
  * House conventions: exact integer cells (counts, hour indices, user
  * margins), per-unit quantization (1e-6) before every exact mean,
  * one mirrored double chain per output, metadata-sized windows only
  * (hour cells per type), keyed aggregations for the user-level pass.
  */
object AnalyticsOps22 {

  /** Index-of-dispersion test on daily event counts per type — VMR =
    * s^2/mean over the observed days and the chi-square form D =
    * (n-1)*VMR against dof n-1 (Poisson => D ~ chi2, VMR ~ 1). The
    * count-data twin of q276: a VMR of 4 says daily volume swings 4x
    * more than a Poisson process — alert thresholds and capacity
    * plans sized under "counts are Poisson" are miscalibrated by
    * exactly that factor. Sample variance (n-1), observed days only
    * (the zero-day policy belongs to q297's coverage audit — stated).
    *
    * Exactness: daily counts are exact integers; moment sums are
    * decimal; VMR and D are one mirrored double chain; n < 2 or
    * zero mean degrade to 0 (stated).
    *
    * Scale shape: ONE events pass -> (type, day) count cells -> one
    * agg. No window, no join. */
  val q296CountDispersion: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |  FROM events),
      |dc AS (
      |  SELECT t, day, CAST(count(*) AS BIGINT) AS c
      |  FROM ev GROUP BY 1, 2),
      |m AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s1,
      |    sum(CAST(c AS HUGEINT) * c) AS s2
      |  FROM dc GROUP BY 1)
      |SELECT t AS event_type, n AS n_days, s1 AS n_events,
      |  CASE WHEN n < 2 OR s1 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
      |      / (n - 1) / (CAST(s1 AS DOUBLE) / n) * 1000000 + 0.5)
      |      / 1000000 END AS vmr,
      |  CASE WHEN n < 2 OR s1 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1)
      |      / (CAST(s1 AS DOUBLE) / n) * 1000000 + 0.5) / 1000000
      |    END AS dispersion_stat
      |FROM m""".stripMargin
  ) { (s, d) =>
    val dc = Tables.events(s, d).select(col("event_type").as("t"),
        epochDay(unix_micros(col("ts"))).as("day"))
      .groupBy(col("t"), col("day")).agg(count(lit(1)).as("c"))
    val m = dc.groupBy(col("t")).agg(count(lit(1)).as("n"),
      sum(col("c")).cast("long").as("s1"),
      sum(dec(col("c")) * col("c")).as("s2"))
    // parenthesized: a bare continuation line starting with `-` would
    // parse as a discarded unary-minus statement (caught by the gate)
    val css = (col("s2").cast("double")
      - col("s1").cast("double") / col("n") * col("s1"))
    val mean = col("s1").cast("double") / col("n")
    m.select(col("t").as("event_type"), col("n").as("n_days"),
      col("s1").as("n_events"),
      when(col("n") < 2 || col("s1") === 0, lit(0.0))
        .otherwise(floor(css / (col("n") - 1) / mean * 1000000L + 0.5)
          / 1000000L).as("vmr"),
      when(col("n") < 2 || col("s1") === 0, lit(0.0))
        .otherwise(floor(css / mean * 1000000L + 0.5) / 1000000L)
        .as("dispersion_stat"))
  }

  /** Stream coverage and gap audit per event type — observed hours vs
    * the type's own first-to-last hour span, plus the LONGEST gap (in
    * hours) and when it started. The trust gate for every statistic
    * this round computes on the hour/day grid (q277-q291 all state
    * gap POLICIES; this measures the gaps themselves): coverage 0.4
    * means the Allan/Hurst block families are running on a colander,
    * and a 72-hour max gap is an incident, not noise.
    *
    * Exactness: pure integer arithmetic end to end — hour indices,
    * spans, lag differences; coverage is the only division, floored
    * 1e-6. A single-hour stream reports span 1, coverage 1, gap 0
    * (stated).
    *
    * Scale shape: ONE events pass -> (type, hour) cells; the gap
    * walk is a lag window per type over its own hour cells
    * (time-range-bounded metadata). */
  val q297CoverageGaps: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
      |  FROM events),
      |hc AS (SELECT DISTINCT t, h FROM ev),
      |lg AS (
      |  SELECT t, h, lag(h) OVER (PARTITION BY t ORDER BY h) AS hp
      |  FROM hc),
      |gp AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n_hours,
      |    CAST(max(h) - min(h) + 1 AS BIGINT) AS span,
      |    CAST(coalesce(max(h - hp - 1), 0) AS BIGINT) AS max_gap
      |  FROM lg GROUP BY 1),
      |st AS (
      |  SELECT lg.t, min(lg.hp) AS gap_after_h
      |  FROM lg JOIN gp ON gp.t = lg.t
      |  WHERE gp.max_gap > 0 AND lg.h - lg.hp - 1 = gp.max_gap
      |  GROUP BY 1)
      |SELECT gp.t AS event_type, gp.n_hours, gp.span,
      |  floor(CAST(gp.n_hours AS DOUBLE) / gp.span * 1000000 + 0.5)
      |    / 1000000 AS coverage,
      |  gp.max_gap AS max_gap_hours,
      |  CAST(coalesce(st.gap_after_h, -1) AS BIGINT) AS gap_after_hour
      |FROM gp LEFT JOIN st ON st.t = gp.t""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val hc = Tables.events(s, d).select(col("event_type").as("t"),
        call_function("div", unix_micros(col("ts"))
          - pmod(unix_micros(col("ts")), lit(3600000000L)),
          lit(3600000000L)).as("h"))
      .distinct()
    val lg = hc.select(col("t"), col("h"),
        lag(col("h"), 1).over(
          Window.partitionBy(col("t")).orderBy(col("h"))).as("hp"))
      .cache() // the rollup and the gap-locator both read it
    val gp = lg.groupBy(col("t")).agg(count(lit(1)).as("n_hours"),
      (max(col("h")) - min(col("h")) + 1).cast("long").as("span"),
      coalesce(max(col("h") - col("hp") - 1), lit(0L)).cast("long")
        .as("max_gap"))
    val st = lg.join(gp.toDF("t", "nh2", "sp2", "mg2"), Seq("t"))
      .filter(col("mg2") > 0 &&
        col("h") - col("hp") - 1 === col("mg2"))
      .groupBy(col("t")).agg(min(col("hp")).as("gap_after_h"))
    gp.join(st, Seq("t"), "left")
      .select(col("t").as("event_type"), col("n_hours"), col("span"),
        (floor(col("n_hours").cast("double") / col("span") * 1000000L
          + 0.5) / 1000000L).as("coverage"),
        col("max_gap").as("max_gap_hours"),
        coalesce(col("gap_after_h"), lit(-1L)).cast("long")
          .as("gap_after_hour"))
  }

  /** Per-user event-type entropy, aggregated — how mixed is each
    * user's behavior across the five event types (H = -sum p ln p,
    * nats), reported as the user-count, the exact mean of per-user
    * entropies, the single-type-user fraction, and the maximum
    * observed entropy. The engagement-MIX number q136's DAU/MAU
    * intensity and q112's RFM recency both miss: a corpus of
    * single-track bots and a corpus of balanced users can have
    * identical volume and cadence.
    *
    * Exactness: per-user type counts are exact; each user's H is one
    * mirrored double chain over <= |types| rational terms, quantized
    * to 1e-6 BEFORE the exact integer mean (the q271 pattern); the
    * single-type fraction is an integer ratio floored 1e-6.
    *
    * Scale shape: ONE events pass -> (user, type) cells -> per-user
    * rollup (keyed shuffles on real keys, never a global window) ->
    * a 4-number aggregate. User cardinality scales the shuffle, not
    * any single partition. */
  val q298UserTypeEntropy: QueryDef = QueryDef.withOracle(
    """WITH ut AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |un AS (
      |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k
      |  FROM ut GROUP BY 1),
      |tm AS (
      |  SELECT ut.user_id, un.k,
      |    CAST(floor((CAST(ut.c AS DOUBLE) / un.n)
      |      * ln(CAST(ut.c AS DOUBLE) / un.n) * 1000000000 + 0.5)
      |      AS BIGINT) AS t9
      |  FROM ut JOIN un USING (user_id)),
      |uh AS (
      |  SELECT user_id, k,
      |    CAST(floor(CAST(-sum(t9) AS DOUBLE) / 1000 + 0.5) AS BIGINT)
      |      AS h6
      |  FROM tm GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |  floor(CAST(sum(h6) AS DOUBLE) / count(*) / 1000000
      |    * 1000000 + 0.5) / 1000000 AS mean_entropy,
      |  floor(CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) * 1000000 + 0.5) / 1000000 AS frac_single_type,
      |  CAST(max(h6) AS DOUBLE) / 1000000 AS max_entropy
      |FROM uh""".stripMargin
  ) { (s, d) =>
    val ut = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val un = ut.groupBy(col("user_id"))
      .agg(sum(col("c")).cast("long").as("n"), count(lit(1)).as("k"))
    val p = col("c").cast("double") / col("n")
    // per-(user, type) terms quantize to 1e-9 ints BEFORE the sum —
    // a 5-term double sum is already order-dependent across engines
    val uh = ut.join(un, Seq("user_id"))
      .select(col("user_id"), col("k"),
        floor(p * log(p) * 1000000000L + 0.5).cast("long").as("t9"))
      .groupBy(col("user_id"), col("k"))
      .agg(floor((-sum(col("t9"))).cast("double") / 1000 + 0.5)
        .cast("long").as("h6"))
    uh.agg(count(lit(1)).as("n_users"),
      (floor(sum(col("h6")).cast("double") / count(lit(1)) / 1000000L
        * 1000000L + 0.5) / 1000000L).as("mean_entropy"),
      (floor(sum(when(col("k") === 1, 1).otherwise(0)).cast("double")
        / count(lit(1)) * 1000000L + 0.5) / 1000000L)
        .as("frac_single_type"),
      (max(col("h6")).cast("double") / 1000000L).as("max_entropy"))
  }

  val all: Map[String, QueryDef] = Map(
    "q296_count_dispersion" -> q296CountDispersion,
    "q297_coverage_gaps" -> q297CoverageGaps,
    "q298_user_type_entropy" -> q298UserTypeEntropy)
}
