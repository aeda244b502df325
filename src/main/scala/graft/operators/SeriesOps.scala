package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, cents, q6, epochDay}

/** Time-series operators over the event stream and the daily order
  * revenue: windowed rollups and resampling (hopping windows, TWAP,
  * OHLC bars, interval coalescing, EWMA, debounce, burstiness),
  * anomaly and change-point detection (seasonal baselines, CUSUM,
  * Theil-Sen and Mann-Kendall trends, Pettitt, segmented fits, STL
  * outlier days), serial-structure diagnostics (ACF/PACF, Ljung-Box,
  * runs, Allan variance, Dickey-Fuller, seasonal strength, Hurst,
  * cross-correlation, diurnal profiles, coverage gaps), and the
  * readability layer over them (correlograms, breakpoint confidence
  * sets, daily quantile ribbons, weekday-weekend contrasts).
  *
  * House conventions: the daily and hourly mean series come from
  * `SeriesFrames`' one cents/1e-6 grid; windows run only over
  * metadata-sized per-type day/hour frames, always partitioned by
  * the stream key (global-series windows only over time-range-bounded
  * day frames, the q250 argument). The cross-engine arithmetic rules
  * are `Exact`'s.
  */
object SeriesOps {

  /** Hopping (sliding) window rollup: 10-minute windows every 5
    * minutes over the event stream — the overlapping-window sibling
    * of the tumbling q22, via Spark's NATIVE `window(ts, dur, slide)`
    * TimeWindow generator (the operator that carries unchanged to
    * Structured Streaming under a watermark). Each event lands in
    * exactly duration/slide = 2 windows, expanded MAP-SIDE before the
    * partial aggregate, so the shuffle moves pre-combined
    * (window, type) rows — never 2× the events. Value sums ride on
    * integer cents (float-parity convention); the oracle replays the
    * epoch-aligned window arithmetic: starts at multiples of the
    * slide with start ≤ ts < start + duration. */
  val q95Hopping: QueryDef = QueryDef.withOracle(
    """WITH e AS (
      |  SELECT epoch_us(ts) AS us, event_type, value FROM events),
      |w AS (
      |  SELECT event_type, value,
      |    (us // 300000000) * 300000000 - s AS wstart
      |  FROM e, LATERAL (SELECT unnest([0, 300000000]) AS s) g)
      |SELECT CAST(wstart AS BIGINT) AS window_start_us, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS value_cents
      |FROM w GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    // the SHARED streaming/batch aggregate (EventStreams.hoppingCounts):
    // one declarative plan serves both modes, the q83 pattern
    graft.streaming.EventStreams.hoppingCounts(
      Tables.events(s, d).select(col("ts"), col("event_type"), col("value")))
  }

  /** Time-weighted average (TWAP) per user over irregular samples:
    * each sample's value holds until the next sample, so the mean
    * weights by holding duration, not sample count — the correct
    * average for unevenly-sampled telemetry/prices (a plain avg
    * over-weights bursts). The last sample of a series has no
    * successor and carries zero weight (the standard
    * observed-interval convention).
    *
    * Exactness: cents × µs-duration accumulates in int64 — bounded by
    * max_cents × series-span, ~2.6×10¹⁷ for 10⁵-cent values over a
    * 30-day span, safely under 2⁶³ at any sample count — and TWAP is
    * one IEEE division of the two exact sums. One user-keyed exchange
    * serves the window and the rollup. */
  val q98Twap: QueryDef = QueryDef(
    """WITH x AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |d AS (
      |  SELECT user_id, cents,
      |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
      |      AS dur_us
      |  FROM x),
      |g AS (
      |  SELECT user_id,
      |    CAST(sum(cents * dur_us) AS BIGINT) AS num,
      |    CAST(sum(dur_us) AS BIGINT) AS den,
      |    count(*) AS n_samples
      |  FROM d WHERE dur_us IS NOT NULL GROUP BY 1)
      |SELECT user_id,
      |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS twap,
      |  den AS span_us, n_samples
      |FROM g""".stripMargin)

  /** OHLC bars: per (event_type, hour), the opening/closing values by
    * event time plus the high/low — the resampled candle every
    * time-series store exposes. Open/close are first_value windows
    * over the total order (ts, event_id), ascending and descending.
    * Values are scan-exact doubles — no arithmetic, so parity is
    * bitwise. */
  val q99Ohlc: QueryDef = QueryDef(
    """WITH x AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, epoch_us(ts) AS us,
      |    event_id, value
      |  FROM events),
      |w AS (
      |  SELECT *,
      |    first_value(value) OVER
      |      (PARTITION BY event_type, h ORDER BY us, event_id) AS open,
      |    first_value(value) OVER
      |      (PARTITION BY event_type, h ORDER BY us DESC, event_id DESC)
      |      AS close
      |  FROM x)
      |SELECT event_type, CAST(epoch_us(h) AS BIGINT) AS hour_us,
      |  min(open) AS open, max(value) AS high, min(value) AS low,
      |  min(close) AS close, count(*) AS n
      |FROM w GROUP BY 1, 2""".stripMargin)

  /** Variable-length interval coalescing (coverage islands): each
    * event opens a lease of floor(value) minutes; per user, the
    * overlapping-or-touching leases merge into coverage islands, and
    * the islands' complement is the downtime report. This is the
    * TRUE interval-union operator — distinct from gap sessionization
    * (q2b/q2k), whose lag-based break test silently mis-splits when a
    * long interval swallows later short ones. The correct break
    * predicate needs the running MAX of all preceding interval ends,
    * not the previous row's end:
    *   new island ⇔ start > max(end | preceding rows)
    * Three window expressions share one (user)-keyed sort — the q87
    * convention (different frames ⇒ separate Window nodes, still ONE
    * Exchange, PlanSpec-locked). All arithmetic is integer µs
    * (floor(value) is IEEE-exact on identical doubles), so the gate
    * is exact. Touching intervals (start == prior end) merge —
    * half-open [s, e) coverage semantics, pinned by the oracle. */
  val q100IntervalMerge: QueryDef = QueryDef(
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + CAST(floor(value) AS BIGINT) * 60000000 AS e
      |  FROM events),
      |m AS (
      |  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |f AS (
      |  SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
      |    AS brk
      |  FROM m),
      |g AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
      |    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM f)
      |SELECT user_id, CAST(island AS BIGINT) AS island_idx,
      |  min(s) AS start_us, max(e) AS end_us, count(*) AS n_events
      |FROM g GROUP BY 1, 2""".stripMargin)

  /** Exponential smoothing (EWMA, α = 0.5, 20-term horizon) of each
    * user's event values — the streaming-adjacent smoother beside
    * the flat rolling mean (W2/q2d). The infinite recurrence
    * r_t = αx_t + (1−α)r_{t−1} is truncated at 20 terms (weight
    * beyond is < 2⁻¹⁹ — below double noise for these magnitudes),
    * which turns an unwindowable recursion into a frame-local
    * weighted sum: collect the 20-row frame, weight by 0.5^age via
    * array HOFs, normalize by the constant Σ weights. Rows before a
    * full 20-row history are skipped so the normalizer is constant.
    *
    * Parity: weights 0.5^k are exactly representable, each product
    * is one IEEE op, but the SUM is order-dependent across engines —
    * so the output is explicitly rounded (house convention for
    * order-dependent float aggregates). One user-keyed sort serves
    * row_number and the frame (two Window nodes, one Exchange — the
    * q87 shape). */
  val q111Ewma: QueryDef = QueryDef.withOracle(
    """WITH e AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS rn
      |  FROM events)
      |SELECT a.user_id, a.event_id,
      |  floor(sum(b.value * pow(0.5, a.rn - b.rn)) / (2 - pow(0.5, 19))
      |        * 1000 + 0.5) / 1000 AS ewma
      |FROM e a JOIN e b
      |  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
      |WHERE a.rn >= 20
      |GROUP BY a.user_id, a.event_id, a.rn""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val frame = w.rowsBetween(-19, 0)
    val norm = 2.0 - math.pow(0.5, 19) // dyadic: exact in any engine
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("arr", collect_list(col("value")).over(frame))
      .filter(col("rn") >= 20)
      .select(col("user_id"), col("event_id"),
        (floor(expr(
          // arr is frame-ordered oldest->newest; zip with descending
          // ages so the newest row carries weight 0.5^0
          "aggregate(zip_with(arr, sequence(19, 0, -1), (x, i) -> x * pow(0.5d, i)), 0d, (acc, v) -> acc + v)")
          / norm * 1000 + 0.5) / 1000).as("ewma"))
  }

  /** Seasonal-baseline anomaly report: each event is judged against
    * the median/MAD of ITS OWN (event_type, hour-of-day) stratum —
    * the seasonal sibling of q105's global MAD report, and the shape
    * of every "is this metric value normal for 3 am?" monitor. Rows
    * whose absolute deviation exceeds 6·MAD are emitted with their
    * stratum baseline and deviation ratio.
    *
    * Median and MAD follow the q105 convention exactly: explicit
    * lower/upper-middle rank pick + avg of the (≤2) middle rows, so
    * both engines compute (a+b)/2 on identical operands — no
    * quantile-interpolation parity risk, no order-dependent float
    * aggregate anywhere (the only divisions are per-row). Two
    * stratum-keyed exchanges total (value rank, then deviation rank
    * — dependent selection passes, q105's floor); the stratum-stat
    * frames are |types|·24 rows and broadcast back onto the scan. */
  val q123SeasonalAnomaly: QueryDef = QueryDef.withOracle(
    """WITH r AS (
      |  SELECT event_id, event_type, hour(ts) AS hr, value,
      |    row_number() OVER (PARTITION BY event_type, hour(ts)
      |      ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type, hour(ts)) AS n
      |  FROM events),
      |med AS (
      |  SELECT event_type, hr, avg(value) AS med FROM r
      |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      |  GROUP BY 1, 2),
      |dev AS (
      |  SELECT r.event_id, r.event_type, r.hr, r.value, m.med,
      |    abs(r.value - m.med) AS adev,
      |    row_number() OVER (PARTITION BY r.event_type, r.hr
      |      ORDER BY abs(r.value - m.med), r.rn) AS drn,
      |    count(*) OVER (PARTITION BY r.event_type, r.hr) AS n
      |  FROM r JOIN med m USING (event_type, hr)),
      |mad AS (
      |  SELECT event_type, hr, avg(adev) AS mad FROM dev
      |  WHERE drn = (n + 1) // 2 OR drn = (n + 2) // 2
      |  GROUP BY 1, 2)
      |SELECT d.event_id, d.event_type, CAST(d.hr AS INT) AS hr, d.value,
      |  round(d.med, 6) AS med, round(a.mad, 6) AS mad,
      |  round(d.adev / a.mad, 4) AS dev_ratio
      |FROM dev d JOIN mad a USING (event_type, hr)
      |WHERE a.mad > 0 AND d.adev > a.mad * 6""".stripMargin
  ) { (s, d) =>
    val byStratum = Window.partitionBy(col("event_type"), col("hr"))
    // cached: consumed by the median pick and the deviation pass
    // (the q105/q42-sigs convention)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), hour(col("ts")).as("hr"),
        col("value"))
      .withColumn("rn", row_number().over(
        byStratum.orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(byStratum))
      .cache()
    val med = ev
      .filter(col("rn") === expr("(n + 1) div 2") ||
              col("rn") === expr("(n + 2) div 2"))
      .groupBy(col("event_type"), col("hr")).agg(avg(col("value")).as("med"))
    val dev = ev.join(med, Seq("event_type", "hr"))
      .withColumn("adev", abs(col("value") - col("med")))
      .withColumn("drn", row_number().over(
        byStratum.orderBy(col("adev"), col("rn"))))
      .cache()
    val mad = dev
      .filter(col("drn") === expr("(n + 1) div 2") ||
              col("drn") === expr("(n + 2) div 2"))
      .groupBy(col("event_type"), col("hr")).agg(avg(col("adev")).as("mad"))
    dev.join(mad, Seq("event_type", "hr"))
      .filter(col("mad") > 0 && col("adev") > col("mad") * 6)
      .select(col("event_id"), col("event_type"), col("hr").cast("int").as("hr"),
        col("value"), round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"),
        round(col("adev") / col("mad"), 4).as("dev_ratio"))
  }

  /** Debounce report — how many events a 5-second same-(user, type)
    * suppression window would drop, per type: the batch twin of the
    * streaming dedup-within-watermark stage (ST5's cousin), and the
    * number a pipeline owner reads before turning such a filter on.
    * An event is suppressed when the PREVIOUS event of the same
    * (user, type) is < 5 s older (lag-based — the one-window
    * definition; a kept-state debounce would be iterative and is
    * exactly what the streaming path's mapGroupsWithState does).
    *
    * Scale shape: ONE (user, type)-keyed exchange for the lag window,
    * then a partial+final rollup onto the ≤5-row type domain. All
    * arithmetic is int64 µs. */
  val q156Debounce: QueryDef = QueryDef.withOracle(
    """WITH o AS (
      |  SELECT event_type,
      |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    lag(CAST(epoch_us(ts) AS BIGINT)) OVER (
      |      PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS prev_us
      |  FROM events)
      |SELECT event_type, count(*) AS n_total,
      |  CAST(sum(CASE WHEN prev_us IS NOT NULL
      |    AND ts_us - prev_us < 5000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_suppressed,
      |  CAST(count(*) - sum(CASE WHEN prev_us IS NOT NULL
      |    AND ts_us - prev_us < 5000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept
      |FROM o GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val o = Tables.events(s, d).select(col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      lag(unix_micros(col("ts")), 1).over(
        Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))).as("prev_us"))
    val supp = when(col("prev_us").isNotNull &&
      col("ts_us") - col("prev_us") < 5000000L, 1L).otherwise(0L)
    o.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"), sum(supp).as("n_suppressed"))
      .select(col("event_type"), col("n_total"), col("n_suppressed"),
        (col("n_total") - col("n_suppressed")).as("n_kept"))
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
  val q175Burstiness: QueryDef = QueryDef(
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
      |g AS (
      |  SELECT user_id,
      |    t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
      |      AS gap
      |  FROM e),
      |m AS (
      |  SELECT user_id, count(*) AS m, sum(gap) AS sg,
      |    sum(CAST(gap AS DECIMAL(38,0)) * gap) AS sgg
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING count(*) >= 2),
      |b AS (
      |  SELECT user_id, m AS n_gaps,
      |    floor((CAST(sg AS DOUBLE) / m) * 1000000 + 0.5) / 1000000
      |      AS mean_gap_us,
      |    CASE WHEN sg = 0 THEN CAST(-1 AS DOUBLE)
      |    ELSE
      |    floor(((sqrt(CAST(m * sgg - CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE))
      |        / m - CAST(sg AS DOUBLE) / m)
      |      / (sqrt(CAST(m * sgg - CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE))
      |        / m + CAST(sg AS DOUBLE) / m)) * 1000000 + 0.5) / 1000000
      |    END AS b_index
      |  FROM m)
      |SELECT user_id, n_gaps, mean_gap_us, b_index
      |FROM b ORDER BY b_index DESC, user_id LIMIT 20""".stripMargin)

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

  /** Pettitt change-point test on daily order revenue — the
    * nonparametric "did the level SHIFT, and on which day" (Pettitt
    * 1979): U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j) via midranks, K =
    * max|U_t|, with the standard p ≈ 2·exp(−6K²/(T³+T²)). Completes
    * the monitoring triad: q173's CUSUM needs a known baseline,
    * q192's Mann-Kendall detects monotone TREND; Pettitt localizes a
    * single abrupt shift with no distributional assumption.
    *
    * Exactness: daily revenues are exact cents sums; midranks use the
    * doubled-rank device (r2 = 2·cum − t + 1, integral under ties —
    * the q205/q232 convention), and since Pettitt's rank identity is
    * U_t = 2·S_t − t(T+1), the doubled ranks cancel the 2 exactly:
    * u2 = Σr2 − t(T+1) IS U_t, pure int64 algebra (|U| ≤ T², safe to
    * T ≈ 3e9 days); the arg-max day is TakeOrdered(1) with (|U| desc,
    * day) tiebreak; the p-approximation is one exp() chain floored
    * 1e-9.
    *
    * Scale shape: ONE orders pass → ≤|days| daily cells (time-range-
    * bounded metadata); the rank and prefix windows ride that
    * metadata frame (named exemption, the q243 argument). */
  val q250Pettitt: QueryDef = QueryDef.withOracle(
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |vc AS (SELECT rev, count(*) AS t FROM daily GROUP BY 1),
      |vr AS (
      |  SELECT rev,
      |    2 * CAST(sum(t) OVER (ORDER BY rev) AS BIGINT) - t + 1 AS r2
      |  FROM vc),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS tn FROM daily),
      |wk AS (
      |  SELECT day,
      |    CAST(sum(r2) OVER (ORDER BY day) AS BIGINT) AS s2,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS ti
      |  FROM daily JOIN vr USING (rev)),
      |u AS (
      |  SELECT day, s2 - ti * (tn + 1) AS u2, ti, tn
      |  FROM wk CROSS JOIN tt WHERE ti < tn)
      |SELECT tn AS n_days, day AS change_day,
      |  CAST(abs(u2) AS DOUBLE) AS k_stat,
      |  floor((2 * exp(-6 * (CAST(u2 AS DOUBLE) * u2)
      |    / (CAST(tn AS DOUBLE) * tn * tn + CAST(tn AS DOUBLE) * tn)))
      |    * 1000000000 + 0.5) / 1000000000 AS p_approx
      |FROM u ORDER BY abs(u2) DESC, day LIMIT 1""".stripMargin
  ) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long").as("rev"))
      .cache() // ≤|days| cells: ranks and the walk both reuse it
    val vc = daily.groupBy(col("rev")).agg(count(lit(1)).as("t"))
    val vr = vc.withColumn("r2",
      lit(2) * sum(col("t")).over(Window.orderBy(col("rev")))
        .cast("long") - col("t") + 1)
    val tt = daily.agg(count(lit(1)).as("tn"))
    val wk = daily.join(vr.select(col("rev"), col("r2")), Seq("rev"))
      .select(col("day"),
        sum(col("r2")).over(Window.orderBy(col("day")))
          .cast("long").as("s2"),
        row_number().over(Window.orderBy(col("day")))
          .cast("long").as("ti"))
    val u = wk.crossJoin(broadcast(tt))
      .filter(col("ti") < col("tn"))
      .select(col("day"), (col("s2") - col("ti") * (col("tn") + 1))
        .as("u2"), col("tn"))
    u.orderBy(abs(col("u2")).desc, col("day")).limit(1)
      .select(col("tn").as("n_days"), col("day").as("change_day"),
        abs(col("u2")).cast("double").as("k_stat"),
        (floor((lit(2) * exp(lit(-6) * (col("u2").cast("double")
          * col("u2")) / (col("tn").cast("double") * col("tn")
          * col("tn") + col("tn").cast("double") * col("tn"))))
          * 1000000000L + 0.5) / 1000000000L).as("p_approx"))
  }

  /** Ljung-Box portmanteau (lags 1..7) on the daily-mean series per
    * event type — Q = n(n+2) * sum_k r_k^2/(n-k), the "is this series
    * white noise" test. A significant Q says daily observations are
    * serially dependent, so any variance computed under iid (q104's
    * A/B z, q226's SRM, q263's MDE) understates uncertainty — this is
    * the precondition gate for the whole daily-stats family. r_1 is
    * also reported (the lag the eye checks first).
    *
    * Exactness: daily means land on the 1e-6 grid (m6 integer); the
    * centering trick keeps everything integer — y_d = m6*n_days -
    * sum(m6) is exact, and r_k = sum(y_t*y_{t-k}) / sum(y^2) because
    * the n_days^2 scale factor cancels in the ratio. Numerators are
    * decimal(38,0) sums of integer products; each lag's Q-term is
    * quantized to 1e-12 before the 7-term sum (the q266 convention),
    * so the only unquantized float work is one product per lag.
    * Zero-variance series degrade to 0 (stated).
    *
    * Scale shape: ONE events pass -> (type, day) cells; the day index
    * is a row_number partitioned BY TYPE over the per-type day cells
    * (|days| rows per partition — metadata, never events); the lag
    * pairing is a 7-way self-join of that same cell frame. At 10
    * years of days this is 3 650 rows per type. */
  val q277LjungBox: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |ix AS (
      |  SELECT t, m6,
      |    row_number() OVER (PARTITION BY t ORDER BY day) AS idx
      |  FROM dm),
      |st AS (
      |  SELECT t, CAST(sum(m6) AS BIGINT) AS sm,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM ix GROUP BY 1),
      |y AS (
      |  SELECT ix.t, ix.idx, ix.m6 * st.nd - st.sm AS y, st.nd
      |  FROM ix JOIN st ON st.t = ix.t),
      |den AS (
      |  SELECT t, sum(CAST(y AS HUGEINT) * y) AS d0, any_value(nd) AS nd
      |  FROM y GROUP BY 1),
      |ks AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS k),
      |num AS (
      |  SELECT a.t, ks.k, sum(CAST(a.y AS HUGEINT) * b.y) AS nk
      |  FROM y a CROSS JOIN ks
      |  JOIN y b ON b.t = a.t AND b.idx = a.idx - ks.k
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT num.t, num.k, den.nd,
      |    CASE WHEN den.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(nk AS DOUBLE) / CAST(d0 AS DOUBLE) END AS r
      |  FROM num JOIN den ON den.t = num.t),
      |qt AS (
      |  SELECT t, nd,
      |    CAST(sum(CASE WHEN k = 1
      |      THEN CAST(floor(r * 1000000 + 0.5) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS r1_6,
      |    CAST(sum(CAST(floor(r * r / (nd - k) * 1000000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS qsum12
      |  FROM rk WHERE nd > k GROUP BY 1, 2)
      |SELECT t AS event_type, nd AS n_days,
      |  CAST(r1_6 AS DOUBLE) / 1000000 AS r1,
      |  floor(CAST(nd * (nd + 2) AS DOUBLE) * qsum12 / 1000000000000
      |    * 1000000 + 0.5) / 1000000 AS q_lb
      |FROM qt""".stripMargin
  ) { (s, d) =>
    val dm = SeriesFrames.dailyMean6(s, d)
    import org.apache.spark.sql.expressions.Window
    // per-type day index: |days|-sized partitions (metadata frame)
    val ix = dm.select(col("t"), col("m6"), row_number()
        .over(Window.partitionBy(col("t")).orderBy(col("day")))
        .cast("long").as("idx"))
      .cache() // one daily frame; center join + 7 lag joins reuse it
    val st = ix.groupBy(col("t"))
      .agg(sum(col("m6")).cast("long").as("sm"),
        count(lit(1)).as("nd"))
    val y = ix.join(st, Seq("t"))
      .select(col("t"), col("idx"),
        (col("m6") * col("nd") - col("sm")).as("y"), col("nd"))
      .cache()
    val den = y.groupBy(col("t"))
      .agg(sum(dec(col("y")) * col("y")).as("d0"),
        first(col("nd")).as("nd"))
    val ks = s.range(1, 8).toDF("k")
    val b = y.select(col("t").as("tb"), col("idx").as("ib"),
      col("y").as("yb"))
    val num = y.crossJoin(broadcast(ks))
      .join(b, col("tb") === col("t") && col("ib") === col("idx") - col("k"))
      .groupBy(col("t"), col("k"))
      .agg(sum(dec(col("y")) * col("yb")).as("nk"))
    val rk = num.join(den.withColumnRenamed("t", "td"),
        col("td") === col("t"))
      .select(col("t"), col("k"), col("nd"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("nk").cast("double") / col("d0").cast("double"))
          .as("r"))
    val qt = rk.filter(col("nd") > col("k"))
      .groupBy(col("t"), col("nd"))
      .agg(sum(when(col("k") === 1,
          floor(col("r") * 1000000L + 0.5).cast("long")).otherwise(0L))
          .cast("long").as("r1_6"),
        sum(floor(col("r") * col("r") / (col("nd") - col("k"))
          * 1000000000000L + 0.5).cast("long")).cast("long").as("qsum12"))
    qt.select(col("t").as("event_type"), col("nd").as("n_days"),
      (col("r1_6").cast("double") / 1000000L).as("r1"),
      (floor((col("nd") * (col("nd") + 2)).cast("double") * col("qsum12")
        / 1000000000000L * 1000000L + 0.5) / 1000000L).as("q_lb"))
  }

  /** Wald-Wolfowitz runs test per event type — the nonparametric
    * randomness check on the daily-mean series: sign each day against
    * the per-type lower median (ties dropped, the standard
    * convention), count sign runs, and z-score against the
    * 2*n1*n2/n + 1 null. Complements q277: Ljung-Box sees linear
    * autocorrelation, the runs test sees ANY sign-pattern structure
    * (level shifts, slow cycles) without assuming a correlation
    * model.
    *
    * Exactness: daily means on the 1e-6 integer grid; median by the
    * house lower-median cumulative-count walk (2*cum >= n) over
    * (type, m6) cells; runs/n1/n2 are exact integers; one double z
    * expression, quantized 1e-6. Degenerate splits (n1 or n2 = 0, or
    * n < 2) report z = 0 (stated).
    *
    * Scale shape: same (type, day) metadata frame as q277; the sign
    * sequence walk is a lag window partitioned by type over |days|
    * rows. */
  val q278RunsTest: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |mc AS (SELECT t, m6, count(*) AS cnt FROM dm GROUP BY 1, 2),
      |mw AS (
      |  SELECT t, m6, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY t ORDER BY m6) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY t) AS BIGINT) AS n
      |  FROM mc),
      |med AS (SELECT t, min(m6) AS med FROM mw WHERE 2 * cum >= n
      |  GROUP BY 1),
      |sg AS (
      |  SELECT dm.t, dm.day,
      |    CASE WHEN dm.m6 > med.med THEN 1 ELSE -1 END AS s
      |  FROM dm JOIN med ON med.t = dm.t WHERE dm.m6 <> med.med),
      |rn AS (
      |  SELECT t, s,
      |    lag(s) OVER (PARTITION BY t ORDER BY day) AS sp
      |  FROM sg),
      |agg AS (
      |  SELECT t,
      |    CAST(sum(CASE WHEN sp IS NULL OR s <> sp THEN 1 ELSE 0 END)
      |      AS BIGINT) AS runs,
      |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM rn GROUP BY 1)
      |SELECT t AS event_type, n1 AS n_pos, n2 AS n_neg, runs AS n_runs,
      |  CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 < 2 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(runs AS DOUBLE)
      |      - (2.0 * n1 * n2 / (n1 + n2) + 1))
      |      / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
      |        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)))
      |      * 1000000 + 0.5) / 1000000 END AS z
      |FROM agg""".stripMargin
  ) { (s, d) =>
    val dm = SeriesFrames.dailyMean6(s, d)
      .cache() // daily metadata frame: median walk + sign walk reuse
    import org.apache.spark.sql.expressions.Window
    val mc = dm.groupBy(col("t"), col("m6")).agg(count(lit(1)).as("cnt"))
    // house lower-median walk over per-type value cells (metadata)
    val mw = mc.select(col("t"), col("m6"), col("cnt"),
      sum(col("cnt")).over(Window.partitionBy(col("t")).orderBy(col("m6")))
        .cast("long").as("cum"),
      sum(col("cnt")).over(Window.partitionBy(col("t")))
        .cast("long").as("n"))
    val med = mw.filter(lit(2) * col("cum") >= col("n"))
      .groupBy(col("t")).agg(min(col("m6")).as("med"))
    val sg = dm.join(med, Seq("t")).filter(col("m6") =!= col("med"))
      .select(col("t"), col("day"),
        when(col("m6") > col("med"), lit(1)).otherwise(lit(-1)).as("s"))
    val rn = sg.select(col("t"), col("s"),
      lag(col("s"), 1).over(
        Window.partitionBy(col("t")).orderBy(col("day"))).as("sp"))
    val agg = rn.groupBy(col("t")).agg(
      sum(when(col("sp").isNull || col("s") =!= col("sp"), 1).otherwise(0))
        .cast("long").as("runs"),
      sum(when(col("s") === 1, 1).otherwise(0)).cast("long").as("n1"),
      sum(when(col("s") === -1, 1).otherwise(0)).cast("long").as("n2"))
    val nT = col("n1") + col("n2")
    val mu = lit(2.0) * col("n1") * col("n2") / nT + 1
    val vr = lit(2.0) * col("n1") * col("n2") *
      (lit(2.0) * col("n1") * col("n2") - nT) /
      (nT.cast("double") * nT * (nT - 1))
    agg.select(col("t").as("event_type"), col("n1").as("n_pos"),
      col("n2").as("n_neg"), col("runs").as("n_runs"),
      when(col("n1") === 0 || col("n2") === 0 || nT < 2, lit(0.0))
        .otherwise(q6((col("runs").cast("double") - mu) / sqrt(vr)))
        .as("z"))
  }

  /** Allan variance per event type at tau = 1/2/4/8-hour averaging
    * windows — sigma^2(tau) = sum (ybar_{i+1} - ybar_i)^2 / (2(M-1))
    * over adjacent complete tau-hour block means. THE sensor-
    * stability statistic (Allan 1966): white noise falls as 1/tau,
    * flicker floors, random-walk drift RISES — the tau profile says
    * which averaging window q111's EWMA (and any telemetry smoothing)
    * should use. Only complete blocks (all tau hours present) and
    * adjacent block pairs (consecutive indices) enter, so gaps in
    * the hour grid exclude pairs instead of biasing them (stated).
    *
    * Exactness: hourly means on the 1e-6 grid; a block SUM of tau
    * integers stays integer, and since ybar = S/tau, sigma^2(tau) =
    * sum (S_{i+1}-S_i)^2 / (2(M-1)tau^2) — the numerator is an exact
    * decimal(38,0) sum of squared integer diffs; ONE double division,
    * quantized 1e-6.
    *
    * Scale shape: ONE events pass -> (type, hour) cells; blocks and
    * adjacency are windows partitioned by (type, tau) over hour-block
    * cells (metadata: 8 766 rows/type/year at tau=1). The 4 taus ride
    * a broadcast 4-row explode of the SAME hourly frame. */
  val q279AllanVariance: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.hourlySql},
      |taus AS (SELECT unnest([1, 2, 4, 8]) AS tau),
      |bl AS (
      |  SELECT t, tau, h // tau AS bi, CAST(sum(m6) AS BIGINT) AS sb,
      |    count(*) AS nh
      |  FROM hm CROSS JOIN taus GROUP BY 1, 2, 3),
      |cb AS (SELECT t, tau, bi, sb FROM bl WHERE nh = tau),
      |ad AS (
      |  SELECT t, tau, bi, sb,
      |    lag(bi) OVER (PARTITION BY t, tau ORDER BY bi) AS bip,
      |    lag(sb) OVER (PARTITION BY t, tau ORDER BY bi) AS sbp
      |  FROM cb),
      |df AS (
      |  SELECT t, tau, sb - sbp AS dd FROM ad WHERE bip = bi - 1),
      |ag AS (
      |  SELECT t, tau, CAST(count(*) AS BIGINT) AS pairs,
      |    sum(CAST(dd AS HUGEINT) * dd) AS sd2
      |  FROM df GROUP BY 1, 2)
      |SELECT t AS event_type, CAST(tau AS BIGINT) AS tau_hours, pairs
      |    AS n_pairs,
      |  floor(CAST(sd2 AS DOUBLE)
      |    / (2.0 * pairs * tau * tau) / 1000000000000
      |    * 1000000 + 0.5) / 1000000 AS allan_var
      |FROM ag WHERE pairs >= 1""".stripMargin
  ) { (s, d) =>
    val hm = SeriesFrames.hourlyMean6(s, d)
    val taus = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(4L),
      Tuple1(8L))).toDF("tau")
    val bl = hm.crossJoin(broadcast(taus))
      .groupBy(col("t"), col("tau"),
        call_function("div", col("h") - pmod(col("h"), col("tau")),
          col("tau")).as("bi"))
      .agg(sum(col("m6")).cast("long").as("sb"), count(lit(1)).as("nh"))
    val cb = bl.filter(col("nh") === col("tau"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("t"), col("tau")).orderBy(col("bi"))
    val ad = cb.select(col("t"), col("tau"), col("bi"), col("sb"),
      lag(col("bi"), 1).over(w).as("bip"),
      lag(col("sb"), 1).over(w).as("sbp"))
    val df = ad.filter(col("bip") === col("bi") - 1)
      .select(col("t"), col("tau"), (col("sb") - col("sbp")).as("dd"))
    val ag = df.groupBy(col("t"), col("tau"))
      .agg(count(lit(1)).as("pairs"), sum(dec(col("dd")) * col("dd"))
        .as("sd2"))
    ag.filter(col("pairs") >= 1)
      .select(col("t").as("event_type"), col("tau").as("tau_hours"),
        col("pairs").as("n_pairs"),
        (floor(col("sd2").cast("double")
          / (lit(2.0) * col("pairs") * col("tau") * col("tau"))
          / 1000000000000L * 1000000L + 0.5) / 1000000L).as("allan_var"))
  }

  /** Lagged cross-correlation function between event-type daily-mean
    * series (all ordered pairs, lags -7..+7) — which stream LEADS
    * which: a peak at positive lag k says type A's today co-moves
    * with type B's k days ago. The multivariate companion to q185's
    * single-series ACF and q277's whiteness test; in pipeline terms
    * it is the "did the error-rate spike precede the signup dip"
    * panel. Pairs align on CALENDAR day (gaps exclude pairs, stated);
    * each series centers against its own full-window mean.
    *
    * Exactness: the q277 integer-centering trick per series (y =
    * m6*nd - sum; the per-series scale factors cancel between the
    * decimal numerator and the sqrt(d0a*d0b) denominator); the only
    * float work is one mirrored divide-by-sqrt (d0 products in
    * DOUBLE — their decimal product could exceed 1e38 at fleet
    * scale, stated). Constant series degrade to 0.
    *
    * Scale shape: the same (type, day) metadata frame as q277; the
    * lag sweep is a broadcast 15-row explode joined day-to-day —
    * |types|^2 * 15 * |days| cell work, never events. */
  val q286CrossCorrelation: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |st AS (
      |  SELECT t, CAST(sum(m6) AS BIGINT) AS sm,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM dm GROUP BY 1),
      |y AS (
      |  SELECT dm.t, dm.day, dm.m6 * st.nd - st.sm AS y
      |  FROM dm JOIN st ON st.t = dm.t),
      |d0 AS (
      |  SELECT t, sum(CAST(y AS HUGEINT) * y) AS d0 FROM y GROUP BY 1),
      |lg AS (SELECT unnest(range(-7, 8)) AS lag),
      |pc AS (
      |  SELECT a.t AS ta, b.t AS tb, lg.lag,
      |    CAST(count(*) AS BIGINT) AS n_pairs,
      |    sum(CAST(a.y AS HUGEINT) * b.y) AS num
      |  FROM y a CROSS JOIN lg
      |  JOIN y b ON b.t > a.t AND b.day = a.day - lg.lag
      |  GROUP BY 1, 2, 3)
      |SELECT pc.ta AS type_a, pc.tb AS type_b, CAST(pc.lag AS BIGINT)
      |    AS lag, pc.n_pairs,
      |  CASE WHEN da.d0 <= 0 OR db.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(CAST(num AS DOUBLE)
      |      / sqrt(CAST(da.d0 AS DOUBLE) * CAST(db.d0 AS DOUBLE))
      |      * 1000000 + 0.5) / 1000000 END AS ccf
      |FROM pc JOIN d0 da ON da.t = pc.ta JOIN d0 db ON db.t = pc.tb""".stripMargin
  ) { (s, d) =>
    val dm = SeriesFrames.dailyMean6(s, d)
    val st = dm.groupBy(col("t"))
      .agg(sum(col("m6")).cast("long").as("sm"), count(lit(1)).as("nd"))
    val y = dm.join(st, Seq("t"))
      .select(col("t"), col("day"),
        (col("m6") * col("nd") - col("sm")).as("y"))
      .cache() // the d0 margin and both sides of the lag join reuse it
    val d0 = y.groupBy(col("t")).agg(sum(dec(col("y")) * col("y"))
      .as("d0"))
    val lg = s.range(-7, 8).toDF("lag")
    val b = y.toDF("tb", "dayb", "yb")
    val pc = y.crossJoin(broadcast(lg))
      .join(b, col("tb") > col("t") &&
        col("dayb") === col("day") - col("lag"))
      .groupBy(col("t").as("ta"), col("tb"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("y")) * col("yb")).as("num"))
    pc.join(d0.toDF("ta", "d0a"), Seq("ta"))
      .join(d0.toDF("tb", "d0b"), Seq("tb"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("lag"), col("n_pairs"),
        when(col("d0a") <= 0 || col("d0b") <= 0, lit(0.0))
          .otherwise(floor(col("num").cast("double")
            / sqrt(col("d0a").cast("double") * col("d0b").cast("double"))
            * 1000000L + 0.5) / 1000000L).as("ccf"))
  }

  private val Ln2 = 0.6931471805599453

  /** Dickey-Fuller mean-reversion regression per event type — OLS of
    * the daily change on yesterday's level (delta_y = a + b*y_lag on
    * consecutive calendar days, stated gap policy), reporting b and
    * its t-ratio (the DF statistic). b near 0 = unit root (shocks
    * PERSIST: yesterday's level tells you nothing about today's
    * correction); b << 0 = mean reversion. The stationarity gate
    * under q111 (EWMA converges), q123 (seasonal z is meaningful),
    * and q173/q250 (changepoints assume level-stable segments). DF
    * critical values are nonstandard (Dickey & Fuller 1979) — the
    * statistic is the deliverable, the threshold is the reader's
    * (stated).
    *
    * Exactness: levels on the 1e-6 daily-mean grid; all five
    * regression moments are exact decimal sums of integer products;
    * b, SSE, and the t-ratio are ONE mirrored double chain. n < 3,
    * zero level variance, or zero residual variance degrade to 0
    * (stated).
    *
    * Scale shape: the q277 (type, day) metadata frame; the lag pair
    * is one window per type over its own day cells; moments are a
    * single agg. */
  val q289DickeyFuller: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |lg AS (
      |  SELECT t, day, m6,
      |    lag(day) OVER (PARTITION BY t ORDER BY day) AS dp,
      |    lag(m6) OVER (PARTITION BY t ORDER BY day) AS mp
      |  FROM dm),
      |pr AS (
      |  SELECT t, mp AS x, m6 - mp AS dd FROM lg WHERE dp = day - 1),
      |mo AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(dd AS HUGEINT)) AS sd,
      |    sum(CAST(x AS HUGEINT) * dd) AS sxd,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(dd AS HUGEINT) * dd) AS sdd
      |  FROM pr GROUP BY 1),
      |f AS (
      |  SELECT t, n,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
      |    CAST(n * sdd - sd * sd AS DOUBLE) AS cdd,
      |    CAST(n * sxd - sx * sd AS DOUBLE) AS cxd
      |  FROM mo)
      |SELECT t AS event_type, n AS n_obs,
      |  CASE WHEN cxx <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(cxd / cxx * 1000000 + 0.5) / 1000000 END AS beta,
      |  CASE WHEN cxx <= 0 OR n < 3
      |      OR cdd - cxd / cxx * cxd <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((cxd / cxx)
      |      / sqrt((cdd - cxd / cxx * cxd) / (n - 2) / cxx)
      |      * 1000000 + 0.5) / 1000000 END AS df_stat
      |FROM f""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dm = SeriesFrames.dailyMean6(s, d)
    val wd = Window.partitionBy(col("t")).orderBy(col("day"))
    val pr = dm.select(col("t"), col("day"), col("m6"),
        lag(col("day"), 1).over(wd).as("dp"),
        lag(col("m6"), 1).over(wd).as("mp"))
      .filter(col("dp") === col("day") - 1)
      .select(col("t"), col("mp").as("x"),
        (col("m6") - col("mp")).as("dd"))
    val mo = pr.groupBy(col("t")).agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("dd"))).as("sd"),
      sum(dec(col("x")) * col("dd")).as("sxd"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("dd")) * col("dd")).as("sdd"))
    val f = mo.select(col("t"), col("n"),
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        .as("cxx"),
      (col("n") * col("sdd") - col("sd") * col("sd")).cast("double")
        .as("cdd"),
      (col("n") * col("sxd") - col("sx") * col("sd")).cast("double")
        .as("cxd"))
    f.select(col("t").as("event_type"), col("n").as("n_obs"),
      when(col("cxx") <= 0, lit(0.0))
        .otherwise(floor(col("cxd") / col("cxx") * 1000000L + 0.5)
          / 1000000L).as("beta"),
      when(col("cxx") <= 0 || col("n") < 3 ||
          col("cdd") - col("cxd") / col("cxx") * col("cxd") <= 0,
          lit(0.0))
        .otherwise(floor((col("cxd") / col("cxx"))
          / sqrt((col("cdd") - col("cxd") / col("cxx") * col("cxd"))
            / (col("n") - 2) / col("cxx"))
          * 1000000L + 0.5) / 1000000L).as("df_stat"))
  }

  /** Trend and seasonal strength per event type — Hyndman's
    * variance-ratio measures on a lightweight STL: trend = centered
    * 7-day moving average (complete, gap-checked windows only),
    * seasonal = day-of-week mean of the detrended series, F_T =
    * max(0, 1 - Var(R)/Var(T+R)) and F_S = max(0, 1 - Var(R)/Var(S+R)).
    * One number each for "is this series mostly calendar" — the
    * decision between q123's seasonal-z anomaly model (needs high
    * F_S) and plain level monitoring (q173/q250).
    *
    * Exactness: the 7-day sum keeps the detrended series integer
    * (r7 = 7*y - window sum); r7/7 and the per-dow means quantize
    * once to the 1e-6 grid; all four variances are exact decimal
    * n*sum(z^2)-(sum z)^2 forms whose n factors cancel in the ratio —
    * ONE double division per F. Short series (no complete window)
    * emit no row; zero denominators degrade to 0 (stated).
    *
    * Scale shape: the (type, day) metadata frame; the MA is a
    * 7-row-bounded window per type; the dow means are an 8-cell agg;
    * everything else is per-type scalars. */
  val q290SeasonalStrength: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |ma AS (
      |  SELECT t, day, m6,
      |    sum(m6) OVER (PARTITION BY t ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
      |    count(*) OVER (PARTITION BY t ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7,
      |    max(day) OVER (PARTITION BY t ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |    - min(day) OVER (PARTITION BY t ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w7
      |  FROM dm),
      |dt AS (
      |  SELECT t, day, m6, 7 * m6 - CAST(s7 AS BIGINT) AS r7,
      |    CAST(floor(CAST(7 * m6 - s7 AS DOUBLE) / 7 + 0.5) AS BIGINT)
      |      AS rq,
      |    (day + 4) % 7 AS dow
      |  FROM ma WHERE c7 = 7 AND w7 = 6),
      |sw AS (
      |  SELECT t, dow,
      |    CAST(floor(CAST(sum(r7) AS DOUBLE) / (7 * count(*)) + 0.5)
      |      AS BIGINT) AS sq
      |  FROM dt GROUP BY 1, 2),
      |z AS (
      |  SELECT dt.t, dt.rq, sw.sq, dt.rq - sw.sq AS rr,
      |    dt.m6 - sw.sq AS ts
      |  FROM dt JOIN sw ON sw.t = dt.t AND sw.dow = dt.dow),
      |vv AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    count(*) * sum(CAST(rr AS HUGEINT) * rr)
      |      - sum(CAST(rr AS HUGEINT)) * sum(CAST(rr AS HUGEINT)) AS vr,
      |    count(*) * sum(CAST(rq AS HUGEINT) * rq)
      |      - sum(CAST(rq AS HUGEINT)) * sum(CAST(rq AS HUGEINT)) AS vsr,
      |    count(*) * sum(CAST(ts AS HUGEINT) * ts)
      |      - sum(CAST(ts AS HUGEINT)) * sum(CAST(ts AS HUGEINT)) AS vtr
      |  FROM z GROUP BY 1)
      |SELECT t AS event_type, n AS n_days_used,
      |  CASE WHEN vtr <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(greatest(0, 1 - CAST(vr AS DOUBLE) / vtr)
      |      * 1000000 + 0.5) / 1000000 END AS f_trend,
      |  CASE WHEN vsr <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(greatest(0, 1 - CAST(vr AS DOUBLE) / vsr)
      |      * 1000000 + 0.5) / 1000000 END AS f_seasonal
      |FROM vv""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dm = SeriesFrames.dailyMean6(s, d)
    val w7 = Window.partitionBy(col("t")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val ma = dm.select(col("t"), col("day"), col("m6"),
      sum(col("m6")).over(w7).as("s7"),
      count(lit(1)).over(w7).as("c7"),
      (max(col("day")).over(w7) - min(col("day")).over(w7)).as("wspan"))
    val dt = ma.filter(col("c7") === 7 && col("wspan") === 6)
      .select(col("t"), col("day"), col("m6"),
        (lit(7) * col("m6") - col("s7").cast("long")).as("r7"),
        floor((lit(7) * col("m6") - col("s7")).cast("double") / 7 + 0.5)
          .cast("long").as("rq"),
        pmod(col("day") + 4, lit(7)).as("dow"))
      .cache() // dow means and the variance agg reuse it
    val sw = dt.groupBy(col("t"), col("dow"))
      .agg(floor(sum(col("r7")).cast("double")
        / (lit(7) * count(lit(1))) + 0.5).cast("long").as("sq"))
    val z = dt.join(sw, Seq("t", "dow"))
      .select(col("t"), col("rq"), (col("rq") - col("sq")).as("rr"),
        (col("m6") - col("sq")).as("ts"))
    val vv = z.groupBy(col("t")).agg(count(lit(1)).as("n"),
      (count(lit(1)) * sum(dec(col("rr")) * col("rr"))
        - sum(dec(col("rr"))) * sum(dec(col("rr")))).as("vr"),
      (count(lit(1)) * sum(dec(col("rq")) * col("rq"))
        - sum(dec(col("rq"))) * sum(dec(col("rq")))).as("vsr"),
      (count(lit(1)) * sum(dec(col("ts")) * col("ts"))
        - sum(dec(col("ts"))) * sum(dec(col("ts")))).as("vtr"))
    vv.select(col("t").as("event_type"), col("n").as("n_days_used"),
      when(col("vtr") <= 0, lit(0.0))
        .otherwise(floor(greatest(lit(0),
          lit(1) - col("vr").cast("double") / col("vtr")) * 1000000L
          + 0.5) / 1000000L).as("f_trend"),
      when(col("vsr") <= 0, lit(0.0))
        .otherwise(floor(greatest(lit(0),
          lit(1) - col("vr").cast("double") / col("vsr")) * 1000000L
          + 0.5) / 1000000L).as("f_seasonal"))
  }

  /** Hurst exponent by rescaled-range analysis per event type —
    * complete 8/16/32-hour blocks of the hourly-mean series, per-block
    * R/S (range of cumulative deviations over the block sd), and H as
    * the log-log slope across the three dyadic sizes (evenly spaced
    * in ln, so the 3-point OLS slope collapses to
    * (ln rs32 - ln rs8) / (2 ln 2) — a shared literal, no fit
    * machinery). H > 0.5 = persistent long memory (shocks compound —
    * q277's whiteness rejection is SCALE-FREE, not a lag-1 artifact),
    * H < 0.5 = anti-persistent churn. The number that says how far
    * q279's Allan tau profile extrapolates.
    *
    * Exactness: the block-SUM device squared — cumulative deviations
    * scale by the block size (dev_k = size*cum_k - k*S, exact int:
    * the k=size term is 0, so the conventional 0 anchor is included),
    * and R/S = R_int / sqrt(size*sum(x^2) - S^2) because the size
    * factors cancel (stated algebra) — per-block R/S is ONE double
    * division over exact integers, quantized 1e-6 before the exact
    * per-size mean. Zero-variance blocks are excluded (stated); a
    * type missing any size reports H = 0.
    *
    * Scale shape: ONE events pass -> (type, hour) cells; blocks ride
    * a broadcast 3-row size explode; the cum walk is a window per
    * (type, size, block) — <= 32 rows by construction. Everything
    * after the per-block rollup is <= 3 rows per type. */
  val q291HurstRs: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.hourlySql},
      |sz AS (SELECT unnest([8, 16, 32]) AS size),
      |bl AS (
      |  SELECT t, size, h, m6, h // size AS bi,
      |    CAST(count(*) OVER (PARTITION BY t, size, h // size)
      |      AS BIGINT) AS nh,
      |    CAST(sum(m6) OVER (PARTITION BY t, size, h // size)
      |      AS BIGINT) AS sb,
      |    sum(CAST(m6 AS HUGEINT) * m6)
      |      OVER (PARTITION BY t, size, h // size) AS qb,
      |    CAST(sum(m6) OVER (PARTITION BY t, size, h // size
      |      ORDER BY h) AS BIGINT) AS cum,
      |    CAST(row_number() OVER (PARTITION BY t, size, h // size
      |      ORDER BY h) AS BIGINT) AS k
      |  FROM hm CROSS JOIN sz),
      |dv AS (
      |  SELECT t, size, bi, sb, qb, size * cum - k * sb AS dev
      |  FROM bl WHERE nh = size),
      |rb AS (
      |  SELECT t, size, bi, max(dev) - min(dev) AS rint,
      |    CAST(max(size) AS HUGEINT) * max(qb)
      |      - CAST(max(sb) AS HUGEINT) * max(sb) AS vterm
      |  FROM dv GROUP BY 1, 2, 3),
      |rs AS (
      |  SELECT t, size,
      |    CAST(floor(CAST(rint AS DOUBLE) / sqrt(CAST(vterm AS DOUBLE))
      |      * 1000000 + 0.5) AS BIGINT) AS rs6
      |  FROM rb WHERE vterm > 0),
      |mz AS (
      |  SELECT t, size, CAST(sum(rs6) AS BIGINT) AS s6,
      |    CAST(count(*) AS BIGINT) AS nb
      |  FROM rs GROUP BY 1, 2),
      |pv AS (
      |  SELECT t,
      |    max(CASE WHEN size = 8 THEN CAST(s6 AS DOUBLE) / nb / 1000000
      |      END) AS rs8,
      |    max(CASE WHEN size = 16 THEN CAST(s6 AS DOUBLE) / nb / 1000000
      |      END) AS rs16,
      |    max(CASE WHEN size = 32 THEN CAST(s6 AS DOUBLE) / nb / 1000000
      |      END) AS rs32
      |  FROM mz GROUP BY 1)
      |SELECT t AS event_type,
      |  floor(coalesce(rs8, 0) * 1000000 + 0.5) / 1000000 AS rs8,
      |  floor(coalesce(rs16, 0) * 1000000 + 0.5) / 1000000 AS rs16,
      |  floor(coalesce(rs32, 0) * 1000000 + 0.5) / 1000000 AS rs32,
      |  CASE WHEN rs8 IS NULL OR rs16 IS NULL OR rs32 IS NULL
      |      OR rs8 <= 0 OR rs32 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((ln(rs32) - ln(rs8)) / (2 * 0.6931471805599453)
      |      * 1000000 + 0.5) / 1000000 END AS hurst
      |FROM pv""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val hm = SeriesFrames.hourlyMean6(s, d)
    val sz = s.createDataFrame(Seq(Tuple1(8L), Tuple1(16L),
      Tuple1(32L))).toDF("size")
    val withBi = hm.crossJoin(broadcast(sz))
      .withColumn("bi", call_function("div",
        col("h") - pmod(col("h"), col("size")), col("size")))
    val wb = Window.partitionBy(col("t"), col("size"), col("bi"))
    val wo = wb.orderBy(col("h"))
    val bl = withBi.select(col("t"), col("size"), col("bi"), col("m6"),
      count(lit(1)).over(wb).cast("long").as("nh"),
      sum(col("m6")).over(wb).cast("long").as("sb"),
      sum(dec(col("m6")) * col("m6")).over(wb).as("qb"),
      sum(col("m6")).over(wo).cast("long").as("cum"),
      row_number().over(wo).cast("long").as("k"))
    val dv = bl.filter(col("nh") === col("size"))
      .select(col("t"), col("size"), col("bi"), col("sb"), col("qb"),
        (col("size") * col("cum") - col("k") * col("sb")).as("dev"))
    val rb = dv.groupBy(col("t"), col("size"), col("bi"))
      .agg((max(col("dev")) - min(col("dev"))).as("rint"),
        (dec(max(col("size"))) * max(col("qb"))
          - dec(max(col("sb"))) * max(col("sb"))).as("vterm"))
    val rs = rb.filter(col("vterm") > 0)
      .select(col("t"), col("size"),
        floor(col("rint").cast("double")
          / sqrt(col("vterm").cast("double")) * 1000000L + 0.5)
          .cast("long").as("rs6"))
    val mz = rs.groupBy(col("t"), col("size"))
      .agg(sum(col("rs6")).cast("long").as("s6"),
        count(lit(1)).as("nb"))
    val pv = mz.groupBy(col("t")).agg(
      max(when(col("size") === 8,
        col("s6").cast("double") / col("nb") / 1000000L)).as("rs8"),
      max(when(col("size") === 16,
        col("s6").cast("double") / col("nb") / 1000000L)).as("rs16"),
      max(when(col("size") === 32,
        col("s6").cast("double") / col("nb") / 1000000L)).as("rs32"))
    pv.select(col("t").as("event_type"),
      (floor(coalesce(col("rs8"), lit(0)) * 1000000L + 0.5) / 1000000L)
        .as("rs8"),
      (floor(coalesce(col("rs16"), lit(0)) * 1000000L + 0.5) / 1000000L)
        .as("rs16"),
      (floor(coalesce(col("rs32"), lit(0)) * 1000000L + 0.5) / 1000000L)
        .as("rs32"),
      when(col("rs8").isNull || col("rs16").isNull ||
          col("rs32").isNull || col("rs8") <= 0 || col("rs32") <= 0,
          lit(0.0))
        .otherwise(floor((log(col("rs32")) - log(col("rs8")))
          / (lit(2) * lit(Ln2)) * 1000000L + 0.5) / 1000000L)
        .as("hurst"))
  }

  /** Diurnal-profile chi-square per event type — goodness of fit of
    * each type's hour-of-day histogram against the pooled all-types
    * profile (24 bins, absent hours zero-filled so they contribute
    * their full expectation, stated). The categorical rhythm test
    * beside q290's F_S: a large chi2/dof says this type has its OWN
    * clock (errors spike at night, purchases at noon) — exactly the
    * structure a pooled hourly anomaly model (q123) would mis-score.
    * The statistic and its dof are the deliverable; chi-square
    * critical values are the reader's (the q289 convention).
    *
    * Exactness: observed counts and pooled margins are exact
    * integers; each bin's (o - e)^2 / e term quantizes to 1e-6
    * before the exact 24-term sum; ONE mirrored double chain per
    * term. Types identical to the pool (the pool is dominated by
    * them) still test correctly — e uses the pooled margin including
    * self, the standard profile-comparison convention (stated).
    *
    * Scale shape: ONE events pass -> (type, hour-of-day) cells
    * (<= 24 per type); the zero-fill is a broadcast 24-row frame;
    * everything downstream is 24-cell algebra per type. */
  val q295DiurnalProfile: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hod
      |  FROM events),
      |oc AS (SELECT t, hod, CAST(count(*) AS BIGINT) AS o
      |  FROM ev GROUP BY 1, 2),
      |nt AS (SELECT t, CAST(sum(o) AS BIGINT) AS n FROM oc GROUP BY 1),
      |ph AS (SELECT hod, CAST(sum(o) AS BIGINT) AS th FROM oc
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM oc),
      |hh AS (SELECT unnest(range(0, 24)) AS hod),
      |grid AS (
      |  SELECT nt.t, hh.hod, nt.n, coalesce(oc.o, 0) AS o,
      |    coalesce(ph.th, 0) AS th, tot.nn
      |  FROM nt CROSS JOIN hh CROSS JOIN tot
      |  LEFT JOIN oc ON oc.t = nt.t AND oc.hod = hh.hod
      |  LEFT JOIN ph ON ph.hod = hh.hod),
      |tm AS (
      |  SELECT t, n,
      |    CAST(floor(CASE WHEN th = 0 THEN 0
      |      ELSE (o - CAST(n AS DOUBLE) * th / nn)
      |        * (o - CAST(n AS DOUBLE) * th / nn)
      |        / (CAST(n AS DOUBLE) * th / nn) END * 1000000 + 0.5)
      |      AS BIGINT) AS t6
      |  FROM grid),
      |ag AS (
      |  SELECT t, CAST(max(n) AS BIGINT) AS n,
      |    CAST(sum(t6) AS BIGINT) AS s6
      |  FROM tm GROUP BY 1)
      |SELECT t AS event_type, n,
      |  floor(CAST(s6 AS DOUBLE) / 1000000 * 1000000 + 0.5) / 1000000
      |    AS chi2,
      |  CAST(23 AS BIGINT) AS dof,
      |  floor(CAST(s6 AS DOUBLE) / 1000000 / 23 * 1000000 + 0.5)
      |    / 1000000 AS chi2_over_dof
      |FROM ag""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type").as("t"),
      pmod(call_function("div", unix_micros(col("ts"))
        - pmod(unix_micros(col("ts")), lit(3600000000L)),
        lit(3600000000L)), lit(24L)).as("hod"))
    val oc = ev.groupBy(col("t"), col("hod"))
      .agg(count(lit(1)).as("o"))
      .cache() // margins and the grid both read it
    val nt = oc.groupBy(col("t")).agg(sum(col("o")).cast("long").as("n"))
    val ph = oc.groupBy(col("hod")).agg(sum(col("o")).cast("long")
      .as("th"))
    val tot = oc.agg(sum(col("o")).cast("long").as("nn"))
    val hh = s.range(0, 24).toDF("hod2")
    val grid = nt.crossJoin(broadcast(hh)).crossJoin(broadcast(tot))
      .join(oc.toDF("t2", "hodo", "o"),
        col("t2") === col("t") && col("hodo") === col("hod2"), "left")
      .join(broadcast(ph.toDF("hodp", "th")),
        col("hodp") === col("hod2"), "left")
      .select(col("t"), col("n"), coalesce(col("o"), lit(0L)).as("o"),
        coalesce(col("th"), lit(0L)).as("th"), col("nn"))
    val e = col("n").cast("double") * col("th") / col("nn")
    val tm = grid.select(col("t"), col("n"),
      floor(when(col("th") === 0, lit(0.0))
        .otherwise((col("o") - e) * (col("o") - e) / e)
        * 1000000L + 0.5).cast("long").as("t6"))
    val ag = tm.groupBy(col("t"))
      .agg(max(col("n")).cast("long").as("n"),
        sum(col("t6")).cast("long").as("s6"))
    ag.select(col("t").as("event_type"), col("n"),
      (floor(col("s6").cast("double") / 1000000L * 1000000L + 0.5)
        / 1000000L).as("chi2"),
      lit(23L).as("dof"),
      (floor(col("s6").cast("double") / 1000000L / 23 * 1000000L + 0.5)
        / 1000000L).as("chi2_over_dof"))
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

  /** q299's per-candidate breakpoint frame — (day, i, n, slope_l,
    * slope_r, sse3): every admissible split of the daily-revenue
    * series priced from ONE prefix-moment walk (suffix = total −
    * prefix). Shared with q304's confidence set so both read the
    * SAME SSE curve. Unpartitioned walks run over the <= |days|
    * revenue frame (metadata; named blanket exemption — the q250
    * argument). */
  private[operators] def sseCandidates(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, d)
      .select(epochDay(unix_micros(col("o_orderdate")))
        .as("day"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("rc"))
      .groupBy(col("day")).agg(sum(col("rc")).cast("long").as("rev"))
    val wD = Window.orderBy(col("day"))
    val wP = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pf = daily
      .select(col("day"), col("rev"),
        row_number().over(wD).cast("long").as("i"))
      .select(col("day"), col("i"),
        sum(dec(col("i"))).over(wP).as("sx"),
        sum(dec(col("rev"))).over(wP).as("sy"),
        sum(dec(col("i")) * col("i")).over(wP).as("sxx"),
        sum(dec(col("i")) * col("rev")).over(wP).as("sxy"),
        sum(dec(col("rev")) * col("rev")).over(wP).as("syy"))
      .cache() // totals row and the candidate sweep reuse the walk
    val tt = pf.agg(count(lit(1)).as("n"), max(col("sx")).as("tx"),
      max(col("sy")).as("ty"), max(col("sxx")).as("txx"),
      max(col("sxy")).as("txy"), max(col("syy")).as("tyy"))
    val cand = pf.crossJoin(broadcast(tt))
      .filter(col("i") >= 3 && col("n") - col("i") >= 3)
      .select(col("day"), col("i"), col("n"),
        (col("i").cast("double") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double"))
          .as("lyy"),
        (col("i").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          .as("lxy"),
        (col("i").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          .as("lxx"),
        ((col("n") - col("i")).cast("double")
          * (col("tyy") - col("syy")).cast("double")
          - (col("ty") - col("sy")).cast("double")
            * (col("ty") - col("sy")).cast("double")).as("ryy"),
        ((col("n") - col("i")).cast("double")
          * (col("txy") - col("sxy")).cast("double")
          - (col("tx") - col("sx")).cast("double")
            * (col("ty") - col("sy")).cast("double")).as("rxy"),
        ((col("n") - col("i")).cast("double")
          * (col("txx") - col("sxx")).cast("double")
          - (col("tx") - col("sx")).cast("double")
            * (col("tx") - col("sx")).cast("double")).as("rxx"))
    cand.filter(col("lxx") > 0 && col("rxx") > 0)
      .select(col("day"), col("i"), col("n"),
        (col("lxy") / col("lxx")).as("slope_l"),
        (col("rxy") / col("rxx")).as("slope_r"),
        floor(((col("lyy") - col("lxy") / col("lxx") * col("lxy"))
          / col("i")
          + (col("ryy") - col("rxy") / col("rxx") * col("rxy"))
            / (col("n") - col("i"))) / 1000 + 0.5)
          .cast("decimal(38,0)").as("sse3"))
  }

  /** q299's oracle-side candidate CTEs (daily..sse) — shared
    * verbatim with q304 so both engines read ONE spelling of the
    * SSE curve. */
  private[operators] val sseCandidatesSql: String =
    """WITH daily AS (
      |  SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
      |      AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |ix AS (
      |  SELECT day, rev,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
      |  FROM daily),
      |pf AS (
      |  SELECT day, i,
      |    CAST(sum(i) OVER w AS HUGEINT) AS sx,
      |    CAST(sum(CAST(rev AS HUGEINT)) OVER w AS HUGEINT) AS sy,
      |    CAST(sum(CAST(i AS HUGEINT) * i) OVER w AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(i AS HUGEINT) * rev) OVER w AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(rev AS HUGEINT) * rev) OVER w AS HUGEINT) AS syy
      |  FROM ix
      |  WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tt AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, max(sx) AS tx,
      |    max(sy) AS ty, max(sxx) AS txx, max(sxy) AS txy,
      |    max(syy) AS tyy
      |  FROM pf),
      |cand AS (
      |  SELECT pf.day, pf.i, tt.n,
      |    CAST(pf.i AS DOUBLE) * CAST(pf.syy AS DOUBLE)
      |      - CAST(pf.sy AS DOUBLE) * CAST(pf.sy AS DOUBLE) AS lyy,
      |    CAST(pf.i AS DOUBLE) * CAST(pf.sxy AS DOUBLE)
      |      - CAST(pf.sx AS DOUBLE) * CAST(pf.sy AS DOUBLE) AS lxy,
      |    CAST(pf.i AS DOUBLE) * CAST(pf.sxx AS DOUBLE)
      |      - CAST(pf.sx AS DOUBLE) * CAST(pf.sx AS DOUBLE) AS lxx,
      |    CAST(tt.n - pf.i AS DOUBLE)
      |        * CAST(tt.tyy - pf.syy AS DOUBLE)
      |      - CAST(tt.ty - pf.sy AS DOUBLE)
      |        * CAST(tt.ty - pf.sy AS DOUBLE) AS ryy,
      |    CAST(tt.n - pf.i AS DOUBLE)
      |        * CAST(tt.txy - pf.sxy AS DOUBLE)
      |      - CAST(tt.tx - pf.sx AS DOUBLE)
      |        * CAST(tt.ty - pf.sy AS DOUBLE) AS rxy,
      |    CAST(tt.n - pf.i AS DOUBLE)
      |        * CAST(tt.txx - pf.sxx AS DOUBLE)
      |      - CAST(tt.tx - pf.sx AS DOUBLE)
      |        * CAST(tt.tx - pf.sx AS DOUBLE) AS rxx
      |  FROM pf CROSS JOIN tt
      |  WHERE pf.i >= 3 AND tt.n - pf.i >= 3),
      |sse AS (
      |  SELECT day, i, n,
      |    lxy / lxx AS slope_l, rxy / rxx AS slope_r,
      |    CAST(floor(((lyy - lxy / lxx * lxy) / i
      |      + (ryy - rxy / rxx * rxy) / (n - i)) / 1000 + 0.5)
      |      AS HUGEINT) AS sse3
      |  FROM cand WHERE lxx > 0 AND rxx > 0)""".stripMargin

  /** Segmented regression on daily order revenue — one breakpoint,
    * exhaustive search: for every candidate split (both segments >= 3
    * days) fit OLS lines left and right and take the split minimizing
    * total SSE; report the break day, both slopes, and the variance
    * explained vs the single-line fit. q250 (Pettitt) detects a LEVEL
    * shift rank-wise; this detects a SLOPE change and quantifies it —
    * the "growth changed gear on day X" readout.
    *
    * Exactness: the candidate sweep needs only prefix moments (n, Sx,
    * Sy, Sxx, Sxy, Syy as exact decimal over day-index/revenue-cents
    * integers) — suffix moments are total minus prefix, so ONE window
    * walk prices every split in O(1) each; per-candidate SSEs are
    * mirrored doubles quantized to a 1e-3 cents^2 grid BEFORE the
    * argmin (ties break to the earliest day, stated); slopes are one
    * double chain off the winning split's exact moments. Degenerate
    * segments (zero x-variance can't occur — x is the day index) and
    * series under 6 days emit no row (stated).
    *
    * Scale shape: ONE orders pass -> <= |days| revenue cells; the
    * prefix walk is ONE unpartitioned window over that time-range-
    * bounded metadata frame (named blanket exemption, the q250
    * argument); the argmin is TakeOrdered(1). */
  val q299SegmentedFit: QueryDef = QueryDef.withOracle(
    s"""$sseCandidatesSql
      |SELECT day AS break_day, CAST(i AS BIGINT) AS n_days_left,
      |  CAST(n - i AS BIGINT) AS n_days_right,
      |  floor(slope_l / 100 * 1000000 + 0.5) / 1000000 AS slope_left,
      |  floor(slope_r / 100 * 1000000 + 0.5) / 1000000 AS slope_right,
      |  floor(CAST(sse3 AS DOUBLE) * 1000 / 10000 / 10000 * 1000000
      |    + 0.5) / 1000000 AS sse_scaled
      |FROM sse ORDER BY sse3, day LIMIT 1""".stripMargin
  ) { (s, d) =>
    sseCandidates(s, d).orderBy(col("sse3"), col("day")).limit(1)
      .select(col("day").as("break_day"),
        col("i").cast("long").as("n_days_left"),
        (col("n") - col("i")).cast("long").as("n_days_right"),
        (floor(col("slope_l") / 100 * 1000000L + 0.5) / 1000000L)
          .as("slope_left"),
        (floor(col("slope_r") / 100 * 1000000L + 0.5) / 1000000L)
          .as("slope_right"),
        (floor(col("sse3").cast("double") * 1000 / 10000 / 10000
          * 1000000L + 0.5) / 1000000L).as("sse_scaled"))
  }

  /** Seasonal-naive forecast backtest per event type — MASE: the
    * mean absolute error of the "same weekday last week" forecast
    * over the mean absolute error of the "same as yesterday" naive,
    * both on the SAME evaluable day set (days whose d-7 and d-1
    * neighbors exist — calendar joins, gaps excluded, stated;
    * in-sample-denominator purists divide elsewhere, this convention
    * is symmetric and leak-free). MASE < 1 says the weekly rhythm is
    * real forecast skill (q290's F_S made operational); MASE >= 1
    * says last-week adds nothing over yesterday. The baseline every
    * fancier forecast must beat.
    *
    * Exactness: all three series values are 1e-6-grid integers, so
    * both MAEs are exact integer sums with one division; MASE is one
    * mirrored double ratio. Zero naive error (perfectly constant
    * evaluable series) degrades to 0 (stated).
    *
    * Scale shape: the (type, day) metadata frame joined to itself at
    * day-7 and day-1 — cell joins, no window at all. */
  val q300MaseBacktest: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |ev2 AS (
      |  SELECT a.t, a.day, a.m6, w.m6 AS f7, y.m6 AS f1
      |  FROM dm a
      |  JOIN dm w ON w.t = a.t AND w.day = a.day - 7
      |  JOIN dm y ON y.t = a.t AND y.day = a.day - 1),
      |ag AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(abs(m6 - f7)) AS BIGINT) AS e7,
      |    CAST(sum(abs(m6 - f1)) AS BIGINT) AS e1
      |  FROM ev2 GROUP BY 1)
      |SELECT t AS event_type, n AS n_eval_days,
      |  floor(CAST(e7 AS DOUBLE) / n / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS mae_seasonal,
      |  floor(CAST(e1 AS DOUBLE) / n / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS mae_naive1,
      |  CASE WHEN e1 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(CAST(e7 AS DOUBLE) / e1 * 1000000 + 0.5) / 1000000
      |    END AS mase
      |FROM ag""".stripMargin
  ) { (s, d) =>
    val dm = SeriesFrames.dailyMean6(s, d)
      .cache() // three-way self-join on the day metadata frame
    val w7 = dm.toDF("t", "dw", "f7")
    val y1 = dm.toDF("t", "dy", "f1")
    val ev2 = dm.join(w7, col("dw") === col("day") - 7 &&
        w7("t") === dm("t"))
      .join(y1, col("dy") === col("day") - 1 && y1("t") === dm("t"))
      .select(dm("t").as("t"), col("m6"), col("f7"), col("f1"))
    val ag = ev2.groupBy(col("t")).agg(count(lit(1)).as("n"),
      sum(abs(col("m6") - col("f7"))).cast("long").as("e7"),
      sum(abs(col("m6") - col("f1"))).cast("long").as("e1"))
    ag.select(col("t").as("event_type"), col("n").as("n_eval_days"),
      (floor(col("e7").cast("double") / col("n") / 1000000L * 1000000L
        + 0.5) / 1000000L).as("mae_seasonal"),
      (floor(col("e1").cast("double") / col("n") / 1000000L * 1000000L
        + 0.5) / 1000000L).as("mae_naive1"),
      when(col("e1") === 0, lit(0.0))
        .otherwise(floor(col("e7").cast("double") / col("e1")
          * 1000000L + 0.5) / 1000000L).as("mase"))
  }

  /** STL-residual outlier days per event type — q290's integer
    * residual R (daily mean minus 7-day trend minus day-of-week
    * seasonal) put through the robust fence: flag days where
    * |R - median(R)| > 3 * MAD(R). The anomaly LIST q290's strength
    * summary implies: q123 z-scores against a fitted seasonal model
    * and q105 fences raw values; this fences what's left AFTER trend
    * and weekday are explained — the days something actually
    * happened. Output is the flagged days with their residuals (in
    * value units) and the per-type fence, so an empty result is
    * itself the healthy reading.
    *
    * Exactness: R is exact-integer (the q290 7*y - window-sum
    * device, quantized once to the 1e-6 grid); median and MAD are
    * house lower-median cell walks (exact); the fence compare is
    * pure integers. mad = 0 degrades to flagging nothing (stated —
    * a constant-residual series has no robust scale to exceed).
    *
    * Scale shape: q290's windows (7-row MA per type on day metadata)
    * plus two median cell walks per type; everything is the same
    * time-range-bounded frame. */
  val q301StlOutlierDays: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |ma AS (
      |  SELECT t, day, m6,
      |    sum(m6) OVER w7 AS s7, count(*) OVER w7 AS c7,
      |    max(day) OVER w7 - min(day) OVER w7 AS wspan
      |  FROM dm
      |  WINDOW w7 AS (PARTITION BY t ORDER BY day
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |dt AS (
      |  SELECT t, day, m6, 7 * m6 - CAST(s7 AS BIGINT) AS r7,
      |    (day + 4) % 7 AS dow
      |  FROM ma WHERE c7 = 7 AND wspan = 6),
      |sw AS (
      |  SELECT t, dow,
      |    CAST(floor(CAST(sum(r7) AS DOUBLE) / (7 * count(*)) + 0.5)
      |      AS BIGINT) AS sq
      |  FROM dt GROUP BY 1, 2),
      |rr AS (
      |  SELECT dt.t, dt.day,
      |    CAST(floor(CAST(dt.r7 AS DOUBLE) / 7 + 0.5) AS BIGINT)
      |      - sw.sq AS r
      |  FROM dt JOIN sw ON sw.t = dt.t AND sw.dow = dt.dow),
      |mc AS (SELECT t, r, count(*) AS cnt FROM rr GROUP BY 1, 2),
      |mw AS (
      |  SELECT t, r, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY t ORDER BY r) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY t) AS BIGINT) AS n
      |  FROM mc),
      |med AS (SELECT t, min(r) AS med FROM mw WHERE 2 * cum >= n
      |  GROUP BY 1),
      |ac AS (
      |  SELECT rr.t, abs(rr.r - med.med) AS a, count(*) AS cnt
      |  FROM rr JOIN med ON med.t = rr.t GROUP BY 1, 2),
      |aw AS (
      |  SELECT t, a, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY t ORDER BY a) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY t) AS BIGINT) AS n
      |  FROM ac),
      |mad AS (SELECT t, min(a) AS mad FROM aw WHERE 2 * cum >= n
      |  GROUP BY 1)
      |SELECT rr.t AS event_type, rr.day,
      |  floor(CAST(rr.r - med.med AS DOUBLE) / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS residual,
      |  floor(CAST(3 * mad.mad AS DOUBLE) / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS fence
      |FROM rr JOIN med ON med.t = rr.t JOIN mad ON mad.t = rr.t
      |WHERE mad.mad > 0 AND abs(rr.r - med.med) > 3 * mad.mad""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dm = SeriesFrames.dailyMean6(s, d)
    val w7 = Window.partitionBy(col("t")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val dt = dm.select(col("t"), col("day"), col("m6"),
        sum(col("m6")).over(w7).as("s7"),
        count(lit(1)).over(w7).as("c7"),
        (max(col("day")).over(w7) - min(col("day")).over(w7))
          .as("wspan"))
      .filter(col("c7") === 7 && col("wspan") === 6)
      .select(col("t"), col("day"),
        (lit(7) * col("m6") - col("s7").cast("long")).as("r7"),
        pmod(col("day") + 4, lit(7)).as("dow"))
      .cache() // dow means + residual join reuse it
    val sw = dt.groupBy(col("t"), col("dow"))
      .agg(floor(sum(col("r7")).cast("double")
        / (lit(7) * count(lit(1))) + 0.5).cast("long").as("sq"))
    val rr = dt.join(sw, Seq("t", "dow"))
      .select(col("t"), col("day"),
        (floor(col("r7").cast("double") / 7 + 0.5).cast("long")
          - col("sq")).as("r"))
      .cache() // two median walks + the final fence read it
    def lowerMedian(df: DataFrame, vcol: String, out: String): DataFrame = {
      val cells = df.groupBy(col("t"), col(vcol))
        .agg(count(lit(1)).as("cnt"))
      cells.select(col("t"), col(vcol), col("cnt"),
          sum(col("cnt")).over(Window.partitionBy(col("t"))
            .orderBy(col(vcol))).cast("long").as("cum"),
          sum(col("cnt")).over(Window.partitionBy(col("t")))
            .cast("long").as("n"))
        .filter(lit(2) * col("cum") >= col("n"))
        .groupBy(col("t")).agg(min(col(vcol)).as(out))
    }
    val med = lowerMedian(rr, "r", "med")
    val ab = rr.join(med, Seq("t"))
      .select(col("t"), abs(col("r") - col("med")).as("a"))
    val mad = lowerMedian(ab, "a", "mad")
    rr.join(med, Seq("t")).join(mad, Seq("t"))
      .filter(col("mad") > 0 &&
        abs(col("r") - col("med")) > lit(3) * col("mad"))
      .select(col("t").as("event_type"), col("day"),
        (floor((col("r") - col("med")).cast("double") / 1000000L
          * 1000000L + 0.5) / 1000000L).as("residual"),
        (floor((lit(3) * col("mad")).cast("double") / 1000000L
          * 1000000L + 0.5) / 1000000L).as("fence"))
  }

  /** Partial autocorrelations (lags 1-3, Durbin-Levinson) of the
    * daily-mean series per event type — q277 measures RAW serial
    * correlation; PACF says how much each lag adds AFTER shorter
    * lags are regressed out: phi11 = r1, phi22 = (r2 - r1^2) /
    * (1 - r1^2), phi33 by the level-3 recursion. A large phi11 with
    * phi22 ~ phi33 ~ 0 is the AR(1) signature (one smoothing
    * constant suffices — q111's EWMA is the right model); structure
    * surviving at lag 2-3 says the series needs more memory than any
    * single EWMA has.
    *
    * Exactness: r1..r3 come from q277's integer-centering machinery
    * (exact decimal lag products over the y = m6*n - sum device, the
    * n^2 cancelling in each ratio); the Durbin-Levinson chain is one
    * mirrored double expression per output, quantized 1e-6. Zero
    * denominators (constant series, |r1| = 1 edge) degrade to 0
    * (stated).
    *
    * Scale shape: the (type, day) metadata frame; a 3-lag broadcast
    * explode self-join on day cells. */
  val q302Pacf: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |st AS (
      |  SELECT t, CAST(sum(m6) AS BIGINT) AS sm,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM dm GROUP BY 1),
      |y AS (
      |  SELECT dm.t, dm.day, dm.m6 * st.nd - st.sm AS y
      |  FROM dm JOIN st ON st.t = dm.t),
      |d0 AS (
      |  SELECT t, sum(CAST(y AS HUGEINT) * y) AS d0 FROM y GROUP BY 1),
      |ks AS (SELECT unnest([1, 2, 3]) AS k),
      |num AS (
      |  SELECT a.t, ks.k, sum(CAST(a.y AS HUGEINT) * b.y) AS nk
      |  FROM y a CROSS JOIN ks
      |  JOIN y b ON b.t = a.t AND b.day = a.day - ks.k
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT d0.t,
      |    CASE WHEN d0.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(max(CASE WHEN k = 1 THEN nk END) AS DOUBLE)
      |        / CAST(d0.d0 AS DOUBLE) END AS r1,
      |    CASE WHEN d0.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(max(CASE WHEN k = 2 THEN nk END) AS DOUBLE)
      |        / CAST(d0.d0 AS DOUBLE) END AS r2,
      |    CASE WHEN d0.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(max(CASE WHEN k = 3 THEN nk END) AS DOUBLE)
      |        / CAST(d0.d0 AS DOUBLE) END AS r3,
      |    max(st.nd) AS nd
      |  FROM num JOIN d0 ON d0.t = num.t JOIN st ON st.t = num.t
      |  GROUP BY d0.t, d0.d0),
      |dl AS (
      |  SELECT t, nd, r1, r2, r3,
      |    CASE WHEN 1 - r1 * r1 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE (r2 - r1 * r1) / (1 - r1 * r1) END AS p22
      |  FROM rk),
      |dl2 AS (
      |  SELECT t, nd, r1, r2, r3, p22,
      |    r1 - p22 * r1 AS p21
      |  FROM dl)
      |SELECT t AS event_type, CAST(nd AS BIGINT) AS n_days,
      |  floor(r1 * 1000000 + 0.5) / 1000000 AS pacf1,
      |  floor(p22 * 1000000 + 0.5) / 1000000 AS pacf2,
      |  CASE WHEN 1 - p21 * r1 - p22 * r2 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((r3 - p21 * r2 - p22 * r1)
      |      / (1 - p21 * r1 - p22 * r2) * 1000000 + 0.5) / 1000000
      |    END AS pacf3
      |FROM dl2""".stripMargin
  ) { (s, d) =>
    val dm = SeriesFrames.dailyMean6(s, d)
    val st = dm.groupBy(col("t"))
      .agg(sum(col("m6")).cast("long").as("sm"), count(lit(1)).as("nd"))
    val y = dm.join(st, Seq("t"))
      .select(col("t"), col("day"),
        (col("m6") * col("nd") - col("sm")).as("y"), col("nd"))
      .cache()
    val d0 = y.groupBy(col("t"))
      .agg(sum(dec(col("y")) * col("y")).as("d0"),
        first(col("nd")).as("nd"))
    val ks = s.range(1, 4).toDF("k")
    val b = y.select(col("t").as("tb"), col("day").as("db"),
      col("y").as("yb"))
    val num = y.crossJoin(broadcast(ks))
      .join(b, col("tb") === col("t") && col("db") === col("day")
        - col("k"))
      .groupBy(col("t"), col("k"))
      .agg(sum(dec(col("y")) * col("yb")).as("nk"))
    val rk = num.join(d0.toDF("t", "d0", "nd"), Seq("t"))
      .groupBy(col("t"), col("d0"), col("nd"))
      .agg(max(when(col("k") === 1, col("nk"))).as("n1"),
        max(when(col("k") === 2, col("nk"))).as("n2"),
        max(when(col("k") === 3, col("nk"))).as("n3"))
      .select(col("t"), col("nd"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("n1").cast("double") / col("d0").cast("double"))
          .as("r1"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("n2").cast("double") / col("d0").cast("double"))
          .as("r2"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("n3").cast("double") / col("d0").cast("double"))
          .as("r3"))
    val dl = rk.select(col("t"), col("nd"), col("r1"), col("r2"),
      col("r3"),
      when(lit(1) - col("r1") * col("r1") <= 0, lit(0.0))
        .otherwise((col("r2") - col("r1") * col("r1"))
          / (lit(1) - col("r1") * col("r1"))).as("p22"))
    val dl2 = dl.withColumn("p21", col("r1") - col("p22") * col("r1"))
    dl2.select(col("t").as("event_type"),
      col("nd").cast("long").as("n_days"),
      q6(col("r1")).as("pacf1"),
      q6(col("p22")).as("pacf2"),
      when(lit(1) - col("p21") * col("r1") - col("p22") * col("r2")
          <= 0, lit(0.0))
        .otherwise(q6((col("r3") - col("p21") * col("r2")
          - col("p22") * col("r1"))
          / (lit(1) - col("p21") * col("r1")
            - col("p22") * col("r2")))).as("pacf3"))
  }

  /** Correlogram with Bartlett bands (lags 1-14) per event type —
    * r_k with the cumulative Bartlett standard error se_k =
    * sqrt((1 + 2*sum_{j<k} r_j^2) / n) and a significance flag
    * |r_k| > 1.96*se_k. q277 compresses the ACF into one Q; this is
    * the readable panel (WHICH lags matter — lag 7 significant and
    * lag 1 not is a pure weekly rhythm; the reverse is momentum) and
    * the input an ARIMA-order choice reads.
    *
    * Exactness: r_k from the q277 integer-centering machinery (exact
    * decimal lag products, n^2 cancels); each r_j^2 quantizes to
    * 1e-12 before the cumulative integer sum (the q277 convention),
    * so the band is a double over exact integers; the flag compares
    * the SAME mirrored doubles in both engines. Constant series
    * degrade to r = 0, flag 0 (stated).
    *
    * Scale shape: the SeriesFrames daily frame; a 14-lag broadcast
    * explode self-join on day cells; the cumulative band walk is a
    * window over <= 14 rows per type. */
  val q303Correlogram: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |st AS (
      |  SELECT t, CAST(sum(m6) AS BIGINT) AS sm,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM dm GROUP BY 1),
      |y AS (
      |  SELECT dm.t, dm.day, dm.m6 * st.nd - st.sm AS y, st.nd
      |  FROM dm JOIN st ON st.t = dm.t),
      |d0 AS (
      |  SELECT t, sum(CAST(y AS HUGEINT) * y) AS d0,
      |    any_value(nd) AS nd
      |  FROM y GROUP BY 1),
      |ks AS (SELECT unnest(range(1, 15)) AS k),
      |num AS (
      |  SELECT a.t, ks.k, sum(CAST(a.y AS HUGEINT) * b.y) AS nk
      |  FROM y a CROSS JOIN ks
      |  JOIN y b ON b.t = a.t AND b.day = a.day - ks.k
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT num.t, num.k, d0.nd,
      |    CASE WHEN d0.d0 <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(nk AS DOUBLE) / CAST(d0.d0 AS DOUBLE) END AS r
      |  FROM num JOIN d0 ON d0.t = num.t),
      |cb AS (
      |  SELECT t, k, nd, r,
      |    CAST(coalesce(sum(CAST(floor(r * r * 1000000000000 + 0.5)
      |      AS BIGINT)) OVER (PARTITION BY t ORDER BY k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS c12
      |  FROM rk)
      |SELECT t AS event_type, CAST(k AS BIGINT) AS lag,
      |  floor(r * 1000000 + 0.5) / 1000000 AS r,
      |  floor(sqrt((1 + 2 * CAST(c12 AS DOUBLE) / 1000000000000)
      |    / nd) * 1000000 + 0.5) / 1000000 AS bartlett_se,
      |  CASE WHEN abs(r) > 1.96
      |      * sqrt((1 + 2 * CAST(c12 AS DOUBLE) / 1000000000000) / nd)
      |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
      |    END AS significant
      |FROM cb""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dm = SeriesFrames.dailyMean6(s, d)
    val st = dm.groupBy(col("t"))
      .agg(sum(col("m6")).cast("long").as("sm"), count(lit(1)).as("nd"))
    val y = dm.join(st, Seq("t"))
      .select(col("t"), col("day"),
        (col("m6") * col("nd") - col("sm")).as("y"), col("nd"))
      .cache()
    val d0 = y.groupBy(col("t"))
      .agg(sum(dec(col("y")) * col("y")).as("d0"),
        first(col("nd")).as("nd"))
    val ks = s.range(1, 15).toDF("k")
    val b = y.select(col("t").as("tb"), col("day").as("db"),
      col("y").as("yb"))
    val num = y.crossJoin(broadcast(ks))
      .join(b, col("tb") === col("t") &&
        col("db") === col("day") - col("k"))
      .groupBy(col("t"), col("k"))
      .agg(sum(dec(col("y")) * col("yb")).as("nk"))
    val rk = num.join(d0.toDF("t", "d0", "nd"), Seq("t"))
      .select(col("t"), col("k"), col("nd"),
        when(col("d0") <= 0, lit(0.0))
          .otherwise(col("nk").cast("double") / col("d0").cast("double"))
          .as("r"))
    // cumulative Bartlett term: a window over <= 14 lag rows per type
    val wk = Window.partitionBy(col("t")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cb = rk.select(col("t"), col("k"), col("nd"), col("r"),
      coalesce(sum(floor(col("r") * col("r") * 1000000000000L + 0.5)
        .cast("long")).over(wk), lit(0L)).cast("long").as("c12"))
    val se = sqrt((lit(1) + lit(2) * col("c12").cast("double")
      / 1000000000000L) / col("nd"))
    cb.select(col("t").as("event_type"), col("k").as("lag"),
      q6(col("r")).as("r"),
      q6(se).as("bartlett_se"),
      when(abs(col("r")) > lit(1.96) * se, lit(1L)).otherwise(lit(0L))
        .as("significant"))
  }

  /** Breakpoint confidence set for q299's segmented fit — every
    * candidate split whose total SSE is within 10% of the minimum
    * (integer test: sse3*10 <= min3*11, exact), reported as the
    * [earliest, latest] candidate day, the set size, and the argmin.
    * q299 answers WHERE the slope changed; this answers how sharply
    * the data localizes it — a 2-day set is an event with a date, a
    * 15-day set is a slow bend no single day owns. Both queries read
    * the SAME shared SSE frame (sseCandidates), so
    * they cannot disagree about the curve.
    *
    * Exactness: the near-min test is pure integer on the quantized
    * sse3 grid; min/earliest/latest are exact; ties inherit q299's
    * earliest-day argmin convention. A zero-SSE minimum keeps every
    * exact-fit candidate (0 <= 0; stated).
    *
    * Scale shape: q299's one prefix walk; the near-min sweep is one
    * broadcast scalar against the <= |days| candidate frame. */
  val q304BreakConfidence: QueryDef = QueryDef.withOracle(
    s"""${sseCandidatesSql},
      |mn AS (SELECT min(sse3) AS m3 FROM sse),
      |keep AS (
      |  SELECT sse.day, sse.sse3 FROM sse CROSS JOIN mn
      |  WHERE sse.sse3 * 10 <= mn.m3 * 11),
      |best AS (
      |  SELECT day AS best_day FROM sse ORDER BY sse3, day LIMIT 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
      |  CAST(min(keep.day) AS BIGINT) AS ci_lo_day,
      |  CAST(max(keep.day) AS BIGINT) AS ci_hi_day,
      |  CAST(max(keep.day) - min(keep.day) AS BIGINT) AS width_days,
      |  CAST(max(best.best_day) AS BIGINT) AS best_day
      |FROM keep CROSS JOIN best""".stripMargin
  ) { (s, d) =>
    val sse = sseCandidates(s, d).cache()
    val mn = sse.agg(min(col("sse3")).as("m3"))
    val keep = sse.crossJoin(broadcast(mn))
      .filter(col("sse3") * 10 <= col("m3") * 11)
    val best = sse.orderBy(col("sse3"), col("day")).limit(1)
      .select(col("day").as("best_day"))
    keep.agg(count(lit(1)).as("n_candidates"),
        min(col("day")).cast("long").as("ci_lo_day"),
        max(col("day")).cast("long").as("ci_hi_day"),
        (max(col("day")) - min(col("day"))).cast("long")
          .as("width_days"))
      .crossJoin(broadcast(best))
      .select(col("n_candidates"), col("ci_lo_day"), col("ci_hi_day"),
        col("width_days"), col("best_day").cast("long").as("best_day"))
  }

  /** Daily p10/p50/p90 value ribbon per event type — the exact
    * lower-quantile band (house 100*cum >= p*n walk over per-(type,
    * day) value cells) that every monitoring dashboard draws. The
    * per-day companion to q288 (which compares two aggregate windows)
    * and the display layer under q301's outlier flags: an operator
    * reading the flagged day sees WHERE in the band it broke.
    *
    * Exactness: pure integer quantile walks; output values are the
    * exact cents integers over 100 (one division; both engines derive
    * the identical double from the identical int — stated).
    *
    * Scale shape: ONE events pass -> (type, day, cents) cells; the
    * cum walk partitions on (type, day) — real keys, cells-per-group
    * bounded by the day's distinct values; the p-sweep is a
    * conditional agg, no extra pass. */
  val q305DailyQuantiles: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |c AS (
      |  SELECT t, day, v, count(*) AS cnt FROM ev GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT t, day, v, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY t, day ORDER BY v)
      |      AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY t, day) AS BIGINT) AS n
      |  FROM c),
      |q AS (
      |  SELECT t, day,
      |    min(CASE WHEN 100 * cum >= 10 * n THEN v END) AS q10,
      |    min(CASE WHEN 100 * cum >= 50 * n THEN v END) AS q50,
      |    min(CASE WHEN 100 * cum >= 90 * n THEN v END) AS q90,
      |    CAST(max(n) AS BIGINT) AS n
      |  FROM w GROUP BY 1, 2)
      |SELECT t AS event_type, day, n,
      |  CAST(q10 AS DOUBLE) / 100 AS p10,
      |  CAST(q50 AS DOUBLE) / 100 AS p50,
      |  CAST(q90 AS DOUBLE) / 100 AS p90
      |FROM q""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select(col("event_type").as("t"),
      epochDay(unix_micros(col("ts"))).as("day"), cents)
    val c = ev.groupBy(col("t"), col("day"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = c.select(col("t"), col("day"), col("v"), col("cnt"),
      sum(col("cnt")).over(Window.partitionBy(col("t"), col("day"))
        .orderBy(col("v"))).cast("long").as("cum"),
      sum(col("cnt")).over(Window.partitionBy(col("t"), col("day")))
        .cast("long").as("n"))
    val q = w.groupBy(col("t"), col("day")).agg(
      min(when(lit(100) * col("cum") >= lit(10) * col("n"), col("v")))
        .as("q10"),
      min(when(lit(100) * col("cum") >= lit(50) * col("n"), col("v")))
        .as("q50"),
      min(when(lit(100) * col("cum") >= lit(90) * col("n"), col("v")))
        .as("q90"),
      max(col("n")).cast("long").as("n"))
    q.select(col("t").as("event_type"), col("day"), col("n"),
      (col("q10").cast("double") / 100).as("p10"),
      (col("q50").cast("double") / 100).as("p50"),
      (col("q90").cast("double") / 100).as("p90"))
  }

  /** Weekday-vs-weekend Mann-Whitney on the daily-mean series per
    * event type — the q205 pooled-rank machinery pointed at the one
    * categorical split every ops review asks about first: do weekend
    * days draw from a DIFFERENT value distribution, rank-wise (no
    * normality assumed — q276 decides whether a t-test would even be
    * calibrated). Weekend = Saturday/Sunday of the sign-safe epoch
    * dow (the q117 convention).
    *
    * Exactness: daily means on the 1e-6 grid; the pooled midrank
    * walk, tie correction, U, and z are the q205 integer algebra
    * verbatim on (type, m6) cells. Degenerate splits report z = 0
    * (stated).
    *
    * Scale shape: the SeriesFrames daily frame -> (type, side, m6)
    * cells; one cum window per type over its own value cells. */
  val q306WeekendContrast: QueryDef = QueryDef.withOracle(
    s"""${SeriesFrames.dailySql},
      |g AS (
      |  SELECT t, m6,
      |    CASE WHEN (day + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS we
      |  FROM dm),
      |c AS (
      |  SELECT t, m6,
      |    CAST(sum(1 - we) AS BIGINT) AS ca,
      |    CAST(sum(we) AS BIGINT) AS cb
      |  FROM g GROUP BY 1, 2),
      |w AS (
      |  SELECT t, m6, ca, cb, ca + cb AS tc,
      |    2 * CAST(sum(ca + cb) OVER (PARTITION BY t ORDER BY m6)
      |      AS BIGINT) - (ca + cb) + 1 AS r2
      |  FROM c),
      |sagg AS (
      |  SELECT t,
      |    CAST(sum(CAST(ca AS HUGEINT) * r2) AS HUGEINT) AS r2a,
      |    sum(CAST(tc AS HUGEINT) * tc * tc - tc) AS tt,
      |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      |  FROM w GROUP BY 1),
      |f AS (
      |  SELECT t, na, nb,
      |    r2a - CAST(na AS HUGEINT) * (na + 1) AS u2,
      |    CAST(na AS HUGEINT) * nb *
      |      (CAST(na + nb + 1 AS HUGEINT) * (na + nb)
      |        * (na + nb - 1) - tt) AS vnum,
      |    CAST(12 AS HUGEINT) * (na + nb) * (na + nb - 1) AS vden
      |  FROM sagg)
      |SELECT t AS event_type, na AS n_weekday, nb AS n_weekend,
      |  CAST(u2 AS BIGINT) AS u2,
      |  CASE WHEN vnum = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(u2 - CAST(na AS HUGEINT) * nb AS DOUBLE)
      |      / (2 * sqrt(CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 END AS z
      |FROM f""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = SeriesFrames.dailyMean6(s, d)
      .select(col("t"), col("m6"),
        when(pmod(col("day") + 4, lit(7)).isin(0, 6), 1).otherwise(0)
          .as("we"))
    val c = g.groupBy(col("t"), col("m6"))
      .agg(sum(lit(1) - col("we")).cast("long").as("ca"),
        sum(col("we")).cast("long").as("cb"))
    val w = c.select(col("t"), col("m6"), col("ca"), col("cb"),
      (col("ca") + col("cb")).as("tc"),
      (lit(2) * sum(col("ca") + col("cb"))
        .over(Window.partitionBy(col("t")).orderBy(col("m6")))
        .cast("long") - (col("ca") + col("cb")) + 1).as("r2"))
    val sagg = w.groupBy(col("t")).agg(
      sum(dec(col("ca")) * col("r2")).as("r2a"),
      sum(dec(col("tc")) * col("tc") * col("tc") - col("tc")).as("tt"),
      sum(col("ca")).cast("long").as("na"),
      sum(col("cb")).cast("long").as("nb"))
    val f = sagg.select(col("t"), col("na"), col("nb"),
      (col("r2a") - dec(col("na")) * (col("na") + 1)).as("u2"),
      (dec(col("na")) * col("nb") *
        (dec(col("na") + col("nb") + 1) * (col("na") + col("nb"))
          * (col("na") + col("nb") - 1) - col("tt"))).as("vnum"),
      (dec(lit(12)) * (col("na") + col("nb"))
        * (col("na") + col("nb") - 1)).as("vden"))
    f.select(col("t").as("event_type"), col("na").as("n_weekday"),
      col("nb").as("n_weekend"),
      col("u2").cast("long").as("u2"),
      when(col("vnum") === 0, lit(0.0))
        .otherwise(floor((col("u2") - dec(col("na")) * col("nb"))
          .cast("double")
          / (lit(2) * sqrt(col("vnum").cast("double")
            / col("vden").cast("double"))) * 1000000L + 0.5)
          / 1000000L).as("z"))
  }

  val all: Map[String, QueryDef] = Map(
    "q95_hopping" -> q95Hopping,
    "q98_twap" -> q98Twap,
    "q99_ohlc" -> q99Ohlc,
    "q100_interval_merge" -> q100IntervalMerge,
    "q111_ewma" -> q111Ewma,
    "q123_seasonal_anomaly" -> q123SeasonalAnomaly,
    "q156_debounce" -> q156Debounce,
    "q173_cusum_changepoint" -> q173CusumChangepoint,
    "q175_burstiness" -> q175Burstiness,
    "q185_acf" -> q185Acf,
    "q190_theil_sen" -> q190TheilSen,
    "q192_mann_kendall" -> q192MannKendall,
    "q250_pettitt" -> q250Pettitt,
    "q277_ljung_box" -> q277LjungBox,
    "q278_runs_test" -> q278RunsTest,
    "q279_allan_variance" -> q279AllanVariance,
    "q286_cross_correlation" -> q286CrossCorrelation,
    "q289_dickey_fuller" -> q289DickeyFuller,
    "q290_seasonal_strength" -> q290SeasonalStrength,
    "q291_hurst_rs" -> q291HurstRs,
    "q295_diurnal_profile" -> q295DiurnalProfile,
    "q297_coverage_gaps" -> q297CoverageGaps,
    "q299_segmented_fit" -> q299SegmentedFit,
    "q300_mase_backtest" -> q300MaseBacktest,
    "q301_stl_outlier_days" -> q301StlOutlierDays,
    "q302_pacf" -> q302Pacf,
    "q303_correlogram" -> q303Correlogram,
    "q304_break_confidence" -> q304BreakConfidence,
    "q305_daily_quantiles" -> q305DailyQuantiles,
    "q306_weekend_contrast" -> q306WeekendContrast)
}
