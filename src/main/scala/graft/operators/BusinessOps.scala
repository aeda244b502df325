package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, cents, epochDay}
import Kernels.{globalRowNumber, PreEnd}

/** Experimentation and business metrics over the event and order
  * warehouse: A/B readouts and experiment design (two-proportion
  * test, CUPED, sample-ratio mismatch, SPRT monitoring, Poisson
  * bootstrap, bucket jackknife, minimum detectable effect);
  * engagement and retention (cohort retention and lifetime value,
  * retention triangles, growth accounting, DAU/MAU, Kaplan-Meier
  * time-to-purchase, user event-type entropy); behavioural paths and
  * attribution (Markov transitions, session paths, last-touch and
  * multi-touch attribution); and customer and catalog decisions (RFM
  * segments, spend-decile migration, the price/size skyline, the
  * grid-blocked radius join).
  *
  * House conventions: no all-pairs joins (the skyline's dominance
  * test rides partition-local prefix minima plus a bounded candidate
  * merge; the radius join is grid-blocked); global ranks run the
  * two-phase prefix in `Kernels`, never a single-task window over
  * data-sized input; deterministic randomness is the shared 60-bit
  * md5 recipe (both engines hash the same string and scale by 2^60,
  * an exact power-of-two division, so a draw is bit-identical). The
  * cross-engine arithmetic rules are `Exact`'s.
  */
object BusinessOps {

  /** 2-D skyline (Pareto frontier, minimize both dims) of parts over
    * (p_retailprice, p_size): rows no other part dominates, where a
    * dominates b iff a ≤ b on both dims and < on at least one.
    *
    * The naive test is an O(n²) NOT EXISTS self-join (the oracle —
    * fine in DuckDB at gate SF, unusable at 100 TB). The distributed
    * form exploits the sort characterization: after sorting by
    * (price, size, id), every dominator of a row precedes it, and
    * dominance collapses to two prefix minima —
    *   dominated ⇔ min(size | strictly cheaper prefix) ≤ size
    *             ∨ min(size | same-price prefix) < size
    * — both computable with partition-LOCAL windows under ANY
    * partitioning (a dominator in another partition is handled by
    * phase 2). Phase 1 runs this locally (wide, one pass, no global
    * sort) and keeps each partition's local skyline; phase 2 re-runs
    * the identical logic over the UNION of local skylines on one
    * task. The merge input is the candidate bound: for anything but
    * adversarially anti-correlated dims, local skylines are tiny
    * (here: ≤ a few dozen rows from 200k), and the worst case
    * degrades to the sort cost, never to n². Equal (price, size)
    * duplicates dominate neither way and all survive — the strict-<
    * on the same-price minimum is what encodes that. */
  val q92Skyline: QueryDef = QueryDef.withOracle(
    """SELECT p_partkey, p_retailprice, p_size FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size))""".stripMargin
  ) { (s, d) =>
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val local = skylinePass(
      p.repartition(p.sparkSession.sparkContext.defaultParallelism)
        .withColumn("pid", spark_partition_id()))
    // phase 2: the candidate union fits one task by construction
    skylinePass(local.withColumn("pid", lit(0)).coalesce(1))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
  }

  /** One sorted-prefix dominance pass within each `pid` group; keeps
    * the rows not dominated inside their group. */
  private def skylinePass(df: DataFrame): DataFrame = {
    val order = Seq(col("p_retailprice"), col("p_size"), col("p_partkey"))
    val wAll = Window.partitionBy(col("pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSame = Window.partitionBy(col("pid"), col("p_retailprice"))
      .orderBy(col("p_size"), col("p_partkey"))
    val mAll = df.withColumn("m_all", min(col("p_size")).over(wAll))
      .withColumn("m_same",
        min(col("p_size")).over(wSame.rowsBetween(Window.unboundedPreceding, -1)))
    // the first row of a price group has no same-price predecessors,
    // so ITS m_all is exactly the strictly-cheaper prefix minimum
    mAll.withColumn("m_cheaper", first(col("m_all")).over(wSame))
      .filter(!(coalesce(col("m_cheaper") <= col("p_size"), lit(false)) ||
        coalesce(col("m_same") < col("p_size"), lit(false))))
      .drop("m_all", "m_same", "m_cheaper")
  }

  /** Cohort retention: users grouped by first-seen day, distinct
    * active users per (cohort, day-offset) — the canonical retention
    * triangle. Two aggregates and the join all key on user_id /
    * derive from the user-keyed shuffle, so the whole query is one
    * exchange of the fact table plus the (cohort × offset)-sized
    * rollup; nothing rescans events twice at the shuffle level. */
  val q93Retention: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS cohort_day
      |  FROM events GROUP BY 1),
      |a AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE)
      |    AS activity_day
      |  FROM events)
      |SELECT c.cohort_day,
      |  CAST(datediff('day', c.cohort_day, a.activity_day) AS BIGINT)
      |    AS day_offset,
      |  count(*) AS n_users
      |FROM a JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("activity_day"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("activity_day")).as("cohort_day"))
    ev.distinct()
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("activity_day"), col("cohort_day")).cast("long")
          .as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Markov transition matrix over per-user event sequences:
    * (src, dst) counts and row-normalized probabilities. One
    * user-keyed window pass emits consecutive pairs; the transition
    * aggregate lands on the event-type² domain (tiny at any corpus
    * size), so the normalizing join is broadcast-scale by
    * construction. p is a single IEEE division of two exact longs —
    * bit-identical across engines. */
  val q94Transitions: QueryDef = QueryDef(
    """WITH o AS (
      |  SELECT user_id, event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS dst
      |  FROM events),
      |t AS (SELECT src, dst, count(*) AS n FROM o
      |      WHERE dst IS NOT NULL GROUP BY 1, 2),
      |s AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM t GROUP BY 1)
      |SELECT t.src, t.dst, t.n,
      |  CAST(t.n AS DOUBLE) / CAST(s.tot AS DOUBLE) AS p
      |FROM t JOIN s USING (src)""".stripMargin)

  /** Two-proportion z-test per experiment metric (the A/B-test
    * readout): users split into control/treatment by id parity, a
    * "conversion" is an event with value > 100, and per event_type
    * the pooled-variance z statistic decides the winner. One
    * conditional-sum aggregate — a single shuffle on a tiny key
    * domain, partial combine map-side, so the scan dominates at any
    * scale (the shape a metrics platform needs: the scorecard is one
    * pass over the event log regardless of metric count).
    *
    * Cross-engine float parity: every input to the arithmetic is an
    * int64 count; each division, multiply, and sqrt is a single
    * correctly-rounded IEEE op evaluated in the same order in both
    * engines (the q102 convention), so the doubles are bit-identical.
    * Degenerate cells (pooled rate 0 or 1, i.e. se = 0) yield null z
    * rather than ±inf, pinned by the oracle. */
  val q104AbTest: QueryDef = QueryDef(
    """WITH c AS (
      |  SELECT event_type,
      |    count(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
      |    count(*) FILTER (WHERE user_id % 2 = 0 AND value > 100) AS x_a,
      |    count(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
      |    count(*) FILTER (WHERE user_id % 2 = 1 AND value > 100) AS x_b
      |  FROM events GROUP BY 1)
      |SELECT event_type, n_a, x_a, n_b, x_b,
      |  CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
      |  CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
      |  CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
      |    (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |      - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |    / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |        * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |  END AS z
      |FROM c""".stripMargin)

  /** Growth accounting (the DAU decomposition): every active
    * (user, day) is classified new / retained / resurrected, and a
    * churn event is emitted the day after an activity gap opens —
    * n_new − n_churned telescopes to the DAU delta, the identity
    * product analytics runs on.
    *
    * ONE user-keyed exchange carries all three window stages (the
    * q87 fusion): day-first flags over the raw event order, then —
    * filters preserve partitioning — prev/next-day lags over the
    * per-day rows only. Day-level rows then union with the shifted
    * churn emissions into a single (day)-keyed count, so the whole
    * report is two shuffles regardless of corpus size. A user's
    * trailing churn (after their last active day) lands at
    * last_day + 1 — one day past the observation window for users
    * active through the end, kept deliberately: dropping it would
    * need a global max-date and would undercount churn on the final
    * day. */
  val q106GrowthAccounting: QueryDef = QueryDef.withOracle(
    """WITH ad AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events),
      |c AS (
      |  SELECT user_id, day,
      |    lag(day)  OVER w AS prev_day,
      |    lead(day) OVER w AS next_day
      |  FROM ad WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |act AS (
      |  SELECT day,
      |    CASE WHEN prev_day IS NULL THEN 'new'
      |         WHEN day - prev_day = 1 THEN 'retained'
      |         ELSE 'resurrected' END AS cls
      |  FROM c),
      |chn AS (
      |  SELECT day + 1 AS day, 'churned' AS cls FROM c
      |  WHERE next_day IS NULL OR next_day - day > 1),
      |u AS (SELECT * FROM act UNION ALL SELECT * FROM chn)
      |SELECT day,
      |  count(*) FILTER (WHERE cls = 'new') AS n_new,
      |  count(*) FILTER (WHERE cls = 'retained') AS n_retained,
      |  count(*) FILTER (WHERE cls = 'resurrected') AS n_resurrected,
      |  count(*) FILTER (WHERE cls = 'churned') AS n_churned
      |FROM u GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val wEv = Window.partitionBy(col("user_id"))
      .orderBy(col("day"), col("event_id"))
    val wDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_id"))
      // day-first flag: distinct (user, day) WITHOUT a second
      // exchange — the lag runs on the same user partitioning the
      // day-level windows need
      .withColumn("df", !(lag(col("day"), 1).over(wEv) <=> col("day")))
      .filter(col("df"))
      .withColumn("prev_day", lag(col("day"), 1).over(wDay))
      .withColumn("next_day", lead(col("day"), 1).over(wDay))
    // both emissions ride ONE pass: a two-branch union would compute
    // the windowed frame twice, so each day-row explodes into its
    // activity class plus (when a gap opens) the shifted churn event
    val actCls = when(col("prev_day").isNull, "new")
      .when(datediff(col("day"), col("prev_day")) === 1, "retained")
      .otherwise("resurrected")
    val churns = when(
      col("next_day").isNull || datediff(col("next_day"), col("day")) > 1,
      array(struct(date_add(col("day"), 1).as("day"),
        lit("churned").as("cls"))))
      .otherwise(array().cast("array<struct<day:date,cls:string>>"))
    days
      .select(explode(concat(
        array(struct(col("day").as("day"), actCls.as("cls"))),
        churns)).as("e"))
      .select(col("e.day").as("day"), col("e.cls").as("cls"))
      .groupBy(col("day"))
      .agg(count(when(col("cls") === "new", 1)).as("n_new"),
        count(when(col("cls") === "retained", 1)).as("n_retained"),
        count(when(col("cls") === "resurrected", 1)).as("n_resurrected"),
        count(when(col("cls") === "churned", 1)).as("n_churned"))
  }

  /** Last-touch marketing attribution with a bounded lookback: each
    * purchase credits the user's most recent click/view touch within
    * 7 days; purchases with no touch in the window credit 'direct'.
    * Revenue rides integer cents (float-parity convention).
    *
    * The engine shape is the as-of composition (one union shuffle +
    * carry window — never purchases × touches), then a POST-FILTER
    * nulls out stale matches: the lookback bound cannot ride in the
    * as-of itself, but because the carry is a single struct per
    * matched row, aging out a match reverts type and timestamp
    * TOGETHER — no half-attributed rows. The channel rollup lands on
    * the touch-type domain (tiny) with map-side combine. */
  val q107Attribution: QueryDef = QueryDef.withOracle(
    """WITH t0 AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t_us,
      |    event_type AS touch, event_id
      |  FROM events WHERE event_type IN ('click', 'view')),
      |t AS (
      |  SELECT user_id, t_us, max_by(touch, event_id) AS touch
      |  FROM t0 GROUP BY user_id, t_us),
      |p AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT p.user_id, p.ts_us, p.cents, t.touch, t.t_us
      |  FROM p ASOF LEFT JOIN t
      |    ON p.user_id = t.user_id AND p.ts_us >= t.t_us),
      |a AS (
      |  SELECT cents,
      |    CASE WHEN touch IS NOT NULL
      |           AND ts_us - t_us <= 604800000000 THEN touch
      |         ELSE 'direct' END AS channel
      |  FROM m)
      |SELECT channel, count(*) AS n_purchases,
      |  CAST(sum(cents) AS BIGINT) AS revenue_cents
      |FROM a GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_type").as("touch"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    // the event_id tiebreak makes the same-µs touch pick deterministic
    // (max event_id wins) WITHIN the existing carry sort — no extra
    // shuffle; the oracle states the same rule as a max_by collapse
    graft.functions.AsOfJoin.asof(
      purchases, touches, Seq("user_id"), "ts_us", "t_us",
      Seq("touch" -> "touch", "t_us" -> "touch_us"),
      rightTiebreak = Some("event_id"))
      .select(col("cents"),
        when(col("touch").isNotNull &&
          col("ts_us") - col("touch_us") <= 604800000000L, col("touch"))
          .otherwise("direct").as("channel"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("revenue_cents"))
  }

  /** Linear multi-touch attribution — q107's last-touch sibling and
    * the other half of the standard attribution pair: every touch
    * (click/view) inside the 7-day lookback of a purchase shares the
    * conversion credit equally (1/n of the conversion, 1/n of the
    * cents); purchases with no qualifying touch credit 'direct' in
    * full.
    *
    * Parity: per-touch credit is EXACT INTEGER division in
    * micro-units (cents·10⁶ div n, 10⁶ div n) and the channel rollup
    * sums exact ints, so no order-dependent float ever forms; the
    * display doubles are one division each. (Integer division
    * under-credits a conversion by < n micro-units — the documented
    * quantization, not drift.) DuckDB `//` FLOORS while Spark `div`
    * truncates toward zero — identical only on non-negative
    * dividends, so purchases are explicitly restricted to value ≥ 0
    * on BOTH sides: a negative purchase is a refund, not a
    * conversion, and attribution models credit conversions.
    *
    * Scale shape (rewritten round 9 after the planted-skew sweep):
    * JOINLESS. The r8 shape was a user-keyed purchase×touch
    * equi-join — per-user activity² fan-out, and the adversarial
    * replica (one user owning 1% of all events) measured the cliff
    * at 15.9× (2.9 → 45.9 s at sf10). The credit formula only needs
    * per-(purchase, channel) COUNTS, and a windowed count is a
    * difference of two cumulative counts, so the pairing is now the
    * q107/q119 as-of idiom: touch markers ∪ two probe rows per
    * purchase, ONE (user, channel)-keyed running-count window,
    * per-purchase prefix differences, purchase-keyed rollups.
    * Linear in events regardless of per-user density — a bot-grade
    * hot user costs one big (but n·log n, single-pass) window
    * partition instead of an n² pair stream. */
  val q131MultiTouch: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t_us,
      |    event_type AS channel
      |  FROM events WHERE event_type IN ('click', 'view')),
      |p AS (
      |  SELECT event_id AS p_id, user_id,
      |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' AND value >= 0),
      |pairs AS (
      |  SELECT p.p_id, p.cents, t.channel
      |  FROM p JOIN t ON p.user_id = t.user_id
      |    AND t.t_us <= p.ts_us AND t.t_us >= p.ts_us - 604800000000),
      |n AS (SELECT p_id, count(*) AS n_touch FROM pairs GROUP BY 1),
      |credited AS (
      |  SELECT pairs.channel,
      |    1000000 // n.n_touch AS conv_fp,
      |    (pairs.cents * 1000000) // n.n_touch AS rev_fp
      |  FROM pairs JOIN n USING (p_id)
      |  UNION ALL
      |  SELECT 'direct' AS channel, 1000000 AS conv_fp,
      |    p.cents * 1000000 AS rev_fp
      |  FROM p LEFT JOIN n ON n.p_id = p.p_id
      |  WHERE n.p_id IS NULL)
      |SELECT channel,
      |  CAST(sum(conv_fp) AS BIGINT) AS conversions_fp,
      |  CAST(sum(rev_fp) AS BIGINT) AS revenue_fp,
      |  CAST(sum(conv_fp) AS DOUBLE) / 1000000 AS conversions,
      |  CAST(sum(rev_fp) AS DOUBLE) / 100000000 AS revenue
      |FROM credited GROUP BY 1""".stripMargin
  ) { (s, d) =>
    // JOINLESS (round-9 skew fix): the user-keyed purchase×touch
    // equi-join materializes every (purchase, touch-in-window) pair —
    // quadratic in any one user's event density, and the planted-skew
    // sweep measured the cliff (one user with 1% of all events:
    // 2.9 s → 45.9 s at sf10). The credit formula only needs COUNTS
    // per (purchase, channel), and counts over a time window are a
    // difference of two cumulative counts — so this runs the q107/
    // q119 as-of idiom instead: union per-channel touch markers with
    // two probe rows per purchase (window start/end), one
    // (user, channel)-keyed running count, then per-purchase
    // differences. Cost is ONE window sort over events + purchase-
    // keyed rollups: linear in events regardless of per-user density
    // (hot-key ratio back to ~1, same hash). Tie discipline: probes
    // at the window END sort AFTER coincident touches (inclusive
    // upper bound), probes at the START sort BEFORE them (inclusive
    // lower bound: cum_lo counts strictly-earlier touches).
    val ev = Tables.events(s, d)
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("channel"),
        unix_micros(col("ts")).as("t"), lit(1).as("rk"),
        lit(1L).as("is_touch"), lit(null).cast("long").as("p_id"),
        lit(null).cast("long").as("cents"))
    val purchases = ev
      .filter(col("event_type") === "purchase" && col("value") >= 0)
      .select(col("event_id").as("p_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val probes = purchases.select(col("user_id"), col("p_id"), col("cents"),
        col("ts_us"),
        explode(expr(
          "array(named_struct('channel', 'click', 'rk', 0), " +
            "named_struct('channel', 'click', 'rk', 2), " +
            "named_struct('channel', 'view', 'rk', 0), " +
            "named_struct('channel', 'view', 'rk', 2))")).as("pr"))
      .select(col("user_id"), col("pr.channel").as("channel"),
        when(col("pr.rk") === 0, col("ts_us") - 604800000000L)
          .otherwise(col("ts_us")).as("t"),
        col("pr.rk").as("rk"), lit(0L).as("is_touch"),
        col("p_id"), col("cents"))
    val cum = touches.unionByName(probes)
      .withColumn("cum", sum(col("is_touch")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("channel"))
          .orderBy(col("t"), col("rk"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
    val perChannel = cum.filter(col("rk") =!= 1)
      .groupBy(col("p_id"), col("cents"), col("channel"))
      .agg((max(when(col("rk") === 2, col("cum"))) -
        max(when(col("rk") === 0, col("cum")))).as("c"))
    val nt = perChannel.groupBy(col("p_id"), col("cents"))
      .agg(sum(col("c")).as("n_touch"))
    val credited = perChannel.filter(col("c") > 0)
      .join(nt.select(col("p_id"), col("n_touch")), Seq("p_id"))
      .select(col("channel"),
        (col("c") * expr("1000000 div n_touch")).as("conv_fp"),
        (col("c") * expr("(cents * 1000000) div n_touch")).as("rev_fp"))
      .unionByName(nt.filter(col("n_touch") === 0)
        .select(lit("direct").as("channel"),
          lit(1000000L).as("conv_fp"),
          (col("cents") * 1000000L).as("rev_fp")))
    credited.groupBy(col("channel"))
      .agg(sum(col("conv_fp")).as("conversions_fp"),
        sum(col("rev_fp")).as("revenue_fp"))
      .select(col("channel"), col("conversions_fp"), col("revenue_fp"),
        (col("conversions_fp").cast("double") / 1000000).as("conversions"),
        (col("revenue_fp").cast("double") / 100000000).as("revenue"))
  }

  /** Spatial radius join with grid-cell blocking: every
    * (customer, supplier) pair within Euclidean distance r on a
    * synthetic 100k×100k integer grid (coordinates derived from the
    * keys by an LCG-style mix, with DIFFERENT multipliers per side so
    * cross-side distances don't collapse to a function of the key
    * difference — deterministic, replayable in any engine, and
    * integer end-to-end so the distance predicate is exact int64
    * math with no trig/float parity risk).
    *
    * The blocking is the standard fixed-grid spatial join: cell side
    * = r, so any pair within r lies in the same or an adjacent cell.
    * The SMALLER side (suppliers) replicates to its 3×3 cell
    * neighborhood map-side (9×, two tiny explodes); the join is then
    * a plain equi-join on the cell key and the exact dist² ≤ r²
    * filter runs inside it. A pair matches in exactly ONE cell (the
    * customer's own cell is fixed; one supplier replica lands there)
    * — no dedup needed. The oracle is the O(n·m) cross-join
    * definition, fine in DuckDB at gate SF and exactly what this
    * operator exists to avoid at scale.
    *
    * Scale shape: replicate-the-small-side × 9 beats candidate
    * explosion on the big side; cell occupancy is load-balanced by
    * the LCG spread (adversarial clustering → salt the dense cells,
    * the q73 lever). Plan is a hash join on (gx, gy) — PlanSpec
    * asserts no BroadcastNestedLoopJoin/CartesianProduct. */
  val q110GeoJoin: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT c_custkey,
      |    (c_custkey * 1103515245 + 12345) % 100000 AS cx,
      |    (c_custkey * 69069 + 12345) % 100000 AS cy
      |  FROM customer),
      |s AS (
      |  SELECT s_suppkey,
      |    (s_suppkey * 48271 + 54321) % 100000 AS sx,
      |    (s_suppkey * 16807 + 54321) % 100000 AS sy
      |  FROM supplier)
      |SELECT c_custkey, s_suppkey,
      |  (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS dist2
      |FROM c, s
      |WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
      |      <= 25000000""".stripMargin
  ) { (s, d) =>
    val r = 5000L
    val cust = Tables.customer(s, d).select(col("c_custkey"),
        ((col("c_custkey") * 1103515245L + 12345L) % 100000L).as("cx"),
        ((col("c_custkey") * 69069L + 12345L) % 100000L).as("cy"))
      .withColumn("gx", expr(s"cx div $r"))
      .withColumn("gy", expr(s"cy div $r"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") * 48271L + 54321L) % 100000L).as("sx"),
        ((col("s_suppkey") * 16807L + 54321L) % 100000L).as("sy"))
      // replicate the small side into its 3x3 cell neighborhood
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("gx", expr(s"sx div $r") + col("dx"))
      .withColumn("gy", expr(s"sy div $r") + col("dy"))
      .drop("dx", "dy")
    cust.join(supp, Seq("gx", "gy"))
      .withColumn("dist2",
        (col("cx") - col("sx")) * (col("cx") - col("sx")) +
          (col("cy") - col("sy")) * (col("cy") - col("sy")))
      .filter(col("dist2") <= r * r)
      .select(col("c_custkey"), col("s_suppkey"), col("dist2"))
  }

  /** RFM segmentation: each user scored into exact global quartiles
    * of recency (days since last activity), frequency (event count),
    * and monetary (cents sum), rolled up to the 4×4×4 segment grid —
    * the classic CRM cut. Quartile = ⌊(rank−1)·4 / n⌋ + 1 over the
    * (metric, user_id) total order, a formula both engines state
    * identically (ntile's remainder-distribution rule is NOT relied
    * on).
    *
    * The scale problem is the three GLOBAL ranks: each runs the q91
    * two-phase distributed prefix pattern (range-repartition, local
    * row_number, partition-offset table joined back) — never a
    * single-task Window.orderBy — over the USER-level frame, which is
    * already one aggregation smaller than the fact table. Monetary
    * stays int64 cents end-to-end; the segment average is two IEEE
    * divisions on bit-identical operands. */
  val q112Rfm: QueryDef = QueryDef.withOracle(
    """WITH u AS (
      |  SELECT user_id, CAST(max(date_trunc('day', ts)) AS DATE) AS last_day,
      |    count(*) AS freq,
      |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS mon_cents
      |  FROM events GROUP BY 1),
      |g AS (SELECT max(last_day) AS gmax FROM u),
      |r AS (SELECT u.*, CAST(datediff('day', last_day, gmax) AS BIGINT)
      |        AS rec_days FROM u CROSS JOIN g),
      |rk AS (
      |  SELECT *,
      |    row_number() OVER (ORDER BY rec_days, user_id) AS rn_r,
      |    row_number() OVER (ORDER BY freq, user_id) AS rn_f,
      |    row_number() OVER (ORDER BY mon_cents, user_id) AS rn_m,
      |    count(*) OVER () AS n
      |  FROM r),
      |q AS (
      |  SELECT user_id, mon_cents,
      |    ((rn_r - 1) * 4) // n + 1 AS r_q,
      |    ((rn_f - 1) * 4) // n + 1 AS f_q,
      |    ((rn_m - 1) * 4) // n + 1 AS m_q
      |  FROM rk)
      |SELECT r_q, f_q, m_q, count(*) AS n_users,
      |  (CAST(sum(mon_cents) AS DOUBLE) / 100.0) / count(*) AS avg_monetary
      |FROM q GROUP BY 1, 2, 3""".stripMargin
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("mon_cents"))
    val gmax = u.agg(max(col("last_day")).as("gmax"))
    val r = u.crossJoin(broadcast(gmax))
      .withColumn("rec_days", datediff(col("gmax"), col("last_day")).cast("long"))
      .drop("gmax", "last_day")
    val n = r.agg(count(lit(1)).as("n"))
    val ranked = Seq(
      ("rn_r", "rec_days"), ("rn_f", "freq"), ("rn_m", "mon_cents"))
      .foldLeft(r) { case (df, (out, metric)) =>
        globalRowNumber(df, Seq(col(metric), col("user_id")), out)
      }
      .crossJoin(broadcast(n))
    def quartile(rn: String): Column =
      expr(s"(($rn - 1) * 4) div n") + 1L
    ranked
      .select(quartile("rn_r").as("r_q"), quartile("rn_f").as("f_q"),
        quartile("rn_m").as("m_q"), col("mon_cents"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"), sum(col("mon_cents")).as("mc"))
      .select(col("r_q"), col("f_q"), col("m_q"), col("n_users"),
        (col("mc").cast("double") / 100.0 / col("n_users")).as("avg_monetary"))
  }

  /** Session path mining: sessionize the event stream (q2b's
    * 30-minute-gap contract), take each session's first three event
    * types in order, and count sessions per path — the "how do
    * journeys start" rollup that the funnel (q77, fixed steps) can't
    * answer. Top 50 paths; `n_sessions` is an exact count, so the
    * (n DESC, path) cut is a deterministic total order.
    *
    * One user-keyed sort carries ALL the window work: session flags,
    * the running session index, and the within-session position —
    * computed arithmetically as rn − (the running max of rn at
    * session starts) rather than a second row_number partitioned by
    * (user, session), which would force another Exchange. The
    * per-session path then assembles by sorting the collected
    * (ts, event_id, type) structs inside the aggregate (collect_list
    * order is not a contract; sort_array makes it one). */
  val q114SessionPaths: QueryDef = QueryDef.withOracle(
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, sum(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM flagged),
      |rn AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY user_id, session_idx ORDER BY ts, event_id) AS rn
      |  FROM sessions),
      |p AS (
      |  SELECT user_id, session_idx,
      |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM rn WHERE rn <= 3 GROUP BY 1, 2)
      |SELECT path, count(*) AS n_sessions
      |FROM p GROUP BY 1
      |ORDER BY n_sessions DESC, path LIMIT 50""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .withColumn("new_session",
        when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
          > 1800000000L || lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(run))
      .withColumn("rn_user", row_number().over(w).cast("long"))
      // first rn of the current session, from the SAME user-keyed
      // sort (new_session=1 marks it; running max carries it forward)
      .withColumn("sess_start",
        max(when(col("new_session") === 1L, col("rn_user"))).over(run))
      .filter(col("rn_user") - col("sess_start") < 3)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(expr(
        "array_join(transform(sort_array(collect_list(struct(ts, event_id, event_type))), x -> x.event_type), '>')")
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(50)
  }

  /** Cohort lifetime value: customers grouped by first-order month,
    * each cohort's order count / active-customer count / revenue /
    * cumulative revenue tracked by cohort age in months — the LTV
    * curve a subscription or marketplace business reads daily.
    *
    * Shape: ONE customer-keyed exchange derives each customer's
    * cohort month (window min over o_custkey — no join against a
    * customer-sized first-order frame), then a partial+final hash
    * aggregate lands on the (cohort, age) domain, which is
    * months² / 2 — metadata-sized forever. The cumulative sum's
    * global-order window runs on THAT rollup only. Revenue is exact:
    * cents quantized per order before the sum (int64 addition is
    * associative — partial aggregation order can't perturb it), one
    * IEEE division per output row at the end. n_active is an exact
    * distinct over (cohort, age, custkey) — Spark plans the standard
    * two-phase distinct aggregate; at 100 TB the key domain is
    * customers, which is exactly what the shuffle already carries. */
  val q122CohortLtv: QueryDef = QueryDef(
    """WITH o AS (
      |  SELECT o_custkey, o_orderdate, o_totalprice,
      |    min(o_orderdate) OVER (PARTITION BY o_custkey) AS first_dt
      |  FROM orders),
      |tagged AS (
      |  SELECT date_trunc('month', first_dt) AS cohort_month,
      |    (year(o_orderdate) * 12 + month(o_orderdate))
      |      - (year(first_dt) * 12 + month(first_dt)) AS age_months,
      |    o_custkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM o),
      |roll AS (
      |  SELECT cohort_month, age_months,
      |    count(*) AS n_orders,
      |    count(DISTINCT o_custkey) AS n_active,
      |    sum(cents) AS rev_cents
      |  FROM tagged GROUP BY 1, 2)
      |SELECT cohort_month, age_months, n_orders, n_active,
      |  CAST(rev_cents AS DOUBLE) / 100 AS revenue,
      |  CAST(sum(rev_cents) OVER (PARTITION BY cohort_month
      |    ORDER BY age_months ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100
      |    AS cum_revenue
      |FROM roll""".stripMargin)

  /** DAU/MAU stickiness — the engagement ratio every growth dashboard
    * leads with: for each calendar day, distinct active users that
    * day over distinct active users in that day's CALENDAR month
    * (calendar, not trailing-28 — the month variant needs only two
    * dedup aggregates and one metadata join; a trailing window would
    * be a distinct-over-sliding-range, which is q2d's territory).
    *
    * Cross-engine: day = CAST(ts AS DATE) under the UTC session;
    * month = first day of that month via exact epoch-day int math is
    * avoided — both engines truncate DATE→month identically
    * (date_trunc / trunc). Stickiness is ONE IEEE division of exact
    * counts.
    *
    * Scale shape: one (day, user) dedup aggregate (partial+final —
    * the map side dedups within partition first), from which the
    * (month, user) dedup and both counts derive; the month attach is
    * a broadcast of the ≤ |months|-row MAU frame. */
  val q136DauMau: QueryDef = QueryDef.withOracle(
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (
      |  SELECT day, date_trunc('month', day) AS month,
      |    count(*) AS dau
      |  FROM du GROUP BY 1, 2),
      |mau AS (
      |  SELECT date_trunc('month', day) AS month,
      |    count(DISTINCT user_id) AS mau
      |  FROM du GROUP BY 1)
      |SELECT CAST(dau.day AS DATE) AS day, dau.dau, mau.mau,
      |  CAST(dau.dau AS DOUBLE) / mau.mau AS stickiness
      |FROM dau JOIN mau USING (month)""".stripMargin
  ) { (s, d) =>
    val du = Tables.events(s, d)
      .select(col("ts").cast("date").as("day"), col("user_id"))
      .distinct()
    val dau = du.groupBy(col("day"), trunc(col("day"), "month").as("month"))
      .agg(count(lit(1)).as("dau"))
    val mau = du.groupBy(trunc(col("day"), "month").as("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(broadcast(mau), Seq("month"))
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau")).as("stickiness"))
  }

  /** First-order Markov transition matrix of event types — the
    * behavioral fingerprint report (which action follows which, and
    * with what probability) that sits upstream of q114's top path
    * strings. Transitions are (event, NEXT event by the same user in
    * (ts, event_id) order); probability is row-normalized by the
    * from-type margin.
    *
    * Scale shape: ONE user-keyed exchange for the lead window (user
    * cardinality parallelism), then a partial+final rollup onto the
    * ≤ |types|² = 25-key domain; the margin attach is a broadcast of
    * the ≤5-row from-type frame. The probability is one IEEE division
    * of exact int64 counts. */
  val q155MarkovTransitions: QueryDef = QueryDef(
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |t AS (
      |  SELECT event_type AS from_type, next_type AS to_type,
      |    count(*) AS n
      |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |f AS (
      |  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |  FROM t GROUP BY 1)
      |SELECT from_type, to_type, n, n_from,
      |  CAST(n AS DOUBLE) / n_from AS p
      |FROM t JOIN f USING (from_type)""".stripMargin)

  /** Cohort retention triangle — users grouped by their FIRST active
    * day, counted as retained in each subsequent week-index: the
    * table every growth dashboard draws as the retention staircase
    * (q106 reports daily churn states; this is the cohort-relative
    * view).
    *
    * Scale shape: one (user, day) dedup aggregate (map-side
    * pre-combine), one user-keyed min for the cohort, one user-keyed
    * equi-join back, and a rollup onto the (cohort-days × weeks)
    * domain — calendar-bounded, metadata-sized output. Day and week
    * indexes are floordiv-by-construction int64. */
  val q157RetentionTriangle: QueryDef = QueryDef.withOracle(
    """WITH du AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |  FROM events),
      |c AS (SELECT user_id, min(day) AS cohort FROM du GROUP BY 1)
      |SELECT c.cohort AS cohort_day,
      |  CAST((du.day - c.cohort) // 7 AS BIGINT) AS wk,
      |  count(DISTINCT du.user_id) AS n_users
      |FROM du JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val du = Tables.events(s, d)
      .select(col("user_id"), epochDay(unix_micros(col("ts"))).as("day"))
      .distinct()
      .cache() // one events scan + dedup exchange feeds BOTH the
               // cohort margin and the join's probe side
    val c = du.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    du.join(c, Seq("user_id"))
      .groupBy(col("cohort").as("cohort_day"),
        // day - cohort >= 0 by construction, so div == floordiv here
        expr("(day - cohort) div 7").as("wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Customer spend-decile migration matrix between the early and
    * late halves of the order history — who moved up, who churned
    * down, the panel-analysis table behind "net revenue retention by
    * segment". The period split is the exact midpoint of the epoch-µs
    * date range (int floordiv, engine-neutral); deciles are exact
    * integer cuts over each period's global spend rank.
    *
    * Scale shape: the per-period spend rollup is customer-keyed
    * (partial+final); the per-period GLOBAL rank is the q132 class —
    * `period` has exactly TWO values, so a Window.partitionBy(period)
    * would sort both populations through two single reducers — and
    * therefore runs the GROUPED two-phase range-partitioned prefix
    * (groupedPrefixSum with period leading the range key, the tested
    * N-measure helper); the early↔late pairing is one customer-keyed
    * equi-join; the matrix rollup lands on the ≤100-cell domain. */
  val q159DecileMigration: QueryDef = QueryDef.withOracle(
    """WITH mid AS (
      |  SELECT (min(CAST(epoch_us(o_orderdate) AS BIGINT)) +
      |          max(CAST(epoch_us(o_orderdate) AS BIGINT))) // 2 AS m
      |  FROM orders),
      |pc AS (
      |  SELECT CASE WHEN CAST(epoch_us(o_orderdate) AS BIGINT) < mid.m
      |      THEN 'early' ELSE 'late' END AS period,
      |    o_custkey,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders CROSS JOIN mid GROUP BY 1, 2),
      |r AS (
      |  SELECT period, o_custkey, cents,
      |    row_number() OVER (PARTITION BY period
      |      ORDER BY cents, o_custkey) AS rn,
      |    count(*) OVER (PARTITION BY period) AS np
      |  FROM pc),
      |dd AS (
      |  SELECT period, o_custkey,
      |    CAST((rn - 1) * 10 // np AS BIGINT) AS dec FROM r)
      |SELECT e.dec AS d_early, l.dec AS d_late,
      |  count(*) AS n_customers
      |FROM dd e JOIN dd l ON e.o_custkey = l.o_custkey
      |WHERE e.period = 'early' AND l.period = 'late'
      |GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val ord = Tables.orders(s, d)
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate")).as("ts_us"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    // exact int64 midpoint (Spark's `/` is double division; div keeps
    // the epoch math integral — positive epochs, so div == floordiv)
    val mid = ord.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
      .select(expr("(mn + mx) div 2").as("m"))
    val pc = ord.crossJoin(broadcast(mid))
      .select(
        when(col("ts_us") < col("m"), "early").otherwise("late").as("period"),
        col("o_custkey"), col("cents"))
      .groupBy(col("period"), col("o_custkey"))
      .agg(sum(col("cents")).as("cents"))
    // period has 2 values — the q132 skewed-key class; the grouped
    // two-phase prefix keeps every partition parallel
    val r = Kernels.groupedPrefixSum(pc, Seq("period"),
      Seq(col("cents"), col("o_custkey")), lit(1L), "rn", "np")
    val dd = r.select(col("period"), col("o_custkey"),
      expr("(rn - 1) * 10 div np").as("dec"))
    dd.filter(col("period") === "early")
      .select(col("o_custkey"), col("dec").as("d_early"))
      .join(dd.filter(col("period") === "late")
        .select(col("o_custkey"), col("dec").as("d_late")), Seq("o_custkey"))
      .groupBy(col("d_early"), col("d_late"))
      .agg(count(lit(1)).as("n_customers"))
  }

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

  /** The 60-bit md5 hash shared with q91/q193/q198 (DuckDB:
    * ('0x' || substring(md5(x), 1, 15))::BIGINT) — non-negative, so
    * % == pmod and both engines draw the SAME pseudo-randomness. */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Poisson(1) inverse CDF over a uniform u — the per-(row, replicate)
    * bootstrap weight. Thresholds are the exact cumulative e^{-1}/k!
    * partial sums as 17-digit literals: both engines parse the same
    * text to the same double and compare the same bit-identical u, so
    * the drawn weight is deterministic. Truncated at 7 (P(w>7) ≈ 1e-5;
    * the truncation is part of the spec'd mechanism, identically
    * applied in both engines). */
  private def poissonW(u: Column): Column =
    when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238463, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .when(u < 0.999916758850712, 6L)
      .otherwise(7L)

  private val poissonCaseSql: String =
    """CASE WHEN u < 0.36787944117144233 THEN 0
      |         WHEN u < 0.7357588823428847 THEN 1
      |         WHEN u < 0.9196986029286058 THEN 2
      |         WHEN u < 0.9810118431238463 THEN 3
      |         WHEN u < 0.9963401531726563 THEN 4
      |         WHEN u < 0.9994058151824183 THEN 5
      |         WHEN u < 0.999916758850712 THEN 6
      |         ELSE 7 END""".stripMargin

  /** Poisson-bootstrap confidence interval for the mean event value —
    * the bootstrap that actually runs at 100 TB: a classical bootstrap
    * draws B multinomial resamples (B full shuffles of the corpus); the
    * Poisson approximation (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams", Google 2012) gives each row an
    * INDEPENDENT Poisson(1) weight per replicate, so all B=32
    * replicates ride ONE scan with a map-side-combined 32-cell
    * aggregate. Weights are deterministic: u = md5(event_id:r)/2^60
    * (bit-identical in both engines), inverse-CDF'd through exact
    * threshold literals.
    *
    * Readout: the exact point mean, the bootstrap mean-of-means and SE
    * (1e-9 fixed-point over the 32-cell frame — order-free), and the
    * rank-based percentile interval (2nd smallest / 2nd largest
    * replicate mean ≈ 3.1/96.9 percentiles at B=32; ranks over
    * bit-identical doubles with a replicate-id tiebreak are
    * deterministic).
    *
    * Scale shape: one events pass exploded ×32 into a hash aggregate
    * keyed on the replicate id — partial aggregation collapses each
    * task to ≤32 cells before the shuffle, so the exchange carries
    * 32·P rows regardless of data size; a second plain pass for the
    * exact point estimate; everything downstream is on the 32-row
    * frame. The only window is a row_number over those 32 rows. */
  val q217PoissonBootstrap: QueryDef = QueryDef.withOracle(
    s"""WITH ev AS (
      |  SELECT event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |w AS (
      |  SELECT r, cents,
      |    $poissonCaseSql AS wt
      |  FROM (
      |    SELECT g.r, ev.cents,
      |      ('0x' || substring(md5(CAST(ev.event_id AS VARCHAR) || ':'
      |          || CAST(g.r AS VARCHAR)), 1, 15))::BIGINT
      |        / 1152921504606846976.0 AS u
      |    FROM ev CROSS JOIN
      |      (SELECT unnest(generate_series(0, 31)) AS r) g)),
      |rep AS (
      |  SELECT r, CAST(sum(wt) AS BIGINT) AS sw,
      |    sum(CAST(wt * cents AS HUGEINT)) AS swc
      |  FROM w GROUP BY 1),
      |ms AS (
      |  SELECT r, CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) AS m FROM rep),
      |pt AS (
      |  SELECT count(*) AS n_events,
      |    sum(CAST(cents AS HUGEINT)) AS sc FROM ev),
      |mb AS (
      |  SELECT CAST(sum(CAST(floor(m * 1000000000 + 0.5) AS BIGINT))
      |    AS BIGINT) AS mfp FROM ms),
      |sd AS (
      |  SELECT CAST(sum(CAST(floor((m - (CAST(mfp AS DOUBLE) / 32)
      |      / 1000000000) * (m - (CAST(mfp AS DOUBLE) / 32) / 1000000000)
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS vfp
      |  FROM ms CROSS JOIN mb),
      |rk AS (
      |  SELECT m, row_number() OVER (ORDER BY m, r) AS rn FROM ms)
      |SELECT n_events,
      |  CAST(sc AS DOUBLE) / CAST(n_events AS DOUBLE) AS point_mean,
      |  (CAST(mfp AS DOUBLE) / 32) / 1000000000 AS boot_mean,
      |  sqrt((CAST(vfp AS DOUBLE) / 31) / 1000000000) AS boot_se,
      |  (SELECT m FROM rk WHERE rn = 2) AS ci_lo,
      |  (SELECT m FROM rk WHERE rn = 31) AS ci_hi
      |FROM pt CROSS JOIN mb CROSS JOIN sd""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val u = h60(concat(col("event_id").cast("string"), lit(":"),
      col("r").cast("string"))).cast("double") /
      lit(1.152921504606846976e18)
    val rep = ev
      .select(col("event_id"), col("cents"),
        explode(sequence(lit(0), lit(31))).as("r"))
      .select(col("r"), col("cents"), poissonW(u).as("wt"))
      .groupBy(col("r"))
      .agg(sum(col("wt")).as("sw"),
        sum(dec(col("wt") * col("cents"))).as("swc"))
    val ms = rep
      .select(col("r"),
        (col("swc").cast("double") / col("sw").cast("double")).as("m"))
      .cache() // 32 rows feed mean, SE, and both rank picks
    val pt = ev.agg(count(lit(1)).as("n_events"),
      sum(dec(col("cents"))).as("sc"))
    val mb = ms
      .agg(sum(floor(col("m") * 1000000000L + 0.5).cast("long")).as("mfp"))
    val mbar = (col("mfp").cast("double") / 32) / 1000000000L
    val sd = ms.crossJoin(broadcast(mb))
      .select(floor((col("m") - mbar) * (col("m") - mbar)
        * 1000000000L + 0.5).cast("long").as("t"))
      .agg(sum(col("t")).as("vfp"))
    val rk = ms.withColumn("rn",
      row_number().over(Window.orderBy(col("m"), col("r"))))
    val lo = rk.filter(col("rn") === 2).select(col("m").as("ci_lo"))
    val hi = rk.filter(col("rn") === 31).select(col("m").as("ci_hi"))
    pt.crossJoin(broadcast(mb)).crossJoin(broadcast(sd))
      .crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(col("n_events"),
        (col("sc").cast("double") / col("n_events").cast("double"))
          .as("point_mean"),
        mbar.as("boot_mean"),
        sqrt((col("vfp").cast("double") / 31) / 1000000000L).as("boot_se"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Delete-one-bucket jackknife for the average order value — the
    * variance answer for RATIO metrics (sum of cents over count of
    * orders), where the naive per-row CLT is wrong because numerator
    * and denominator move together. The population hashes into B=64
    * md5 buckets; each leave-one-out replicate recomputes the ratio
    * from the complement's sums, and the jackknife SE is
    * sqrt(((B-1)/B) · Σ (r_b − r̄)²) — the estimator A/B platforms run
    * at fleet scale precisely because it needs only per-bucket sums.
    *
    * Exactness: bucket sums are exact int64/decimal(38,0)/HUGEINT;
    * each leave-one-out ratio is one division of exact integers
    * (bit-identical in both engines); r̄ and the squared deviations
    * quantize on the 64-cell frame (order-free) at 1e-6 and 1e-3
    * respectively — the ratios are MEANS in cents (~1e7, so the
    * squared deviations reach ~1e12 and a 1e-9 grid would overflow
    * int64; a value-ranged grid keeps ≥10 significant digits at any
    * data size because means don't grow with row count), summed in
    * decimal(38,0)/HUGEINT; the CI is point ± 1.96·SE in identical op
    * order.
    *
    * Scale shape: ONE orders pass into a 64-cell hash aggregate
    * (map-side combined — the exchange carries ≤64·P rows at any data
    * size); totals, leave-one-out ratios, and the variance all ride
    * the 64-row frame with broadcast scalars. */
  val q218BucketJackknife: QueryDef = QueryDef.withOracle(
    """WITH o AS (
      |  SELECT ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 64 AS b,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |cell AS (
      |  SELECT b, count(*) AS nb, sum(CAST(cents AS HUGEINT)) AS sb
      |  FROM o GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(nb) AS BIGINT) AS n, sum(sb) AS s,
      |    count(*) AS nbuck FROM cell),
      |loo AS (
      |  SELECT b, CAST(s - sb AS DOUBLE) / (n - nb) AS r
      |  FROM cell CROSS JOIN tot),
      |m AS (
      |  SELECT sum(CAST(floor(r * 1000000 + 0.5) AS HUGEINT)) AS rfp
      |  FROM loo),
      |v AS (
      |  SELECT sum(CAST(floor((r - (CAST(rfp AS DOUBLE) / nbuck)
      |      / 1000000) * (r - (CAST(rfp AS DOUBLE) / nbuck)
      |      / 1000000) * 1000 + 0.5) AS HUGEINT)) AS vfp
      |  FROM loo CROSS JOIN m CROSS JOIN tot)
      |SELECT n AS n_orders, nbuck AS n_buckets,
      |  CAST(s AS DOUBLE) / n AS avg_cents,
      |  (CAST(rfp AS DOUBLE) / nbuck) / 1000000 AS jk_mean,
      |  sqrt(((CAST(vfp AS DOUBLE) / 1000) * (nbuck - 1)) / nbuck)
      |    AS jk_se,
      |  CAST(s AS DOUBLE) / n - 1.96
      |    * sqrt(((CAST(vfp AS DOUBLE) / 1000) * (nbuck - 1)) / nbuck)
      |    AS ci_lo,
      |  CAST(s AS DOUBLE) / n + 1.96
      |    * sqrt(((CAST(vfp AS DOUBLE) / 1000) * (nbuck - 1)) / nbuck)
      |    AS ci_hi
      |FROM tot CROSS JOIN m CROSS JOIN v""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
      .select((h60(col("o_orderkey").cast("string")) % 64).as("b"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val cell = o.groupBy(col("b"))
      .agg(count(lit(1)).as("nb"), sum(dec(col("cents"))).as("sb"))
      .cache() // ONE orders pass; totals + both replicate passes reuse it
    val tot = cell.agg(sum(col("nb")).cast("long").as("n"),
      sum(col("sb")).as("s"), count(lit(1)).as("nbuck"))
    val loo = cell.crossJoin(broadcast(tot))
      .select(col("b"), col("nbuck"), col("n"), col("s"),
        ((col("s") - col("sb")).cast("double") / (col("n") - col("nb")))
          .as("r"))
    val m = loo
      .agg(sum(dec(floor(col("r") * 1000000L + 0.5))).as("rfp"))
    val rbar = (col("rfp").cast("double") / col("nbuck")) / 1000000L
    val v = loo.crossJoin(broadcast(m))
      .select(floor((col("r") - rbar) * (col("r") - rbar)
        * 1000L + 0.5).cast("long").as("t"))
      .agg(sum(dec(col("t"))).as("vfp"))
    val se = sqrt(((col("vfp").cast("double") / 1000L)
      * (col("nbuck") - 1)) / col("nbuck"))
    tot.crossJoin(broadcast(m)).crossJoin(broadcast(v))
      .select(col("n").as("n_orders"), col("nbuck").as("n_buckets"),
        (col("s").cast("double") / col("n")).as("avg_cents"),
        rbar.as("jk_mean"),
        se.as("jk_se"),
        (col("s").cast("double") / col("n") - lit(1.96) * se).as("ci_lo"),
        (col("s").cast("double") / col("n") + lit(1.96) * se).as("ci_hi"))
  }

  /** Daily sample-ratio-mismatch check for the hashed A/B assignment —
    * the guardrail every experimentation platform runs before reading
    * any metric: if the md5 split isn't 50/50 over randomization UNITS
    * (distinct users active that day, never raw events — a chatty user
    * must not tilt the ratio), the assignment or logging pipeline is
    * broken and q104's readout is invalid. Per day: arm counts, the
    * 1-df χ² against 50/50, and the standard p<0.001 trigger flag
    * (χ² > 10.83 — Fabijan et al., "Diagnosing Sample Ratio
    * Mismatch", KDD'19).
    *
    * Exactness: arms come from the shared 60-bit md5 recipe mod 2;
    * χ² = (n_a−n_b)²/(n_a+n_b) is one division of exact int64s,
    * 1e-6-floored; the flag compares that same deterministic double.
    *
    * Scale shape: one distinct over (day, user) — map-side combined,
    * the exchange carries the distinct frame, not events — then a
    * ≤|days| conditional-count rollup. */
  val q226SrmCheck: QueryDef = QueryDef.withOracle(
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |c AS (
      |  SELECT day,
      |    count(*) FILTER (WHERE ('0x' || substring(md5(
      |      CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0) AS n_a,
      |    count(*) FILTER (WHERE ('0x' || substring(md5(
      |      CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 1) AS n_b
      |  FROM du GROUP BY 1)
      |SELECT day, n_a, n_b,
      |  floor(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
      |    * 1000000 + 0.5) / 1000000 AS chi2,
      |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b) > 10.83
      |    AS srm_flag
      |FROM c""".stripMargin
  ) { (s, d) =>
    val du = Tables.events(s, d)
      .select(to_date(date_trunc("day", col("ts"))).as("day"),
        col("user_id"))
      .distinct()
    val arm = h60(col("user_id").cast("string")) % 2
    val c = du.groupBy(col("day"))
      .agg(count(when(arm === 0, 1)).as("n_a"),
        count(when(arm === 1, 1)).as("n_b"))
    val chi2 = ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
      .cast("double") / (col("n_a") + col("n_b"))
    c.select(col("day"), col("n_a"), col("n_b"),
      (floor(chi2 * 1000000L + 0.5) / 1000000L).as("chi2"),
      (chi2 > 10.83).as("srm_flag"))
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

  private val Z975 = 1.959963984540054

  /** z for 80% power (Φ⁻¹(0.8)) — shared literal. */
  private val Z80 = 0.8416212335729143

  /** Minimum-detectable-effect / required-sample panel for the md5
    * A/B split — the number a team reads BEFORE launching the
    * experiment q104 analyzes and q243 monitors: at α = 5% (two-
    * sided) and 80% power, what absolute/relative purchase-rate lift
    * is detectable with arm B's current volume, and how many days
    * until a 5%-relative lift becomes detectable. Standard normal-
    * approximation design formulas (z_{α/2} + z_β factors as shared
    * literals).
    *
    * Exactness: counts are exact; every reported number is one IEEE
    * chain on exact ints, floored 1e-6; the day horizon is an exact
    * integer ceil. Degenerate base rates (0 or 1) degrade the panel
    * to zeros (stated).
    *
    * Scale shape: ONE events pass → (arm, day) cells (the q243
    * frame) → a 1-row chain. */
  val q263MdePower: QueryDef = QueryDef.withOracle(
    s"""WITH ev AS (
      |  SELECT CASE WHEN ('0x' || substring(md5(CAST(user_id AS
      |      VARCHAR)), 1, 15))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END
      |      AS arm,
      |    CAST(ts AS DATE) AS day,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |cell AS (
      |  SELECT arm, day, count(*) AS n, CAST(sum(y) AS BIGINT) AS k
      |  FROM ev GROUP BY 1, 2),
      |m AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 'A' THEN n ELSE 0 END) AS BIGINT)
      |      AS na,
      |    CAST(sum(CASE WHEN arm = 'A' THEN k ELSE 0 END) AS BIGINT)
      |      AS ka,
      |    CAST(sum(CASE WHEN arm = 'B' THEN n ELSE 0 END) AS BIGINT)
      |      AS nb,
      |    CAST(count(DISTINCT CASE WHEN arm = 'B' THEN day END)
      |      AS BIGINT) AS days
      |  FROM cell),
      |p AS (
      |  SELECT na, ka, nb, days, CAST(ka AS DOUBLE) / na AS pb
      |  FROM m)
      |SELECT na AS n_a, nb AS n_b, days AS n_days,
      |  floor(pb * 1000000 + 0.5) / 1000000 AS p_base,
      |  CASE WHEN ka = 0 OR ka = na THEN CAST(0 AS DOUBLE)
      |    ELSE floor((($Z975 + $Z80) * sqrt(2 * pb * (1 - pb) / nb))
      |      * 1000000 + 0.5) / 1000000 END AS mde_abs,
      |  CASE WHEN ka = 0 OR ka = na THEN CAST(0 AS DOUBLE)
      |    ELSE floor((($Z975 + $Z80) * sqrt(2 * pb * (1 - pb) / nb)
      |      / pb) * 1000000 + 0.5) / 1000000 END AS mde_rel,
      |  CASE WHEN ka = 0 OR ka = na THEN CAST(0 AS BIGINT)
      |    ELSE CAST(ceil(2 * pb * (1 - pb)
      |      * (($Z975 + $Z80) * ($Z975 + $Z80))
      |      / ((0.05 * pb) * (0.05 * pb))) AS BIGINT) END
      |    AS n_req_per_arm,
      |  CASE WHEN ka = 0 OR ka = na OR nb = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(ceil(2 * pb * (1 - pb)
      |      * (($Z975 + $Z80) * ($Z975 + $Z80))
      |      / ((0.05 * pb) * (0.05 * pb))
      |      / (CAST(nb AS DOUBLE) / days)) AS BIGINT) END
      |    AS days_required
      |FROM p""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(when(expr(
        "conv(substring(md5(cast(user_id AS string)), 1, 15), 16, 10)")
        .cast("long") % 2 === 0, lit("A")).otherwise(lit("B")).as("arm"),
        to_date(col("ts")).as("day"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("arm"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"))
    val m = ev.agg(
      sum(when(col("arm") === "A", col("n")).otherwise(0L))
        .cast("long").as("na"),
      sum(when(col("arm") === "A", col("k")).otherwise(0L))
        .cast("long").as("ka"),
      sum(when(col("arm") === "B", col("n")).otherwise(0L))
        .cast("long").as("nb"),
      countDistinct(when(col("arm") === "B", col("day")))
        .cast("long").as("days"))
    val pb = col("ka").cast("double") / col("na")
    val zsum = lit(Z975) + lit(Z80)
    val degenerate = col("ka") === 0 || col("ka") === col("na")
    val mdeAbs = zsum * sqrt(lit(2) * pb * (lit(1) - pb) / col("nb"))
    val nReq = lit(2) * pb * (lit(1) - pb) * (zsum * zsum) /
      ((lit(0.05) * pb) * (lit(0.05) * pb))
    m.select(col("na").as("n_a"), col("nb").as("n_b"),
      col("days").as("n_days"),
      (floor(pb * 1000000L + 0.5) / 1000000L).as("p_base"),
      when(degenerate, lit(0.0))
        .otherwise(floor(mdeAbs * 1000000L + 0.5) / 1000000L)
        .as("mde_abs"),
      when(degenerate, lit(0.0))
        .otherwise(floor(mdeAbs / pb * 1000000L + 0.5) / 1000000L)
        .as("mde_rel"),
      when(degenerate, lit(0L))
        .otherwise(ceil(nReq).cast("long")).as("n_req_per_arm"),
      when(degenerate || col("nb") === 0, lit(0L))
        .otherwise(ceil(nReq / (col("nb").cast("double") / col("days")))
          .cast("long")).as("days_required"))
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
  val q298UserTypeEntropy: QueryDef = QueryDef(
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
      |FROM uh""".stripMargin)

  val all: Map[String, QueryDef] = Map(
    "q92_skyline" -> q92Skyline,
    "q93_retention" -> q93Retention,
    "q94_transitions" -> q94Transitions,
    "q104_ab_test" -> q104AbTest,
    "q106_growth_accounting" -> q106GrowthAccounting,
    "q107_attribution" -> q107Attribution,
    "q131_multi_touch" -> q131MultiTouch,
    "q110_geo_join" -> q110GeoJoin,
    "q112_rfm" -> q112Rfm,
    "q114_session_paths" -> q114SessionPaths,
    "q122_cohort_ltv" -> q122CohortLtv,
    "q136_dau_mau" -> q136DauMau,
    "q155_markov_transitions" -> q155MarkovTransitions,
    "q157_retention_triangle" -> q157RetentionTriangle,
    "q159_decile_migration" -> q159DecileMigration,
    "q172_cuped" -> q172Cuped,
    "q183_km_survival" -> q183KmSurvival,
    "q217_poisson_bootstrap" -> q217PoissonBootstrap,
    "q218_bucket_jackknife" -> q218BucketJackknife,
    "q226_srm_check" -> q226SrmCheck,
    "q243_sprt" -> q243Sprt,
    "q263_mde_power" -> q263MdePower,
    "q298_user_type_entropy" -> q298UserTypeEntropy)
}
