package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third tranche of engine-completeness queries (SURVEY §2.11): the
  * relational surface a standalone engine still owes beyond rollup/
  * cube/windows — explicit GROUPING SETS, moment statistics with a
  * deterministic cross-engine contract, array higher-order functions,
  * explode/unnest, histogram bucketing, window value functions, and
  * conditional/selective aggregates.
  *
  * All follow the established float-parity conventions (README /
  * SURVEY §6): integer fixed-point sums, identical IEEE op order in
  * the Spark code and the oracle SQL, unique tiebreak orderings.
  */
object Relational3 {

  /** Explicit GROUPING SETS — the general form of q2c's ROLLUP and
    * q2h's CUBE: per-flag and per-status marginals plus the grand
    * total in ONE pass (Catalyst plans a 3-way Expand below a single
    * partial+final HashAggregate, same exchange profile as rollup).
    * `grouping()` flags disambiguate a NULL group value from a
    * subtotal row — part of the operator's contract, so the oracle
    * pins them. */
  val q2nGroupingSets: QueryDef = QueryDef.withOracle(
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_price
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"),
        count(lit(1)).as("n"),
        (sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .cast("double") / 100.0).as("total_price"))
      .select("l_returnflag", "l_linestatus", "g_flag", "g_status",
        "n", "total_price")
  }

  /** Moment statistics (corr / covar_samp / stddev_samp) with a
    * deterministic cross-engine contract. Float moment aggregates are
    * merge-order-dependent, so the EXACT values come from integer
    * fixed-point sums (n, Σx, Σy, Σx², Σy², Σxy over quantity units ×
    * discount cents) plugged into the textbook formulas in the
    * identical IEEE op order on both engines — every double op sees
    * bit-identical inputs. Spark's native `corr`/`covar_samp`/
    * `stddev_samp` are then asserted against the exact values to
    * 1e-6 (q2a's contract pattern: DuckDB pins the flag as TRUE).
    *
    * Scale note: the int64 cross-moments hold to ~sf1 on this schema
    * (n·Σx² < 2^53); past that the exact path moves to DECIMAL(38) or
    * the native one-pass aggregates with a wider tolerance. */
  val q2oCorrStats: QueryDef = QueryDef.withOracle(
    """WITH b AS (
      |  SELECT l_returnflag,
      |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM b GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |    / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS corr_qty_disc,
      |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
      |    AS stddev_qty,
      |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) / 100.0
      |    AS covar_qty_disc,
      |  TRUE AS corr_ok, TRUE AS stddev_ok, TRUE AS covar_ok
      |FROM m""".stripMargin
  ) { (s, d) =>
    val b = Tables.lineitem(s, d).select(
      col("l_returnflag"), col("l_quantity"), col("l_discount"),
      floor(col("l_quantity") + 0.5).cast("long").as("x"),
      floor(col("l_discount") * 100 + 0.5).cast("long").as("y"))
    val m = b.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"),
      corr(col("l_quantity"), col("l_discount")).as("corr_native"),
      stddev_samp(col("l_quantity")).as("stddev_native"),
      covar_samp(col("l_quantity"), col("l_discount")).as("covar_native"))
    val corrExact = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) /
      sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
    val stdExact = sqrt(
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
        (col("n") * (col("n") - 1)).cast("double"))
    val covExact = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * (col("n") - 1)).cast("double") / 100.0
    m.select(
      col("l_returnflag"), col("n"),
      corrExact.as("corr_qty_disc"),
      stdExact.as("stddev_qty"),
      covExact.as("covar_qty_disc"),
      (abs(col("corr_native") - corrExact) <= 1e-6).as("corr_ok"),
      (abs(col("stddev_native") - stdExact) <= 1e-6).as("stddev_ok"),
      (abs(col("covar_native") - covExact) <= 1e-6).as("covar_ok"))
  }

  /** Array higher-order functions over the token list — transform /
    * filter / aggregate (fold) / slice, all codegen'd builtins inside
    * one projection: no explode, no shuffle, scales embarrassingly.
    * Integer token-length math keeps every value engine-exact. */
  val q2pArrayOps: QueryDef = QueryDef.withOracle(
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    t -> length(t) > 5)) AS BIGINT) AS n_long_toks,
      |  CAST(list_sum(list_transform(string_split(text, ' '),
      |    t -> length(t))) AS BIGINT) AS total_tok_len,
      |  array_to_string(list_transform(string_split(text, ' ')[1:3],
      |    t -> upper(t)), '_') AS head3
      |FROM documents""".stripMargin
  ) { (s, d) =>
    val toks = split(col("text"), " ", -1)
    Tables.documents(s, d).select(
      col("doc_id"),
      size(filter(toks, t => length(t) > 5)).cast("long").as("n_long_toks"),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        .as("total_tok_len"),
      array_join(transform(slice(toks, 1, 3), t => upper(t)), "_").as("head3"))
  }

  /** Explode/unnest: token list → one row per token, then an
    * order-free vocabulary rollup (occurrences, document frequency,
    * first doc). The generator runs inside whole-stage codegen and the
    * only shuffle is the final aggregate on the word key. */
  val q2qExplodeVocab: QueryDef = QueryDef.withOracle(
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents)
      |SELECT word, count(*) AS n_occ,
      |  count(DISTINCT doc_id) AS n_docs,
      |  min(doc_id) AS first_doc
      |FROM w GROUP BY word HAVING count(*) >= 5""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ", -1)).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occ") >= 5)
  }

  /** Fixed-width histogram of order totals: bucket index from ONE
    * double division + floor (identical op on identical inputs on
    * both engines — no width_bucket builtin needed, and DuckDB lacks
    * one), clamped into the top bucket. Map-side bucketing, one
    * 12-key aggregate: the degenerate-cardinality shuffle histograms
    * want at any scale. */
  val q2rHistogram: QueryDef = QueryDef.withOracle(
    """SELECT CAST(least(floor(o_totalprice / 50000.0), 11) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  min(o_totalprice) AS min_price,
      |  max(o_totalprice) AS max_price
      |FROM orders GROUP BY 1""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(least(floor(col("o_totalprice") / 50000.0), lit(11))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
  }

  /** Window VALUE functions — first_value / last_value / nth_value
    * over the full partition frame (UNBOUNDED..UNBOUNDED), per-user
    * ordered by (ts, event_id): a total order, so the selected rows
    * are engine-identical, and the values are exact 2-dp doubles (no
    * sums). */
  val q2sFirstLast: QueryDef = QueryDef.withOracle(
    """SELECT event_id, user_id,
      |  first_value(value) OVER w AS first_val,
      |  last_value(value) OVER w AS last_val,
      |  nth_value(value, 2) OVER w AS second_val
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      first(col("value")).over(w).as("first_val"),
      last(col("value")).over(w).as("last_val"),
      nth_value(col("value"), 2).over(w).as("second_val"))
  }

  /** Conditional & selective aggregates: count_if, bool_and/bool_or,
    * and max_by/min_by (argmax/argmin). The max_by ordering key is
    * made UNIQUE — bare max_by on a tied price is nondeterministic in
    * any engine, so the (price, orderkey) composite tiebreak is part
    * of the operator contract here. The key is a STRUCT (lexicographic
    * field order), not a packed int64: a `cents·10ᵏ + orderkey` pack
    * silently misorders once orderkeys outgrow 10ᵏ, and no k fits
    * both TPC-H sf≥10 orderkeys and int64. DuckDB's arg_max can't
    * order by struct, so the oracle derives the identical argmax via
    * a row_number window — same (price DESC, orderkey DESC) order. */
  val q2tArgmax: QueryDef = QueryDef.withOracle(
    """WITH o AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
      |  FROM orders),
      |best AS (
      |  SELECT o_orderpriority, o_orderkey AS best_order FROM (
      |    SELECT o_orderpriority, o_orderkey, row_number() OVER (
      |      PARTITION BY o_orderpriority
      |      ORDER BY price_c DESC, o_orderkey DESC) AS rn FROM o)
      |  WHERE rn = 1),
      |worst AS (
      |  SELECT o_orderpriority, o_orderkey AS worst_order FROM (
      |    SELECT o_orderpriority, o_orderkey, row_number() OVER (
      |      PARTITION BY o_orderpriority
      |      ORDER BY price_c ASC, o_orderkey ASC) AS rn FROM o)
      |  WHERE rn = 1),
      |agg AS (
      |  SELECT o_orderpriority,
      |    count(*) AS n,
      |    CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_big,
      |    bool_or(o_totalprice > 500000) AS any_huge,
      |    bool_and(o_totalprice > 900) AS all_over_900
      |  FROM o GROUP BY o_orderpriority)
      |SELECT agg.o_orderpriority, n, n_big, any_huge, all_over_900,
      |  best_order, worst_order
      |FROM agg
      |JOIN best USING (o_orderpriority)
      |JOIN worst USING (o_orderpriority)""".stripMargin
  ) { (s, d) =>
    val rankKey = struct(
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_c"),
      col("o_orderkey"))
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        count_if(col("o_totalprice") > 100000).as("n_big"),
        bool_or(col("o_totalprice") > 500000).as("any_huge"),
        bool_and(col("o_totalprice") > 900).as("all_over_900"),
        max_by(col("o_orderkey"), rankKey).as("best_order"),
        min_by(col("o_orderkey"), rankKey).as("worst_order"))
  }

  /** Skew-salted aggregation UNDER THE HARD ORACLE: the two-phase
    * salted groupBy (graft.functions.Salting — phase 1 on
    * (key, salt), phase 2 re-merge on key) must be bit-identical to
    * the plain single-shuffle aggregate, which is what the DuckDB SQL
    * computes. events.event_type is exactly the shape salting exists
    * for — a handful of hot keys over millions of rows. Integer cents
    * sums make the two-phase re-merge order-free, so the parity is
    * exact by construction, and the oracle proves it. */
  val q73SaltedAgg: QueryDef = QueryDef.withOracle(
    """SELECT event_type,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_value,
      |  count(*) AS n,
      |  min(value) AS min_value,
      |  max(value) AS max_value
      |FROM events GROUP BY event_type""".stripMargin
  ) { (s, d) =>
    import graft.functions.Salting
    Salting.saltedAggregate(
      Tables.events(s, d), Seq("event_type"), salts = 16,
      Seq(
        Salting.sumOf(floor(col("value") * 100 + 0.5).cast("long"), "cents"),
        Salting.countOf("n"),
        Salting.minOf(col("value"), "min_value"),
        Salting.maxOf(col("value"), "max_value")))
      .select(col("event_type"),
        (col("cents").cast("double") / 100.0).as("total_value"),
        col("n"), col("min_value"), col("max_value"))
  }

  /** Approximate percentile with an accuracy CONTRACT (q2a's pattern
    * for sketch aggregates): the exact interpolated quartiles ride on
    * integer cents — power-of-2 interpolation fractions over exact
    * int64 doubles, so every arithmetic step is exact in BOTH engines
    * — and Spark's approx_percentile (GK sketch, accuracy 10⁴ → rank
    * error ≤ n/10⁴) must land inside the exact [p45, p55] band, a
    * bound that holds under ANY partial-merge order. DuckDB pins the
    * flag TRUE. At 100 TB the approx path IS the operator — exact
    * percentiles need a full sort — so its contract belongs in the
    * gate. */
  val q74ApproxQuantile: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_type,
      |  quantile_cont(cents, 0.25) / 100.0 AS p25,
      |  quantile_cont(cents, 0.5) / 100.0 AS median,
      |  quantile_cont(cents, 0.75) / 100.0 AS p75,
      |  count(*) AS n,
      |  TRUE AS approx_ok
      |FROM c GROUP BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(
        (expr("percentile(cents, 0.25)") / 100.0).as("p25"),
        (expr("percentile(cents, 0.5)") / 100.0).as("median"),
        (expr("percentile(cents, 0.75)") / 100.0).as("p75"),
        count(lit(1)).as("n"),
        expr("approx_percentile(cents, 0.5, 10000)")
          .between(expr("percentile(cents, 0.45)"),
            expr("percentile(cents, 0.55)")).as("approx_ok"))
  }

  /** Edit-distance (Levenshtein) similarity — the fuzzy-string staple
    * for entity resolution. Distance histogram against a fixed probe
    * string: the DP distance is integer-exact in any engine, and the
    * aggregate keys on it, so the whole query is deterministic. At
    * scale this is map-side compute + a tiny-key aggregate; pairwise
    * fuzzy joins would instead go through the q41/q42 candidate-
    * generation paths with levenshtein as the verify step. */
  val q76EditDistance: QueryDef = QueryDef.withOracle(
    """SELECT levenshtein(p_name, 'midnight amber rose') AS dist,
      |  count(*) AS n,
      |  min(p_partkey) AS first_part
      |FROM part GROUP BY 1""".stripMargin
  ) { (s, d) =>
    Tables.part(s, d)
      .groupBy(levenshtein(col("p_name"), lit("midnight amber rose")).as("dist"))
      .agg(count(lit(1)).as("n"), min(col("p_partkey")).as("first_part"))
  }

  /** Conversion funnel: signup → first click AFTER the signup → first
    * purchase AFTER that click, per user, folded to one summary row.
    * The per-stage anchor is min(epoch µs) under a strict-inequality
    * chain — pure integer comparisons, so stage membership and the
    * mean gaps (int64 sums / counts, one double division) are
    * engine-exact. Scale shape: three filtered partial aggregates
    * keyed by user_id and two user-keyed joins — AQE broadcasts the
    * shrinking stage frames; nothing global until the final 1-row
    * fold. */
  val q77Funnel: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      |  FROM events),
      |s1 AS (
      |  SELECT user_id, min(ts_us) AS t1 FROM ev
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |c1 AS (
      |  SELECT ev.user_id, min(ev.ts_us) AS t2, min(s1.t1) AS t1
      |  FROM ev JOIN s1 ON ev.user_id = s1.user_id
      |  WHERE ev.event_type = 'click' AND ev.ts_us > s1.t1
      |  GROUP BY ev.user_id),
      |p1 AS (
      |  SELECT ev.user_id, min(ev.ts_us) AS t3, min(c1.t2) AS t2
      |  FROM ev JOIN c1 ON ev.user_id = c1.user_id
      |  WHERE ev.event_type = 'purchase' AND ev.ts_us > c1.t2
      |  GROUP BY ev.user_id)
      |SELECT count(s1.t1) AS n_signup,
      |  count(c1.t2) AS n_click,
      |  count(p1.t3) AS n_purchase,
      |  CAST(CAST(sum(c1.t2 - c1.t1) AS BIGINT) AS DOUBLE) / count(c1.t2)
      |    AS mean_signup_to_click_us,
      |  CAST(CAST(sum(p1.t3 - p1.t2) AS BIGINT) AS DOUBLE) / count(p1.t3)
      |    AS mean_click_to_purchase_us
      |FROM s1
      |LEFT JOIN c1 ON s1.user_id = c1.user_id
      |LEFT JOIN p1 ON s1.user_id = p1.user_id""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
    val c1 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts_us") > col("t1"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t2"), min(col("t1")).as("t1"))
    val p1 = ev.filter(col("event_type") === "purchase")
      .join(c1.select(col("user_id"), col("t2")), "user_id")
      .filter(col("ts_us") > col("t2"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t3"), min(col("t2")).as("t2"))
    s1.join(c1.select(col("user_id"), col("t1").as("c_t1"), col("t2")),
        Seq("user_id"), "left")
      .join(p1.select(col("user_id"), col("t2").as("p_t2"), col("t3")),
        Seq("user_id"), "left")
      .agg(
        count(col("t1")).as("n_signup"),
        count(col("t2")).as("n_click"),
        count(col("t3")).as("n_purchase"),
        (sum(col("t2") - col("c_t1")).cast("double") / count(col("t2")))
          .as("mean_signup_to_click_us"),
        (sum(col("t3") - col("p_t2")).cast("double") / count(col("t3")))
          .as("mean_click_to_purchase_us"))
  }

  /** Time-series resampling with forward fill: each user's irregular
    * events land on a regular 6-hour grid spanning [first, last]
    * event; empty buckets carry the last observed value forward
    * (`is_gap` marks them). Wholly composed from existing operators —
    * per-bucket last-observation via max_by with a total-order
    * tiebreak, grid generation via sequence+explode (a generator, so
    * no driver materialization), fill via last(ignoreNulls) over an
    * UNBOUNDED PRECEDING frame. Everything is integer bucket math and
    * exact value selection — no arithmetic on the filled values — so
    * both engines agree bit-for-bit. Scale shape: one aggregate and
    * one window, both keyed by user_id; grid size is span/Δ per key,
    * independent of event count. */
  val q82ResampleFfill: QueryDef = QueryDef.withOracle(
    """WITH e AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us, value, event_id
      |  FROM events),
      |b AS (SELECT user_id, us // 21600000000 AS bucket, value, us, event_id
      |      FROM e),
      |obs AS (
      |  SELECT user_id, bucket, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, bucket
      |      ORDER BY us DESC, event_id DESC) AS rn
      |    FROM b) WHERE rn = 1),
      |span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
      |         FROM b GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
      |         FROM span)
      |SELECT g.user_id, g.bucket * 21600000000 AS bucket_us,
      |  last_value(o.value IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
      |  o.bucket IS NULL AS is_gap
      |FROM grid g LEFT JOIN obs o
      |  ON g.user_id = o.user_id AND g.bucket = o.bucket""".stripMargin
  ) { (s, d) =>
    val du = 21600000000L // 6 h in µs
    val e = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("value"), col("event_id"))
      .withColumn("bucket", expr(s"us div $du"))
    // presence marker, not value-nullness: a legitimately-NULL
    // observation must still count as observed (mergeInto's lesson)
    val obs = e.groupBy(col("user_id"), col("bucket"))
      .agg(max_by(col("value"), struct(col("us"), col("event_id")))
        .as("obs_value"))
      .withColumn("__obs", lit(1))
    val grid = e.groupBy(col("user_id"))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("user_id"),
        explode(sequence(col("b0"), col("b1"))).as("bucket"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(obs, Seq("user_id", "bucket"), "left")
      .select(col("user_id"), (col("bucket") * du).as("bucket_us"),
        last(col("obs_value"), ignoreNulls = true).over(w).as("value"),
        col("__obs").isNull.as("is_gap"))
  }

  /** The streaming conversion join (graft.streaming.EventStreams)
    * applied to bounded frames, under the hard oracle: the SAME
    * declarative join plan serves both the watermarked stream-stream
    * execution (EventStreamsSpec proves batch parity across a
    * micro-batch split) and this batch run — so the oracle hash here
    * pins the operator's semantics for both modes. */
  val q83StreamConversions: QueryDef = QueryDef.withOracle(
    Relational2.intervalJoinOracleSql
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    graft.streaming.EventStreams.conversionJoin(
      ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts"),
      ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts"),
      windowDur = "30 minutes")
  }

  /** Z-order (Morton) bucketing of the order book on
    * (custkey, orderkey): the interleaved code's high bits partition
    * the 2-D key space into buckets whose rows are bounded in BOTH
    * dimensions — the layout contract behind LayoutOps.zorderWrite's 2-D
    * file skipping. Spark computes the code with the native
    * `graft_morton` expression; the oracle replays the identical
    * magic-mask spread arithmetic (& | << on int64) step by step, so
    * the hash pins the bit-exact interleave cross-engine. */
  val q84Zorder: QueryDef = QueryDef.withOracle(
    """WITH o AS (
      |  SELECT o_custkey AS a, o_orderkey AS b FROM orders),
      |t0 AS (SELECT a, b, a & 2147483647 AS xa, b & 2147483647 AS xb FROM o),
      |t1 AS (SELECT a, b, (xa | (xa << 16)) & 281470681808895 AS xa,
      |                    (xb | (xb << 16)) & 281470681808895 AS xb FROM t0),
      |t2 AS (SELECT a, b, (xa | (xa << 8)) & 71777214294589695 AS xa,
      |                    (xb | (xb << 8)) & 71777214294589695 AS xb FROM t1),
      |t3 AS (SELECT a, b, (xa | (xa << 4)) & 1085102592571150095 AS xa,
      |                    (xb | (xb << 4)) & 1085102592571150095 AS xb FROM t2),
      |t4 AS (SELECT a, b, (xa | (xa << 2)) & 3689348814741910323 AS xa,
      |                    (xb | (xb << 2)) & 3689348814741910323 AS xb FROM t3),
      |t5 AS (SELECT a, b, (xa | (xa << 1)) & 6148914691236517205 AS xa,
      |                    (xb | (xb << 1)) & 6148914691236517205 AS xb FROM t4),
      |m AS (SELECT a, b, xa | (xb << 1) AS z FROM t5)
      |SELECT z // 1048576 AS zbucket, count(*) AS n,
      |  min(a) AS min_cust, max(a) AS max_cust,
      |  min(b) AS min_order, max(b) AS max_order
      |FROM m GROUP BY 1""".stripMargin
  ) { (s, d) =>
    import graft.functions.LayoutExpressions
    Tables.orders(s, d)
      .select(col("o_custkey").as("a"), col("o_orderkey").as("b"),
        LayoutExpressions.morton(col("o_custkey"), col("o_orderkey")).as("z"))
      .groupBy(expr("z div 1048576").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("a")).as("min_cust"), max(col("a")).as("max_cust"),
        min(col("b")).as("min_order"), max(col("b")).as("max_order"))
  }

  /** Funnel step-latency distribution — q77 reports counts and MEANS;
    * this reports the shape (median + p90 of time-to-convert per
    * step), which is what a growth team actually reads: means hide
    * the slow tail that p90 exposes.
    *
    * Both statistics are RANK-BASED picks (the q105 convention,
    * extended): the median is the explicit lower/upper-middle
    * average, p90 is the element at rank ⌈0.9·n⌉ — an actual latency
    * value, no engine-specific quantile interpolation anywhere; the
    * only float is the final (a+b)/2, written identically in both
    * engines.
    *
    * Scale shape: the latency frame is converted-user-sized, and the
    * step key has exactly TWO values — a `Window.partitionBy(step)`
    * rank would sort the whole population through two single tasks
    * (the textbook skewed-key single-reducer). So the per-step rank
    * runs the q112/q115 two-phase range-partitioned prefix pattern
    * WITH step leading the range key: repartitionByRange(step,
    * lat_us, user_id) keeps each partition inside one step's sorted
    * run, partition-local row_numbers over (__pid, step) stay
    * parallel across all partitions, and the global per-step rank is
    * local rank + a broadcast per-(pid, step) offset from the
    * metadata-sized count frame (≤ 2·P rows — the only unpartitioned
    * windows in the plan run there). The stamped frame is cached so
    * the median pick, p90 pick, and count all read one partition
    * assignment (q112's AQE re-sampling hazard). */
  val q132FunnelLatency: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      |  FROM events),
      |s1 AS (
      |  SELECT user_id, min(ts_us) AS t1 FROM ev
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |c1 AS (
      |  SELECT ev.user_id, min(ev.ts_us) AS t2, min(s1.t1) AS t1
      |  FROM ev JOIN s1 ON ev.user_id = s1.user_id
      |  WHERE ev.event_type = 'click' AND ev.ts_us > s1.t1
      |  GROUP BY ev.user_id),
      |p1 AS (
      |  SELECT ev.user_id, min(ev.ts_us) AS t3, min(c1.t2) AS t2
      |  FROM ev JOIN c1 ON ev.user_id = c1.user_id
      |  WHERE ev.event_type = 'purchase' AND ev.ts_us > c1.t2
      |  GROUP BY ev.user_id),
      |lat AS (
      |  SELECT 'signup_to_click' AS step, user_id, t2 - t1 AS lat_us FROM c1
      |  UNION ALL
      |  SELECT 'click_to_purchase' AS step, user_id, t3 - t2 AS lat_us
      |  FROM p1),
      |r AS (
      |  SELECT step, lat_us,
      |    row_number() OVER (PARTITION BY step ORDER BY lat_us, user_id)
      |      AS rn,
      |    count(*) OVER (PARTITION BY step) AS n
      |  FROM lat),
      |med AS (
      |  SELECT step, avg(lat_us) AS med_us FROM r
      |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
      |p90 AS (
      |  SELECT step, CAST(min(lat_us) AS BIGINT) AS p90_us FROM r
      |  WHERE rn = (9 * n + 9) // 10 GROUP BY 1)
      |SELECT r.step, max(r.n) AS n, max(med.med_us) AS med_us,
      |  max(p90.p90_us) AS p90_us
      |FROM r JOIN med USING (step) JOIN p90 USING (step)
      |GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
    val c1 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts_us") > col("t1"))
      .groupBy("user_id")
      .agg(min(col("ts_us")).as("t2"), min(col("t1")).as("t1"))
    val p1 = ev.filter(col("event_type") === "purchase")
      .join(c1.select(col("user_id"), col("t2")), "user_id")
      .filter(col("ts_us") > col("t2"))
      .groupBy("user_id")
      .agg(min(col("ts_us")).as("t3"), min(col("t2")).as("t2"))
    val lat = c1.select(lit("signup_to_click").as("step"), col("user_id"),
        (col("t2") - col("t1")).as("lat_us"))
      .unionByName(p1.select(lit("click_to_purchase").as("step"),
        col("user_id"), (col("t3") - col("t2")).as("lat_us")))
    // two-phase per-step global rank + per-step total, via the TESTED
    // shared helper (TwoPhasePrefixSpec pins it to the window
    // reference): with value = 1 the grouped prefix IS the per-step
    // row_number, and totalOut carries n — same range-partitioned /
    // broadcast-offset plan the hand-rolled r8 version built inline
    val r = Kernels.groupedPrefixSum(lat, Seq("step"),
      Seq(col("lat_us"), col("user_id")), lit(1L), "rn", "n")
    // n rides the already-reduced median picks (it is constant per
    // step and every picked row carries it) — a groupBy over the full
    // ranked frame would be a second data-sized pass for a value the
    // ≤2-row frame already holds
    val med = r
      .filter(col("rn") === expr("(n + 1) div 2") ||
              col("rn") === expr("(n + 2) div 2"))
      .groupBy(col("step")).agg(avg(col("lat_us")).as("med_us"),
        max(col("n")).as("n"))
    val p90 = r.filter(col("rn") === expr("(9 * n + 9) div 10"))
      .groupBy(col("step")).agg(min(col("lat_us")).cast("long").as("p90_us"))
    med.join(p90, Seq("step"))
      .select(col("step"), col("n"), col("med_us"), col("p90_us"))
  }

  val all: Map[String, QueryDef] = Map(
    "q132_funnel_latency" -> q132FunnelLatency,
    "q2n_grouping_sets" -> q2nGroupingSets,
    "q2o_corr_stats" -> q2oCorrStats,
    "q2p_array_ops" -> q2pArrayOps,
    "q2q_explode_vocab" -> q2qExplodeVocab,
    "q2r_histogram" -> q2rHistogram,
    "q2s_first_last" -> q2sFirstLast,
    "q2t_argmax" -> q2tArgmax,
    "q73_salted_agg" -> q73SaltedAgg,
    "q74_approx_quantile" -> q74ApproxQuantile,
    "q76_edit_distance" -> q76EditDistance,
    "q77_funnel" -> q77Funnel,
    "q82_resample_ffill" -> q82ResampleFfill,
    "q83_stream_conversions" -> q83StreamConversions,
    "q84_zorder" -> q84Zorder
  )
}
