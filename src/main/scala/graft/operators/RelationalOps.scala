package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.epochDay

/** The relational operator surface (SURVEY §2) as Spark DataFrame
  * programs over the TPC-H-ish testdata, each with a DuckDB oracle,
  * in four sections:
  *
  *   - the reference's own operators (q1-q23), each naming the
  *     reference code it exercises;
  *   - engine-completeness queries the reference lacks (SURVEY §2
  *     notes them as absent): lead/lag, ranking with ties,
  *     INTERSECT/EXCEPT, regexp scalars, HAVING with a scalar
  *     subquery, approximate distinct, sessions, as-of and interval
  *     joins, cube;
  *   - explicit GROUPING SETS, moment statistics, array higher-order
  *     functions, explode, histograms, window value functions,
  *     conditional aggregates, funnels (SURVEY §2.11);
  *   - reshaping and sequences: UNPIVOT and gaps-and-islands streaks.
  *
  * Scale notes: aggregations are plain `groupBy().agg`, so Catalyst
  * plans partial+final HashAggregate (map-side combine); small
  * dimensions (customer/nation/region/part stay ~1e3-1e6 rows at any
  * SF) are joined with explicit `broadcast()` so the fact table never
  * shuffles for the join; filters and projections sit directly on the
  * scan so parquet gets pushdown and pruning.
  *
  * Float parity (README / SURVEY §6): integer fixed-point sums,
  * identical IEEE op order in the Spark code and the oracle SQL, and
  * unique tiebreak orderings wherever an order matters.
  */
object RelationalOps {

  /** A1/A2 rollup shape (silver_to_gold.py:95-122): group keys →
    * {sum,mean,max,count} with round-inside-agg, TPC-H Q1 style. */
  val q1AggRollup: QueryDef = QueryDef(
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 3) AS sum_qty,
      |  round(sum(l_extendedprice), 3) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 3) AS sum_disc_price,
      |  round(avg(l_quantity), 3) AS avg_qty,
      |  round(avg(l_extendedprice), 3) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  round(max(l_extendedprice), 3) AS max_price,
      |  round(min(l_extendedprice), 3) AS min_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin)

  /** F6/F10 range predicates + manual projection (bronze_to_silver.py:
    * 138-144,186): both reach the parquet scan as PushedFilters +
    * ReadSchema pruning. */
  val q2FilterProject: QueryDef = QueryDef.withOracle(
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity BETWEEN 10 AND 30
      |  AND l_discount >= 0.05
      |  AND l_returnflag = 'R'""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_quantity").between(10, 30) &&
        col("l_discount") >= 0.05 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
  }

  /** J1 broadcast left equi-join + coalesce null-fill
    * (bronze_to_silver.py:178-211): fact ⟕ small dim. */
  val q3JoinBroadcastLeft: QueryDef = QueryDef.withOracle(
    """SELECT coalesce(c_mktsegment, 'UNKNOWN') AS mktsegment,
      |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_price,
      |  count(*) AS n_orders
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    // 2-dp prices summed as exact integer cents (order-independent)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("mktsegment"))
      .agg((sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("double") / 100.0).as("total_price"),
        count(lit(1)).as("n_orders"))
  }

  /** Inner equi-join chain with broadcast dims: revenue per nation.
    * (SURVEY §2.3: standard inner equi-join surface.) */
  val q4JoinMulti: QueryDef = QueryDef(
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin)

  /** W1/W2/W3 rolling 60-row window per key ordered by time
    * (bronze_to_silver.py:246-268): rolling mean + rolling sum with
    * min_periods=1 ≡ rowsBetween(-59, 0). event_id breaks ts ties so
    * both engines see one deterministic order. */
  val q5WindowRolling: QueryDef = QueryDef(
    // Exactness contract: window-sliding float sums are NOT
    // order-deterministic across engines (DuckDB aggregates frames via
    // a segment tree; Spark sums sequentially), so any float rounding
    // can flip at a boundary. Values carry 2 decimals → sum exact
    // integer cents (order-independent), then derive the mean with a
    // single double division + floor-rounding, identical in both.
    """SELECT event_id, user_id,
      |  floor((CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE)
      |         / (count(*) OVER w * 100.0)) * 1000 + 0.5) / 1000 AS value_60_avg,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w AS BIGINT)
      |    AS error_60_sum,
      |  count(*) OVER w AS window_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)""".stripMargin)

  /** W4 latest-row pick (dashboard/app.py:334) via row_number. */
  val q6WindowLatest: QueryDef = QueryDef.withOracle(
    """SELECT user_id, event_id, event_type, round(value, 2) AS value
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) WHERE rn = 1""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"))
  }

  /** O2 top-k (dashboard/app.py:567,618): orderBy desc + limit —
    * Spark plans TakeOrderedAndProject (no global sort). */
  val q7TopK: QueryDef = QueryDef(
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin)

  /** A5 distinct aggregates (silver_to_gold.py:217-226): per-month
    * countDistinct — exact, like the reference's nunique. */
  val q8DistinctAgg: QueryDef = QueryDef.withOracle(
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  count(DISTINCT o_custkey) AS active_customers,
      |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_price,
      |  count(*) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(countDistinct(col("o_custkey")).as("active_customers"),
        (sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .cast("double") / 100.0).as("total_price"),
        count(lit(1)).as("n_orders"))
  }

  /** U1/U2 union all + dedup (dashboard/app.py:236-244): two
    * overlapping extracts, unioned, deduplicated on the key. */
  val q9UnionDedup: QueryDef = QueryDef(
    """SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 45
      |UNION
      |SELECT l_orderkey, l_partkey FROM lineitem WHERE l_extendedprice > 90000""".stripMargin)

  /** F11 + np.where conditional classification (silver_to_gold.py:
    * 114-118): when/otherwise chain + rollup. */
  val q10CaseWhen: QueryDef = QueryDef(
    """SELECT CASE WHEN l_quantity < 10 THEN 'low'
      |            WHEN l_quantity < 40 THEN 'mid'
      |            ELSE 'high' END AS qty_class,
      |  count(*) AS n,
      |  round(avg(l_extendedprice), 3) AS avg_price
      |FROM lineitem GROUP BY 1""".stripMargin)

  /** J2 scalar broadcast (silver_to_gold.py:244-258): global aggregate
    * attached to every group row as a scalar subquery, which Spark
    * evaluates once. */
  val q11ScalarBroadcast: QueryDef = QueryDef(
    """SELECT l_returnflag,
      |  round(avg(l_extendedprice) - (SELECT avg(l_extendedprice) FROM lineitem), 3)
      |    AS deviation_from_global
      |FROM lineitem GROUP BY l_returnflag""".stripMargin)

  /** A8 KPI scalars (dashboard/app.py:277-357): one-row summary —
    * sums + exact distinct counts over a time-filtered fact. */
  val q12KpiScalars: QueryDef = QueryDef(
    """SELECT CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_value,
      |  count(DISTINCT user_id) AS active_users,
      |  count(*) AS n_events
      |FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'""".stripMargin)

  /** §2.8 date/time scalars: extract parts, group rollup
    * (ingest_bronze.py:126-136, silver_to_gold.py:92). */
  val q13DateScalars: QueryDef = QueryDef(
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mo,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total
      |FROM orders GROUP BY 1, 2""".stripMargin)

  /** §2.8 string scalars: upper/length/substring/concat. */
  val q14StringFuncs: QueryDef = QueryDef(
    """SELECT p_partkey,
      |  upper(p_brand) AS brand_u,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  substr(p_type, 1, 5) AS type5,
      |  p_brand || '/' || p_type AS brand_type
      |FROM part""".stripMargin)

  /** §2.8 JSON path extraction (ingest_bronze.py:52 json.loads ≈
    * from_json/get_json_object). */
  val q15Json: QueryDef = QueryDef.withOracle(
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
      |  count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY 1""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
  }

  /** F4/F5 null handling + coercion (bronze_to_silver.py:128-136):
    * nulls injected via CASE, counted and coalesced like fillna. */
  val q16NullHandling: QueryDef = QueryDef.withOracle(
    """SELECT c_mktsegment,
      |  count(*) AS n,
      |  count(CASE WHEN c_acctbal >= 0 THEN c_acctbal END) AS n_nonneg,
      |  CAST(sum(CAST(floor(coalesce(CASE WHEN c_acctbal >= 0 THEN c_acctbal END,
      |    0.0) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal
      |FROM customer GROUP BY c_mktsegment""".stripMargin
  ) { (s, d) =>
    Tables.customer(s, d)
      .withColumn("bal", when(col("c_acctbal") >= 0, col("c_acctbal")))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        count(col("bal")).as("n_nonneg"),
        (sum(floor(coalesce(col("bal"), lit(0.0)) * 100 + 0.5).cast("long"))
          .cast("double") / 100.0).as("sum_bal"))
  }

  /** A4 health-score formula shape (silver_to_gold.py:153-199):
    * weighted means, least/greatest clamps, guarded division. */
  val q17HealthFormula: QueryDef = QueryDef(
    """SELECT user_id,
      |  count(*) AS n_events,
      |  floor(least(1.0,
      |    0.4 * (1 - avg(CASE WHEN event_type = 'error'
      |      THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END))
      |    + 0.3 * avg(CASE WHEN event_type = 'purchase'
      |      THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
      |    + 0.3 * least(count(*) / 1000.0, 1.0)) * 1000 + 0.5) / 1000
      |    AS health_score,
      |  floor(least(1.0,
      |    (1 - least(1.0,
      |      0.4 * (1 - avg(CASE WHEN event_type = 'error'
      |        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END))
      |      + 0.3 * avg(CASE WHEN event_type = 'purchase'
      |        THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
      |      + 0.3 * least(count(*) / 1000.0, 1.0))) * 0.7
      |    + avg(CASE WHEN event_type = 'error'
      |      THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 0.3)
      |    * 1000 + 0.5) / 1000 AS failure_probability
      |FROM events GROUP BY user_id""".stripMargin)

  /** Anti join (NOT EXISTS): rich customers with no 1995 orders —
    * filtered on both sides so the result is non-empty at every SF. */
  val q18AntiJoin: QueryDef = QueryDef(
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_acctbal > 9000 AND NOT EXISTS
      |  (SELECT 1 FROM orders
      |   WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)""".stripMargin)

  /** Semi join: nations having customers with acctbal > 9000 (EXISTS),
    * counted per region via broadcast dim join. */
  val q19SemiJoin: QueryDef = QueryDef.withOracle(
    """SELECT r_name, count(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |WHERE EXISTS (SELECT 1 FROM customer
      |              WHERE c_nationkey = n_nationkey AND c_acctbal > 9000)
      |GROUP BY r_name""".stripMargin
  ) { (s, d) =>
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
    n.join(c, n("n_nationkey") === c("c_nationkey"), "left_semi")
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"))
  }

  /** F3 dedup-on-key (bronze_to_silver.py:125) as DISTINCT over a
    * projection — set semantics, survivor-independent. */
  val q20Dedup: QueryDef = QueryDef(
    "SELECT DISTINCT user_id, event_type FROM events")

  /** A1+A2 daily rollup + derived cost columns (silver_to_gold.py:
    * 95-122): date-keyed rollup, cost estimate at 0.12/kUnit, guarded
    * ratio — the daily_energy_consumption shape on lineitem.
    *
    * Exactness: prices carry 2 decimals → summed as integer cents
    * (order-independent, engine-identical); quantities are integral
    * doubles (exact sums). Derived ratios then floor-round identical
    * doubles in both engines — no half-boundary divergence at any SF. */
  val q21DailyRollup: QueryDef = QueryDef(
    """SELECT CAST(l_shipdate AS DATE) AS ship_date,
      |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100.0 AS gross,
      |  sum(l_quantity) AS qty,
      |  count(*) AS n_lines,
      |  floor((CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100.0) / 1000 * 0.12 * 100 + 0.5) / 100 AS cost_estimate,
      |  CASE WHEN sum(l_quantity) > 0
      |       THEN floor((CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |            / 100.0) / sum(l_quantity) * 1000 + 0.5) / 1000
      |       ELSE 0.0 END AS avg_price_per_unit
      |FROM lineitem GROUP BY 1""".stripMargin)

  /** ST5 daily tumbling window ≡ group-by event date + type
    * (silver_to_gold.py:92; window($"ts","1 day") equivalence). */
  val q22DailyEvents: QueryDef = QueryDef(
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin)

  /** A7 chart group-by + bool-fraction mean (app.py:365-367; is_valid
    * mean semantics — mean of a boolean = fraction true). */
  val q23BoolFraction: QueryDef = QueryDef(
    """SELECT l_returnflag,
      |  floor(avg(CASE WHEN l_discount > 0.05
      |    THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
      |    * 10000 + 0.5) / 10000 AS frac_discounted,
      |  floor(avg(CASE WHEN l_tax > 0.04
      |    THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
      |    * 10000 + 0.5) / 10000 AS frac_taxed
      |FROM lineitem GROUP BY l_returnflag""".stripMargin)

  // ---- engine completeness ----

  /** Click→purchase interval-join oracle, shared by q2j (the SQL
    * form) and q83 (the stream-stream operator run in batch mode) —
    * one SQL text so the two gates can never silently diverge about
    * the join semantics. */
  private val intervalJoinOracleSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, CAST(epoch_us(ts) AS BIGINT) AS a_us
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id, CAST(epoch_us(ts) AS BIGINT) AS b_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT click_id, purchase_id, b_us - a_us AS gap_us
      |FROM c JOIN p USING (user_id)
      |WHERE b_us > a_us AND b_us <= a_us + 1800000000""".stripMargin

  /** lead/lag offsets per key — inter-event deltas. 2-dp values make
    * the delta exact double arithmetic in both engines. */
  val q24LagLead: QueryDef = QueryDef(
    """SELECT event_id, user_id,
      |  value - lag(value) OVER w AS delta_prev,
      |  lead(event_type) OVER w AS next_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)

  /** rank with real ties (no id tiebreak): rank ≤ 3 per month selects
    * the same tied set in both engines by definition. */
  val q25Rank: QueryDef = QueryDef.withOracle(
    """SELECT month, o_orderkey, o_totalprice, rnk FROM (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderkey, o_totalprice,
      |    rank() OVER (PARTITION BY strftime(o_orderdate, '%Y-%m')
      |                 ORDER BY o_totalprice DESC) AS rnk
      |  FROM orders) WHERE rnk <= 3""".stripMargin
  ) { (s, d) =>
    val month = date_format(col("o_orderdate"), "yyyy-MM")
    val w = Window.partitionBy(month).orderBy(col("o_totalprice").desc)
    Tables.orders(s, d)
      .select(month.as("month"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).as("rnk"))
      .filter(col("rnk") <= 3)
  }

  /** INTERSECT (set semantics): suppliers of heavy lines ∩ suppliers
    * with positive balance. */
  val q26Intersect: QueryDef = QueryDef(
    """SELECT l_suppkey AS suppkey FROM lineitem WHERE l_quantity > 45
      |INTERSECT
      |SELECT s_suppkey AS suppkey FROM supplier WHERE s_acctbal > 0""".stripMargin)

  /** EXCEPT (set semantics): building-segment customers minus those
    * in arrears (non-empty at every SF — the synthetic data covers
    * every natural key domain, so key-level differences are empty). */
  val q27Except: QueryDef = QueryDef(
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_acctbal < 0""".stripMargin)

  /** Regexp scalars: extract/replace/match over part names. */
  val q28Regexp: QueryDef = QueryDef.withOracle(
    """SELECT p_partkey,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      |  CASE WHEN regexp_matches(p_name, 'r.d') THEN 1 ELSE 0 END AS has_rxd
      |FROM part""".stripMargin
  ) { (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
      when(col("p_name").rlike("r.d"), 1).otherwise(0).as("has_rxd"))
  }

  /** HAVING against a scalar subquery: customers whose order volume
    * exceeds 20× the global mean order price. */
  val q29Having: QueryDef = QueryDef.withOracle(
    """SELECT o_custkey,
      |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total
      |FROM orders GROUP BY o_custkey
      |HAVING CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |  > (SELECT avg(o_totalprice) * 20 FROM orders)""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    val threshold = o.agg((avg(col("o_totalprice")) * 20).as("thr"))
    // exact cents sums on both the output and the HAVING comparison
    o.groupBy(col("o_custkey"))
      .agg((sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("double") / 100.0).as("total"))
      .crossJoin(broadcast(threshold))
      .filter(col("total") > col("thr"))
      .select(col("o_custkey"), col("total"))
  }

  /** A5 at 100 TB: approx_count_distinct in place of exact nunique
    * (SURVEY flags this as the acceptable semantic deviation at
    * scale). The HLL++ sketch value is engine-specific, so the oracle
    * checks the accuracy CONTRACT instead: the exact count per month
    * hash-matches, and the estimate must sit within the 5% relative
    * tolerance for every month (DuckDB asserts the same column as a
    * constant TRUE — any out-of-tolerance month breaks the hash).
    * HLL is deterministic for a frozen input, so this is stable. */
  val q2aApproxDistinct: QueryDef = QueryDef.withOracle(
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  count(DISTINCT o_custkey) AS exact_customers,
      |  TRUE AS hll_within_5pct
      |FROM orders GROUP BY 1""".stripMargin
  ) { (s, d) =>
    // rsd 0.01 → the 5% contract sits at 5 standard errors; the
    // default 0.05 sketch breaches 5% on ~1/3 of months (1σ)
    val approx = approx_count_distinct(col("o_custkey"), 0.01)
    val exact = countDistinct(col("o_custkey"))
    Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(exact.as("exact_customers"),
        (abs(approx.cast("double") - exact.cast("double")) /
          exact.cast("double") <= 0.05).as("hll_within_5pct"))
  }

  /** Sessionization: gap-based session assignment per user (30-min
    * inactivity closes a session) via nested windows — lag for the
    * gap flag, running sum for the session index, then a per-session
    * rollup. Timestamps compare as exact epoch integers, so the
    * session boundaries are deterministic across engines. */
  val q2bSessionize: QueryDef = QueryDef(
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, sum(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM flagged)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events,
      |  CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_us,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS session_value
      |FROM sessions GROUP BY user_id, session_idx""".stripMargin)

  /** Spark's NATIVE session windows (`session_window`) over the
    * events stream, batch mode: per user, events closer than the
    * 30-minute gap merge into one session whose window is
    * [first.ts, last.ts + gap). Same sessionization semantics as
    * q2b's manual gaps-and-islands composition but executed by the
    * dedicated SessionWindow aggregate — the operator that carries
    * over unchanged to Structured Streaming (watermark + append
    * mode), which is why the engine exposes both shapes. Boundary
    * semantics pinned by the oracle: a gap of EXACTLY 30 minutes
    * starts a new session (windows are half-open).
    *
    * Scale shape: one shuffle keyed by user_id, sessions formed by an
    * in-partition sort — same exchange profile as any per-key window.
    * Cents-exact value sums (q2b's contract) keep the float
    * aggregation order-free across engines. */
  val q2kSessionWindow: QueryDef = QueryDef.withOracle(
    """WITH o AS (
      |  SELECT user_id, ts, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev IS NULL
      |      OR epoch_us(ts) - epoch_us(prev) >= 1800000000 THEN 1 ELSE 0 END
      |    AS new_s
      |  FROM o),
      |g AS (
      |  SELECT *, sum(new_s) OVER
      |    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS session_value
      |FROM g GROUP BY user_id, sid""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 100 + 0.5).cast("long")).cast("double")
          / 100.0).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))
  }

  /** Column-stats profiler over lineitem's numeric measures: row
    * count, non-null count, exact distinct count, min, max per column
    * — the data-quality snapshot a pipeline takes before trusting a
    * table. ONE scan: all per-column aggregates compute in a single
    * partial+final pass (the multi-distinct plans via Expand — the
    * standard exact-profile cost; swap in approx_count_distinct at
    * real scale, as q2a does), then the 1-row result unpivots to one
    * tidy row per column with `stack`. */
  val q2mProfile: QueryDef = QueryDef.withOracle(
    """WITH s AS (
      |  SELECT count(*) AS n,
      |    count(l_quantity) AS nn_q, count(DISTINCT l_quantity) AS nd_q,
      |      min(l_quantity) AS mn_q, max(l_quantity) AS mx_q,
      |    count(l_extendedprice) AS nn_p, count(DISTINCT l_extendedprice) AS nd_p,
      |      min(l_extendedprice) AS mn_p, max(l_extendedprice) AS mx_p,
      |    count(l_discount) AS nn_d, count(DISTINCT l_discount) AS nd_d,
      |      min(l_discount) AS mn_d, max(l_discount) AS mx_d,
      |    count(l_tax) AS nn_t, count(DISTINCT l_tax) AS nd_t,
      |      min(l_tax) AS mn_t, max(l_tax) AS mx_t
      |  FROM lineitem)
      |SELECT u.col AS column_name, s.n AS n_rows, u.n_nonnull, u.n_distinct,
      |  u.vmin, u.vmax
      |FROM s, LATERAL (
      |  SELECT * FROM (VALUES
      |    ('l_quantity', nn_q, nd_q, mn_q, mx_q),
      |    ('l_extendedprice', nn_p, nd_p, mn_p, mx_p),
      |    ('l_discount', nn_d, nd_d, mn_d, mx_d),
      |    ('l_tax', nn_t, nd_t, mn_t, mx_t))
      |    AS t(col, n_nonnull, n_distinct, vmin, vmax)) u""".stripMargin
  ) { (s, d) =>
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c"),
      min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val stackExpr = cols.map(c =>
      s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(
      s"stack(${cols.length}, ", ", ",
      ") AS (column_name, n_nonnull, n_distinct, vmin, vmax)")
    Tables.lineitem(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n").as("n_rows"), expr(stackExpr))
      .select("column_name", "n_rows", "n_nonnull", "n_distinct",
        "vmin", "vmax")
  }

  /** Per-user anomaly detection: events whose value sits more than 3
    * sample standard deviations from their user's mean — the
    * outlier-flagging pass a telemetry pipeline runs before rollups.
    *
    * Determinism contract: mean/variance come from INTEGER sums of
    * cents (n, Σc, Σc²) — order-free — and the z formula is written
    * in the identical left-to-right IEEE op order in both engines, so
    * the |z| > 3 cut and the 4-dp floor-rounded output are
    * bit-reproducible. (Cents fixed-point bounds n·Σc² well inside
    * Int64 for this table's value range ≤ ~500.) Scale shape: one
    * partial+final aggregate for the stats, then the stats table
    * re-joins the scan keyed by user_id — AQE broadcasts it when
    * users ≪ events. */
  val q2lAnomaly: QueryDef = QueryDef(
    """WITH e AS (
      |  SELECT user_id, event_id, value,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events),
      |st AS (
      |  SELECT user_id, count(*) AS n, CAST(sum(c) AS BIGINT) AS s1,
      |    CAST(sum(c * c) AS BIGINT) AS s2
      |  FROM e GROUP BY user_id),
      |z AS (
      |  SELECT user_id, event_id, value,
      |    (CAST(c * n - s1 AS DOUBLE) / n)
      |      / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
      |      AS zval
      |  FROM e JOIN st USING (user_id)
      |  WHERE n >= 2 AND n * s2 - s1 * s1 > 0)
      |SELECT user_id, event_id, value,
      |  floor(zval * 10000 + 0.5) / 10000 AS z
      |FROM z WHERE abs(zval) > 3""".stripMargin)

  /** ROLLUP grouping sets: per (flag, status), per flag subtotals, and
    * the grand total in one pass (absent from the reference; standard
    * engine surface). Cents-exact sums keep subtotal rows
    * engine-identical. */
  val q2cRollup: QueryDef = QueryDef(
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_price
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)

  /** Time-RANGE window: sum/count over the preceding hour by event
    * TIME (not row count) — the semantics the reference's "_1h_"
    * column names promise but implement as 60 rows
    * (bronze_to_silver.py:249, SURVEY §7.5.3). Ordering on exact
    * epoch microseconds makes the frame engine-identical. */
  val q2dTimeRangeWindow: QueryDef = QueryDef.withOracle(
    """SELECT event_id, user_id,
      |  count(*) OVER w AS n_prev_hour,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 100.0
      |    AS value_prev_hour
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, 0)
    Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      count(lit(1)).over(w).as("n_prev_hour"),
      (sum(floor(col("value") * 100 + 0.5).cast("long")).over(w)
        .cast("double") / 100.0).as("value_prev_hour"))
  }

  /** Exact interpolated quantiles (percentile ≡ DuckDB quantile_cont).
    * Quartiles of INTEGER quantities interpolate with binary-exact
    * fractions (0.25/0.5/0.75), so results are engine-identical;
    * float-valued quantiles would need the approx variant. */
  val q2eQuantiles: QueryDef = QueryDef(
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS qty_p25,
      |  quantile_cont(l_quantity, 0.5) AS qty_median,
      |  quantile_cont(l_quantity, 0.75) AS qty_p75,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin)

  /** PIVOT: long→wide reshape with a fixed value list (Spark's pivot
    * operator; oracle as filtered aggregates). */
  val q2fPivot: QueryDef = QueryDef.withOracle(
    """SELECT l_linestatus,
      |  count(*) FILTER (l_returnflag = 'A') AS flag_a,
      |  count(*) FILTER (l_returnflag = 'N') AS flag_n,
      |  count(*) FILTER (l_returnflag = 'R') AS flag_r
      |FROM lineitem GROUP BY l_linestatus""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      .withColumnRenamed("A", "flag_a")
      .withColumnRenamed("N", "flag_n")
      .withColumnRenamed("R", "flag_r")
      .na.fill(0L, Seq("flag_a", "flag_n", "flag_r"))
  }

  /** As-of join (graft.functions.AsOfJoin): each purchase event is
    * matched with the user's latest signup at-or-before its time —
    * one union + window pass, no range join. Oracle is DuckDB's
    * native ASOF JOIN. Output timestamps ride as epoch micros
    * (engine-identical integers). */
  val q2gAsofJoin: QueryDef = QueryDef.withOracle(
    """WITH purchases AS (
      |  SELECT user_id, ts, event_id, value FROM events
      |  WHERE event_type = 'purchase'),
      |signups AS (
      |  SELECT user_id, ts AS signup_ts, value AS signup_value FROM events
      |  WHERE event_type = 'signup')
      |SELECT p.event_id, p.user_id,
      |  CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
      |  s.signup_value,
      |  CAST(epoch_us(s.signup_ts) AS BIGINT) AS signup_ts_us
      |FROM purchases p ASOF LEFT JOIN signups s
      |  ON p.user_id = s.user_id AND p.ts >= s.signup_ts""".stripMargin
  ) { (s, d) =>
    val events = Tables.events(s, d)
    val purchases = events.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("sv"),
        unix_micros(col("ts")).as("s_us"))
    graft.functions.AsOfJoin.asof(
      purchases, signups, Seq("user_id"), "ts", "ts",
      Seq("sv" -> "signup_value", "s_us" -> "signup_ts_us"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("signup_value"), col("signup_ts_us"))
  }

  /** Bounded-staleness as-of join (pandas merge_asof tolerance): the
    * q2g attribution join, but a signup older than 7 days no longer
    * explains the purchase — its payload nulls out. Same one-shuffle
    * union+window plan as q2g plus one map-side staleness projection
    * (AsOfJoin.asofTolerance); the oracle applies the identical
    * CASE over DuckDB's ASOF LEFT JOIN. */
  val q119AsofTolerance: QueryDef = QueryDef.withOracle(
    """WITH purchases AS (
      |  SELECT user_id, ts, event_id, value FROM events
      |  WHERE event_type = 'purchase'),
      |signups AS (
      |  SELECT user_id, ts AS signup_ts, value AS signup_value FROM events
      |  WHERE event_type = 'signup')
      |SELECT p.event_id, p.user_id,
      |  CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(s.signup_ts) > 604800000000
      |       THEN NULL ELSE s.signup_value END AS signup_value,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(s.signup_ts) > 604800000000
      |       THEN NULL
      |       ELSE CAST(epoch_us(s.signup_ts) AS BIGINT) END AS signup_ts_us
      |FROM purchases p ASOF LEFT JOIN signups s
      |  ON p.user_id = s.user_id AND p.ts >= s.signup_ts""".stripMargin
  ) { (s, d) =>
    val events = Tables.events(s, d)
    val purchases = events.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("sv"),
        unix_micros(col("ts")).as("s_us"))
    graft.functions.AsOfJoin.asofTolerance(
      purchases, signups, Seq("user_id"), "ts", "ts",
      Seq("sv" -> "signup_value", "s_us" -> "signup_ts_us"),
      toleranceUs = 7L * 24 * 3600 * 1000000)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("signup_value"), col("signup_ts_us"))
  }

  /** FORWARD as-of (merge_asof direction='forward'): each signup's
    * FIRST purchase at-or-after it, with the conversion latency — the
    * time-to-convert join the funnel (q77) aggregates away. Same
    * joinless union+window shape via time negation
    * (AsOfJoin.asofForward); latency is exact µs int subtraction. */
  val q120AsofForward: QueryDef = QueryDef.withOracle(
    """WITH signups AS (
      |  SELECT user_id, ts, event_id FROM events
      |  WHERE event_type = 'signup'),
      |purchases AS (
      |  SELECT user_id, ts AS p_ts, value AS p_value FROM events
      |  WHERE event_type = 'purchase')
      |SELECT s.event_id, s.user_id,
      |  CAST(epoch_us(s.ts) AS BIGINT) AS ts_us, p.p_value,
      |  CAST(epoch_us(p.p_ts) AS BIGINT) - CAST(epoch_us(s.ts) AS BIGINT)
      |    AS latency_us
      |FROM signups s ASOF LEFT JOIN purchases p
      |  ON s.user_id = p.user_id AND s.ts <= p.p_ts""".stripMargin
  ) { (s, d) =>
    val events = Tables.events(s, d)
    val signups = events.filter(col("event_type") === "signup")
      .select("user_id", "ts", "event_id")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("pv"),
        unix_micros(col("ts")).as("p_us"))
    graft.functions.AsOfJoin.asofForward(
      signups, purchases, Seq("user_id"), "ts", "ts",
      Seq("pv" -> "p_value", "p_us" -> "p_ts_us"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("p_value"),
        (col("p_ts_us") - unix_micros(col("ts"))).as("latency_us"))
  }

  /** CUBE: all grouping-set combinations of (returnflag, linestatus)
    * in one pass — Spark plans an Expand the same way ROLLUP (q2c)
    * does, with partial aggregation below the single shuffle. */
  val q2hCube: QueryDef = QueryDef(
    // cents-exact sum (q21/q2c convention): the grand-total row is a
    // multi-partition double sum whose merge order is nondeterministic
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)

  /** Rank-statistics window family: percent_rank, cume_dist, ntile —
    * all exact integer-ratio math (identical doubles cross-engine) on
    * a (totalprice, orderkey)-tiebroken total order per month. */
  val q2iRankStats: QueryDef = QueryDef.withOracle(
    """SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderkey,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  ntile(4) OVER w AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY strftime(o_orderdate, '%Y-%m')
      |             ORDER BY o_totalprice, o_orderkey)""".stripMargin
  ) { (s, d) =>
    val month = date_format(col("o_orderdate"), "yyyy-MM")
    val w = Window.partitionBy(month)
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).select(
      month.as("month"), col("o_orderkey"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      ntile(4).over(w).as("quartile"))
  }

  /** Interval (range) join: click → purchase conversions within a
    * 30-minute window per user — an equi-join on user_id with the
    * range as its join condition. */
  val q2jIntervalJoin: QueryDef = QueryDef(
    intervalJoinOracleSql)

  // ---- grouping sets, moments, arrays, funnels ----

  /** Explicit GROUPING SETS — the general form of q2c's ROLLUP and
    * q2h's CUBE: per-flag and per-status marginals plus the grand
    * total in ONE pass (Catalyst plans a 3-way Expand below a single
    * partial+final HashAggregate, same exchange profile as rollup).
    * `grouping()` flags disambiguate a NULL group value from a
    * subtotal row — part of the operator's contract, so the oracle
    * pins them. */
  val q2nGroupingSets: QueryDef = QueryDef(
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_price
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)

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
  val q2rHistogram: QueryDef = QueryDef(
    """SELECT CAST(least(floor(o_totalprice / 50000.0), 11) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  min(o_totalprice) AS min_price,
      |  max(o_totalprice) AS max_price
      |FROM orders GROUP BY 1""".stripMargin)

  /** Window VALUE functions — first_value / last_value / nth_value
    * over the full partition frame (UNBOUNDED..UNBOUNDED), per-user
    * ordered by (ts, event_id): a total order, so the selected rows
    * are engine-identical, and the values are exact 2-dp doubles (no
    * sums). */
  val q2sFirstLast: QueryDef = QueryDef(
    """SELECT event_id, user_id,
      |  first_value(value) OVER w AS first_val,
      |  last_value(value) OVER w AS last_val,
      |  nth_value(value, 2) OVER w AS second_val
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)

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
  val q76EditDistance: QueryDef = QueryDef(
    """SELECT levenshtein(p_name, 'midnight amber rose') AS dist,
      |  count(*) AS n,
      |  min(p_partkey) AS first_part
      |FROM part GROUP BY 1""".stripMargin)

  /** Conversion funnel: signup → first click AFTER the signup → first
    * purchase AFTER that click, per user, folded to one summary row.
    * The per-stage anchor is min(epoch µs) under a strict-inequality
    * chain — pure integer comparisons, so stage membership and the
    * mean gaps (int64 sums / counts, one double division) are
    * engine-exact. Scale shape: three filtered partial aggregates
    * keyed by user_id and two user-keyed joins — AQE broadcasts the
    * shrinking stage frames; nothing global until the final 1-row
    * fold. */
  val q77Funnel: QueryDef = QueryDef(
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
      |LEFT JOIN p1 ON s1.user_id = p1.user_id""".stripMargin)

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
    intervalJoinOracleSql
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    graft.streaming.EventStreams.conversionJoin(
      ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts"),
      ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts"),
      windowDur = "30 minutes")
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

  // ---- reshaping and sequences ----

  /** UNPIVOT / melt — wide measure columns to (measure, value) rows,
    * the reshaping step every metrics store needs before a generic
    * per-measure rollup. Spark's `stack` is a codegen'd Generate (no
    * shuffle to reshape — the melt happens map-side inside the scan
    * stage); the rollup is then one ordinary partial+final aggregate
    * on (flag, measure). The oracle spells the same melt as UNION ALL
    * (engine-agnostic UNPIVOT). Values quantize to int cents/basis
    * points BEFORE melting, so the per-measure sums stay exact. */
  val q142Unpivot: QueryDef = QueryDef.withOracle(
    """WITH b AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_fp,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_fp,
      |    CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS disc_fp,
      |    CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS tax_fp
      |  FROM lineitem),
      |m AS (
      |  SELECT flag, 'quantity' AS measure, qty_fp AS value_fp FROM b
      |  UNION ALL SELECT flag, 'price', price_fp FROM b
      |  UNION ALL SELECT flag, 'discount', disc_fp FROM b
      |  UNION ALL SELECT flag, 'tax', tax_fp FROM b)
      |SELECT flag, measure, count(*) AS n,
      |  CAST(sum(value_fp) AS BIGINT) AS total_fp,
      |  CAST(min(value_fp) AS BIGINT) AS min_fp,
      |  CAST(max(value_fp) AS BIGINT) AS max_fp
      |FROM m GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("qty_fp"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_fp"),
        floor(col("l_discount") * 10000 + 0.5).cast("long").as("disc_fp"),
        floor(col("l_tax") * 10000 + 0.5).cast("long").as("tax_fp"))
      .select(col("flag"), expr(
        "stack(4, 'quantity', qty_fp, 'price', price_fp, " +
          "'discount', disc_fp, 'tax', tax_fp) AS (measure, value_fp)"))
      .groupBy(col("flag"), col("measure"))
      .agg(count(lit(1)).as("n"), sum(col("value_fp")).as("total_fp"),
        min(col("value_fp")).as("min_fp"), max(col("value_fp")).as("max_fp"))
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands sequence op (and the engagement metric next to
    * q136's stickiness). Island id = epoch_day − per-user row_number
    * over distinct active days: consecutive days share the id, a gap
    * starts a new one. Top-20 by (streak desc, user, start) keeps the
    * output bounded and fully deterministic.
    *
    * Scale shape: the (user, day) dedup is one partial+final
    * aggregate; the row_number window keys on user_id —
    * user-cardinality parallelism, no skew (per-user days are
    * calendar-bounded); the island rollup rides the same user-keyed
    * exchange; top-20 is TakeOrderedAndProject, never a global sort. */
  val q143Streaks: QueryDef = QueryDef.withOracle(
    """WITH du AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
      |isl AS (
      |  SELECT user_id, day,
      |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island
      |  FROM du),
      |st AS (
      |  SELECT user_id, count(*) AS streak,
      |    CAST(min(day) AS BIGINT) AS start_day
      |  FROM isl GROUP BY user_id, island),
      |best AS (
      |  SELECT user_id, streak, start_day,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY streak DESC, start_day) AS rn
      |  FROM st)
      |SELECT user_id, streak AS best_streak, start_day
      |FROM best WHERE rn = 1
      |ORDER BY best_streak DESC, user_id LIMIT 20""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val du = Tables.events(s, d)
      .select(col("user_id"),
        // the shared sign-safe floordiv (q143 convention, one
        // definition in Exact.epochDay)
        epochDay(unix_micros(col("ts"))).as("day"))
      .distinct()
    val isl = du.withColumn("island", col("day") - row_number().over(
      Window.partitionBy(col("user_id")).orderBy(col("day"))))
    val st = isl.groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak"), min(col("day")).as("start_day"))
    st.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("streak").desc, col("start_day"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("streak").as("best_streak"),
        col("start_day"))
      .orderBy(col("best_streak").desc, col("user_id"))
      .limit(20)
  }

  val all: Map[String, QueryDef] = Map(
    "q1_agg_rollup" -> q1AggRollup,
    "q2_filter_project" -> q2FilterProject,
    "q3_join_broadcast_left" -> q3JoinBroadcastLeft,
    "q4_join_multi" -> q4JoinMulti,
    "q5_window_rolling" -> q5WindowRolling,
    "q6_window_latest" -> q6WindowLatest,
    "q7_topk" -> q7TopK,
    "q8_distinct_agg" -> q8DistinctAgg,
    "q9_union_dedup" -> q9UnionDedup,
    "q10_case_when" -> q10CaseWhen,
    "q11_scalar_broadcast" -> q11ScalarBroadcast,
    "q12_kpi_scalars" -> q12KpiScalars,
    "q13_date_scalars" -> q13DateScalars,
    "q14_string_funcs" -> q14StringFuncs,
    "q15_json" -> q15Json,
    "q16_null_handling" -> q16NullHandling,
    "q17_health_formula" -> q17HealthFormula,
    "q18_anti_join" -> q18AntiJoin,
    "q19_semi_join" -> q19SemiJoin,
    "q20_dedup" -> q20Dedup,
    "q21_daily_rollup" -> q21DailyRollup,
    "q22_daily_events" -> q22DailyEvents,
    "q23_bool_fraction" -> q23BoolFraction,
    "q2b_sessionize" -> q2bSessionize,
    "q2c_rollup" -> q2cRollup,
    "q2d_time_range_window" -> q2dTimeRangeWindow,
    "q2e_quantiles" -> q2eQuantiles,
    "q2f_pivot" -> q2fPivot,
    "q2g_asof_join" -> q2gAsofJoin,
    "q119_asof_tolerance" -> q119AsofTolerance,
    "q120_asof_forward" -> q120AsofForward,
    "q24_lag_lead" -> q24LagLead,
    "q25_rank" -> q25Rank,
    "q26_intersect" -> q26Intersect,
    "q27_except" -> q27Except,
    "q28_regexp" -> q28Regexp,
    "q29_having" -> q29Having,
    "q2a_approx_distinct" -> q2aApproxDistinct,
    "q2h_cube" -> q2hCube,
    "q2i_rank_stats" -> q2iRankStats,
    "q2j_interval_join" -> q2jIntervalJoin,
    "q2k_session_window" -> q2kSessionWindow,
    "q2l_anomaly" -> q2lAnomaly,
    "q2m_profile" -> q2mProfile,
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
    "q142_unpivot" -> q142Unpivot,
    "q143_streaks" -> q143Streaks)
}
