package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data operators: snapshot diffing and MERGE-style upserts —
  * the table-maintenance surface a lakehouse pipeline needs around
  * the pure queries (Lake.compact is the physical-layout sibling).
  * Both are single full-outer-join compositions: one shuffle per
  * side keyed by the natural key, no driver-side state, so they scale
  * like any co-partitioned join (bucket both sides on the key at
  * 100 TB and the shuffle disappears).
  *
  * Determinism: all value comparisons ride on integer cents
  * (README §float-parity) — a diff/merge must never hinge on a
  * float's string rendering.
  */
object ChangeOps {

  /** Snapshot diff between two lineitem states: the later snapshot
    * adds a quarter of shipments, drops heavy lines, and bumps
    * discounted quantities — exercising all four diff classes. The
    * oracle recomputes the FULL JOIN classification independently. */
  val q78TableDiff: QueryDef = QueryDef(
    """WITH base AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
      |    l_shipdate, l_discount
      |  FROM lineitem),
      |a AS (
      |  SELECT l_orderkey, l_linenumber, qty, price_c FROM base
      |  WHERE l_shipdate <= TIMESTAMP '1995-06-30 00:00:00'),
      |b AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CASE WHEN l_discount > 0.08 THEN qty + 1 ELSE qty END AS qty,
      |    price_c
      |  FROM base
      |  WHERE l_shipdate <= TIMESTAMP '1995-09-30 00:00:00' AND qty <= 45)
      |SELECT CASE WHEN a.l_orderkey IS NULL THEN 'added'
      |            WHEN b.l_orderkey IS NULL THEN 'removed'
      |            WHEN a.qty != b.qty OR a.price_c != b.price_c THEN 'changed'
      |            ELSE 'unchanged' END AS status,
      |  count(*) AS n
      |FROM a FULL JOIN b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
      |GROUP BY 1""".stripMargin)

  /** MERGE-style upsert by full-outer-join composition (no Delta/
    * Iceberg in scope — this is the plan such engines execute
    * underneath): source rows update matched targets and insert new
    * keys, unmatched targets pass through. */
  def mergeInto(target: DataFrame, source: DataFrame, keys: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    // presence marker, not a value-null test: a source row may
    // legitimately carry NULL in a value column and MERGE semantics
    // say that NULL must overwrite the target value
    val src = source.select(keys.map(col) ++
      valueCols.map(c => col(c).as(s"s_$c")) :+ lit(1).as("__src"): _*)
    target.join(src, keys, "full")
      .select(keys.map(col) ++ valueCols.map(c =>
        when(col("__src").isNotNull, col(s"s_$c")).otherwise(col(c)).as(c)) :+
        col("__src").isNotNull.as("from_source"): _*)
  }

  /** Upsert of an order-book snapshot: urgent pre-cutoff orders get a
    * 10% price bump (update), post-cutoff orders arrive new (insert),
    * the rest pass through. Cents fixed-point keeps the 10% bump an
    * integer op (`c*11/10` floor), identical cross-engine. */
  val q79Merge: QueryDef = QueryDef.withOracle(
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
      |    o_orderdate, o_orderpriority
      |  FROM orders),
      |target AS (
      |  SELECT o_orderkey, price_c FROM o
      |  WHERE o_orderdate <= DATE '1996-12-31'),
      |source AS (
      |  SELECT o_orderkey, price_c * 11 // 10 AS price_c FROM o
      |  WHERE o_orderdate <= DATE '1996-12-31'
      |    AND o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT o_orderkey, price_c FROM o WHERE o_orderdate > DATE '1996-12-31')
      |SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
      |  CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.price_c
      |            ELSE t.price_c END AS DOUBLE) / 100.0 AS price,
      |  s.o_orderkey IS NOT NULL AS from_source
      |FROM target t FULL JOIN source s ON t.o_orderkey = s.o_orderkey""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_c"),
      col("o_orderdate"), col("o_orderpriority"))
    val cutoff = lit("1996-12-31").cast("date")
    val target = o.filter(col("o_orderdate") <= cutoff)
      .select("o_orderkey", "price_c")
    val source = o
      .filter(col("o_orderdate") <= cutoff &&
        col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), expr("price_c * 11 div 10").as("price_c"))
      .unionAll(o.filter(col("o_orderdate") > cutoff)
        .select("o_orderkey", "price_c"))
    mergeInto(target, source, Seq("o_orderkey"), Seq("price_c"))
      .select(col("o_orderkey"),
        (col("price_c").cast("double") / 100.0).as("price"),
        col("from_source"))
  }

  /** SCD Type-2 interval build from a change stream: per user, the
    * event-type history collapses into versioned validity intervals —
    * the slowly-changing-dimension construction every warehouse load
    * performs on entity-attribute change feeds.
    *
    * Shape: gaps-and-islands (null-safe lag ≠ current flags a new
    * version, running sum numbers it) in ONE window pass over the
    * change stream, then a per-(entity, version) rollup, then a
    * second window — over VERSION-level rows, one per interval, not
    * per event — chains valid_to = next interval's valid_from (null =
    * current). All three stages share the entity partitioning, so
    * the whole build is a single shuffle on user_id; timestamps
    * compare as exact epoch-µs integers (the q2b convention), so
    * interval boundaries are deterministic across engines. */
  val q87Scd2: QueryDef = QueryDef(
    """WITH flagged AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |v AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS version
      |  FROM flagged),
      |g AS (
      |  SELECT user_id, CAST(version AS BIGINT) AS version,
      |    min(event_type) AS event_type,
      |    CAST(min(epoch_us(ts)) AS BIGINT) AS valid_from_us,
      |    count(*) AS n_events
      |  FROM v GROUP BY user_id, version)
      |SELECT user_id, version, event_type, valid_from_us,
      |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
      |    AS valid_to_us,
      |  n_events
      |FROM g""".stripMargin)

  /** Point-in-time (temporal / "AS OF") lookup against a versioned
    * dimension: each purchase is enriched with the user's loyalty
    * tier that was valid at purchase time. The dimension is an SCD2
    * build (the q87 machinery) over the signup stream — tier =
    * floor(value/100), consecutive same-tier signups collapse into
    * one validity interval — so a purchase maps to the interval it
    * falls in, not to the nearest raw signup event (which is what the
    * plain as-of join q2g would return).
    *
    * Scale shape: interval containment against an SCD2 dimension
    * needs NO range join — SCD2 intervals tile per key (each
    * valid_to is the next valid_from), so "ts ∈ [from, to)" is
    * equivalent to "greatest valid_from ≤ ts", i.e. an as-of join on
    * valid_from. That composes on `AsOfJoin.asof`: one shuffle of
    * |facts|+|versions| rows keyed by user, one window pass — never
    * the |facts|·|versions-per-user| fan-out an equi-join + range
    * filter would materialize. Timestamps compare as exact epoch-µs
    * integers; purchases before the first signup keep null tier
    * (left semantics), pinned by the oracle. Two tier changes in the
    * same microsecond would make the as-of pick arbitrary in BOTH
    * engines, so the dimension collapses same-valid_from versions to
    * the latest (max_by on the unique version number) — a zero-row
    * pre-pass on this data, but it makes the operator's contract
    * deterministic rather than data-dependent. */
  val q103PitJoin: QueryDef = QueryDef.withOracle(
    """WITH sg AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(floor(value / 100) AS BIGINT) AS tier
      |  FROM events WHERE event_type = 'signup'),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(tier) OVER w IS DISTINCT FROM tier
      |    THEN 1 ELSE 0 END AS chg
      |  FROM sg WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |v AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS version
      |  FROM flagged),
      |dim0 AS (
      |  SELECT user_id, CAST(version AS BIGINT) AS version,
      |    min(tier) AS tier,
      |    CAST(min(epoch_us(ts)) AS BIGINT) AS valid_from_us
      |  FROM v GROUP BY user_id, version),
      |dim AS (
      |  SELECT user_id, valid_from_us, max(version) AS version,
      |    max_by(tier, version) AS tier
      |  FROM dim0 GROUP BY user_id, valid_from_us),
      |p AS (
      |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    value AS purchase_value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts_us, p.purchase_value,
      |  d.tier, d.version, d.valid_from_us
      |FROM p ASOF LEFT JOIN dim d
      |  ON p.user_id = d.user_id AND p.ts_us >= d.valid_from_us""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val dim = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") / 100).cast("long").as("tier"))
      .withColumn("chg",
        when(!(lag(col("tier"), 1).over(w) <=> col("tier")), 1L).otherwise(0L))
      .withColumn("version", sum(col("chg")).over(run))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("tier")).as("tier0"),
        min(unix_micros(col("ts"))).as("vf"))
      .groupBy(col("user_id"), col("vf"))
      .agg(max(col("version")).as("version"),
        max_by(col("tier0"), col("version")).as("tier"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("value").as("purchase_value"))
    graft.functions.AsOfJoin.asof(
      purchases, dim, Seq("user_id"), "ts_us", "vf",
      Seq("tier" -> "tier", "version" -> "version",
        "vf" -> "valid_from_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("purchase_value"), col("tier"), col("version"),
        col("valid_from_us"))
  }

  /** Temporal alignment (merge) of two change timelines — the
    * two-SCD2 join: per customer, the PRIORITY timeline and the
    * STATUS timeline (each keeping only its own CHANGE points, so
    * their boundary sets genuinely differ) are merged into the
    * segments on which BOTH attributes are constant — the operator a
    * warehouse needs to join two slowly-changing dimensions of the
    * same entity without a cross-interval theta join.
    *
    * Scale shape: ONE custkey-keyed exchange carries everything —
    * per-(cust, day) dedup picks the max-orderkey row, the
    * consecutive-repeat drops are lag windows, the merged timeline is
    * a UNION of the two change sets with each attribute forward-
    * filled by last(ignoreNulls) over the same sort, and seg_end is a
    * lead. No join between the timelines AT ALL (the naive encoding —
    * interval × interval ON overlap — is the quadratic theta join
    * this shape exists to avoid). Same-day changes in both timelines
    * collapse to one boundary row via a final (cust, day) group.
    *
    * Output: segments where both attributes are known; open tails
    * carry the 9999-12-31 sentinel (NULL dates render differently in
    * the two engines' parquet readers — None vs NaT — so the gate
    * uses the conventional SCD2 far-future end instead). All
    * values/dates exact; no floats anywhere. */
  val q152IntervalAlign: QueryDef = QueryDef.withOracle(
    """WITH base AS (
      |  SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS day,
      |    o_orderkey, o_orderpriority AS pri, o_orderstatus AS st
      |  FROM orders),
      |dedup AS (
      |  SELECT cust, day, pri, st FROM (
      |    SELECT *, row_number() OVER (PARTITION BY cust, day
      |      ORDER BY o_orderkey DESC) AS rn FROM base)
      |  WHERE rn = 1),
      |pa AS (
      |  SELECT cust, day, pri FROM (
      |    SELECT cust, day, pri,
      |      lag(pri) OVER (PARTITION BY cust ORDER BY day) AS prev
      |    FROM dedup)
      |  WHERE prev IS NULL OR pri <> prev),
      |sb AS (
      |  SELECT cust, day, st FROM (
      |    SELECT cust, day, st,
      |      lag(st) OVER (PARTITION BY cust ORDER BY day) AS prev
      |    FROM dedup)
      |  WHERE prev IS NULL OR st <> prev),
      |u AS (
      |  SELECT cust, day, max(pri) AS pri, max(st) AS st FROM (
      |    SELECT cust, day, pri, NULL AS st FROM pa
      |    UNION ALL
      |    SELECT cust, day, NULL AS pri, st FROM sb)
      |  GROUP BY 1, 2),
      |f AS (
      |  SELECT cust, day AS seg_start,
      |    coalesce(lead(day) OVER (PARTITION BY cust ORDER BY day),
      |      DATE '9999-12-31') AS seg_end,
      |    last_value(pri IGNORE NULLS) OVER (PARTITION BY cust
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS priority,
      |    last_value(st IGNORE NULLS) OVER (PARTITION BY cust
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS status
      |  FROM u)
      |SELECT cust AS o_custkey, CAST(seg_start AS DATE) AS seg_start,
      |  CAST(seg_end AS DATE) AS seg_end, priority, status
      |FROM f WHERE priority IS NOT NULL AND status IS NOT NULL""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val byCustDay = Window.partitionBy(col("cust")).orderBy(col("day"))
    val base = Tables.orders(s, d).select(
      col("o_custkey").as("cust"), col("o_orderdate").cast("date").as("day"),
      col("o_orderkey"), col("o_orderpriority").as("pri"),
      col("o_orderstatus").as("st"))
    val dedup = base.withColumn("rn", row_number().over(
        Window.partitionBy(col("cust"), col("day"))
          .orderBy(col("o_orderkey").desc)))
      .filter(col("rn") === 1).select("cust", "day", "pri", "st")
      .cache() // both change-set branches read ONE scan + dedup pass
      // (uncached, the union re-planned the whole subtree per branch:
      // two parquet scans and two (cust, day) exchanges)
    def changes(c: String) = dedup
      .withColumn("prev", lag(col(c), 1).over(byCustDay))
      .filter(col("prev").isNull || col(c) =!= col("prev"))
      .select(col("cust"), col("day"), col(c))
    val u = changes("pri").withColumn("st", lit(null).cast("string"))
      .unionByName(changes("st").withColumn("pri", lit(null).cast("string"))
        .select("cust", "day", "pri", "st"))
      .groupBy(col("cust"), col("day"))
      .agg(max(col("pri")).as("pri"), max(col("st")).as("st"))
    val ff = byCustDay.rowsBetween(Window.unboundedPreceding, 0)
    u.select(col("cust").as("o_custkey"), col("day").as("seg_start"),
        coalesce(lead(col("day"), 1).over(byCustDay),
          lit("9999-12-31").cast("date")).as("seg_end"),
        last(col("pri"), ignoreNulls = true).over(ff).as("priority"),
        last(col("st"), ignoreNulls = true).over(ff).as("status"))
      .filter(col("priority").isNotNull && col("status").isNotNull)
  }

  val all: Map[String, QueryDef] = Map(
    "q152_interval_align" -> q152IntervalAlign,
    "q78_table_diff" -> q78TableDiff,
    "q79_merge" -> q79Merge,
    "q87_scd2" -> q87Scd2,
    "q103_pit_join" -> q103PitJoin
  )
}
