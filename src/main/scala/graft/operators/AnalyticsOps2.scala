package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.epochDay

/** Second analytics batch: spatial radius join, exponential
  * smoothing, RFM segmentation, Benford first-digit audit, and
  * session path mining — the remaining warehouse staples around the
  * funnel/retention/attribution family (q77/q93/q107).
  *
  * House rules throughout: no quadratic joins (the radius join is
  * grid-blocked, never a cross product), global ranks run the q91
  * two-phase prefix pattern (no single-task Window.orderBy over
  * data-sized input), and every float output is either a single IEEE
  * division of exact integers or an explicitly rounded
  * order-dependent sum.
  */
object AnalyticsOps2 {

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

  /** Two-phase distributed global row_number over `sortCols` (the
    * q91 prefix pattern, generalized): range-repartition on the sort
    * key, partition-local row_number, then add each partition's
    * row-count prefix from a metadata-sized offset table. Exact —
    * independent of where the range boundaries land — and never a
    * single-task global sort.
    *
    * The stamped frame is CACHED before it branches: the offsets
    * branch and the join-back branch must read ONE materialized
    * `spark_partition_id` assignment. The stamp is nondeterministic,
    * and without the pin AQE can compile the broadcast (offsets)
    * side as its own job with fresh range-boundary sampling — then
    * offsets from assignment A meet local ranks from assignment B
    * and the rank silently overshoots n (observed: q112 emitted
    * quartile 5 of 4 at sf0.1). With the cache both branches share
    * the InMemoryRelation; a partition rebuilt after executor loss
    * reuses the same plan instance (same RangePartitioner
    * boundaries), so the assignment stays stable. */
  private[operators] def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
      out: String): DataFrame = {
    val parts = df
      .repartitionByRange(df.sparkSession.sparkContext.defaultParallelism,
        sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
    val local = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    val withLocal = parts
      .withColumn("__lrn", row_number().over(local).cast("long"))
      .cache()
    val offsets = withLocal.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pn"))
      .withColumn("__off", coalesce(
        sum(col("__pn")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    withLocal.join(broadcast(offsets), Seq("__pid"))
      .withColumn(out, col("__lrn") + col("__off"))
      .drop("__pid", "__lrn", "__off")
  }

  /** Top-k rows in `sortCols` order with an optional rank attached
    * AFTER the cap — the shared limit-then-rank idiom (r11 verdict
    * #3). `orderBy(...).limit(k)` plans as TakeOrderedAndProject:
    * every task keeps its local top-k and one k-row merge finishes
    * the pick, so no full sort and no global shuffle ever happen.
    * The optional `row_number` that follows runs over ≤ k rows of
    * metadata. The ANTI-pattern this replaces — rank the full frame
    * with a global Window, then filter rank ≤ k — funnels the whole
    * frame through ONE reducer, and Spark's InferWindowGroupLimit
    * only rescues it when the filter sits in the same DataFrame
    * layer (the q238 r11 lesson: a `.cache()` or a separate layer
    * between rank and filter leaves the window uncapped). `sortCols`
    * must totally order rows (tiebreak on a unique column) or both
    * the cap and the rank are nondeterministic. */
  private[operators] def topKByCount(df: DataFrame, sortCols: Seq[Column],
      k: Int, rankOut: Option[String] = None): DataFrame = {
    val capped = df.orderBy(sortCols: _*).limit(k)
    rankOut.fold(capped)(r => capped.withColumn(r,
      row_number().over(Window.orderBy(sortCols: _*))))
  }

  /** GROUPED two-phase prefix sum — [[globalRowNumber]]'s per-group
    * sibling, for the skewed-key case where the group column has few
    * values (q132's 2-value `step`, q134's 5-value segment): a
    * `Window.partitionBy(group)` would sort the whole population
    * through |group| single tasks, so instead the GROUP LEADS THE
    * RANGE KEY — each range partition holds a contiguous slice of one
    * group's sorted run, the partition-local running sum stays
    * parallel across all partitions, and the global prefix is local +
    * a broadcast per-(pid, group) offset. The only group-partitioned
    * windows run on the metadata-sized count frame (≤ |groups|·P
    * rows). Same AQE re-sampling pin as globalRowNumber.
    *
    * With `value = lit(1L)` the inclusive prefix is exactly a
    * per-group row_number. Adds `cumOut` (inclusive prefix of
    * `value` in `sortCols` order within each group) and `totalOut`
    * (per-group total). `sortCols` must be a total order within each
    * group (tiebreak on a unique id) or the prefix is
    * nondeterministic. */
  private[operators] def groupedPrefixSum(df: DataFrame, groups: Seq[String],
      sortCols: Seq[Column], value: Column,
      cumOut: String, totalOut: String): DataFrame =
    groupedPrefixSums(df, groups, sortCols,
      Seq((value, cumOut, Some(totalOut))))

  /** N-measure form of [[groupedPrefixSum]] — ONE range shuffle + one
    * pinned partition stamp carrying any number of running sums over
    * the same sort order (q153 carries both KS CDFs; q132 carries a
    * rank + needs the per-group total). `groups` may be empty (pure
    * global prefix, the q153 case): every group-partitioned window
    * below runs on the metadata-sized per-(pid, group) count frame
    * (≤ |groups|·P rows), never on data.
    *
    * Each measure is (value, cumOut, totalOut): `cumOut` gets the
    * inclusive prefix of `value` in `sortCols` order within each
    * group; `totalOut = Some(name)` also attaches the per-group total
    * of that measure. With `value = lit(1L)` the prefix is exactly a
    * per-group row_number. `sortCols` must totally order rows within
    * each group (tiebreak on a unique id) or the prefix is
    * nondeterministic. Same AQE re-sampling pin as globalRowNumber:
    * the stamped frame is cached so the offsets branch and the
    * join-back branch read ONE materialized spark_partition_id
    * assignment. */
  private[operators] def groupedPrefixSums(df: DataFrame,
      groups: Seq[String], sortCols: Seq[Column],
      measures: Seq[(Column, String, Option[String])]): DataFrame = {
    val gcols = groups.map(col)
    val local = Window.partitionBy((col("__pid") +: gcols): _*)
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val mi = measures.zipWithIndex
    val parts = mi.foldLeft(
      df.repartitionByRange(
          df.sparkSession.sparkContext.defaultParallelism,
          (gcols ++ sortCols): _*)
        .withColumn("__pid", spark_partition_id())) {
        case (acc, ((v, _, _), i)) =>
          // same window spec for every measure → ONE physical Window node
          acc.withColumn(s"__lc$i", sum(v).over(local))
      }
      .cache() // pin the partition stamp (q112's AQE hazard)
    val pcs = mi.map { case ((v, _, _), i) => sum(v).as(s"__pc$i") }
    val cnts = parts.groupBy((col("__pid") +: gcols): _*)
      .agg(pcs.head, pcs.tail: _*)
    val offs = mi.foldLeft(cnts) { case (acc, ((_, _, totalOut), i)) =>
      val withOff = acc.withColumn(s"__off$i", coalesce(
        sum(col(s"__pc$i")).over(Window.partitionBy(gcols: _*)
          .orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      totalOut.fold(withOff)(t => withOff.withColumn(t,
        sum(col(s"__pc$i")).over(Window.partitionBy(gcols: _*))))
    }.select((col("__pid") +: gcols) ++
      mi.map { case (_, i) => col(s"__off$i") } ++
      measures.flatMap(_._3).map(col): _*)
    val joined = parts.join(broadcast(offs), "__pid" +: groups)
    mi.foldLeft(joined) { case (acc, ((_, cumOut, _), i)) =>
      acc.withColumn(cumOut, col(s"__lc$i") + col(s"__off$i"))
    }.drop("__pid" +: mi.flatMap { case (_, i) =>
      Seq(s"__lc$i", s"__off$i") }: _*)
  }

  /** Benford first-digit audit of order totals: observed first-digit
    * distribution of the cents-exact amounts against the Benford
    * expectation log₁₀(1 + 1/d) — the fraud/data-quality screen that
    * belongs beside the expectation suite (q88). First digit is
    * taken from the INTEGER cents rendered as a string (float
    * formatting differs across engines; int64 formatting doesn't).
    * `frac` is one exact IEEE division; `expected` is a libm log of
    * nine tiny constants, rounded to 6 places to absorb any
    * last-ulp libm disagreement. */
  val q113Benford: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders WHERE o_totalprice > 0),
      |c AS (
      |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
      |    AS digit, count(*) AS n
      |  FROM t GROUP BY 1),
      |tot AS (SELECT sum(n) AS tot FROM c)
      |SELECT digit, n, CAST(n AS DOUBLE) / tot AS frac,
      |  floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000
      |    AS expected
      |FROM c CROSS JOIN tot""".stripMargin
  ) { (s, d) =>
    val c = Tables.orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = c.agg(sum(col("n")).as("tot"))
    c.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("tot")).as("frac"),
        (floor(log10(lit(1.0) + lit(1.0) / col("digit")) * 1000000 + 0.5)
          / 1000000).as("expected"))
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

  /** Exact ROC-AUC of `value` as a purchase-propensity score — the
    * model-evaluation staple a training pipeline runs on every scored
    * eval split. Computed by the rank-sum (Mann–Whitney) identity on
    * the DISTINCT-SCORE sweep, not per-row ranks:
    *
    *   AUC = Σ_s pos(s)·(negBelow(s) + neg(s)/2) / (n_pos·n_neg)
    *
    * i.e. every (positive, lower-scored negative) pair counts 1, every
    * tied pair counts ½ — the numerator is kept doubled so it stays an
    * exact int64 (overflow note, the q2o convention: 2·n_pos·n_neg
    * < 2⁶³ holds through n ≈ 4·10⁹ rows; beyond, pre-divide both class
    * counts by a common 2ᵏ), and the final AUC is ONE IEEE division of
    * exact int64 values — bit-identical cross-engine with no rounding
    * escape hatch.
    *
    * Scale shape: one score-keyed partial+final aggregate collapses n
    * rows to the distinct-score frame; negBelow is the q91/q112
    * two-phase prefix sum over range partitions (never a single-task
    * global window — the distinct-score frame is data-sized); the
    * finish is a 1-row rollup. The range-stamped frame is cached for
    * the same AQE re-sampling hazard q112 documents. */
  val q115Auc: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT value AS score,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y FROM events),
      |g AS (
      |  SELECT score, CAST(sum(y) AS BIGINT) AS pos,
      |    CAST(sum(1 - y) AS BIGINT) AS neg
      |  FROM t GROUP BY 1),
      |c AS (
      |  SELECT *, CAST(coalesce(sum(neg) OVER (ORDER BY score
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS neg_below
      |  FROM g),
      |s AS (
      |  SELECT CAST(sum(pos * (2 * neg_below + neg)) AS BIGINT) AS num,
      |    CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(neg) AS BIGINT) AS n_neg
      |  FROM c)
      |SELECT n_pos, n_neg,
      |  CAST(num AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM s""".stripMargin
  ) { (s, d) =>
    val g = Tables.events(s, d)
      .select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("score"))
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
    val parts = g
      .repartitionByRange(s.sparkContext.defaultParallelism, col("score"))
      .sortWithinPartitions(col("score"))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lc", sum(col("neg")).over(
        Window.partitionBy(col("__pid")).orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .cache() // pin the partition stamp (q112's AQE re-sampling hazard)
    val offs = parts.groupBy(col("__pid")).agg(sum(col("neg")).as("__pn"))
      .withColumn("__off", coalesce(
        sum(col("__pn")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    parts.join(broadcast(offs), Seq("__pid"))
      .withColumn("neg_below", col("__lc") - col("neg") + col("__off"))
      .agg(
        sum(col("pos") * (lit(2L) * col("neg_below") + col("neg"))).as("num"),
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        (col("num").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  /** χ² independence audit of event mix × day-of-week — the
    * distribution-drift screen beside the expectation suite (q88) and
    * the A/B scorecard (q104): a shifted (event_type, weekday) mix is
    * the classic sign of a broken producer or a bot wave. Emits ONE
    * ROW PER CELL (observed, expected, χ² contribution) rather than a
    * summed statistic — consumers threshold per-cell contributions to
    * find WHICH cell drifted, and the gate never hashes an
    * order-dependent float fold.
    *
    * Cross-engine determinism: day-of-week is pure int64 epoch math —
    * (days since 1970-01-01 + 4) mod 7, 0 = Sunday — because Spark
    * and DuckDB number dayofweek() differently; expected = r·c/N is
    * one IEEE division of exact int64 products (needs N < ~3·10⁹ rows
    * — the q2o convention — beyond which pre-divide the margins);
    * o − e, square, divide are then the same IEEE sequence in both
    * engines.
    *
    * Scale shape: ONE data-sized hash aggregate (the cell counts,
    * partial+final, 35-cell domain); margins and N derive from the
    * 35-row cell frame, so everything after the first exchange is
    * metadata-sized (two broadcast joins of ≤7-row frames). */
  val q117Chi2Drift: QueryDef = QueryDef.withOracle(
    """WITH cells AS (
      |  SELECT event_type,
      |    ((epoch_us(ts) // 86400000000 + 4) % 7 + 7) % 7 AS dow,
      |    count(*) AS o
      |  FROM events GROUP BY 1, 2),
      |rows_ AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
      |  FROM cells GROUP BY 1),
      |cols_ AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
      |SELECT event_type, dow, o,
      |  CAST(r * c AS DOUBLE) / n AS expected,
      |  (o - CAST(r * c AS DOUBLE) / n) * (o - CAST(r * c AS DOUBLE) / n)
      |    / (CAST(r * c AS DOUBLE) / n) AS contrib
      |FROM cells JOIN rows_ USING (event_type) JOIN cols_ USING (dow)
      |CROSS JOIN n""".stripMargin
  ) { (s, d) =>
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        // sign-safe epoch→dow: the shared epochDay floordiv then pmod
        // for the mod-7 — the oracle mirrors with ((x % 7) + 7) % 7,
        // so both engines agree for pre-1970 epochs too
        pmod(epochDay(unix_micros(col("ts"))) + 4, lit(7)).as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols = cells.groupBy(col("dow")).agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"))
    val e = (col("r") * col("c")).cast("double") / col("n")
    cells.join(broadcast(rows), Seq("event_type"))
      .join(broadcast(cols), Seq("dow"))
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("dow"), col("o"),
        e.as("expected"),
        ((col("o") - e) * (col("o") - e) / e).as("contrib"))
  }

  val all: Map[String, QueryDef] = Map(
    "q110_geo_join" -> q110GeoJoin,
    "q111_ewma" -> q111Ewma,
    "q112_rfm" -> q112Rfm,
    "q113_benford" -> q113Benford,
    "q114_session_paths" -> q114SessionPaths,
    "q115_auc" -> q115Auc,
    "q117_chi2_drift" -> q117Chi2Drift
  )
}
