package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, epochDay}
import Kernels.hllEstimate

/** Sketches, samples and cardinality estimates: the synopses a
  * 100 TB engine answers from instead of exact scans, each printed
  * beside (or calibrated against) its exact answer — HyperLogLog
  * distinct counts, rolling distincts and overlap algebra, count-min
  * and heavy hitters, log-linear histogram and KLL quantiles,
  * equi-depth bins, weighted sampling without replacement, Neyman
  * allocation, Kish effective sample size, capture-recapture, and the
  * estimates a cost-based planner runs on (join fan-out, selectivity).
  *
  * Every HLL consumer estimates through `Kernels.hllEstimate`.
  * `kllEstimatesFrame` is also dumped by Verify, so q196's Spark
  * query and its DuckDB oracle read the same estimate bytes. The
  * cross-engine arithmetic rules are `Exact`'s.
  */
object SketchOps {

  /** Equi-depth feature binning: per language, 4 document-count-equal
    * buckets of n_chars with per-bucket count and bounds — the
    * feature-engineering discretizer (quantile binning with EXACT
    * bucket populations, where q74's sketch gives approximate
    * boundaries). `ntile` semantics are pinned by ANSI (larger
    * buckets first, assignment by the total order) and the
    * (n_chars, doc_id) tiebreak makes the order total, so both
    * engines bin identically. Scale: one window per group — fine
    * while groups are many/balanced; for few huge groups the scale
    * path is q74's sketch boundaries + a map-side bucket lookup, and
    * this operator IS the exactness reference for that. */
  val q96EquidepthBins: QueryDef = QueryDef.withOracle(
    """WITH b AS (
      |  SELECT lang, n_chars,
      |    ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
      |      AS bucket
      |  FROM documents)
      |SELECT lang, CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
      |  min(n_chars) AS lo, max(n_chars) AS hi
      |FROM b GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars"),
        ntile(4).over(w).cast("long").as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
  }

  /** Per-source distinct-document estimate from the mergeable
    * HyperLogLog register sketch (`SketchAggregates.HllRegisters`,
    * p = 10 → 1024 registers) next to the exact distinct count and
    * the relative error — the verification harness a sketch rollout
    * ships with. The ESTIMATOR is column math over the register
    * array, auditable and engine-neutral: S = Σ 2^−M_j is a sum of
    * dyadic rationals whose partial sums all fit in 51 bits (exact in
    * ANY summation order, both engines); the raw estimate is
    * α·m²/S; the small-range regime (E ≤ 2.5m with empty registers)
    * switches to linear counting m·ln(m/V), rounded at 1e-6 to
    * absorb last-ulp libm disagreement (the q113 convention).
    *
    * Scale shape: ONE hash aggregate whose state is 1 KB per group
    * regardless of group size — map-side update, elementwise-max
    * merge; the estimator runs on the 20-row (source, registers)
    * frame. The exact countDistinct beside it is the gate's truth
    * column, not part of the sketch path. Oracle: DuckDB re-derives
    * every register from the same md5 recipe (bucket = top 10 of 60
    * bits, rank over the LOW 40 bits — floor(log2) is exact there,
    * see HllRegisters' scaladoc) and applies the identical
    * estimator. */
  val q154HllDistinct: QueryDef = QueryDef.withOracle(
    """WITH ex AS (
      |  SELECT source, count(DISTINCT text) AS n_exact
      |  FROM documents GROUP BY 1),
      |h AS (
      |  SELECT source, ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
      |  FROM documents),
      |r AS (
      |  SELECT source, h >> 50 AS bucket,
      |    max(CASE WHEN (h & ((1::BIGINT << 40) - 1)) = 0 THEN 41
      |      ELSE 40 - CAST(floor(log2(h & ((1::BIGINT << 40) - 1)))
      |        AS BIGINT) END) AS reg
      |  FROM h GROUP BY 1, 2),
      |g AS (
      |  SELECT s.source, gs.bucket, coalesce(r.reg, 0) AS reg
      |  FROM (SELECT DISTINCT source FROM documents) s
      |  CROSS JOIN (SELECT unnest(range(0, 1024)) AS bucket) gs
      |  LEFT JOIN r ON r.source = s.source AND r.bucket = gs.bucket),
      |a AS (
      |  SELECT source,
      |    sum(pow(CAST(2 AS DOUBLE), -reg)) AS s_inv,
      |    CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
      |  FROM g GROUP BY 1),
      |e AS (
      |  SELECT ex.source, ex.n_exact, a.v_zero,
      |    ((CAST(0.7213 AS DOUBLE) * 1048576) /
      |     (CAST(1 AS DOUBLE) + (CAST(1.079 AS DOUBLE) / CAST(1024 AS DOUBLE))))
      |      / a.s_inv AS e_raw
      |  FROM ex JOIN a USING (source)),
      |f AS (
      |  SELECT source, n_exact, v_zero,
      |    floor((CASE WHEN e_raw <= 2560 AND v_zero > 0
      |      THEN CAST(1024 AS DOUBLE) * ln(CAST(1024 AS DOUBLE) / v_zero)
      |      ELSE e_raw END) * 1000000 + 0.5) / 1000000 AS hll_est
      |  FROM e)
      |SELECT source, n_exact, v_zero, hll_est,
      |  abs(hll_est - CAST(n_exact AS DOUBLE)) / n_exact AS rel_err
      |FROM f""".stripMargin
  ) { (s, d) =>
    val agg = Tables.documents(s, d).groupBy(col("source"))
      .agg(
        graft.functions.SketchAggregates.hllRegisters(col("text"), 10)
          .as("regs"),
        countDistinct(col("text")).as("n_exact"))
    val stats = agg.select(col("source"), col("n_exact"),
      expr("aggregate(regs, CAST(0 AS DOUBLE), " +
        "(acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))").as("s_inv"),
      expr("CAST(size(filter(regs, r -> r = 0)) AS BIGINT)").as("v_zero"))
    stats
      .withColumn("hll_est", hllEstimate(col("s_inv"), col("v_zero"), 1024))
      .select(col("source"), col("n_exact"), col("v_zero"), col("hll_est"),
        (abs(col("hll_est") - col("n_exact").cast("double")) /
          col("n_exact")).as("rel_err"))
  }

  /** Corpus heavy hitters (tokens with ≥ 0.5% of all occurrences) via
    * the two-pass sketch-then-verify shape every production
    * heavy-hitters job uses: pass 1 runs the mergeable Misra–Gries
    * aggregate (k = 1000 counters, constant state) fused with the
    * total count — ANY token with true share ≥ 1/(k+1) is guaranteed
    * in the candidate set regardless of partitioning/merge order, and
    * 1/200 ≫ 1/1001, so candidates ⊇ the answer; pass 2 exactly
    * counts ONLY the ≤ 1000 candidates (broadcast semi-join filter at
    * the scan) and applies the integer threshold 200·cnt ≥ N. The
    * gate output is therefore EXACT and deterministic — the sketch's
    * order-dependent internals never reach it — while the
    * full-cardinality token shuffle a naive GROUP BY + HAVING would
    * pay is replaced by one constant-size sketch merge plus a
    * candidate-only count.
    *
    * Oracle: the naive exact form (DuckDB doesn't need the scale
    * path). */
  val q162HeavyHitters: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |n AS (SELECT count(*) AS n FROM t),
      |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1)
      |SELECT tok, cnt, CAST(cnt AS DOUBLE) / n.n AS share
      |FROM c CROSS JOIN n WHERE 200 * cnt >= n.n""".stripMargin
  ) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ", -1)).as("tok"))
    // ONE fused pass: sketch + total count; the 1-row result is
    // cached so the candidate and total branches don't re-scan
    val pass1 = toks.agg(
      graft.functions.SketchAggregates.misraGries(col("tok"), 1000)
        .as("cands"),
      count(lit(1)).as("n")).cache()
    val candSet = pass1.select(explode(col("cands")).as("tok"))
    val total = pass1.select(col("n"))
    toks.join(broadcast(candSet), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(lit(200) * col("cnt") >= col("n"))
      .select(col("tok"), col("cnt"),
        (col("cnt").cast("double") / col("n")).as("share"))
  }

  /** Count–min sketch as PURE declarative SQL — the counterpart to
    * the custom-aggregate sketches (q149/q154/q162): CMS counters are
    * plain SUMS over a tiny derived domain (d×w = 4×1024 cells), so
    * Catalyst's ordinary partial+final hash aggregate IS the sketch
    * build — map-side combine collapses every partition to ≤ 4096
    * rows, no custom code needed, and sums are order-free so the
    * sketch is bit-deterministic (unlike MG, whose survivor set is
    * order-dependent — the reason q162 needed the verify pass and
    * this query doesn't). The report: for the 20 most frequent
    * tokens, true count vs CMS point estimate (min over the d row
    * hashes) and the overestimate — always ≥ 0, the CMS guarantee —
    * i.e. the calibration table a CMS rollout publishes.
    *
    * Hash family: the q149 "i:" md5 recipe mod w, so the oracle
    * re-derives every cell. Scale shape: ONE token pass builds the
    * 4096-cell counter frame (+ one pass for true counts of the
    * top-20 — the truth column, not the sketch path); estimates are
    * a 20×4-row explode joined to the broadcast counter frame. */
  val q163CountMin: QueryDef = QueryDef.withOracle(
    """WITH t AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |cells AS (
      |  SELECT r.r AS r,
      |    ('0x' || substring(md5(r.r || ':' || tok), 1, 15))::BIGINT % 1024
      |      AS j,
      |    count(*) AS c
      |  FROM t CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT tok, count(*) AS true_cnt FROM t GROUP BY 1
      |  ORDER BY true_cnt DESC, tok LIMIT 20),
      |est AS (
      |  SELECT top.tok, top.true_cnt,
      |    CAST(min(cells.c) AS BIGINT) AS cms_est
      |  FROM top
      |  CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r
      |  JOIN cells ON cells.r = r.r AND cells.j =
      |    ('0x' || substring(md5(r.r || ':' || top.tok), 1, 15))::BIGINT
      |      % 1024
      |  GROUP BY 1, 2)
      |SELECT tok, true_cnt, cms_est,
      |  CAST(cms_est - true_cnt AS BIGINT) AS overcount
      |FROM est""".stripMargin
  ) { (s, d) =>
    // r13: hash DISTINCT tokens, not occurrences — the (r, j) cell
    // counts are sums of per-token counts either way (exact same
    // integers), so the md5 parity recipe runs |vocab|×4 times
    // instead of |corpus tokens|×4 (~25× fewer at sf0.1), and the
    // token-count aggregate is shared with the top-20 pick (one
    // tokenization pass + one token-keyed exchange total; guide §2.3
    // "aggregate before you shuffle")
    val tokCnt = Tables.documents(s, d)
      .select(explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("true_cnt"))
      .cache()
    // Column operators, not toString-interpolated expr (the epochDay
    // convention): safe under aliased/qualified inputs. Hash is a
    // positive 60-bit int, so % == pmod here.
    def cell(r: Column, tok: Column): Column =
      conv(substring(md5(concat(r.cast("string"), lit(":"), tok)),
        1, 15), 16, 10).cast("long") % lit(1024L)
    val rs = explode(expr("array(0, 1, 2, 3)")).as("r")
    val cells = tokCnt.select(col("tok"), col("true_cnt"), rs)
      .select(col("r"), cell(col("r"), col("tok")).as("j"),
        col("true_cnt"))
      .groupBy(col("r"), col("j")).agg(sum(col("true_cnt")).as("c"))
    val top = tokCnt
      .orderBy(col("true_cnt").desc, col("tok")).limit(20)
    top.select(col("tok"), col("true_cnt"), rs)
      .select(col("tok"), col("true_cnt"), col("r"),
        cell(col("r"), col("tok")).as("j"))
      .join(broadcast(cells), Seq("r", "j"))
      .groupBy(col("tok"), col("true_cnt"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("tok"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).as("overcount"))
  }

  /** Rolling 7-day distinct users per day from MERGED DAILY HLL
    * sketches — the production reason the register sketch exists:
    * daily sketches build once (one pass, 1 KB per day), and ANY
    * trailing window's distinct count is an elementwise register max
    * over the window's days — no re-touching events, no rolling
    * dedup state. Here each (day, slot, reg) row fans out map-side to
    * the ≤7 target days it serves (the explode-by-offset trick — all
    * frames after the daily aggregate are calendar-bounded metadata),
    * and the q154 estimator runs on the merged registers via the
    * sparse-S identity (q160). The exact trailing distinct — computed
    * with the same fan-out on the (day, user) dedup frame — rides
    * along as the calibration column, q154-style.
    *
    * Scale shape: ONE event pass for the daily (day, user) dedup +
    * daily sketches; everything rolling is days×1024-sized. The
    * exact column is the report's truth baseline (a production run
    * at 100 TB would publish sketch-only and spot-check). */
  val q164RollingDistinct: QueryDef = QueryDef.withOracle(
    """WITH du AS (
      |  SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    user_id
      |  FROM events),
      |ex AS (
      |  SELECT t.day + o.o AS day, count(DISTINCT t.user_id) AS n_exact
      |  FROM du t CROSS JOIN (SELECT unnest(range(0, 7)) AS o) o
      |  WHERE t.day + o.o <= (SELECT max(day) FROM du)
      |  GROUP BY 1),
      |h AS (
      |  SELECT day,
      |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS h
      |  FROM du),
      |r AS (
      |  SELECT day, h >> 50 AS slot,
      |    max(CASE WHEN (h & ((1::BIGINT << 40) - 1)) = 0 THEN 41
      |      ELSE 40 - CAST(floor(log2(h & ((1::BIGINT << 40) - 1)))
      |        AS BIGINT) END) AS reg
      |  FROM h GROUP BY 1, 2),
      |m AS (
      |  SELECT r.day + o.o AS day, r.slot, max(r.reg) AS reg
      |  FROM r CROSS JOIN (SELECT unnest(range(0, 7)) AS o) o
      |  WHERE r.day + o.o <= (SELECT max(day) FROM r)
      |  GROUP BY 1, 2),
      |a AS (
      |  SELECT day,
      |    sum(pow(CAST(2 AS DOUBLE), -reg)) + (1024 - count(*)) AS s_inv,
      |    CAST(1024 - count(*) AS BIGINT) AS v_zero
      |  FROM m GROUP BY 1),
      |e AS (
      |  SELECT day, v_zero,
      |    ((CAST(0.7213 AS DOUBLE) * 1048576) /
      |     (CAST(1 AS DOUBLE) + (CAST(1.079 AS DOUBLE) / CAST(1024 AS DOUBLE))))
      |      / s_inv AS e_raw
      |  FROM a),
      |f AS (
      |  SELECT day,
      |    floor((CASE WHEN e_raw <= 2560 AND v_zero > 0
      |      THEN CAST(1024 AS DOUBLE) * ln(CAST(1024 AS DOUBLE) / v_zero)
      |      ELSE e_raw END) * 1000000 + 0.5) / 1000000 AS hll_est
      |  FROM e)
      |SELECT ex.day, ex.n_exact, f.hll_est,
      |  abs(f.hll_est - CAST(ex.n_exact AS DOUBLE)) / ex.n_exact AS rel_err
      |FROM ex JOIN f USING (day)""".stripMargin
  ) { (s, d) =>
    val du = Tables.events(s, d)
      .select(epochDay(unix_micros(col("ts"))).as("day"), col("user_id"))
      .distinct()
      .cache() // one event pass feeds both the exact and sketch paths
    val offs = explode(expr("sequence(0, 6)")).as("o")
    val maxDay = du.agg(max(col("day")).as("max_day"))
    val ex = du.select(col("day"), col("user_id"), offs)
      .select((col("day") + col("o")).as("day"), col("user_id"))
      .crossJoin(broadcast(maxDay))
      .filter(col("day") <= col("max_day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val daily = du.groupBy(col("day"))
      .agg(graft.functions.SketchAggregates
        .hllRegisters(col("user_id").cast("string"), 10).as("regs"))
    val merged = daily
      .select(col("day"), posexplode(col("regs")).as(Seq("slot", "reg")))
      // sparse like the oracle's register CTE: untouched slots are
      // implicit (the estimator's (1024 − hit-count) term) — also
      // 7× less fan-out, and v_zero would be wrong computed dense
      .filter(col("reg") > 0)
      .select(col("day"), col("slot"), col("reg"), offs)
      .select((col("day") + col("o")).as("day"), col("slot"), col("reg"))
      .crossJoin(broadcast(maxDay))
      .filter(col("day") <= col("max_day"))
      .groupBy(col("day"), col("slot")).agg(max(col("reg")).as("reg"))
    val est = merged.groupBy(col("day"))
      .agg((sum(expr("pow(CAST(2 AS DOUBLE), -reg)")) +
          (lit(1024) - count(lit(1)))).as("s_inv"),
        (lit(1024) - count(lit(1))).cast("long").as("v_zero"))
      .withColumn("hll_est", hllEstimate(col("s_inv"), col("v_zero"), 1024))
    ex.join(est.select(col("day"), col("hll_est")), Seq("day"))
      .select(col("day"), col("n_exact"), col("hll_est"),
        (abs(col("hll_est") - col("n_exact").cast("double")) /
          col("n_exact")).as("rel_err"))
  }

  /** Per-event-type latency/value quantiles (p50/p95/p99) from a
    * MERGEABLE log-linear histogram sketch — the HdrHistogram shape —
    * with the exact rank-based quantile and the one-sided overshoot
    * as calibration columns. Completes the sketch quartet (HLL
    * distinct q154, MG heavy hitters q162, CMS counts q163): the
    * quantile is the fourth statistic a 100 TB job cannot afford to
    * sort for, and the histogram answer needs ONE pass + constant
    * state where the exact answer needs a full range shuffle.
    *
    * Bucketing is PURE INTEGER math (the q163 argument applies:
    * bucket counts are order-free SUMS over a tiny derived domain, so
    * Catalyst's ordinary partial+final hash aggregate IS the sketch —
    * mergeable across partitions/days/engines by construction, and
    * bit-deterministic, no custom aggregate needed): cents v < 8 map
    * to themselves; otherwise octave e = floor(log2(v)) (exact in
    * double math for v < 2^40 — the HllRegisters rationale) with 8
    * linear sub-buckets, idx = 8e + (v >> (e−3)) − 8. Estimate =
    * bucket UPPER bound ((off+9)·2^(e−3) − 1), so est ≥ exact always
    * (the CMS-style one-sided guarantee) and the relative overshoot
    * is < 1/8 by construction — both asserted per row in the spec.
    *
    * Exact side: per-type rank selection rides the GROUPED two-phase
    * prefix over the COLLAPSED (type, v) cell frame, not raw rows
    * (q187's argument: equal-v rows are contiguous under the oracle's
    * (v, event_id) tiebreak, so the rank-r VALUE is the v run whose
    * cumulative count straddles r); the histogram derives from the
    * same cell frame since idx is a function of v — ONE raw-data
    * pass total. Rank r = ceil(pct·n/100) via integer (pct·n + 99)
    * div 100 on both engines; the only windows outside the helper run
    * on the ≤(types × ~140)-row histogram frame. Final rel_err is one
    * IEEE division rounded at 1e-6 (q113 convention). */
  val q166HistogramQuantiles: QueryDef = QueryDef.withOracle(
    """WITH v AS (
      |  SELECT event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v, event_id
      |  FROM events),
      |b AS (
      |  SELECT event_type,
      |    CASE WHEN v < 8 THEN v
      |      ELSE CAST(floor(log2(v)) AS BIGINT) * 8
      |        + (v >> CAST(floor(log2(v)) - 3 AS INT)) - 8 END AS idx,
      |    count(*) AS c
      |  FROM v GROUP BY 1, 2),
      |h AS (
      |  SELECT event_type, idx, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY idx) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM b),
      |t AS (
      |  SELECT event_type, n, CAST(pct AS BIGINT) AS pct,
      |    (CAST(pct AS BIGINT) * n + 99) // 100 AS r
      |  FROM (SELECT DISTINCT event_type, n FROM h)
      |  CROSS JOIN (SELECT unnest([50, 95, 99]) AS pct)),
      |est AS (
      |  SELECT t.event_type, t.pct, t.n, t.r,
      |    min(CASE WHEN h.idx < 8 THEN h.idx
      |      ELSE ((h.idx % 8) + 9)
      |        * (1::BIGINT << CAST((h.idx // 8) - 3 AS INT)) - 1 END)
      |      AS est_cents
      |  FROM t JOIN h ON h.event_type = t.event_type AND h.cum >= t.r
      |  GROUP BY 1, 2, 3, 4),
      |rk AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id)
      |      AS rn
      |  FROM v)
      |SELECT est.event_type, est.pct, est.n, rk.v AS exact_cents,
      |  est.est_cents,
      |  est.est_cents - rk.v AS overshoot_cents,
      |  floor((CAST(est.est_cents - rk.v AS DOUBLE) / rk.v) * 1000000
      |    + 0.5) / 1000000 AS rel_err
      |FROM est
      |JOIN rk ON rk.event_type = est.event_type AND rk.rn = est.r""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("v"), col("event_id"))
    // ONE raw-data pass: a (type, v) count bounded by value
    // cardinality; the histogram (idx is a function of v) and the
    // exact rank pick both ride this cell frame (q187's argument:
    // equal-v rows are contiguous under the oracle's (v, event_id)
    // tiebreak, so the rank-r VALUE is the unique v run whose
    // cumulative count straddles r — at sf100 this replaces the
    // spill-bound range sort of 1B rows with a map-side-combined agg)
    val vcells = ev.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .cache()
    val idx = expr("CASE WHEN v < 8 THEN v " +
      "ELSE CAST(floor(log2(v)) AS BIGINT) * 8 " +
      "+ shiftright(v, CAST(floor(log2(v)) - 3 AS INT)) - 8 END")
    val hist = vcells.groupBy(col("event_type"), idx.as("idx"))
      .agg(sum(col("cnt")).as("c"))
      // sketch frame: ≤ |types| × ~140 rows from here down
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("idx"))))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
    val pcts = explode(expr("array(50L, 95L, 99L)")).as("pct")
    val targets = hist.select(col("event_type"), col("n")).distinct()
      .select(col("event_type"), col("n"), pcts)
      .withColumn("r", expr("(pct * n + 99) div 100"))
    val ub = expr("CASE WHEN idx < 8 THEN idx " +
      "ELSE (pmod(idx, 8) + 9) " +
      "* shiftleft(CAST(1 AS BIGINT), CAST((idx div 8) - 3 AS INT)) - 1 END")
    val est = targets.join(hist.select(col("event_type"),
        col("idx"), col("cum")), Seq("event_type"))
      .filter(col("cum") >= col("r"))
      .groupBy(col("event_type"), col("pct"), col("n"), col("r"))
      .agg(min(ub).as("est_cents"))
    val exact = Kernels.groupedPrefixSums(vcells, Seq("event_type"),
        Seq(col("v")), Seq((col("cnt"), "cum", None)))
      .join(broadcast(est.select(col("event_type"), col("pct"), col("r"))),
        Seq("event_type"))
      .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
      .select(col("event_type"), col("pct"), col("v").as("exact_cents"))
    est.join(exact, Seq("event_type", "pct"))
      .select(col("event_type"), col("pct"), col("n"), col("exact_cents"),
        col("est_cents"),
        (col("est_cents") - col("exact_cents")).as("overshoot_cents"),
        (floor(((col("est_cents") - col("exact_cents")).cast("double") /
          col("exact_cents")) * 1000000 + 0.5) / 1000000).as("rel_err"))
  }

  /** Pairwise audience overlap between event types from HLL sketch
    * ALGEBRA — |A∩B| estimated by inclusion–exclusion over mergeable
    * register arrays (est_a + est_b − est_union, where the union
    * sketch is the elementwise register max, NO re-scan of the
    * data), with the exact intersection beside it. This is the
    * operation sketch infrastructure exists for at 100 TB: the
    * overlap matrix of N audiences needs ONE pass + N kilobyte
    * sketches, not N² distinct-count scans.
    *
    * Exact side rides a bitmask trick, not a self-join: each type
    * gets a dense alphabetical index (derived on the 5-row DISTINCT
    * frame — engine-neutral, data-independent); one user-keyed
    * bit_or collapses each user to a ≤31-value type-set mask; exact
    * |A∩B| for every pair is then a sum over the ≤31-row mask-count
    * frame. Two data passes total (sketch build, mask build), both
    * ordinary partial+final aggregates; everything downstream is
    * pairs × masks metadata.
    *
    * est_inter can legitimately go ≤ 0 when true overlap is tiny
    * relative to sketch error — reported raw (the calibration IS the
    * point); rel_err is anchored on the exact count. */
  val q171HllOverlap: QueryDef = QueryDef.withOracle(
    """WITH t AS (SELECT DISTINCT event_type FROM events),
      |ti AS (
      |  SELECT event_type,
      |    row_number() OVER (ORDER BY event_type) - 1 AS idx
      |  FROM t),
      |h AS (
      |  SELECT event_type,
      |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS h
      |  FROM events),
      |r0 AS (
      |  SELECT event_type, h >> 50 AS bucket,
      |    max(CASE WHEN (h & ((1::BIGINT << 40) - 1)) = 0 THEN 41
      |      ELSE 40 - CAST(floor(log2(h & ((1::BIGINT << 40) - 1)))
      |        AS BIGINT) END) AS reg
      |  FROM h GROUP BY 1, 2),
      |r AS (
      |  SELECT t.event_type, gs.bucket, coalesce(r0.reg, 0) AS reg
      |  FROM t CROSS JOIN (SELECT unnest(range(0, 1024)) AS bucket) gs
      |  LEFT JOIN r0 ON r0.event_type = t.event_type
      |    AND r0.bucket = gs.bucket),
      |sa AS (
      |  SELECT event_type, sum(pow(CAST(2 AS DOUBLE), -reg)) AS s_inv,
      |    CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
      |  FROM r GROUP BY 1),
      |se AS (
      |  SELECT event_type,
      |    floor((CASE WHEN ((CAST(0.7213 AS DOUBLE) * 1048576) /
      |        (CAST(1 AS DOUBLE) + (CAST(1.079 AS DOUBLE)
      |          / CAST(1024 AS DOUBLE)))) / s_inv <= 2560 AND v0 > 0
      |      THEN CAST(1024 AS DOUBLE) * ln(CAST(1024 AS DOUBLE) / v0)
      |      ELSE ((CAST(0.7213 AS DOUBLE) * 1048576) /
      |        (CAST(1 AS DOUBLE) + (CAST(1.079 AS DOUBLE)
      |          / CAST(1024 AS DOUBLE)))) / s_inv END) * 1000000 + 0.5)
      |      / 1000000 AS est
      |  FROM sa),
      |pu AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb,
      |    sum(pow(CAST(2 AS DOUBLE), -greatest(a.reg, b.reg))) AS s_inv,
      |    CAST(sum(CASE WHEN greatest(a.reg, b.reg) = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v0
      |  FROM r a JOIN r b ON a.bucket = b.bucket
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2),
      |ue AS (
      |  SELECT ta, tb,
      |    floor((CASE WHEN ((CAST(0.7213 AS DOUBLE) * 1048576) /
      |        (CAST(1 AS DOUBLE) + (CAST(1.079 AS DOUBLE)
      |          / CAST(1024 AS DOUBLE)))) / s_inv <= 2560 AND v0 > 0
      |      THEN CAST(1024 AS DOUBLE) * ln(CAST(1024 AS DOUBLE) / v0)
      |      ELSE ((CAST(0.7213 AS DOUBLE) * 1048576) /
      |        (CAST(1 AS DOUBLE) + (CAST(1.079 AS DOUBLE)
      |          / CAST(1024 AS DOUBLE)))) / s_inv END) * 1000000 + 0.5)
      |      / 1000000 AS est_union
      |  FROM pu),
      |m AS (
      |  SELECT e.user_id, bit_or(1::BIGINT << ti.idx) AS mask
      |  FROM events e JOIN ti USING (event_type) GROUP BY 1),
      |mc AS (SELECT mask, count(*) AS n FROM m GROUP BY 1),
      |px AS (
      |  SELECT a.event_type AS ta, a.idx AS ia,
      |    b.event_type AS tb, b.idx AS ib
      |  FROM ti a JOIN ti b ON a.event_type < b.event_type),
      |xc AS (
      |  SELECT ta, tb,
      |    CAST(sum(CASE WHEN ((mask >> ia) & 1) = 1
      |      AND ((mask >> ib) & 1) = 1 THEN n ELSE 0 END) AS BIGINT)
      |      AS n_exact
      |  FROM px CROSS JOIN mc GROUP BY 1, 2)
      |SELECT xc.ta AS type_a, xc.tb AS type_b, xc.n_exact,
      |  ea.est AS est_a, eb.est AS est_b, ue.est_union,
      |  (ea.est + eb.est) - ue.est_union AS est_inter,
      |  CASE WHEN xc.n_exact = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((abs((ea.est + eb.est) - ue.est_union
      |      - CAST(xc.n_exact AS DOUBLE)) / xc.n_exact) * 1000000 + 0.5)
      |      / 1000000 END AS rel_err
      |FROM xc
      |JOIN se ea ON ea.event_type = xc.ta
      |JOIN se eb ON eb.event_type = xc.tb
      |JOIN ue ON ue.ta = xc.ta AND ue.tb = xc.tb""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val regs = ev.groupBy(col("event_type"))
      .agg(graft.functions.SketchAggregates
        .hllRegisters(col("user_id").cast("string"), 10).as("regs"))
    def est(regsCol: String, out: String)(df: org.apache.spark.sql.DataFrame) =
      df.withColumn(out, hllEstimate(
        expr(s"aggregate($regsCol, CAST(0 AS DOUBLE), " +
          "(acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))"),
        expr(s"CAST(size(filter($regsCol, r -> r = 0)) AS BIGINT)"), 1024))
    val singles = est("regs", "est")(regs)
      .select(col("event_type"), col("est"))
    val pairs = regs.toDF("ta", "ra")
      .join(broadcast(regs.toDF("tb", "rb")), col("ta") < col("tb"))
      .withColumn("ru", expr("zip_with(ra, rb, (x, y) -> greatest(x, y))"))
    val unions = est("ru", "est_union")(pairs)
      .select(col("ta"), col("tb"), col("est_union"))
    val ti = ev.select(col("event_type")).distinct()
      .withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("event_type"))).cast("long") - 1)
    val masks = ev.join(broadcast(ti), Seq("event_type"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
        "CAST(idx AS INT)))").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n"))
    val px = ti.toDF("ta", "ia")
      .join(broadcast(ti.toDF("tb", "ib")), col("ta") < col("tb"))
    val exact = px.crossJoin(broadcast(masks))
      .groupBy(col("ta"), col("tb"))
      .agg(sum(when(
        expr("((mask >> CAST(ia AS INT)) & 1) = 1 " +
          "AND ((mask >> CAST(ib AS INT)) & 1) = 1"),
        col("n")).otherwise(lit(0L))).as("n_exact"))
    exact
      .join(broadcast(singles.toDF("ta", "est_a")), Seq("ta"))
      .join(broadcast(singles.toDF("tb", "est_b")), Seq("tb"))
      .join(broadcast(unions), Seq("ta", "tb"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n_exact"), col("est_a"), col("est_b"), col("est_union"),
        ((col("est_a") + col("est_b")) - col("est_union")).as("est_inter"),
        // disjoint audiences are legitimate: anchor-free rows report 0
        when(col("n_exact") === 0, lit(0.0))
          .otherwise(floor((abs((col("est_a") + col("est_b")) -
            col("est_union") - col("n_exact").cast("double")) /
            col("n_exact")) * 1000000 + 0.5) / 1000000).as("rel_err"))
  }

  /** The sketch-derived piece of q196, dumped by Verify as a per-SF
    * fixture (`kll_estimates.parquet`): per (event_type,
    * pct ∈ {50,90,99}), the KLL sketch's quantile pick — the smallest
    * sketch value whose cumulative weight reaches the pct share of
    * the sketch mass. Sketch mass equals n EXACTLY (compaction
    * conserves weighted mass: the even case promotes m of 2m items at
    * doubled weight; the odd case keeps the minimum at weight w and
    * promotes m of the remaining 2m — SketchAggregatesSpec asserts
    * the equality), so the pick rule is the ceil-rank straddle on
    * sketch rows. Deterministic WITHIN a run but not across runs
    * (Spark's partial-merge order legitimately moves sketch contents
    * inside the rank bound), which is exactly why this is a dumped
    * fixture and not oracle-recomputed: both engines gate on the SAME
    * sketch output bytes. */
  def kllEstimatesFrame(s: SparkSession, d: String): DataFrame = {
    val byT = Window.partitionBy(col("event_type"))
    Tables.events(s, d).select(col("event_type"), col("value"))
      .groupBy(col("event_type"))
      .agg(graft.functions.SketchAggregates.kllDoubles(col("value"), 1024)
        .as("sk"))
      .select(col("event_type"), explode(col("sk")).as("x"))
      .select(col("event_type"), col("x.v").as("v"), col("x.c").as("c"))
      .withColumn("cum", sum(col("c")).over(byT.orderBy(col("v"))))
      .withColumn("n_est", sum(col("c")).over(byT))
      .select(col("event_type"), col("v"), col("cum"), col("n_est"),
        explode(expr("array(50L, 90L, 99L)")).as("pct"))
      .filter(col("cum") * 100 >= col("pct") * col("n_est"))
      .groupBy(col("event_type"), col("pct"))
      .agg(min(col("v")).as("est_value"))
  }

  /** KLL sketch quantiles per type, CALIBRATED against the exact
    * cell-frame answer — q166's exact/estimate pairing with the
    * mergeable-sketch estimator instead of the log histogram: p50/p90/
    * p99 of `value` from ONE pass of ~3k-double KllDoubles state,
    * beside the exact rank pick and the estimate's measured rank
    * error. The sketch is the answer when value cardinality is NOT
    * bounded (latencies/scores at 100 TB — where q166's (type, v)
    * cell collapse stops applying because the cell frame IS the
    * data); this query runs both on the same column so every run
    * SHOWS the calibration.
    *
    * Hash-gate protocol (the winnow/LSH fixture-dump pattern, r10
    * verdict #1): sketch estimates move across runs with Spark's
    * partial-merge order, so Verify dumps [[kllEstimatesFrame]] and
    * BOTH engines read the same estimate bytes; everything downstream
    * — the exact rank pick, the estimate's measured rank in the true
    * data, rel_rank_err, and the within_bound ≤ 2% verdict — is then
    * deterministic and hash-checked end to end. The bound itself is
    * additionally spec-pinned at 1- and 32-partition builds
    * (SketchAggregatesSpec) and under streaming state
    * (StreamingKllSpec).
    *
    * Scale shape: one data pass for the sketch (ObjectHashAggregate
    * partial+final, ~24 KB per type), one (type, cents) count for the
    * exact side; everything downstream is ≤ |types|·(3k + |cents|)
    * metadata. */
  val q196KllQuantiles: QueryDef = QueryDef.withOracle(
    s"""WITH e AS (
      |  SELECT event_type, CAST(pct AS BIGINT) AS pct, est_value
      |  FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/kll_estimates.parquet/*.parquet')),
      |v AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |cells AS (
      |  SELECT event_type, cents, count(*) AS cnt FROM v GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
      |  FROM cells GROUP BY 1),
      |tg AS (
      |  SELECT e.event_type, e.pct, t.n, (e.pct * t.n + 99) // 100 AS r,
      |    e.est_value
      |  FROM e JOIN t USING (event_type)),
      |cum AS (
      |  SELECT event_type, cents, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum
      |  FROM cells),
      |exact AS (
      |  SELECT tg.event_type, tg.pct,
      |    CAST(cum.cents AS DOUBLE) / 100 AS exact_value
      |  FROM tg JOIN cum ON cum.event_type = tg.event_type
      |    AND cum.cum >= tg.r AND cum.cum - cum.cnt < tg.r),
      |rk AS (
      |  SELECT tg.event_type, tg.pct, tg.n, tg.r, tg.est_value,
      |    CAST(sum(CASE WHEN c.cents
      |        <= CAST(floor(tg.est_value * 100 + 0.5) AS BIGINT)
      |      THEN c.cnt ELSE 0 END) AS BIGINT) AS est_rank
      |  FROM tg JOIN cells c ON c.event_type = tg.event_type
      |  GROUP BY 1, 2, 3, 4, 5),
      |fin AS (
      |  SELECT rk.event_type, rk.pct, rk.n, rk.est_value, rk.est_rank,
      |    floor((CAST(abs(rk.est_rank - rk.r) AS DOUBLE) / rk.n) * 1000000
      |      + 0.5) / 1000000 AS rel_rank_err
      |  FROM rk)
      |SELECT fin.event_type, fin.pct, fin.n, fin.est_value,
      |  exact.exact_value, fin.est_rank, fin.rel_rank_err,
      |  fin.rel_rank_err <= 0.02 AS within_bound
      |FROM fin JOIN exact
      |  ON exact.event_type = fin.event_type AND exact.pct = fin.pct"""
      .stripMargin
  ) { (s, d) =>
    // Under Verify the estimates come from the dumped fixture — the
    // SAME bytes the oracle reads, making the whole output (including
    // est_value) hash-checkable even though sketch contents move
    // across runs with the partial-merge order. Standalone (bench,
    // specs) the frame is computed live; semantics are identical.
    val fxPath = s"${SmartHomeOracle.fixtureDir}/sf_" +
      s"${graft.Verify.sfTagOf(d)}/kll_estimates.parquet"
    val estSrc =
      if (new java.io.File(fxPath).isDirectory) s.read.parquet(fxPath)
      else kllEstimatesFrame(s, d)
    val ev = Tables.events(s, d).select(col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val cells = ev.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // bounded by value cardinality — the exact side's frame
    val targets = cells.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"))
      .join(broadcast(estSrc), Seq("event_type"))
      .withColumn("r", expr("(pct * n + 99) div 100"))
    val exact = Kernels.groupedPrefixSums(cells, Seq("event_type"),
        Seq(col("cents")), Seq((col("cnt"), "cum", None)))
      .join(broadcast(targets.select(col("event_type"), col("pct"),
        col("r"))), Seq("event_type"))
      .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
      .select(col("event_type"), col("pct"),
        (col("cents").cast("double") / 100).as("exact_value"))
    val estRank = targets.join(cells, Seq("event_type"))
      .groupBy(col("event_type"), col("pct"), col("n"), col("r"),
        col("est_value"))
      .agg(sum(when(col("cents") <=
        floor(col("est_value") * 100 + 0.5).cast("long"), col("cnt"))
        .otherwise(0L)).as("est_rank"))
    estRank.join(exact, Seq("event_type", "pct"))
      .withColumn("rel_rank_err",
        floor((abs(col("est_rank") - col("r")).cast("double") / col("n"))
          * 1000000 + 0.5) / 1000000)
      .select(col("event_type"), col("pct"), col("n"), col("est_value"),
        col("exact_value"), col("est_rank"), col("rel_rank_err"),
        (col("rel_rank_err") <= 0.02).as("within_bound"))
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

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement: the
    * top-5 documents per source drawn with probability proportional
    * to length (n_chars) — the per-stratum quality-weighted draw a
    * curation pipeline uses for human-review panels and few-shot
    * pools. q91's systematic sampler draws a GLOBAL rate-k sample;
    * this is the other sampling primitive: exactly k per stratum,
    * heavier rows more likely, no replacement, one pass, no global
    * state. Each row gets the exponential-race key ln(u)/w (u
    * deterministic from md5(doc_id) — the q48/q91 replayable-RNG
    * convention); the k largest keys per stratum ARE the E–S sample
    * (Efraimidis & Spirakis 2006).
    *
    * Exactness: u = (md5₆₀(doc_id)+1)/2⁶⁰ and ln(u)/w are one
    * identical IEEE chain in both engines; ranking ties break on
    * doc_id; the output is all-integer (rank, id, weight) — nothing
    * floats through the gate.
    *
    * Scale shape: key assignment is map-side scalar math on the scan;
    * the per-source top-5 pushes a partial WindowGroupLimit below the
    * exchange (the q7/q38 top-k shape), so the shuffle carries ≤5
    * rows per (partition, source) — never the corpus. */
  val q216WeightedTopk: QueryDef = QueryDef.withOracle(
    """WITH k AS (
      |  SELECT source, doc_id, n_chars,
      |    ln(((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT) + 1) / 1152921504606846976.0) / n_chars AS key
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY key DESC, doc_id) AS rk
      |  FROM k)
      |SELECT source, rk, doc_id, n_chars AS weight_chars
      |FROM r WHERE rk <= 5""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        expr("ln((CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), " +
          "16, 10) AS BIGINT) + 1) / 1152921504606846976.0) / n_chars")
          .as("key"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("key").desc, col("doc_id"))))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("n_chars").as("weight_chars"))
  }

  /** Neyman-optimal stratified sample allocation — the sampling DESIGN
    * operator beside the sampling EXECUTORS (q37/q48/q91/q216): given
    * a 10% row budget, how many samples should each source stratum
    * get to minimize the variance of the estimated mean doc length?
    * n_h ∝ N_h·S_h (big and internally-diverse strata earn more than
    * proportional; uniform strata earn less), integerized by the
    * largest-remainder (Hamilton) method so allocations sum EXACTLY
    * to the budget.
    *
    * Exactness: per-stratum S_h comes from exact decimal(38,0)/HUGEINT
    * moments (one sqrt of a deterministic double, clamped at 0 against
    * ulp-negative variance); the weights quantize SCALE-FREE as
    * (N_h/N)·S_h at 1e-9 (bounded by the value range, not the row
    * count); every division/remainder after that is exact integer
    * arithmetic in decimal(38,0)/HUGEINT, and the remainder rank is a
    * ≤|sources| metadata sort with a source-name tiebreak.
    *
    * Scale shape: ONE documents pass into the ≤|sources| moment
    * aggregate; allocation algebra rides the cell frame with broadcast
    * 1-row totals. The q194 water-fill posture, closed-form. */
  val q228NeymanAllocation: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT source, count(*) AS nh,
      |    sum(CAST(n_chars AS HUGEINT)) AS sh,
      |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS qh
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(nh) AS BIGINT) AS n FROM cell),
      |u AS (
      |  SELECT source, nh,
      |    CASE WHEN nh = 1 THEN CAST(0 AS DOUBLE)
      |      ELSE sqrt(greatest(0, (CAST(qh AS DOUBLE)
      |        - (CAST(sh AS DOUBLE) / nh) * (CAST(sh AS DOUBLE) / nh) * nh)
      |        / (nh - 1))) END AS sigma,
      |    CAST(floor((CAST(nh AS DOUBLE) / n)
      |      * CASE WHEN nh = 1 THEN CAST(0 AS DOUBLE)
      |        ELSE sqrt(greatest(0, (CAST(qh AS DOUBLE)
      |          - (CAST(sh AS DOUBLE) / nh) * (CAST(sh AS DOUBLE) / nh) * nh)
      |          / (nh - 1))) END * 1000000000 + 0.5) AS BIGINT) AS ufp
      |  FROM cell CROSS JOIN tot),
      |su AS (SELECT CAST(sum(ufp) AS BIGINT) AS s FROM u),
      |al AS (
      |  SELECT source, nh, sigma,
      |    CAST((CAST(n // 10 AS HUGEINT) * ufp) // s AS BIGINT) AS base,
      |    CAST((CAST(n // 10 AS HUGEINT) * ufp) % s AS BIGINT) AS rem
      |  FROM u CROSS JOIN su CROSS JOIN tot),
      |lo AS (
      |  SELECT CAST(max(n // 10) - sum(base) AS BIGINT) AS leftover
      |  FROM al CROSS JOIN tot),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rnk
      |  FROM al)
      |SELECT source, nh AS n_pop,
      |  floor(sigma * 1000000 + 0.5) / 1000000 AS sigma,
      |  base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS alloc
      |FROM rk CROSS JOIN lo""".stripMargin
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nh"),
        sum(dec(col("n_chars"))).as("sh"),
        sum(dec(col("n_chars")) * col("n_chars")).as("qh"))
      .cache() // one corpus pass feeds totals and the weight frame
    val tot = cell.agg(sum(col("nh")).cast("long").as("n"))
    // nh = 1 guard: a singleton stratum has no variance signal — the
    // raw expression divides by zero (Inf) and the 1e-9 cast would
    // throw; it earns only its largest-remainder floor instead
    val sigma = when(col("nh") === 1, lit(0.0))
      .otherwise(sqrt(greatest(lit(0), (col("qh").cast("double")
        - (col("sh").cast("double") / col("nh"))
          * (col("sh").cast("double") / col("nh")) * col("nh"))
        / (col("nh") - 1))))
    val u = cell.crossJoin(broadcast(tot))
      .select(col("source"), col("nh"), col("n"), sigma.as("sigma"),
        floor((col("nh").cast("double") / col("n")) * sigma
          * 1000000000L + 0.5).cast("long").as("ufp"))
      .cache() // ≤|sources| rows feed the total and the allocation
    val su = u.agg(sum(col("ufp")).cast("long").as("s"))
    val al = u.crossJoin(broadcast(su))
      .select(col("source"), col("nh"), col("sigma"),
        expr("CAST((CAST(n div 10 AS DECIMAL(38,0)) * ufp) div s AS LONG)")
          .as("base"),
        expr("CAST((CAST(n div 10 AS DECIMAL(38,0)) * ufp) % s AS LONG)")
          .as("rem"),
        expr("n div 10").as("budget"))
    val lo = al.agg((max(col("budget")) - sum(col("base")))
      .cast("long").as("leftover"))
    al.withColumn("rnk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .crossJoin(broadcast(lo))
      .select(col("source"), col("nh").as("n_pop"),
        (floor(col("sigma") * 1000000L + 0.5) / 1000000L).as("sigma"),
        (col("base") + when(col("rnk") <= col("leftover"), 1L)
          .otherwise(0L)).as("alloc"))
  }

  /** Chapman capture-recapture estimate of the active user population
    * from two activity samples (even- vs odd-calendar-day users), with
    * the TRUE distinct count printed beside it — the estimator audits
    * itself on this data. The production use is populations you can't
    * enumerate (the user base behind sampled logs, vocabulary behind
    * sampled shards): Chapman's (n1+1)(n2+1)/(m+1) − 1 is the
    * bias-corrected Lincoln-Petersen, with its standard SE.
    *
    * Exactness: the three counts are exact (one pass → per-user
    * even/odd flags → conditional counts); the estimate and SE are
    * one double chain each, floored 1e-6. m = 0 still works (the +1
    * correction IS the guard — stated).
    *
    * Scale shape: one events pass → per-user flag cells (data-sized
    * groupBy on the natural key) → one 4-number aggregate. */
  val q261CaptureRecapture: QueryDef = QueryDef.withOracle(
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN date_part('day', CAST(ts AS DATE)) % 2 = 0
      |      THEN 1 ELSE 0 END) AS e,
      |    max(CASE WHEN date_part('day', CAST(ts AS DATE)) % 2 = 1
      |      THEN 1 ELSE 0 END) AS o
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT CAST(sum(e) AS BIGINT) AS n1, CAST(sum(o) AS BIGINT) AS n2,
      |    CAST(sum(e * o) AS BIGINT) AS m,
      |    CAST(count(*) AS BIGINT) AS n_true
      |  FROM u)
      |SELECT n1 AS n_even, n2 AS n_odd, m AS n_both, n_true,
      |  floor(((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1)
      |    * 1000000 + 0.5) / 1000000 AS n_hat,
      |  floor(sqrt((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m)
      |      * (n2 - m))
      |    / ((CAST(m + 1 AS DOUBLE) * (m + 1)) * (m + 2)))
      |    * 1000000 + 0.5) / 1000000 AS se
      |FROM c""".stripMargin
  ) { (s, d) =>
    val u = Tables.events(s, d)
      .select(col("user_id"),
        (dayofmonth(to_date(col("ts"))) % 2 === 0).cast("long").as("ef"),
        (dayofmonth(to_date(col("ts"))) % 2 === 1).cast("long").as("of"))
      .groupBy(col("user_id"))
      .agg(max(col("ef")).as("e"), max(col("of")).as("o"))
    val c = u.agg(sum(col("e")).cast("long").as("n1"),
      sum(col("o")).cast("long").as("n2"),
      sum(col("e") * col("o")).cast("long").as("m"),
      count(lit(1)).as("n_true"))
    c.select(col("n1").as("n_even"), col("n2").as("n_odd"),
      col("m").as("n_both"), col("n_true"),
      (floor((((col("n1") + 1).cast("double") * (col("n2") + 1))
        / (col("m") + 1) - 1) * 1000000L + 0.5) / 1000000L).as("n_hat"),
      (floor(sqrt(((col("n1") + 1).cast("double") * (col("n2") + 1)
        * (col("n1") - col("m")) * (col("n2") - col("m")))
        / (((col("m") + 1).cast("double") * (col("m") + 1))
          * (col("m") + 2))) * 1000000L + 0.5) / 1000000L).as("se"))
  }

  /** Kish effective sample size per source under n_chars value
    * weighting — what q91's value-weighted sampling actually COSTS in
    * variance: ESS = (Σw)²/Σw², deff = n/ESS. A source whose long
    * docs dominate its weight has ESS ≪ n, and any statistic computed
    * from its weighted sample carries deff× the variance a naive
    * n-based CI claims (Kish 1965 — the survey-sampling standard).
    *
    * Exactness: pure decimal moment algebra ((Σw)² reaches (n·w̄)² —
    * decimal mandatory), one division chain per source, floored 1e-6.
    *
    * Scale shape: ONE documents pass → ≤|sources| moment cells. */
  val q268EssKish: QueryDef = QueryDef.withOracle(
    """WITH m AS (
      |  SELECT source, count(*) AS n,
      |    sum(CAST(n_chars AS HUGEINT)) AS sw,
      |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sww
      |  FROM documents GROUP BY 1)
      |SELECT source, n AS n_docs,
      |  CASE WHEN sww = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(sw AS DOUBLE) / sww * sw) * 1000000 + 0.5)
      |      / 1000000 END AS ess,
      |  CASE WHEN sw = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((n * (CAST(sww AS DOUBLE) / sw / sw))
      |      * 1000000 + 0.5) / 1000000 END AS deff,
      |  CASE WHEN sww = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(sw AS DOUBLE) / sww * sw / n)
      |      * 1000000 + 0.5) / 1000000 END AS ess_share
      |FROM m""".stripMargin
  ) { (s, d) =>
    val m = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(dec(col("n_chars"))).as("sw"),
        sum(dec(col("n_chars")) * col("n_chars")).as("sww"))
    m.select(col("source"), col("n").as("n_docs"),
      when(col("sww") === dec(lit(0)), lit(0.0))
        .otherwise(floor((col("sw").cast("double") / col("sww")
          * col("sw")) * 1000000L + 0.5) / 1000000L).as("ess"),
      when(col("sw") === dec(lit(0)), lit(0.0))
        .otherwise(floor((col("n") * (col("sww").cast("double")
          / col("sw") / col("sw"))) * 1000000L + 0.5) / 1000000L)
        .as("deff"),
      when(col("sww") === dec(lit(0)), lit(0.0))
        .otherwise(floor((col("sw").cast("double") / col("sww")
          * col("sw") / col("n")) * 1000000L + 0.5) / 1000000L)
        .as("ess_share"))
  }

  /** Optimizer-statistics quality audit — the two estimates a
    * cost-based planner runs on, printed against exact truth from the
    * SAME cell frames: (a) range-predicate selectivity on
    * l_extendedprice through a 64-bin equi-width histogram with
    * uniform fill-in (9 overlapping 20%-of-range probes), and (b)
    * equi-join cardinality |orders JOIN lineitem| through the
    * textbook |L|*|O| / max(ndv_L, ndv_O) distinct-count formula.
    * The q_error column (max/min ratio, floored at 1 event) is the
    * planner-accuracy currency — a q_error of 3 on a probe says any
    * plan choice hinging on that cardinality is a coin flip. This is
    * the engine auditing its own planning statistics, the same layer
    * q180 (join skew) and q165 (dataset card) report on.
    *
    * Exactness: histogram boundaries, bin assignment, and actual
    * counts are pure integer math on the cents grid; each bin's
    * estimate term (overlap fraction * bin count, a mirrored double)
    * quantizes to a 1e-6 integer BEFORE the sum (the q277/q284
    * per-term convention — r12 ADVICE: a raw double sum is partial-
    * agg-order-dependent) with ONE divide at the end; the estimator's
    * internal floor-boundary convention is stated as part of the
    * estimator, so both engines audit the SAME estimator.
    *
    * Scale shape: ONE lineitem pass -> price-cents cells (the 9
    * probes sum the SAME cell frame under different predicates — no
    * re-scan) + one orderkey-cells pass per side for (b); actual join
    * cardinality is a key-cells join (never a row join). */
  val q285SelectivityAudit: QueryDef = QueryDef.withOracle(
    """WITH pv AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |mm AS (
      |  SELECT min(v) AS mn, max(v) - min(v) + 1 AS r,
      |    CAST(sum(cnt) AS BIGINT) AS n
      |  FROM pv),
      |hb AS (
      |  SELECT (pv.v - mm.mn) * 64 // mm.r AS b,
      |    CAST(sum(cnt) AS BIGINT) AS hcnt
      |  FROM pv CROSS JOIN mm GROUP BY 1),
      |pr AS (
      |  SELECT j.j, mm.mn + j.j * mm.r // 10 AS lo,
      |    mm.mn + (j.j + 2) * mm.r // 10 AS hi
      |  FROM (SELECT unnest(range(0, 9)) AS j) j CROSS JOIN mm),
      |es AS (
      |  SELECT pr.j, pr.lo, pr.hi,
      |    sum(CAST(floor((CASE WHEN mm.mn + (hb.b + 1) * mm.r // 64
      |          - (mm.mn + hb.b * mm.r // 64) <= 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(greatest(0, least(pr.hi,
      |          mm.mn + (hb.b + 1) * mm.r // 64)
      |        - greatest(pr.lo, mm.mn + hb.b * mm.r // 64)) AS DOUBLE)
      |        / (mm.mn + (hb.b + 1) * mm.r // 64
      |          - (mm.mn + hb.b * mm.r // 64)) * hb.hcnt END)
      |      * 1000000 + 0.5) AS BIGINT)) AS e6
      |  FROM pr CROSS JOIN mm CROSS JOIN hb
      |  GROUP BY 1, 2, 3),
      |ac AS (
      |  SELECT pr.j, CAST(coalesce(sum(pv.cnt), 0) AS BIGINT) AS act
      |  FROM pr LEFT JOIN pv ON pv.v >= pr.lo AND pv.v < pr.hi
      |  GROUP BY 1),
      |sel AS (
      |  SELECT 'sel_0' || CAST(es.j AS VARCHAR) AS probe,
      |    CAST(es.e6 AS DOUBLE) / 1000000 AS est_rows,
      |    ac.act AS actual_rows
      |  FROM es JOIN ac ON ac.j = es.j),
      |lk AS (
      |  SELECT l_orderkey AS k, count(*) AS cl FROM lineitem GROUP BY 1),
      |okc AS (
      |  SELECT o_orderkey AS k, count(*) AS co FROM orders GROUP BY 1),
      |jm AS (
      |  SELECT (SELECT CAST(sum(cl) AS BIGINT) FROM lk) AS nl,
      |    (SELECT CAST(sum(co) AS BIGINT) FROM okc) AS no,
      |    (SELECT CAST(count(*) AS BIGINT) FROM lk) AS ndvl,
      |    (SELECT CAST(count(*) AS BIGINT) FROM okc) AS ndvo,
      |    (SELECT CAST(coalesce(sum(lk.cl * okc.co), 0) AS BIGINT)
      |     FROM lk JOIN okc ON okc.k = lk.k) AS act),
      |jr AS (
      |  SELECT 'join_orderkey' AS probe,
      |    floor(CAST(nl AS DOUBLE) * no / greatest(ndvl, ndvo)
      |      * 1000000 + 0.5) / 1000000 AS est_rows,
      |    act AS actual_rows
      |  FROM jm),
      |un AS (SELECT * FROM sel UNION ALL SELECT * FROM jr)
      |SELECT probe, est_rows, actual_rows,
      |  floor(greatest(greatest(est_rows, 1.0),
      |      greatest(CAST(actual_rows AS DOUBLE), 1.0))
      |    / least(greatest(est_rows, 1.0),
      |      greatest(CAST(actual_rows AS DOUBLE), 1.0))
      |    * 1000000 + 0.5) / 1000000 AS q_error
      |FROM un""".stripMargin
  ) { (s, d) =>
    val pv = Tables.lineitem(s, d)
      .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long")
        .as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .cache() // one price pass: histogram, probes, totals reuse it
    val mm = pv.agg(min(col("v")).as("mn"),
      (max(col("v")) - min(col("v")) + 1).as("r"),
      sum(col("cnt")).cast("long").as("n"))
    def idiv(a: Column, b: Column): Column =
      call_function("div", a - pmod(a, b), b)
    val hb = pv.crossJoin(broadcast(mm))
      .groupBy(idiv((col("v") - col("mn")) * 64, col("r")).as("b"))
      .agg(sum(col("cnt")).cast("long").as("hcnt"))
    val js = s.range(0, 9).toDF("j")
    val pr = broadcast(js).crossJoin(broadcast(mm))
      .select(col("j"),
        (col("mn") + idiv(col("j") * col("r"), lit(10L))).as("lo"),
        (col("mn") + idiv((col("j") + 2) * col("r"), lit(10L))).as("hi"))
    val bl = col("mn") + idiv(col("b") * col("r"), lit(64L))
    val bh = col("mn") + idiv((col("b") + 1) * col("r"), lit(64L))
    val es = pr.crossJoin(broadcast(mm)).crossJoin(hb)
      .groupBy(col("j"), col("lo"), col("hi"))
      // per-term 1e-6 quantization BEFORE the order-dependent sum
      // (the q277/q284 house convention): partial-agg order is not
      // guaranteed to match DuckDB's, so each bin's fractional
      // contribution rounds to an integer first and the sum is exact
      .agg(sum(dec(floor(when(bh - bl <= 0, lit(0.0))
        .otherwise(greatest(lit(0L), least(col("hi"), bh)
          - greatest(col("lo"), bl)).cast("double")
          / (bh - bl) * col("hcnt")) * 1000000L + 0.5).cast("long")))
        .as("e6"))
    val ac = pr.join(pv,
        col("v") >= col("lo") && col("v") < col("hi"), "left")
      .groupBy(col("j"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).cast("long").as("act"))
    val sel = es.join(ac, Seq("j"))
      .select(concat(lit("sel_0"), col("j").cast("string")).as("probe"),
        (col("e6").cast("double") / 1000000L).as("est_rows"),
        col("act").as("actual_rows"))
    val lk = Tables.lineitem(s, d).groupBy(col("l_orderkey").as("k"))
      .agg(count(lit(1)).as("cl"))
    val okc = Tables.orders(s, d).groupBy(col("o_orderkey").as("k"))
      .agg(count(lit(1)).as("co"))
    val lm = lk.agg(sum(col("cl")).cast("long").as("nl"),
      count(lit(1)).as("ndvl"))
    val om = okc.agg(sum(col("co")).cast("long").as("no"),
      count(lit(1)).as("ndvo"))
    val aj = lk.join(okc.withColumnRenamed("k", "k2"),
        col("k2") === col("k"))
      .agg(coalesce(sum(col("cl") * col("co")), lit(0L)).cast("long")
        .as("act"))
    val jr = lm.crossJoin(om).crossJoin(aj)
      .select(lit("join_orderkey").as("probe"),
        (floor(col("nl").cast("double") * col("no")
          / greatest(col("ndvl"), col("ndvo")) * 1000000L + 0.5)
          / 1000000L).as("est_rows"),
        col("act").as("actual_rows"))
    val un = sel.unionByName(jr)
    un.select(col("probe"), col("est_rows"), col("actual_rows"),
      (floor(greatest(greatest(col("est_rows"), lit(1.0)),
        greatest(col("actual_rows").cast("double"), lit(1.0)))
        / least(greatest(col("est_rows"), lit(1.0)),
          greatest(col("actual_rows").cast("double"), lit(1.0)))
        * 1000000L + 0.5) / 1000000L).as("q_error"))
  }

  val all: Map[String, QueryDef] = Map(
    "q96_equidepth_bins" -> q96EquidepthBins,
    "q154_hll_distinct" -> q154HllDistinct,
    "q162_heavy_hitters" -> q162HeavyHitters,
    "q163_count_min" -> q163CountMin,
    "q164_rolling_distinct" -> q164RollingDistinct,
    "q166_histogram_quantiles" -> q166HistogramQuantiles,
    "q171_hll_overlap" -> q171HllOverlap,
    "q196_kll_quantiles" -> q196KllQuantiles,
    "q180_join_skew_audit" -> q180JoinSkewAudit,
    "q216_weighted_topk" -> q216WeightedTopk,
    "q228_neyman_allocation" -> q228NeymanAllocation,
    "q261_capture_recapture" -> q261CaptureRecapture,
    "q268_ess_kish" -> q268EssKish,
    "q285_selectivity_audit" -> q285SelectivityAudit)
}
