package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.epochDay

/** Round-9 analytics tranche: mergeable-sketch distinct counting,
  * behavioral transition/debounce/retention reports, distribution
  * drift, and rank-migration — each chosen to exercise a scale
  * primitive the 100 TB engine needs (HLL registers, user-keyed
  * windows, token-keyed smoothed divergence, the N-measure two-phase
  * prefix over a 2-value group).
  *
  * Cross-engine conventions throughout: cents-exact money, epoch-µs
  * int64 time with floordiv-by-construction day math (the q143 pmod
  * guard), quantize-then-sum for float folds (1e-9 fixed point), and
  * explicit DOUBLE casts on every fractional SQL literal (DuckDB
  * parses bare decimals as DECIMAL, not DOUBLE).
  */
object AnalyticsOps5 {

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
  val q155MarkovTransitions: QueryDef = QueryDef.withOracle(
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
      |FROM t JOIN f USING (from_type)""".stripMargin
  ) { (s, d) =>
    val o = Tables.events(s, d).select(col("user_id"), col("event_type"),
      lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))).as("next_type"))
    val t = o.filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val f = t.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
    t.join(broadcast(f), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast("double") / col("n_from")).as("p"))
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

  /** Smoothed unigram KL divergence of each source's token
    * distribution from the corpus distribution — the drift score
    * curation uses to spot a source whose language shifted (q117's χ²
    * is binned counts; this is the full-vocabulary divergence). Add-1
    * smoothing over the corpus vocabulary, so absent tokens
    * contribute their mass too (the dense |V|×|sources| term table —
    * sources are a handful, the vocabulary is Heaps-bounded).
    *
    * Parity: p and q are ratios of EXACT int64 counts, the term
    * p·ln(p/q) is the same IEEE sequence in both engines, each term
    * quantizes to 1e-9 fixed point BEFORE summing (signed terms — KL
    * is a sum of both signs that only totals nonnegative), and the
    * per-source sum is int64 — order-free. The final kl is one IEEE
    * division.
    *
    * Scale shape: token explode → (source, token) partial+final
    * counts → corpus margin by token-keyed rollup of THAT frame (no
    * second corpus scan) → vocab × sources dense frame via broadcast
    * of the ≤20-row source margin; the term sum rides one
    * source-keyed rollup. */
  val q158UnigramKl: QueryDef = QueryDef.withOracle(
    """WITH st AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |sc AS (
      |  SELECT source, tok, count(*) AS c_s FROM st GROUP BY 1, 2),
      |tc AS (
      |  SELECT tok, CAST(sum(c_s) AS BIGINT) AS c FROM sc GROUP BY 1),
      |sm AS (
      |  SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s FROM sc GROUP BY 1),
      |gl AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS v FROM tc),
      |dense AS (
      |  SELECT sm.source, tc.tok, sm.n_s, tc.c, gl.n, gl.v,
      |    coalesce(sc.c_s, 0) AS c_s
      |  FROM tc CROSS JOIN sm CROSS JOIN gl
      |  LEFT JOIN sc ON sc.source = sm.source AND sc.tok = tc.tok),
      |terms AS (
      |  SELECT source, n_s,
      |    CAST(floor(
      |      (CAST(c_s + 1 AS DOUBLE) / (n_s + v)) *
      |      ln((CAST(c_s + 1 AS DOUBLE) / (n_s + v)) /
      |         (CAST(c + 1 AS DOUBLE) / (n + v)))
      |      * 1000000000 + 0.5) AS BIGINT) AS term_fp
      |  FROM dense)
      |SELECT source, max(n_s) AS n_tokens,
      |  CAST(sum(term_fp) AS BIGINT) AS kl_fp,
      |  CAST(sum(term_fp) AS DOUBLE) / 1000000000 AS kl
      |FROM terms GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val st = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ", -1)).as("tok"))
    // ONE corpus pass: tc/sm/gl and the dense join all derive from
    // this compact (source, tok, c_s) aggregate — uncached, each
    // branch re-exploded the corpus (4 parquet scans in the plan)
    val sc = st.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_s"))
      .cache()
    val tc = sc.groupBy(col("tok")).agg(sum(col("c_s")).as("c"))
    val sm = sc.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val gl = tc.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val p = (col("c_s") + 1).cast("double") / (col("n_s") + col("v"))
    val q = (col("c") + 1).cast("double") / (col("n") + col("v"))
    tc.crossJoin(broadcast(sm)).crossJoin(broadcast(gl))
      .join(sc, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("c_s"))
      .select(col("source"), col("n_s"),
        floor(p * log(p / q) * 1000000000L + 0.5).cast("long").as("term_fp"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), sum(col("term_fp")).as("kl_fp"))
      .select(col("source"), col("n_tokens"), col("kl_fp"),
        (col("kl_fp").cast("double") / 1000000000L).as("kl"))
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
    val r = AnalyticsOps2.groupedPrefixSum(pc, Seq("period"),
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

  /** Per-label embedding centroid drift — cosine of each label's
    * centroid against the global centroid, the vector-space twin of
    * q158's token KL (is a label's region of embedding space moving
    * away from the corpus?). The q144 exactness discipline end to
    * end: float components widen to double (exact), quantize at 1e-9
    * BEFORE any sum, per-(label, dim) sums are int64 (order-free),
    * the global centroid is the SUM OF THE LABEL SUMS (no second
    * data pass), centroid components are one IEEE division each, the
    * three cosine accumulators re-quantize the products, and the
    * final cosine is the same division/sqrt sequence in both engines,
    * rounded at 1e-6 (q113 convention).
    *
    * Scale shape: ONE data pass (posexplode → (label, dim)
    * partial+final aggregate, ≤ |labels|·64 rows out); everything
    * downstream — the global rollup, the dim join, the cosine — runs
    * on metadata-sized frames. */
  val q161CentroidDrift: QueryDef = QueryDef.withOracle(
    """WITH e AS (
      |  SELECT label, u.dim AS dim,
      |    CAST(emb[u.dim + 1] AS DOUBLE) AS x
      |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
      |        FROM embeddings) t,
      |    LATERAL (SELECT unnest(range(0, len(emb))) AS dim) u),
      |lc AS (
      |  SELECT label, dim,
      |    CAST(sum(CAST(floor(x * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS s_fp,
      |    count(*) AS n
      |  FROM e GROUP BY 1, 2),
      |gc AS (
      |  SELECT dim, CAST(sum(s_fp) AS BIGINT) AS gs_fp,
      |    CAST(sum(n) AS BIGINT) AS gn
      |  FROM lc GROUP BY 1),
      |j AS (
      |  SELECT lc.label, lc.n,
      |    (CAST(lc.s_fp AS DOUBLE) / 1000000000) / lc.n AS a,
      |    (CAST(gc.gs_fp AS DOUBLE) / 1000000000) / gc.gn AS b
      |  FROM lc JOIN gc USING (dim)),
      |p AS (
      |  SELECT label, max(n) AS n_vecs,
      |    CAST(sum(CAST(floor(a * b * 1000000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS num_fp,
      |    CAST(sum(CAST(floor(a * a * 1000000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS na_fp,
      |    CAST(sum(CAST(floor(b * b * 1000000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS nb_fp
      |  FROM j GROUP BY 1)
      |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
      |  floor(((CAST(num_fp AS DOUBLE) / sqrt(CAST(na_fp AS DOUBLE)))
      |    / sqrt(CAST(nb_fp AS DOUBLE))) * 1000000 + 0.5) / 1000000
      |    AS cos_global
      |FROM p""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("label"), col("dim"), col("xf").cast("double").as("x"))
    val lc = e.groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("x") * 1000000000L + 0.5).cast("long")).as("s_fp"),
        count(lit(1)).as("n"))
    val gc = lc.groupBy(col("dim"))
      .agg(sum(col("s_fp")).as("gs_fp"), sum(col("n")).as("gn"))
    val a = (col("s_fp").cast("double") / 1000000000L) / col("n")
    val b = (col("gs_fp").cast("double") / 1000000000L) / col("gn")
    val j = lc.join(broadcast(gc), Seq("dim"))
      .select(col("label"), col("n"), a.as("a"), b.as("b"))
    j.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(floor(col("a") * col("b") * 1000000000L + 0.5).cast("long"))
          .as("num_fp"),
        sum(floor(col("a") * col("a") * 1000000000L + 0.5).cast("long"))
          .as("na_fp"),
        sum(floor(col("b") * col("b") * 1000000000L + 0.5).cast("long"))
          .as("nb_fp"))
      .select(col("label"), col("n_vecs"),
        (floor(((col("num_fp").cast("double") /
          sqrt(col("na_fp").cast("double"))) /
          sqrt(col("nb_fp").cast("double"))) * 1000000 + 0.5) / 1000000)
          .as("cos_global"))
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

  /** Per-source dataset card — the datasheet a corpus release ships:
    * volume (docs, tokens, chars), exact-duplicate share (via the q40
    * content-hash), and the majority language with its share, one row
    * per source. Everything is exact integer arithmetic; the only
    * doubles are three final divisions.
    *
    * Scale shape: one doc-level pass computes tokens/chars map-side
    * and the md5 content hash; the dup share needs one
    * (source, hash)-keyed aggregate (16-byte keys); the language
    * margin is a (source, lang) rollup with the majority pick via
    * max_by on the (count, lang) struct — deterministic tiebreak,
    * no window. All post-scan frames are source- or
    * source×lang-sized. */
  val q165DatasetCard: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT source, lang, n_chars,
      |    len(string_split(text, ' ')) AS n_tok,
      |    md5(text) AS h
      |  FROM documents),
      |hash_groups AS (
      |  SELECT source, h, count(*) AS n FROM d GROUP BY 1, 2),
      |dup AS (
      |  SELECT source,
      |    CAST(sum(n) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup
      |  FROM hash_groups GROUP BY 1),
      |vol AS (
      |  SELECT source,
      |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS n_chars
      |  FROM d GROUP BY 1),
      |lc AS (
      |  SELECT source, lang, count(*) AS n FROM d GROUP BY 1, 2),
      |ml AS (
      |  SELECT source, lang AS top_lang, CAST(n AS BIGINT) AS top_lang_n
      |  FROM (SELECT source, lang, n, row_number() OVER (
      |          PARTITION BY source ORDER BY n DESC, lang DESC) AS rn
      |        FROM lc)
      |  WHERE rn = 1)
      |SELECT dup.source, dup.n_docs, vol.n_tokens, vol.n_chars,
      |  dup.n_dup,
      |  CAST(dup.n_dup AS DOUBLE) / dup.n_docs AS dup_share,
      |  CAST(vol.n_chars AS DOUBLE) / dup.n_docs AS mean_chars,
      |  ml.top_lang,
      |  CAST(ml.top_lang_n AS DOUBLE) / dup.n_docs AS top_lang_share
      |FROM dup JOIN vol USING (source) JOIN ml USING (source)""".stripMargin
  ) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ", -1)).as("n_tok"),
        md5(col("text")).as("h"))
      .cache() // one doc pass feeds all three rollups
    val hashGroups = base.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("n"))
    val dup = hashGroups.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_dup"))
    val vol = base.groupBy(col("source"))
      .agg(sum(col("n_tok")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
    val ml = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(max_by(col("lang"), struct(col("n"), col("lang"))).as("top_lang"),
        max_by(col("n"), struct(col("n"), col("lang"))).as("top_lang_n"))
    dup.join(vol, Seq("source")).join(ml, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_share"),
        (col("n_chars").cast("double") / col("n_docs")).as("mean_chars"),
        col("top_lang"),
        (col("top_lang_n").cast("double") / col("n_docs"))
          .as("top_lang_share"))
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
    val exact = AnalyticsOps2.groupedPrefixSums(vcells, Seq("event_type"),
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

  /** THE HLL estimator tail, parameterized by register count m = 2^p:
    * raw α·m²/S with the 2.5m linear-counting switch, rounded at 1e-6
    * to absorb last-ulp libm disagreement. `sInv` = Σ 2^−reg (exact
    * in any order — dyadic rationals), `vZero` = count of empty
    * registers. Every HLL consumer estimates through this ONE
    * definition — q154/q164/q171 at m = 1024, GraphOps q160 at
    * m = 256 — so the constants (α's rational form, the regime
    * threshold, the rounding quantum) cannot drift apart from each
    * other or from their four oracles. */
  private[operators] def hllEstimate(sInv: Column, vZero: Column,
      m: Int): Column = {
    val md = m.toDouble
    // α switches on m (Flajolet et al. §5): the 0.7213/(1+1.079/m)
    // form is the bias constant only for m ≥ 128; the small-m values
    // are the paper's exact constants — HllRegisters accepts p ≥ 4, so
    // without the switch a p ∈ 4..6 consumer would get a silently
    // biased estimate. A small-m consumer's oracle SQL must hardcode
    // the SAME constant (every current oracle is m ≥ 256, large form).
    val alphaMm: Column = m match {
      case 16 => lit(0.673) * lit(md * md)
      case 32 => lit(0.697) * lit(md * md)
      case 64 => lit(0.709) * lit(md * md)
      case _ =>
        require(m >= 128 && (m & (m - 1)) == 0,
          s"hllEstimate needs a power-of-two register count >= 16, got $m")
        (lit(0.7213) * lit(md * md)) / (lit(1.0) + (lit(1.079) / lit(md)))
    }
    val eRaw = alphaMm / sInv
    floor((when(eRaw <= lit(2.5 * md) && vZero > 0,
      lit(md) * log(lit(md) / vZero.cast("double")))
      .otherwise(eRaw)) * 1000000 + 0.5) / 1000000
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
    val exact = AnalyticsOps2.groupedPrefixSums(cells, Seq("event_type"),
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

  val all: Map[String, QueryDef] = Map(
    "q196_kll_quantiles" -> q196KllQuantiles,
    "q154_hll_distinct" -> q154HllDistinct,
    "q161_centroid_drift" -> q161CentroidDrift,
    "q162_heavy_hitters" -> q162HeavyHitters,
    "q163_count_min" -> q163CountMin,
    "q164_rolling_distinct" -> q164RollingDistinct,
    "q165_dataset_card" -> q165DatasetCard,
    "q166_histogram_quantiles" -> q166HistogramQuantiles,
    "q171_hll_overlap" -> q171HllOverlap,
    "q155_markov_transitions" -> q155MarkovTransitions,
    "q156_debounce" -> q156Debounce,
    "q157_retention_triangle" -> q157RetentionTriangle,
    "q158_unigram_kl" -> q158UnigramKl,
    "q159_decile_migration" -> q159DecileMigration
  )
}
