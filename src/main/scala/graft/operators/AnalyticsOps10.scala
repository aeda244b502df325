package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.dec

/** Round-11 tranche four: the resampling-inference and corpus-law
  * operators — Poisson bootstrap (THE single-pass bootstrap for
  * cluster-scale data: per-row independent Poisson(1) weights replace
  * the multinomial draw, so B replicates ride one scan instead of B
  * shuffled resamples), delete-one-bucket jackknife (the standard
  * variance estimator for RATIO metrics, where per-row CLT does not
  * apply because numerator and denominator are correlated), Heaps'
  * vocabulary-growth law (the corpus diagnostic that says how vocab
  * scales with tokens — the planning input for q194's budgets and
  * q210's OOV projections, beside q129's Zipf rank law), and one-way
  * ANOVA (the k-group mean-difference F test that closes the
  * hypothesis-test family: q104 two-sample t, q205 rank-sum, q117/q153
  * distribution drift — this is the parametric k-sample member).
  *
  * Cross-engine conventions as everywhere: deterministic randomness is
  * the shared 60-bit md5 recipe (q91/q193 — both engines hash the same
  * string and scale by 2^60, an exact power-of-two division, so u is
  * bit-identical); exact int64/decimal(38,0)/HUGEINT count and moment
  * sums (q172); order-dependent float terms quantize to 1e-9 fixed
  * point per CELL before any sum (q158 — int64 sums are
  * merge-order-free); one final division; identical IEEE op order in
  * both engines.
  */
object AnalyticsOps10 {

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

  /** Heaps'-law fit — vocabulary growth V(t) ≈ K·t^β over the corpus
    * read in doc_id order: the corpus diagnostic that projects how the
    * vocabulary (and therefore tokenizer OOV mass, embedding table
    * size, q194 token budgets) scales with another decade of data.
    * Checkpoints are powers of two 2^6..2^j ≤ T; V(2^j) counts terms
    * whose FIRST occurrence position is ≤ 2^j; β and log K come from
    * the least-squares fit of ln V on ln t.
    *
    * The whole fit is exact-integer once positions exist: a term's
    * first position fp maps to its power-of-two bucket via
    * length(bin(fp−1)) — pure integer string length, no float log, no
    * boundary rounding (fp ≤ 2^j ⟺ fp−1 < 2^j ⟺ bin-length(fp−1) ≤ j);
    * V(2^j) is a ≤64-cell prefix sum; the regression quantizes each
    * (ln t, ln V) point to 1e-9 fixed point and cross-multiplies in
    * decimal(38,0)/HUGEINT — the q172 convention — so the slope is one
    * division of exact integers.
    *
    * Scale shape: doc start offsets via the two-phase range-partitioned
    * prefix sum (never a single-task window over docs); ONE posexplode
    * pass into the min-per-term aggregate (the term-keyed shuffle is
    * the one unavoidable exchange — partial min combines map-side);
    * everything after the ≤64-cell bucket rollup is metadata-sized. */
  val q219HeapsLaw: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, toks,
      |    COALESCE(sum(ntok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS offs
      |  FROM d),
      |tk AS (
      |  SELECT o.toks[g.i] AS term, o.offs + g.i AS gpos
      |  FROM o, LATERAL (SELECT unnest(generate_series(1, len(o.toks)))
      |    AS i) g),
      |fp AS (
      |  SELECT term, CAST(min(gpos) AS BIGINT) AS fp FROM tk GROUP BY 1),
      |cells AS (
      |  SELECT CAST(length(bin(fp - 1)) AS BIGINT) AS b, count(*) AS cnt
      |  FROM fp GROUP BY 1),
      |tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS n_tokens FROM d),
      |voc AS (SELECT count(*) AS vocab FROM fp),
      |chk AS (
      |  SELECT g.j FROM (SELECT unnest(generate_series(6, 50)) AS j) g
      |  CROSS JOIN tot WHERE power(2, g.j) <= CAST(n_tokens AS DOUBLE)),
      |v AS (
      |  SELECT j, CAST(sum(cnt) AS BIGINT) AS vj
      |  FROM chk JOIN cells ON cells.b <= chk.j GROUP BY 1),
      |pts AS (
      |  SELECT
      |    CAST(floor(ln(power(2, j)) * 1000000000 + 0.5) AS BIGINT) AS xfp,
      |    CAST(floor(ln(CAST(vj AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
      |      AS yfp
      |  FROM v),
      |reg AS (
      |  SELECT count(*) AS np, CAST(sum(xfp) AS BIGINT) AS sx,
      |    CAST(sum(yfp) AS BIGINT) AS sy,
      |    sum(CAST(xfp AS HUGEINT) * yfp) AS sxy,
      |    sum(CAST(xfp AS HUGEINT) * xfp) AS sxx FROM pts)
      |SELECT n_tokens, vocab, np AS n_points,
      |  floor((CAST(np * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |    / CAST(np * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
      |    * 1000000 + 0.5) / 1000000 AS beta,
      |  floor(((CAST(sy AS DOUBLE) / 1000000000
      |    - (CAST(np * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |      / CAST(np * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
      |      * (CAST(sx AS DOUBLE) / 1000000000)) / np)
      |    * 1000000 + 0.5) / 1000000 AS log_k
      |FROM tot CROSS JOIN voc CROSS JOIN reg""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("ntok"))
    val off = AnalyticsOps2.groupedPrefixSum(docs, Seq.empty,
      Seq(col("doc_id")), col("ntok"), "cum", "ttot")
    val tok = off
      .select((col("cum") - col("ntok")).as("offs"),
        posexplode(col("toks")).as(Seq("i", "term")))
      .select(col("term"), (col("offs") + col("i") + 1).as("gpos"))
    val fp = tok.groupBy(col("term")).agg(min(col("gpos")).as("fp"))
      .cache() // vocab frame feeds the bucket cells and the vocab count
    val cells = fp
      .select(length(bin(col("fp") - 1)).cast("long").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
    val tot = docs.agg(sum(col("ntok")).cast("long").as("n_tokens"))
    val voc = fp.agg(count(lit(1)).as("vocab"))
    val chk = s.range(6, 51).toDF("j")
      .crossJoin(broadcast(tot))
      .filter(pow(lit(2.0), col("j").cast("double"))
        <= col("n_tokens").cast("double"))
      .select(col("j"))
    val v = chk.join(broadcast(cells), col("b") <= col("j"))
      .groupBy(col("j")).agg(sum(col("cnt")).cast("long").as("vj"))
    val pts = v.select(
      floor(log(pow(lit(2.0), col("j").cast("double")))
        * 1000000000L + 0.5).cast("long").as("xfp"),
      floor(log(col("vj").cast("double")) * 1000000000L + 0.5)
        .cast("long").as("yfp"))
    val reg = pts.agg(count(lit(1)).as("np"),
      sum(col("xfp")).cast("long").as("sx"),
      sum(col("yfp")).cast("long").as("sy"),
      sum(dec(col("xfp")) * col("yfp")).as("sxy"),
      sum(dec(col("xfp")) * col("xfp")).as("sxx"))
    val num = (dec(col("np")) * col("sxy")
      - dec(col("sx")) * dec(col("sy"))).cast("double")
    val den = (dec(col("np")) * col("sxx")
      - dec(col("sx")) * dec(col("sx"))).cast("double")
    val beta = num / den
    tot.crossJoin(broadcast(voc)).crossJoin(broadcast(reg))
      .select(col("n_tokens"), col("vocab"), col("np").as("n_points"),
        (floor(beta * 1000000 + 0.5) / 1000000).as("beta"),
        (floor(((col("sy").cast("double") / 1000000000L
          - beta * (col("sx").cast("double") / 1000000000L)) / col("np"))
          * 1000000 + 0.5) / 1000000).as("log_k"))
  }

  /** One-way ANOVA F test of document length across sources — the
    * k-sample parametric member of the hypothesis-test family (q104
    * two-sample t, q205 Mann–Whitney rank-sum, q117 χ² drift): does
    * mean n_chars differ across sources more than within-source
    * variance explains? F = (SSB/(k−1)) / (SSW/(N−k)), with η² =
    * SSB/SST as the effect size a drift monitor can threshold.
    *
    * Exactness: per-source count/sum/sum-of-squares accumulate in
    * int64 and decimal(38,0)/HUGEINT (the q172 moment convention — the
    * squared sums cross 2^63 at fleet scale); group and grand means
    * are single divisions of exact integers (bit-identical); the
    * between-group terms quantize SCALE-FREE as (n_g/N)·(x̄_g − x̄)² at
    * 1e-9 fixed point — bounded by the squared value range regardless
    * of row count, so the int64 fixed-point frame never overflows —
    * and SSB = N · their sum; SST comes from the exact moments, SSW by
    * subtraction, all in identical op order.
    *
    * Scale shape: ONE documents pass into a ≤|sources| hash aggregate
    * (map-side combined); every statistic ride the k-cell frame with a
    * broadcast 1-row total. The q178/q186 posture. */
  val q220Anova: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT source, count(*) AS ng,
      |    sum(CAST(n_chars AS HUGEINT)) AS sg,
      |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS qg
      |  FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(ng) AS BIGINT) AS n, sum(sg) AS s, sum(qg) AS q,
      |    count(*) AS k FROM cell),
      |b AS (
      |  SELECT CAST(sum(CAST(floor((CAST(ng AS DOUBLE) / n)
      |      * ((CAST(sg AS DOUBLE) / ng - CAST(s AS DOUBLE) / n)
      |        * (CAST(sg AS DOUBLE) / ng - CAST(s AS DOUBLE) / n))
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS bfp
      |  FROM cell CROSS JOIN tot)
      |SELECT k AS n_groups, n AS n_docs,
      |  CAST(s AS DOUBLE) / n AS grand_mean,
      |  (CAST(bfp AS DOUBLE) / 1000000000) * n AS ssb,
      |  CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n)
      |    * (CAST(s AS DOUBLE) / n) * n
      |    - (CAST(bfp AS DOUBLE) / 1000000000) * n AS ssw,
      |  ((CAST(bfp AS DOUBLE) / 1000000000) * n / (k - 1))
      |    / ((CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n)
      |        * (CAST(s AS DOUBLE) / n) * n
      |        - (CAST(bfp AS DOUBLE) / 1000000000) * n) / (n - k))
      |    AS f_stat,
      |  ((CAST(bfp AS DOUBLE) / 1000000000) * n)
      |    / (CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / n)
      |       * (CAST(s AS DOUBLE) / n) * n) AS eta_sq
      |FROM tot CROSS JOIN b""".stripMargin
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("ng"),
        sum(dec(col("n_chars"))).as("sg"),
        sum(dec(col("n_chars")) * col("n_chars")).as("qg"))
      .cache() // ONE documents pass; totals + SSB terms reuse the k cells
    val tot = cell.agg(sum(col("ng")).cast("long").as("n"),
      sum(col("sg")).as("s"), sum(col("qg")).as("q"),
      count(lit(1)).as("k"))
    val gm = col("s").cast("double") / col("n")
    val b = cell.crossJoin(broadcast(tot))
      .select(floor((col("ng").cast("double") / col("n"))
        * ((col("sg").cast("double") / col("ng") - gm)
          * (col("sg").cast("double") / col("ng") - gm))
        * 1000000000L + 0.5).cast("long").as("t"))
      .agg(sum(col("t")).as("bfp"))
    val ssb = (col("bfp").cast("double") / 1000000000L) * col("n")
    val sst = col("q").cast("double") - gm * gm * col("n")
    val ssw = sst - ssb
    tot.crossJoin(broadcast(b))
      .select(col("k").as("n_groups"), col("n").as("n_docs"),
        gm.as("grand_mean"),
        ssb.as("ssb"),
        ssw.as("ssw"),
        ((ssb / (col("k") - 1)) / (ssw / (col("n") - col("k"))))
          .as("f_stat"),
        (ssb / sst).as("eta_sq"))
  }

  /** Brier score with Murphy decomposition for the purchase-propensity
    * score — q115's AUC grades the RANKING, q151/q213 grade and repair
    * the LEVELS; this grades the full probabilistic forecast and says
    * WHERE the loss lives: Brier = reliability − resolution +
    * uncertainty (miscalibration cost, discrimination credit,
    * irreducible base-rate noise). Scores normalize to [0,1] by the
    * global min/max; the decomposition bins p into 20 equal-width
    * cells (the binned identity is exact only for bin-constant
    * forecasts — the residual, within-bin forecast variance minus
    * twice the within-bin forecast–outcome covariance, is reported as
    * decomp_gap, not hidden).
    *
    * Exactness: the raw Brier is FULLY integer — with cents c, min m,
    * range R, label y: (p−y)² = ((c−m) − y·R)²/R², so the numerator
    * sums exact int64 squares into decimal(38,0)/HUGEINT and Brier is
    * two divisions. Bin ids are integer division; per-bin means are
    * divisions of exact sums; REL/RES terms quantize SCALE-FREE as
    * (n_k/N)·Δ² at 1e-9 on the 20-cell frame.
    *
    * Scale shape: one min/max aggregate, one (bin) aggregate over a
    * second pass (≤20 cells, map-side combined), everything downstream
    * on the broadcast cell frame.
    *
    * Degenerate input: when every event carries the same score the
    * range r is 0 and normalization is undefined; rather than throw
    * (ANSI `div`/`//` by zero, Inf through the quantization cast), the
    * query degrades to the constant-forecast convention p ≡ ȳ — all
    * rows in bin 0, the bin forecast defined as the bin outcome rate,
    * so REL = RES = 0 exactly and Brier = uncertainty = ȳ(1−ȳ),
    * decomp_gap = 0. Guarded identically in engine and oracle. */
  val q221BrierDecomposition: QueryDef = QueryDef.withOracle(
    """WITH ev AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |    CAST(event_type = 'purchase' AS BIGINT) AS y
      |  FROM events),
      |mm AS (
      |  SELECT min(c) AS m, max(c) - min(c) AS r FROM ev),
      |raw AS (
      |  SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST((c - m - y * r) * (c - m - y * r) AS HUGEINT)) AS s2
      |  FROM ev CROSS JOIN mm),
      |cell AS (
      |  SELECT least(19, CASE WHEN r = 0 THEN 0
      |                        ELSE ((c - m) * 20) // r END) AS k,
      |    count(*) AS nk,
      |    CAST(sum(y) AS BIGINT) AS syk,
      |    CAST(sum(c - m) AS BIGINT) AS sck
      |  FROM ev CROSS JOIN mm GROUP BY 1),
      |dc AS (
      |  SELECT
      |    CAST(sum(CAST(floor((CAST(nk AS DOUBLE) / n)
      |      * ((CASE WHEN r = 0 THEN CAST(syk AS DOUBLE) / nk
      |          ELSE CAST(sck AS DOUBLE) / nk / r END
      |          - CAST(syk AS DOUBLE) / nk)
      |        * (CASE WHEN r = 0 THEN CAST(syk AS DOUBLE) / nk
      |           ELSE CAST(sck AS DOUBLE) / nk / r END
      |           - CAST(syk AS DOUBLE) / nk))
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS rel_fp,
      |    CAST(sum(CAST(floor((CAST(nk AS DOUBLE) / n)
      |      * ((CAST(syk AS DOUBLE) / nk - CAST(sy AS DOUBLE) / n)
      |        * (CAST(syk AS DOUBLE) / nk - CAST(sy AS DOUBLE) / n))
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS res_fp
      |  FROM cell CROSS JOIN raw CROSS JOIN mm)
      |SELECT n AS n_events,
      |  CASE WHEN r = 0
      |    THEN (CAST(sy AS DOUBLE) / n) * (1 - CAST(sy AS DOUBLE) / n)
      |    ELSE (CAST(s2 AS DOUBLE) / (CAST(r AS DOUBLE) * r)) / n
      |  END AS brier,
      |  CAST(rel_fp AS DOUBLE) / 1000000000 AS reliability,
      |  CAST(res_fp AS DOUBLE) / 1000000000 AS resolution,
      |  (CAST(sy AS DOUBLE) / n) * (1 - CAST(sy AS DOUBLE) / n)
      |    AS uncertainty,
      |  CASE WHEN r = 0
      |    THEN (CAST(sy AS DOUBLE) / n) * (1 - CAST(sy AS DOUBLE) / n)
      |    ELSE (CAST(s2 AS DOUBLE) / (CAST(r AS DOUBLE) * r)) / n
      |  END
      |    - (CAST(rel_fp AS DOUBLE) / 1000000000
      |       - CAST(res_fp AS DOUBLE) / 1000000000
      |       + (CAST(sy AS DOUBLE) / n) * (1 - CAST(sy AS DOUBLE) / n))
      |    AS decomp_gap
      |FROM raw CROSS JOIN mm CROSS JOIN dc""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .cache() // one events materialization feeds min/max, raw, cells
    val mm = ev.agg(min(col("c")).as("m"),
      (max(col("c")) - min(col("c"))).as("r"))
    val num = (col("c") - col("m") - col("y") * col("r"))
    val raw = ev.crossJoin(broadcast(mm))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("sy"),
        sum(dec(num * num)).as("s2"))
    val cell = ev.crossJoin(broadcast(mm))
      .groupBy(least(lit(19),
        when(col("r") === 0, lit(0L))
          .otherwise(expr("((c - m) * 20) div r"))).as("k"))
      .agg(count(lit(1)).as("nk"),
        sum(col("y")).cast("long").as("syk"),
        sum(col("c") - col("m")).cast("long").as("sck"))
    val yk = col("syk").cast("double") / col("nk")
    // r = 0 → the bin forecast is DEFINED as the bin outcome rate, so
    // (pk - yk)² vanishes and REL = 0 exactly (constant-forecast path)
    val pk = when(col("r") === 0, yk)
      .otherwise(col("sck").cast("double") / col("nk") / col("r"))
    val yb = col("sy").cast("double") / col("n")
    val dcf = cell.crossJoin(broadcast(raw)).crossJoin(broadcast(mm))
      .select(
        floor((col("nk").cast("double") / col("n"))
          * ((pk - yk) * (pk - yk)) * 1000000000L + 0.5)
          .cast("long").as("relt"),
        floor((col("nk").cast("double") / col("n"))
          * ((yk - yb) * (yk - yb)) * 1000000000L + 0.5)
          .cast("long").as("rest"))
      .agg(sum(col("relt")).as("rel_fp"), sum(col("rest")).as("res_fp"))
    val rel = col("rel_fp").cast("double") / 1000000000L
    val res = col("res_fp").cast("double") / 1000000000L
    val unc = yb * (lit(1) - yb)
    // r = 0 → 0/0 NaN without the guard; Brier of p ≡ ȳ is ȳ(1−ȳ)
    val brier = when(col("r") === 0, unc)
      .otherwise((col("s2").cast("double")
        / (col("r").cast("double") * col("r"))) / col("n"))
    raw.crossJoin(broadcast(mm)).crossJoin(broadcast(dcf))
      .select(col("n").as("n_events"),
        brier.as("brier"),
        rel.as("reliability"),
        res.as("resolution"),
        unc.as("uncertainty"),
        (brier - (rel - res + unc)).as("decomp_gap"))
  }

  /** MRR and MAP@10 for the popularity recommender — q214's nDCG on
    * the SAME prediction (the global event-type popularity top-10) and
    * the same one-pass (user, type) frame, completing the ranking-eval
    * triad: nDCG grades graded relevance, MRR grades time-to-first-hit,
    * MAP grades precision across every hit. Per user, the relevant set
    * is their top-3 event types (count desc, type tiebreak); AP@10 =
    * Σ_{i-th hit at position p_i} (i/p_i) / |relevant|; RR = 1/position
    * of the user's single top type (0 when outside the top-10).
    *
    * Exactness: positions and ranks are integers; each i/p term
    * quantizes to 1e-9 fixed point per (user, hit) — ≤3 terms per
    * user, order-free; per-user AP and RR land on a 1e-6 grid before
    * the final mean (the q214 convention, int64 sums / one division).
    *
    * Scale shape: ONE events pass into the (user, type) aggregate
    * (cached — margin, per-user ranks, and hits all reuse it); the
    * global top-10 is a ≤|types| metadata sort; per-user windows
    * partition on user_id (a real key, q214's shape); the hit join is
    * broadcast(top-10). */
  val q222MrrMap: QueryDef = QueryDef.withOracle(
    """WITH uc AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
      |gt AS (
      |  SELECT event_type,
      |    row_number() OVER (ORDER BY c DESC, event_type) AS pos
      |  FROM (SELECT event_type, CAST(sum(c) AS BIGINT) AS c
      |        FROM uc GROUP BY 1)
      |  QUALIFY pos <= 10),
      |ur AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY c DESC, event_type) AS urank
      |  FROM uc QUALIFY urank <= 3),
      |rel AS (SELECT user_id, count(*) AS rel_cnt FROM ur GROUP BY 1),
      |ii AS (
      |  SELECT ur.user_id, ur.urank, gt.pos,
      |    row_number() OVER (PARTITION BY ur.user_id ORDER BY gt.pos) AS i
      |  FROM ur JOIN gt USING (event_type)),
      |ap AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(floor(CAST(i AS DOUBLE) / pos * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS ap_fp,
      |    min(CASE WHEN urank = 1 THEN pos END) AS top1pos
      |  FROM ii GROUP BY 1),
      |per AS (
      |  SELECT rel.user_id,
      |    CAST(floor((CAST(coalesce(ap_fp, 0) AS DOUBLE) / 1000000000)
      |      / rel_cnt * 1000000 + 0.5) AS BIGINT) AS ap6,
      |    CAST(floor(coalesce(1.0 / top1pos, 0) * 1000000 + 0.5)
      |      AS BIGINT) AS rr6,
      |    CASE WHEN top1pos IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM rel LEFT JOIN ap USING (user_id))
      |SELECT count(*) AS n_users,
      |  floor(CAST(sum(rr6) AS DOUBLE) / count(*) + 0.5) / 1000000 AS mrr,
      |  floor(CAST(sum(ap6) AS DOUBLE) / count(*) + 0.5) / 1000000
      |    AS map_at10,
      |  CAST(sum(hit) AS BIGINT) AS n_hits
      |FROM per""".stripMargin
  ) { (s, d) =>
    val uc = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .cache() // one events pass feeds the margin and per-user ranks
    val gt = uc.groupBy(col("event_type")).agg(sum(col("c")).as("gc"))
      .withColumn("pos", row_number().over(
        Window.orderBy(col("gc").desc, col("event_type"))))
      .filter(col("pos") <= 10)
      .select(col("event_type"), col("pos"))
    val ur = uc
      .withColumn("urank", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("c").desc, col("event_type"))))
      .filter(col("urank") <= 3)
      .select(col("user_id"), col("event_type"), col("urank"))
      .cache() // feeds both the relevant-set counts and the hit join
    val rel = ur.groupBy(col("user_id")).agg(count(lit(1)).as("rel_cnt"))
    val ii = ur.join(broadcast(gt), Seq("event_type"))
      .withColumn("i", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("pos"))))
    val ap = ii.groupBy(col("user_id"))
      .agg(sum(floor(col("i").cast("double") / col("pos")
          * 1000000000L + 0.5).cast("long")).as("ap_fp"),
        min(when(col("urank") === 1, col("pos"))).as("top1pos"))
    val per = rel.join(ap, Seq("user_id"), "left")
      .select(
        floor((coalesce(col("ap_fp"), lit(0L)).cast("double")
          / 1000000000L) / col("rel_cnt") * 1000000L + 0.5)
          .cast("long").as("ap6"),
        floor(coalesce(lit(1.0) / col("top1pos"), lit(0.0))
          * 1000000L + 0.5).cast("long").as("rr6"),
        when(col("top1pos").isNull, 0L).otherwise(1L).as("hit"))
    per.agg(count(lit(1)).as("n_users"),
      (floor(sum(col("rr6")).cast("double") / count(lit(1)) + 0.5)
        / 1000000L).as("mrr"),
      (floor(sum(col("ap6")).cast("double") / count(lit(1)) + 0.5)
        / 1000000L).as("map_at10"),
      sum(col("hit")).cast("long").as("n_hits"))
  }

  /** Blocking-quality audit — the two numbers that grade ANY blocking
    * scheme before a record-linkage or dedup run commits to it
    * (Christen, "Data Matching", ch. 4): reduction ratio (what share
    * of the N² comparison space the blocks eliminate) and pairs
    * completeness (what share of TRUE duplicate pairs land in the same
    * block — recall of the candidate generation). Truth is the q49
    * MinHash near-dup clustering; the audited scheme is the cheap
    * (lang, n_chars div 64) key a pre-LSH pass would use.
    *
    * Both metrics COUNT pairs without materializing any: candidate
    * pairs are Σ n_b(n_b−1)/2 over block sizes, truth pairs are
    * Σ g(g−1)/2 over cluster sizes, co-blocked truth pairs are
    * Σ m(m−1)/2 over (cluster, block) cell sizes — three aggregates,
    * no joins between documents. Doubled pair counts accumulate in
    * decimal(38,0)/HUGEINT (n(n−1) crosses 2^63 past ~3e9 docs); each
    * ratio is one division; outputs are the doubled counts (as DOUBLE
    * — audit numbers that must report, not throw, past int64) plus
    * 1e-6-floored ratios.
    *
    * Scale shape: reads the memoized q49 canonical frame (its label
    * propagation is spec'd and plan-audited at q49/q133/q141); one
    * (block) aggregate, one (cluster) aggregate, one (cluster, block)
    * aggregate — all map-side combined; the rollups are cell frames. */
  val q223BlockingMetrics: QueryDef = QueryDef.withOracle(
    s"""WITH RECURSIVE sg AS (
      |  SELECT doc_id, sig FROM read_parquet('${SmartHomeOracle.fixtureDir}/sf___SFTAG__/minhash_sigs.parquet/*.parquet')),
      |banded AS (
      |  SELECT doc_id, sig, b AS band, sig[b*4+1:b*4+4] AS band_sig
      |  FROM sg, LATERAL (SELECT unnest([0,1,2,3]) AS b) g),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sig AS sig_a, b.sig AS sig_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_sig = b.band_sig
      |    AND a.doc_id < b.doc_id),
      |prs AS (
      |  SELECT doc_a, doc_b FROM cand
      |  WHERE CAST(list_sum(list_transform(range(1, 17),
      |    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE)
      |    / 16 >= 0.25),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM prs
      |  UNION SELECT doc_b AS a, doc_a AS b FROM prs),
      |reach AS (
      |  SELECT doc_id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.a AS doc_id, reach.r AS r
      |  FROM edges e JOIN reach ON reach.doc_id = e.b),
      |canon AS (SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY 1),
      |db AS (
      |  SELECT doc_id, lang || ':' || CAST(n_chars // 64 AS VARCHAR) AS blk
      |  FROM documents),
      |blocks AS (
      |  SELECT count(*) AS n_blocks,
      |    sum(CAST(nb AS HUGEINT) * (nb - 1)) AS cand2
      |  FROM (SELECT blk, count(*) AS nb FROM db GROUP BY 1)),
      |tot AS (SELECT count(*) AS n_docs FROM db),
      |truth AS (
      |  SELECT sum(CAST(g AS HUGEINT) * (g - 1)) AS truth2
      |  FROM (SELECT canonical_id, count(*) AS g FROM canon GROUP BY 1)),
      |cob AS (
      |  SELECT sum(CAST(m AS HUGEINT) * (m - 1)) AS co2
      |  FROM (SELECT canonical_id, blk, count(*) AS m
      |        FROM canon JOIN db USING (doc_id) GROUP BY 1, 2))
      |SELECT n_docs, n_blocks,
      |  CAST(cand2 AS DOUBLE) AS cand_pairs2,
      |  CAST(truth2 AS DOUBLE) AS truth_pairs2,
      |  CAST(co2 AS DOUBLE) AS co_pairs2,
      |  floor((1 - CAST(cand2 AS DOUBLE)
      |    / (CAST(n_docs AS DOUBLE) * (n_docs - 1))) * 1000000 + 0.5)
      |    / 1000000 AS reduction_ratio,
      |  floor((CAST(co2 AS DOUBLE) / CAST(truth2 AS DOUBLE))
      |    * 1000000 + 0.5) / 1000000 AS pairs_completeness
      |FROM tot CROSS JOIN blocks CROSS JOIN truth CROSS JOIN cob""".stripMargin
  ) { (s, d) =>
    val db = Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("lang"), lit(":"),
          expr("n_chars div 64").cast("string")).as("blk"))
      .cache() // feeds the block rollup and the co-block join
    val blocks = db.groupBy(col("blk")).agg(count(lit(1)).as("nb"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(dec(col("nb")) * (col("nb") - 1)).as("cand2"))
    val tot = db.agg(count(lit(1)).as("n_docs"))
    val canon = DedupOps.q49DedupClusters.fn(s, d)
    val truth = canon.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("g"))
      .agg(sum(dec(col("g")) * (col("g") - 1)).as("truth2"))
    val cob = canon.join(db, Seq("doc_id"))
      .groupBy(col("canonical_id"), col("blk"))
      .agg(count(lit(1)).as("m"))
      .agg(sum(dec(col("m")) * (col("m") - 1)).as("co2"))
    tot.crossJoin(broadcast(blocks)).crossJoin(broadcast(truth))
      .crossJoin(broadcast(cob))
      .select(col("n_docs"), col("n_blocks"),
        // audit numbers, not join keys: DOUBLE output so a >3e9-doc
        // corpus (doubled pair counts past int64) reports instead of
        // throwing on the cast; the accumulation itself is decimal
        col("cand2").cast("double").as("cand_pairs2"),
        col("truth2").cast("double").as("truth_pairs2"),
        col("co2").cast("double").as("co_pairs2"),
        (floor((lit(1) - col("cand2").cast("double")
          / (col("n_docs").cast("double") * (col("n_docs") - 1)))
          * 1000000L + 0.5) / 1000000L).as("reduction_ratio"),
        (floor((col("co2").cast("double") / col("truth2").cast("double"))
          * 1000000L + 0.5) / 1000000L).as("pairs_completeness"))
  }

  /** Bias-corrected Cramér's V between lang and source — the
    * NORMALIZED χ² association on a [0,1] scale, closing the
    * association family: q184 raw mutual information, q212 Theil's U
    * (asymmetric, entropy-based), this one symmetric and
    * χ²-based with the Bergsma–Wicher small-sample correction (the
    * uncorrected V systematically overstates association when the
    * table is sparse relative to N).
    *
    * χ² sums over OBSERVED cells only via the zero-cell identity
    * χ² = Σ_obs((o−e)²/e − e) + N — the unobserved cells' Σe folds
    * into N, so no dense lang×source grid is ever materialized. Each
    * cell term quantizes to 1e-9 fixed point (≤|langs|·|sources|
    * cells, order-free); expected counts are divisions of exact int64
    * margins; both V's are single sqrt's of ratios of deterministic
    * doubles, 1e-6-floored.
    *
    * Scale shape: ONE (lang, source) count collapses the corpus;
    * margins and totals ride the cell frame with broadcast joins —
    * the q212/q178 posture. */
  val q224CramersV: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
      |nl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM cell GROUP BY 1),
      |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cell GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |    count(DISTINCT lang) AS r, count(DISTINCT source) AS cc
      |  FROM cell),
      |x2 AS (
      |  SELECT CAST(sum(CAST(floor(
      |    ((c - (CAST(nl AS DOUBLE) * ns) / n)
      |      * (c - (CAST(nl AS DOUBLE) * ns) / n)
      |      / ((CAST(nl AS DOUBLE) * ns) / n)
      |      - (CAST(nl AS DOUBLE) * ns) / n) * 1000000000 + 0.5)
      |    AS BIGINT)) AS BIGINT) AS t_fp
      |  FROM cell JOIN nl USING (lang) JOIN ns USING (source)
      |  CROSS JOIN tot)
      |SELECT n AS n_docs, r AS n_langs, cc AS n_sources,
      |  CAST(t_fp AS DOUBLE) / 1000000000 + n AS chi2,
      |  floor(sqrt((CAST(t_fp AS DOUBLE) / 1000000000 + n) / n
      |      / least(r - 1, cc - 1)) * 1000000 + 0.5) / 1000000 AS v,
      |  floor(sqrt(
      |    greatest(0, (CAST(t_fp AS DOUBLE) / 1000000000 + n) / n
      |      - CAST((r - 1) * (cc - 1) AS DOUBLE) / (n - 1))
      |    / least(r - CAST((r - 1) * (r - 1) AS DOUBLE) / (n - 1) - 1,
      |            cc - CAST((cc - 1) * (cc - 1) AS DOUBLE) / (n - 1) - 1))
      |    * 1000000 + 0.5) / 1000000 AS v_corrected
      |FROM tot CROSS JOIN x2""".stripMargin
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
      .cache() // one corpus pass feeds margins, totals, and χ²
    val nl = cell.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    val ns = cell.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val tot = cell.agg(sum(col("c")).cast("long").as("n"),
      countDistinct(col("lang")).as("r"),
      countDistinct(col("source")).as("cc"))
    val e = (col("nl").cast("double") * col("ns")) / col("n")
    val x2 = cell.join(broadcast(nl), Seq("lang"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(floor(((col("c") - e) * (col("c") - e) / e - e)
        * 1000000000L + 0.5).cast("long").as("t"))
      .agg(sum(col("t")).as("t_fp"))
    val chi2 = col("t_fp").cast("double") / 1000000000L + col("n")
    val phi2 = chi2 / col("n")
    val corrPhi2 = greatest(lit(0), phi2
      - ((col("r") - 1) * (col("cc") - 1)).cast("double") / (col("n") - 1))
    val rTilde = (col("r")
      - ((col("r") - 1) * (col("r") - 1)).cast("double") / (col("n") - 1))
    val cTilde = (col("cc")
      - ((col("cc") - 1) * (col("cc") - 1)).cast("double") / (col("n") - 1))
    tot.crossJoin(broadcast(x2))
      .select(col("n").as("n_docs"), col("r").as("n_langs"),
        col("cc").as("n_sources"),
        chi2.as("chi2"),
        (floor(sqrt(phi2 / least(col("r") - 1, col("cc") - 1))
          * 1000000L + 0.5) / 1000000L).as("v"),
        (floor(sqrt(corrPhi2 / least(rTilde - 1, cTilde - 1))
          * 1000000L + 0.5) / 1000000L).as("v_corrected"))
  }

  /** Dimension-truncation recall for the embedding index — the
    * Matryoshka question a 100 TB vector pipeline must answer before
    * it ships a cheaper index: if ANN scores only the first k of 64
    * dims (k ∈ {8, 16, 32} — 8×/4×/2× less compute and memory
    * bandwidth), what fraction of the TRUE cosine top-10 survives?
    * Ground truth and all three truncated rankings come from ONE
    * scored fan-out (q50's broadcast-cohort brute force, the exact
    * baseline the LSH/IVF/PQ paths are graded against); recall@10 is
    * the per-k overlap count divided by 10·|queries|.
    *
    * Determinism: scores round to 6 dp with vec_id tiebreaks (the q50
    * convention — both engines fold the same doubles in the same
    * order); overlaps are exact integer set intersections; the final
    * recall is one division on a 1e-6 grid.
    *
    * Scale shape: one corpus scan joined to the broadcast query
    * cohort, all four cosines computed per candidate row in one
    * codegen stage (the slice reuses the already-loaded vector — no
    * extra scan per k); per-(query, k) top-10 is a user-keyed window;
    * the hit join is (q_id, neighbor_id)-keyed. Brute force is the
    * eval harness by design — production retrieval at scale is
    * q51/q53/q69/q72's bucketed paths. */
  val q225DimTruncationRecall: QueryDef = QueryDef.withOracle(
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM c WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT q_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q_emb, c.emb), 6) AS c64,
      |    round(list_cosine_similarity(q_emb[1:8], c.emb[1:8]), 6) AS c8,
      |    round(list_cosine_similarity(q_emb[1:16], c.emb[1:16]), 6) AS c16,
      |    round(list_cosine_similarity(q_emb[1:32], c.emb[1:32]), 6) AS c32
      |  FROM q JOIN c ON q.q_id <> c.vec_id),
      |gt AS (
      |  SELECT q_id, neighbor_id FROM (
      |    SELECT q_id, neighbor_id, row_number() OVER (PARTITION BY q_id
      |      ORDER BY c64 DESC, neighbor_id) AS rnk FROM scored)
      |  WHERE rnk <= 10),
      |tr AS (
      |  SELECT q_id, neighbor_id, k_dims FROM (
      |    SELECT q_id, neighbor_id, g.k_dims,
      |      row_number() OVER (PARTITION BY q_id, g.k_dims
      |        ORDER BY CASE g.k_dims WHEN 8 THEN c8 WHEN 16 THEN c16
      |          ELSE c32 END DESC, neighbor_id) AS rnk
      |    FROM scored, LATERAL (SELECT unnest([8, 16, 32]) AS k_dims) g)
      |  WHERE rnk <= 10),
      |nq AS (SELECT count(*) AS n_queries FROM q),
      |h AS (
      |  SELECT k_dims, count(*) AS n_hits
      |  FROM tr JOIN gt USING (q_id, neighbor_id) GROUP BY 1)
      |SELECT k_dims, n_queries, n_hits,
      |  floor(CAST(n_hits AS DOUBLE) / (n_queries * 10) * 1000000 + 0.5)
      |    / 1000000 AS recall
      |FROM h CROSS JOIN nq""".stripMargin
  ) { (s, d) =>
    import graft.functions.VectorExpressions.cosine
    val c = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = c.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("c64"),
        round(cosine(slice(col("q_emb"), 1, 8),
          slice(col("embedding"), 1, 8)), 6).as("c8"),
        round(cosine(slice(col("q_emb"), 1, 16),
          slice(col("embedding"), 1, 16)), 6).as("c16"),
        round(cosine(slice(col("q_emb"), 1, 32),
          slice(col("embedding"), 1, 32)), 6).as("c32"))
      .cache() // ONE fan-out pass feeds the truth and all three ranks
    val gt = scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("c64").desc, col("neighbor_id"))))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("neighbor_id"))
    val tr = scored
      .select(col("q_id"), col("neighbor_id"),
        expr("stack(3, 8, c8, 16, c16, 32, c32) AS (k_dims, cs)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"), col("k_dims"))
          .orderBy(col("cs").desc, col("neighbor_id"))))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("neighbor_id"), col("k_dims"))
    val nq = q.agg(count(lit(1)).as("n_queries"))
    tr.join(gt, Seq("q_id", "neighbor_id"))
      .groupBy(col("k_dims")).agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("k_dims"), col("n_queries"), col("n_hits"),
        (floor(col("n_hits").cast("double") / (col("n_queries") * 10)
          * 1000000L + 0.5) / 1000000L).as("recall"))
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

  /** Best decision-stump split of the purchase label on the value
    * axis — THE distributed tree-learning primitive (every GBDT/RF
    * round at scale is exactly this: histogram the label over feature
    * values, prefix-sum, argmax a purity gain): for each candidate
    * threshold t, Gini gain of splitting events at value ≤ t, top-5
    * thresholds reported. Also the optimal-1-D-segmentation answer a
    * curation rule miner wants ("where should the quality cutoff go").
    *
    * Exactness: the (cents, n, k) cell frame is exact int64; left/right
    * counts are the two-phase prefix sums; every impurity is a
    * division of exact ints (bit-identical); the gain quantizes to
    * 1e-9 before the global top-5, which is a TakeOrdered with a cents
    * tiebreak — no full sort, no window over cells.
    *
    * Scale shape: ONE events pass into the value-cardinality-bounded
    * cell frame (the q166/q176 argument: cents cells are bounded by
    * the value RANGE, not rows); the prefix is the range-partitioned
    * two-phase idiom; the argmax is TakeOrderedAndProject. */
  val q229SplitFinding: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    count(*) AS n,
      |    CAST(sum(CAST(event_type = 'purchase' AS BIGINT)) AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |pre AS (
      |  SELECT cents, n, k,
      |    CAST(sum(n) OVER (ORDER BY cents) AS BIGINT) AS cumn,
      |    CAST(sum(k) OVER (ORDER BY cents) AS BIGINT) AS cumk
      |  FROM cell),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(k) AS BIGINT) AS kt
      |  FROM cell),
      |g AS (
      |  SELECT cents, cumn AS n_left, cumk AS k_left,
      |    CAST(floor((2 * (CAST(kt AS DOUBLE) / nt)
      |        * (1 - CAST(kt AS DOUBLE) / nt)
      |      - ((CAST(cumn AS DOUBLE) / nt)
      |          * (2 * (CAST(cumk AS DOUBLE) / cumn)
      |            * (1 - CAST(cumk AS DOUBLE) / cumn))
      |        + (CAST(nt - cumn AS DOUBLE) / nt)
      |          * (2 * (CAST(kt - cumk AS DOUBLE) / (nt - cumn))
      |            * (1 - CAST(kt - cumk AS DOUBLE) / (nt - cumn)))))
      |      * 1000000000 + 0.5) AS BIGINT) AS gain_fp
      |  FROM pre CROSS JOIN tot WHERE cumn < nt)
      |SELECT cents AS split_cents, n_left, k_left,
      |  CAST(gain_fp AS DOUBLE) / 1000000000 AS gini_gain
      |FROM g ORDER BY gain_fp DESC, cents LIMIT 5""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("cents"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"))
    val pre = AnalyticsOps2.groupedPrefixSums(cell, Seq.empty,
      Seq(col("cents")),
      Seq((col("n"), "cumn", Some("nt")), (col("k"), "cumk", Some("kt"))))
    val pAll = col("kt").cast("double") / col("nt")
    val pL = col("cumk").cast("double") / col("cumn")
    val pR = ((col("kt") - col("cumk")).cast("double")
      / (col("nt") - col("cumn")))
    val gain = (lit(2) * pAll * (lit(1) - pAll)
      - ((col("cumn").cast("double") / col("nt"))
          * (lit(2) * pL * (lit(1) - pL))
        + ((col("nt") - col("cumn")).cast("double") / col("nt"))
          * (lit(2) * pR * (lit(1) - pR))))
    pre.filter(col("cumn") < col("nt"))
      .select(col("cents").as("split_cents"), col("cumn").as("n_left"),
        col("cumk").as("k_left"),
        floor(gain * 1000000000L + 0.5).cast("long").as("gain_fp"))
      .orderBy(col("gain_fp").desc, col("split_cents"))
      .limit(5)
      .select(col("split_cents"), col("n_left"), col("k_left"),
        (col("gain_fp").cast("double") / 1000000000L).as("gini_gain"))
  }

  /** Vocabulary richness per source — Chao1 unseen-species projection
    * and Good–Turing unseen mass: with V observed terms of which f1
    * appear once and f2 twice, Chao1 ≈ V + f1(f1−1)/(2(f2+1)) lower-
    * bounds the TRUE vocabulary (how much is still unobserved) and
    * f1/N is the probability the next token is a new type — the two
    * numbers that, with q219's growth exponent, tell a corpus owner
    * whether another crawl decade buys new content or reruns. The
    * bias-corrected Chao1 form stays finite at f2 = 0.
    *
    * Exactness: everything is a conditional count over the
    * (source, term) frequency frame — V, N, f1, f2 are exact int64;
    * Chao1 and the unseen mass are one division each, 1e-6-floored.
    *
    * Scale shape: ONE tokenization pass into the (source, term) count
    * (the q209/q210 posture — partial counts combine map-side), then
    * a ≤|sources| conditional rollup. No second pass: f1/f2/V/N all
    * derive from the same frequency frame. */
  val q230VocabRichness: QueryDef = QueryDef.withOracle(
    """WITH tf AS (
      |  SELECT source, word, count(*) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS word
      |    FROM documents) t
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT source, count(*) AS vocab, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(sum(CAST(c = 1 AS BIGINT)) AS BIGINT) AS f1,
      |    CAST(sum(CAST(c = 2 AS BIGINT)) AS BIGINT) AS f2
      |  FROM tf GROUP BY 1)
      |SELECT source, n_tokens, vocab, f1, f2,
      |  floor((vocab + CAST(CAST(f1 AS HUGEINT) * (f1 - 1) AS DOUBLE)
      |    / (2 * (f2 + 1))) * 1000000 + 0.5) / 1000000 AS chao1,
      |  floor((CAST(f1 AS DOUBLE) / n_tokens) * 1000000 + 0.5) / 1000000
      |    AS unseen_mass
      |FROM r""".stripMargin
  ) { (s, d) =>
    val tf = Tables.documents(s, d)
      .select(col("source"),
        explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
    val r = tf.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("c")).cast("long").as("n_tokens"),
        sum((col("c") === 1).cast("long")).cast("long").as("f1"),
        sum((col("c") === 2).cast("long")).cast("long").as("f2"))
    r.select(col("source"), col("n_tokens"), col("vocab"),
      col("f1"), col("f2"),
      // f1(f1−1) in decimal(38,0)/HUGEINT: a fleet-scale singleton
      // count (f1 > 3e9) would overflow the int64 product
      (floor((col("vocab") + (dec(col("f1")) * (col("f1") - 1)).cast("double")
        / (lit(2) * (col("f2") + 1))) * 1000000L + 0.5) / 1000000L)
        .as("chao1"),
      (floor((col("f1").cast("double") / col("n_tokens"))
        * 1000000L + 0.5) / 1000000L).as("unseen_mass"))
  }

  /** Precision-recall AUC (average precision) of the value score
    * against the purchase label — the ranking-quality number that
    * matters under CLASS IMBALANCE, where q115's ROC-AUC flatters (a
    * 1%-positive corpus scores 0.99 ROC for a model that's useless at
    * the top of the list). AP = Σ ΔR_i · P_i over thresholds descending
    * (sklearn's step form, no trapezoid flattery), plus the positive
    * base rate it should be read against.
    *
    * Exactness: the (cents, n, k) cell frame is exact; descending
    * cumulative counts are the two-phase prefix; each step term
    * (Δk/K)·(kcum/ncum) is a product of divisions of exact ints,
    * quantized 1e-9 per CELL into a decimal(38,0)/HUGEINT sum
    * (cell count is value-range-bounded, but at fleet scale the 1e9
    * grid times millions of cells wants the wide accumulator).
    *
    * Scale shape: ONE events pass into the cell frame; one
    * range-partitioned descending prefix; one rollup. The q166/q187
    * posture. */
  val q231PrAuc: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    count(*) AS n,
      |    CAST(sum(CAST(event_type = 'purchase' AS BIGINT)) AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |pre AS (
      |  SELECT cents, n, k,
      |    CAST(sum(n) OVER (ORDER BY cents DESC) AS BIGINT) AS cumn,
      |    CAST(sum(k) OVER (ORDER BY cents DESC) AS BIGINT) AS cumk
      |  FROM cell),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(k) AS BIGINT) AS kt
      |  FROM cell),
      |ap AS (
      |  SELECT sum(CAST(floor((CAST(k AS DOUBLE) / kt)
      |      * (CAST(cumk AS DOUBLE) / cumn) * 1000000000 + 0.5)
      |    AS HUGEINT)) AS ap_fp
      |  FROM pre CROSS JOIN tot)
      |SELECT nt AS n_events, kt AS n_pos,
      |  CAST(kt AS DOUBLE) / nt AS base_rate,
      |  CAST(ap_fp AS DOUBLE) / 1000000000 AS pr_auc
      |FROM tot CROSS JOIN ap""".stripMargin
  ) { (s, d) =>
    val cell = Tables.events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .groupBy(col("cents"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("k"))
      .cache() // one events pass; the prefix AND the totals reuse it
    val pre = AnalyticsOps2.groupedPrefixSums(cell, Seq.empty,
      Seq(col("cents").desc),
      Seq((col("n"), "cumn", Some("nt")), (col("k"), "cumk", Some("kt"))))
    val ap = pre
      .select(floor((col("k").cast("double") / col("kt"))
        * (col("cumk").cast("double") / col("cumn"))
        * 1000000000L + 0.5).cast("long").as("t"))
      .agg(sum(dec(col("t"))).as("ap_fp"))
    val tot = cell.agg(sum(col("n")).cast("long").as("nt"),
      sum(col("k")).cast("long").as("kt"))
    tot.crossJoin(broadcast(ap))
      .select(col("nt").as("n_events"), col("kt").as("n_pos"),
        (col("kt").cast("double") / col("nt")).as("base_rate"),
        (col("ap_fp").cast("double") / 1000000000L).as("pr_auc"))
  }

  val all: Map[String, QueryDef] = Map(
    "q217_poisson_bootstrap" -> q217PoissonBootstrap,
    "q218_bucket_jackknife" -> q218BucketJackknife,
    "q219_heaps_law" -> q219HeapsLaw,
    "q220_anova" -> q220Anova,
    "q221_brier_decomposition" -> q221BrierDecomposition,
    "q222_mrr_map" -> q222MrrMap,
    "q223_blocking_metrics" -> q223BlockingMetrics,
    "q224_cramers_v" -> q224CramersV,
    "q225_dim_truncation_recall" -> q225DimTruncationRecall,
    "q226_srm_check" -> q226SrmCheck,
    "q228_neyman_allocation" -> q228NeymanAllocation,
    "q229_split_finding" -> q229SplitFinding,
    "q230_vocab_richness" -> q230VocabRichness,
    "q231_pr_auc" -> q231PrAuc)
}
