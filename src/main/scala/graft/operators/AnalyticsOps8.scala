package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.dec

/** Round-11 tranche two: the rank-statistics / divergence / privacy /
  * graph operators that complete the families round 10–11 opened —
  * grid-quantized Kendall τ-b beside q200's Spearman, pairwise
  * Mann-Whitney U beside q153's KS and q201's Wasserstein, bounded
  * symmetric Jensen-Shannon divergence beside q158's KL and q187's
  * PSI, t-closeness completing the q178/q186 privacy trio, an
  * integer-deterministic HITS beside q75's PageRank, and the two
  * held-out language-model audits (unigram perplexity, tokenizer
  * OOV coverage) a pretraining curation report runs per source.
  *
  * Cross-engine conventions as everywhere: exact integer /
  * decimal(38,0)/HUGEINT arithmetic to the last division, signed
  * per-cell 1e-9 fixed-point quantization BEFORE any float sum (the
  * q158 recipe — int64 sums are merge-order-free), identical IEEE op
  * order on both engines, 1e-6 floor rounding of final ratios,
  * non-negative dividends wherever `div`/`//` appears (Spark `div`
  * truncates toward zero, DuckDB `//` floors; they agree on ≥ 0).
  */
object AnalyticsOps8 {

  /** The q170/q37 split convention: a 60-bit md5 prefix of doc_id,
    * mod 100 — pure function of the key, replayable in any engine. */
  private val bucketCol = expr(
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) " +
      "AS BIGINT) % 100")
  private val bucketSql =
    "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"

  /** Grid-quantized Kendall τ-b between document length in chars and
    * in tokens, per source — the CONCORDANCE companion to q200's
    * Spearman: τ asks "of all pairs, how many agree in direction",
    * is interpretable as a probability difference, and is the
    * estimator robust literature prefers under heavy ties. Exact τ
    * is inherently pairwise (O(n log n) needs a merge-tree, which is
    * not a relational shape), so the operator contract is τ-b on a
    * per-source 64×64 min-max grid: xb = (x−min)·64 div (max−min+1).
    * Quantization only ever MERGES neighbouring values into ties, so
    * the grid τ is the exact τ-b of the banded data — a deterministic,
    * oracle-able estimator whose work is bounded by the grid, not the
    * corpus.
    *
    * Exactness: concordant-minus-discordant S sums c_a·c_b·sign over
    * distinct-cell pairs in decimal(38,0)/HUGEINT (S ≤ n², past int64
    * at ~10¹⁰ rows/source); tie terms n(n−1) − Σc(c−1) likewise;
    * τ = 2S / (√da·√db) is one double expression in identical op
    * order, floored at 1e-6.
    *
    * Scale shape: ONE data pass builds the raw (source, x, y) joint
    * cells (value-cardinality-bounded); the per-source min/max frame
    * (≤|sources| rows) broadcasts back; banded cells are ≤ 64² = 4096
    * per source BY CONSTRUCTION, so the lexicographic self-join is
    * ≤ 8.4M pairs per source — fixed metadata work at ANY corpus
    * size. Nothing downstream of the first aggregate is data-sized. */
  val q204KendallTau: QueryDef = QueryDef.withOracle(
    """WITH d AS (
      |  SELECT source, n_chars AS x,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |  FROM documents),
      |rc AS (SELECT source, x, y, count(*) AS cnt FROM d GROUP BY 1, 2, 3),
      |mm AS (
      |  SELECT source, min(x) AS nx, max(x) AS mx,
      |    min(y) AS ny, max(y) AS my
      |  FROM rc GROUP BY 1),
      |j AS (
      |  SELECT rc.source,
      |    ((rc.x - mm.nx) * 64) // (mm.mx - mm.nx + 1) AS xb,
      |    ((rc.y - mm.ny) * 64) // (mm.my - mm.ny + 1) AS yb,
      |    CAST(sum(cnt) AS BIGINT) AS c
      |  FROM rc JOIN mm USING (source) GROUP BY 1, 2, 3),
      |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM j GROUP BY 1),
      |s AS (
      |  SELECT a.source,
      |    sum(CAST(a.c AS HUGEINT) * b.c *
      |      CASE WHEN b.yb > a.yb THEN 1
      |           WHEN b.yb < a.yb THEN -1 ELSE 0 END) AS s
      |  FROM j a JOIN j b ON a.source = b.source AND a.xb < b.xb
      |  GROUP BY 1),
      |tx AS (
      |  SELECT source, sum(CAST(cx AS HUGEINT) * (cx - 1)) AS t1
      |  FROM (SELECT source, xb, CAST(sum(c) AS BIGINT) AS cx
      |        FROM j GROUP BY 1, 2) GROUP BY 1),
      |ty AS (
      |  SELECT source, sum(CAST(cy AS HUGEINT) * (cy - 1)) AS t2
      |  FROM (SELECT source, yb, CAST(sum(c) AS BIGINT) AS cy
      |        FROM j GROUP BY 1, 2) GROUP BY 1),
      |f AS (
      |  SELECT n.source, n.n, coalesce(s.s, 0) AS s,
      |    CAST(n.n AS HUGEINT) * (n.n - 1) - tx.t1 AS da,
      |    CAST(n.n AS HUGEINT) * (n.n - 1) - ty.t2 AS db
      |  FROM n LEFT JOIN s ON n.source = s.source
      |  JOIN tx ON n.source = tx.source
      |  JOIN ty ON n.source = ty.source)
      |SELECT source, n AS n_docs,
      |  CASE WHEN da = 0 OR db = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((2 * CAST(s AS DOUBLE)
      |      / (sqrt(CAST(da AS DOUBLE)) * sqrt(CAST(db AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 END AS tau_b
      |FROM f""".stripMargin
  ) { (s, d) =>
    kendallOn(Tables.documents(s, d)
      .select(col("source"), col("n_chars").as("x"),
        size(split(col("text"), " ", -1)).cast("long").as("y")))
  }

  /** q204's grid τ-b over a (source, x, y) row frame — extracted so
    * AnalyticsOps8Spec can check the pair algebra against a brute
    * all-pairs reference on adversarial tie patterns (perfect
    * concordance/discordance, all-tied axes, single row). */
  private[operators] def kendallOn(rows: DataFrame): DataFrame = {
    val rc = rows.groupBy(col("source"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // raw joint cells — ONE data pass feeds mm AND the band
    val mm = rc.groupBy(col("source"))
      .agg(min(col("x")).as("nx"), max(col("x")).as("mx"),
        min(col("y")).as("ny"), max(col("y")).as("my"))
    val j = rc.join(broadcast(mm), Seq("source"))
      .groupBy(col("source"),
        expr("((x - nx) * 64) div (mx - nx + 1)").as("xb"),
        expr("((y - ny) * 64) div (my - ny + 1)").as("yb"))
      .agg(sum(col("cnt")).as("c"))
      .cache() // banded cells: ≤ 64² per source by construction
    val n = j.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val a = j.toDF("source", "xa", "ya", "ca")
    val b = j.toDF("source", "xb", "yb", "cb")
    val sdf = a.join(b, Seq("source"))
      .filter(col("xa") < col("xb"))
      .groupBy(col("source"))
      .agg(sum(dec(col("ca")) * col("cb") *
        when(col("yb") > col("ya"), 1)
          .when(col("yb") < col("ya"), -1).otherwise(0)).as("s"))
    def tie(v: String): DataFrame =
      j.groupBy(col("source"), col(v)).agg(sum(col("c")).as("cc"))
        .groupBy(col("source"))
        .agg(sum(dec(col("cc")) * (col("cc") - 1)).as(s"t_$v"))
    n.join(sdf, Seq("source"), "left")
      .join(broadcast(tie("xb")), Seq("source"))
      .join(broadcast(tie("yb")), Seq("source"))
      .select(col("source"), col("n"),
        coalesce(col("s"), dec(lit(0))).as("s"),
        (dec(col("n")) * (col("n") - 1) - col("t_xb")).as("da"),
        (dec(col("n")) * (col("n") - 1) - col("t_yb")).as("db"))
      .select(col("source"), col("n").as("n_docs"),
        when(col("da") === dec(lit(0)) || col("db") === dec(lit(0)),
          lit(0.0))
          .otherwise(floor((lit(2) * col("s").cast("double") /
            (sqrt(col("da").cast("double")) *
              sqrt(col("db").cast("double")))) * 1000000 + 0.5) / 1000000)
          .as("tau_b"))
  }

  /** Pairwise Mann-Whitney U (Wilcoxon rank-sum) between every pair
    * of sources on document length — the nonparametric TEST beside
    * the distances (q153 KS, q201 W1): it answers "does source A
    * stochastically dominate source B, and is the shift significant",
    * with the tie-corrected normal approximation every stats package
    * uses. Output per pair: 2·U (exact int) and the z-score.
    *
    * Exactness: pooled ranks are the doubled average ranks off the
    * pair's merged (value) cells (the q200 device — integral under
    * ties); 2U = ΣcA·r2 − nA(nA+1) exact; the tie-corrected variance
    * numerator nA·nB·((n+1)n(n−1) − Σt(t²−1)) accumulates in
    * decimal(38,0)/HUGEINT (reaches n⁴ — int64 dies at ~55k rows/
    * pair, so this is mandatory, not defensive); z = (2U − nA·nB) /
    * (2·√(vnum/(12n(n−1)))) is one double chain in identical op
    * order, floored 1e-6.
    *
    * Scale shape: ONE data pass builds the (source, value) cells;
    * the |sources|² pair frame replicates CELLS (value-cardinality ×
    * pair metadata, never data); each pair's rank walk is a window
    * over its own cells. The q201 posture exactly. */
  val q205MannWhitney: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
      |p AS (
      |  SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb
      |  FROM n a JOIN n b ON a.source < b.source),
      |u AS (
      |  SELECT p.sa, p.sb, c.v, c.cnt AS ca, CAST(0 AS BIGINT) AS cb
      |  FROM p JOIN c ON c.source = p.sa
      |  UNION ALL
      |  SELECT p.sa, p.sb, c.v, CAST(0 AS BIGINT), c.cnt
      |  FROM p JOIN c ON c.source = p.sb),
      |g AS (
      |  SELECT sa, sb, v, CAST(sum(ca) AS BIGINT) AS ca,
      |    CAST(sum(cb) AS BIGINT) AS cb
      |  FROM u GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT sa, sb, v, ca, cb, ca + cb AS t,
      |    2 * CAST(sum(ca + cb) OVER (PARTITION BY sa, sb ORDER BY v)
      |      AS BIGINT) - (ca + cb) + 1 AS r2
      |  FROM g),
      |s AS (
      |  SELECT sa, sb,
      |    CAST(sum(CAST(ca AS HUGEINT) * r2) AS HUGEINT) AS r2a,
      |    sum(CAST(t AS HUGEINT) * t * t - t) AS tt
      |  FROM w GROUP BY 1, 2),
      |f AS (
      |  SELECT p.sa, p.sb, p.na, p.nb, p.na + p.nb AS n,
      |    s.r2a - CAST(p.na AS HUGEINT) * (p.na + 1) AS u2,
      |    CAST(p.na AS HUGEINT) * p.nb *
      |      (CAST(p.na + p.nb + 1 AS HUGEINT) * (p.na + p.nb)
      |        * (p.na + p.nb - 1) - s.tt) AS vnum,
      |    CAST(12 AS HUGEINT) * (p.na + p.nb)
      |      * (p.na + p.nb - 1) AS vden
      |  FROM p JOIN s USING (sa, sb))
      |SELECT sa AS source_a, sb AS source_b, na AS n_a, nb AS n_b,
      |  CAST(u2 AS BIGINT) AS u2,
      |  CASE WHEN vnum = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(u2 - CAST(na AS HUGEINT) * nb AS DOUBLE)
      |      / (2 * sqrt(CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 END AS z
      |FROM f""".stripMargin
  ) { (s, d) =>
    mannWhitneyOn(Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt")))
  }

  /** q205's pairwise rank-sum over a (source, v, cnt) cell frame —
    * extracted so AnalyticsOps8Spec can check U and the tie-corrected
    * z against brute references (disjoint supports, identical
    * distributions, heavy-tie cases). */
  private[operators] def mannWhitneyOn(cellsIn: DataFrame): DataFrame = {
    val c = cellsIn.cache() // (source, value) cells — the one data pass
    val n = c.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val p = n.toDF("sa", "na")
      .join(broadcast(n.toDF("sb", "nb")), col("sa") < col("sb"))
    val ua = c.toDF("sa", "v", "ca")
      .join(broadcast(p.select(col("sa"), col("sb"))), Seq("sa"))
      .select(col("sa"), col("sb"), col("v"), col("ca"), lit(0L).as("cb"))
    val ub = c.toDF("sb", "v", "cb")
      .join(broadcast(p.select(col("sa"), col("sb"))), Seq("sb"))
      .select(col("sa"), col("sb"), col("v"), lit(0L).as("ca"), col("cb"))
    val wn = Window.partitionBy(col("sa"), col("sb")).orderBy(col("v"))
    // ONE pair-keyed exchange serves both the merge aggregate and the
    // rank window (guide §2.4: two operations keyed the same way share
    // one exchange): hash(sa, sb) satisfies the aggregate's
    // (sa, sb, v) clustering AND the window's (sa, sb) partitioning,
    // where the default plan exchanged the pair-replicated cell
    // stream twice. Each (sa, sb, v) key holds ≤ 2 union rows, so the
    // map-side partial aggregate the explicit repartition skips was
    // collapsing nothing.
    val w = ua.unionByName(ub)
      .repartition(col("sa"), col("sb"))
      .groupBy(col("sa"), col("sb"), col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
      .withColumn("r2",
        lit(2) * sum(col("ca") + col("cb")).over(wn)
          - (col("ca") + col("cb")) + 1)
    val sums = w.groupBy(col("sa"), col("sb"))
      .agg(sum(dec(col("ca")) * col("r2")).as("r2a"),
        sum(dec(col("t")) * col("t") * col("t") - col("t")).as("tt"))
    p.join(broadcast(sums), Seq("sa", "sb"))
      .select(col("sa"), col("sb"), col("na"), col("nb"),
        (col("r2a") - dec(col("na")) * (col("na") + 1)).as("u2"),
        (dec(col("na")) * col("nb") *
          (dec(col("na") + col("nb") + 1) * (col("na") + col("nb"))
            * (col("na") + col("nb") - 1) - col("tt"))).as("vnum"),
        (dec(lit(12)) * (col("na") + col("nb"))
          * (col("na") + col("nb") - 1)).as("vden"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("u2").cast("long").as("u2"),
        when(col("vnum") === dec(lit(0)), lit(0.0))
          .otherwise(floor(((col("u2") - dec(col("na")) * col("nb"))
            .cast("double") /
            (lit(2) * sqrt(col("vnum").cast("double") /
              col("vden").cast("double")))) * 1000000 + 0.5) / 1000000)
          .as("z"))
  }

  /** Smoothed Jensen-Shannon divergence of each source's token
    * distribution from the corpus distribution — the BOUNDED,
    * symmetric drift score beside q158's KL (which is unbounded and
    * asymmetric) and q187's binned PSI: JSD ∈ [0, ln 2] reads as a
    * calibrated "how far is this source from the mix" dial, safe to
    * threshold across corpora (Lin 1991). Same add-1 smoothing and
    * dense vocabulary frame as q158 so the two scores are directly
    * comparable per source.
    *
    * Exactness: the q158 recipe verbatim — p, q are ratios of exact
    * int64 counts, the term ½(p·ln(p/m) + q·ln(q/m)) with
    * m = (p+q)/2 is one IEEE chain per dense cell, quantized to 1e-9
    * fixed point BEFORE the per-source int64 sum (order-free), one
    * final division.
    *
    * Scale shape: identical to q158 — token explode → (source, token)
    * partial+final counts, corpus margin rolled up from THAT frame,
    * dense |V|×|sources| via broadcast margins, one source-keyed
    * rollup. */
  val q206JsDivergence: QueryDef = QueryDef.withOracle(
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
      |      0.5 * ((CAST(c_s + 1 AS DOUBLE) / (n_s + v)) *
      |        ln((CAST(c_s + 1 AS DOUBLE) / (n_s + v)) /
      |          ((CAST(c_s + 1 AS DOUBLE) / (n_s + v)
      |            + CAST(c + 1 AS DOUBLE) / (n + v)) / 2))
      |      + (CAST(c + 1 AS DOUBLE) / (n + v)) *
      |        ln((CAST(c + 1 AS DOUBLE) / (n + v)) /
      |          ((CAST(c_s + 1 AS DOUBLE) / (n_s + v)
      |            + CAST(c + 1 AS DOUBLE) / (n + v)) / 2)))
      |      * 1000000000 + 0.5) AS BIGINT) AS term_fp
      |  FROM dense)
      |SELECT source, max(n_s) AS n_tokens,
      |  CAST(sum(term_fp) AS BIGINT) AS jsd_fp,
      |  CAST(sum(term_fp) AS DOUBLE) / 1000000000 AS jsd
      |FROM terms GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val st = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ", -1)).as("tok"))
    val sc = st.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_s"))
      .cache() // one corpus pass feeds tc/sm/gl and the dense join
    val tc = sc.groupBy(col("tok")).agg(sum(col("c_s")).as("c"))
    val sm = sc.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val gl = tc.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val p = (col("c_s") + 1).cast("double") / (col("n_s") + col("v"))
    val q = (col("c") + 1).cast("double") / (col("n") + col("v"))
    val m = (p + q) / 2
    tc.crossJoin(broadcast(sm)).crossJoin(broadcast(gl))
      .join(sc, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("c_s"))
      .select(col("source"), col("n_s"),
        floor(lit(0.5) * (p * log(p / m) + q * log(q / m))
          * 1000000000L + 0.5).cast("long").as("term_fp"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), sum(col("term_fp")).as("jsd_fp"))
      .select(col("source"), col("n_tokens"), col("jsd_fp"),
        (col("jsd_fp").cast("double") / 1000000000L).as("jsd"))
  }

  /** t-closeness audit — the third privacy lens after q178's
    * k-anonymity (class sizes) and q186's l-diversity (distinct
    * sensitive values): a class can be large AND diverse yet still
    * leak if its sensitive-value MIX differs sharply from the
    * release-wide mix (the skewness attack — "90% of this class is
    * lang X" is a disclosure even with l = 5). Per equivalence class
    * over the q186 quasi-identifier (source, 100-char length band)
    * with sensitive attribute `lang`, t = total-variation distance
    * between the class's lang distribution and the global one
    * (the categorical-attribute EMD of the t-closeness paper); report
    * the standard bands with row shares and each band's worst t.
    *
    * Exactness: t = Σ|c·N − N_l·k| / (2kN) — the numerator
    * accumulates in decimal(38,0)/HUGEINT (c·N reaches n²), band
    * assignment is the CROSS-MULTIPLIED integer test 10·tvn vs 2kN /
    * 6kN (no division decides a band), and only the reported max_t
    * divides, floored 1e-6.
    *
    * Scale shape: ONE (QI, lang) partial+final count collapses the
    * corpus; the dense class×lang frame is classes × ≤|langs| rows
    * (metadata) via broadcast of the lang margin; the band rollup
    * runs on the class-sized frame. The q178/q186 posture. */
  val q207TCloseness: QueryDef = QueryDef.withOracle(
    """WITH cell AS (
      |  SELECT source, (n_chars - n_chars % 100) // 100 AS len_band,
      |    lang, count(*) AS c
      |  FROM documents GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT source, len_band, CAST(sum(c) AS BIGINT) AS k
      |  FROM cell GROUP BY 1, 2),
      |gl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM cell GROUP BY 1),
      |tot AS (SELECT CAST(sum(nl) AS BIGINT) AS n FROM gl),
      |dense AS (
      |  SELECT cls.source, cls.len_band, cls.k, gl.lang, gl.nl, tot.n,
      |    coalesce(cell.c, 0) AS c
      |  FROM cls CROSS JOIN gl CROSS JOIN tot
      |  LEFT JOIN cell ON cell.source = cls.source
      |    AND cell.len_band = cls.len_band AND cell.lang = gl.lang),
      |tv AS (
      |  SELECT source, len_band, max(k) AS k, max(n) AS n,
      |    sum(abs(CAST(c AS HUGEINT) * n - CAST(nl AS HUGEINT) * k))
      |      AS tvn
      |  FROM dense GROUP BY 1, 2),
      |b AS (
      |  SELECT CASE
      |    WHEN tvn * 10 <= CAST(2 AS HUGEINT) * k * n THEN 't<=0.1'
      |    WHEN tvn * 10 <= CAST(6 AS HUGEINT) * k * n THEN 't<=0.3'
      |    ELSE 't>0.3' END AS t_band,
      |    count(*) AS n_classes, CAST(sum(k) AS BIGINT) AS n_rows,
      |    max(floor((CAST(tvn AS DOUBLE)
      |      / (2 * CAST(k AS DOUBLE) * CAST(n AS DOUBLE)))
      |      * 1000000 + 0.5) / 1000000) AS max_t
      |  FROM tv GROUP BY 1),
      |t AS (SELECT sum(n_rows) AS tot FROM b)
      |SELECT t_band, n_classes, n_rows,
      |  floor((CAST(n_rows AS DOUBLE) / tot) * 1000000 + 0.5) / 1000000
      |    AS row_share, max_t
      |FROM b CROSS JOIN t""".stripMargin
  ) { (s, d) =>
    val cell = Tables.documents(s, d)
      .groupBy(col("source"),
        expr("(n_chars - n_chars % 100) div 100").as("len_band"),
        col("lang"))
      .agg(count(lit(1)).as("c"))
      .cache() // one corpus pass feeds cls/gl/tot and the dense join
    val cls = cell.groupBy(col("source"), col("len_band"))
      .agg(sum(col("c")).as("k"))
    val gl = cell.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    val tot = gl.agg(sum(col("nl")).as("n"))
    val tv = cls.crossJoin(broadcast(gl)).crossJoin(broadcast(tot))
      .join(cell, Seq("source", "len_band", "lang"), "left")
      .na.fill(0L, Seq("c"))
      .groupBy(col("source"), col("len_band"))
      .agg(max(col("k")).as("k"), max(col("n")).as("n"),
        sum(abs(dec(col("c")) * col("n") - dec(col("nl")) * col("k")))
          .as("tvn"))
    val bands = tv
      .groupBy(when(col("tvn") * 10 <= dec(lit(2)) * col("k") * col("n"),
        "t<=0.1")
        .when(col("tvn") * 10 <= dec(lit(6)) * col("k") * col("n"),
          "t<=0.3")
        .otherwise("t>0.3").as("t_band"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).cast("long").as("n_rows"),
        max(floor((col("tvn").cast("double") /
          (lit(2) * col("k").cast("double") * col("n").cast("double")))
          * 1000000 + 0.5) / 1000000).as("max_t"))
    val t = bands.agg(sum(col("n_rows")).as("tot"))
    bands.crossJoin(broadcast(t))
      .select(col("t_band"), col("n_classes"), col("n_rows"),
        (floor((col("n_rows").cast("double") / col("tot")) * 1000000
          + 0.5) / 1000000).as("row_share"), col("max_t"))
  }

  /** HITS hubs-and-authorities over the supplier→customer bipartite
    * digraph — the second staple iterative graph score beside q75's
    * PageRank: PageRank ranks by global random-surfer mass, HITS
    * separates "good providers" (hubs: suppliers serving
    * high-authority customers) from "good consumers" (authorities:
    * customers served by high-hub suppliers) — the two-sided
    * influence view a marketplace health report wants.
    *
    * Determinism (the q75 contract): scores are int64 micro-units;
    * one half-step is raw(v) = Σ neighbour scores followed by
    * MAX-normalization score'(v) = raw·10⁶ div max(raw) — every step
    * integer math (the product lifts to decimal(38,0)/HUGEINT before
    * the div: raw reaches deg·10⁶ ≈ 10¹⁵ at web-scale degree, and
    * ×10⁶ would cross int64), so partial-merge order can't perturb a
    * bit and the same recurrence unrolls as plain SQL. Two full
    * h→a→h iterations (fixed count, like q75's 3).
    *
    * Scale shape per half-step: one join keyed by the edge's source
    * side against the ≤|nodes| score frame (AQE broadcasts while it
    * fits) + one aggregate keyed by the other side; the max is a
    * scalar broadcast. Unlike q75 (3 reuses, where re-deriving beat
    * checkpointing), the 2-iteration HITS plan reuses the edge list
    * SEVEN times (both final frames chain through every half-step),
    * so the distinct pair frame is cached — one lineitem⋈orders
    * derivation instead of seven; at real scale this is the edge-list
    * materialization every iterative graph engine starts with. */
  val q208Hits: QueryDef = QueryDef.withOracle(
    """WITH pair AS (
      |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |a1r AS (
      |  SELECT c, CAST(count(*) AS HUGEINT) * 1000000 AS r
      |  FROM pair GROUP BY c),
      |a1 AS (
      |  SELECT c, CAST(r * 1000000 // (SELECT max(r) FROM a1r)
      |    AS BIGINT) AS a FROM a1r),
      |h1r AS (
      |  SELECT pair.s, CAST(sum(a1.a) AS HUGEINT) AS r
      |  FROM pair JOIN a1 USING (c) GROUP BY pair.s),
      |h1 AS (
      |  SELECT s, CAST(r * 1000000 // (SELECT max(r) FROM h1r)
      |    AS BIGINT) AS h FROM h1r),
      |a2r AS (
      |  SELECT pair.c, CAST(sum(h1.h) AS HUGEINT) AS r
      |  FROM pair JOIN h1 USING (s) GROUP BY pair.c),
      |a2 AS (
      |  SELECT c, CAST(r * 1000000 // (SELECT max(r) FROM a2r)
      |    AS BIGINT) AS a FROM a2r),
      |h2r AS (
      |  SELECT pair.s, CAST(sum(a2.a) AS HUGEINT) AS r
      |  FROM pair JOIN a2 USING (c) GROUP BY pair.s),
      |h2 AS (
      |  SELECT s, CAST(r * 1000000 // (SELECT max(r) FROM h2r)
      |    AS BIGINT) AS h FROM h2r)
      |SELECT 'hub' AS role, s AS node, h AS score_micro FROM h2
      |UNION ALL
      |SELECT 'authority' AS role, c AS node, a AS score_micro FROM a2"""
      .stripMargin
  ) { (s, d) =>
    val pair = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
      .distinct()
    hits(pair, iterations = 2)
  }

  /** q208's integer HITS over an (s, c) bipartite edge list: `iterations`
    * full h→a→h rounds after the uniform-hub start (so iteration 1's
    * first half-step is a(c) ∝ in-degree). Returns the final hub and
    * authority frames unioned with a role column. */
  private[operators] def hits(pairIn: DataFrame, iterations: Int): DataFrame = {
    val pair = pairIn.cache() // reused by every half-step (see above)
    def normalize(rawIn: DataFrame, key: String, out: String): DataFrame = {
      // the raw score frame is referenced TWICE (max probe + the
      // normalizing join) and every later half-step chains through
      // it — uncached, each reference re-embeds the entire prior
      // chain (2^depth recompute; the q75 lineage lesson). Caching
      // the ≤|nodes| state per half-step keeps the plan linear.
      val raw = rawIn.cache()
      val mx = raw.agg(max(col("r")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col(key),
          expr("CAST((CAST(r AS DECIMAL(38,0)) * 1000000) div mx AS BIGINT)")
            .as(out))
    }
    var h = pair.select(col("s")).distinct()
      .withColumn("h", lit(1000000L))
    var a: DataFrame = null
    for (_ <- 1 to iterations) {
      a = normalize(
        pair.join(h, Seq("s"))
          .groupBy(col("c")).agg(sum(col("h")).as("r")), "c", "a")
      h = normalize(
        pair.join(a, Seq("c"))
          .groupBy(col("s")).agg(sum(col("a")).as("r")), "s", "h")
    }
    h.select(lit("hub").as("role"), col("s").as("node"),
      col("h").as("score_micro"))
      .unionByName(a.select(lit("authority").as("role"),
        col("c").as("node"), col("a").as("score_micro")))
  }

  /** Held-out unigram perplexity per source — THE cheap language-model
    * quality probe a curation report runs before spending GPU time:
    * train an add-1-smoothed unigram LM on each source's train split
    * (the q170 md5 split convention, buckets < 80), score its own
    * held-out split (buckets ≥ 80), report cross-entropy (nats/token)
    * and perplexity. A source whose held-out perplexity spikes against
    * its peers is incoherent (OCR noise, boilerplate churn) even when
    * the lexical scores (q31) look fine.
    *
    * Model contract: p(w) = (c_train(w)+1) / (n_train + |V_train| + 1)
    * — add-one over the train vocabulary with ONE shared unseen slot
    * (every test token absent from train scores 1/(n+V+1)).
    *
    * Exactness: p is a ratio of exact int64 counts; the per-cell term
    * c_test·ln(p) quantizes to 1e-9 fixed point before the int64 sum
    * (q158's order-free recipe); H = −Σ/(n_test·10⁹) is one division,
    * floored 1e-6; perplexity exponentiates the FLOORED H (both
    * engines exponentiate the same already-quantized double).
    *
    * Scale shape: ONE corpus pass — the split flag is a pure function
    * of doc_id, so BOTH splits land in the same (source, token) cell
    * frame as conditional counts (no second scan, and the scoring
    * "join" disappears: a test token's train count is already on its
    * cell); the only other input is the broadcast ≤|sources| margin. */
  val q209Perplexity: QueryDef = QueryDef.withOracle(
    s"""WITH d AS (
      |  SELECT source, $bucketSql AS b,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tr AS (
      |  SELECT source, tok, count(*) AS ct FROM d WHERE b < 80
      |  GROUP BY 1, 2),
      |te AS (
      |  SELECT source, tok, count(*) AS cv FROM d WHERE b >= 80
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT source, CAST(sum(ct) AS BIGINT) AS n_tr,
      |    CAST(count(*) AS BIGINT) AS v_tr
      |  FROM tr GROUP BY 1),
      |terms AS (
      |  SELECT te.source, te.cv,
      |    CAST(floor(te.cv * ln(CAST(coalesce(tr.ct, 0) + 1 AS DOUBLE)
      |      / (m.n_tr + m.v_tr + 1)) * 1000000000 + 0.5) AS BIGINT)
      |      AS term_fp
      |  FROM te JOIN m USING (source)
      |  LEFT JOIN tr ON tr.source = te.source AND tr.tok = te.tok),
      |f AS (
      |  SELECT source, CAST(sum(cv) AS BIGINT) AS n_test,
      |    CAST(sum(term_fp) AS BIGINT) AS sfp
      |  FROM terms GROUP BY 1),
      |h AS (
      |  SELECT source, n_test,
      |    floor((-CAST(sfp AS DOUBLE)
      |      / (CAST(n_test AS DOUBLE) * 1000000000)) * 1000000 + 0.5)
      |      / 1000000 AS cross_entropy
      |  FROM f)
      |SELECT source, n_test AS n_test_tokens, cross_entropy,
      |  floor(exp(cross_entropy) * 1000000 + 0.5) / 1000000 AS perplexity
      |FROM h""".stripMargin
  ) { (s, d) =>
    // ONE corpus pass: both splits land in the same (source, token)
    // cell via conditional counts — no second scan, no scoring join.
    // The bucket is projected BEFORE the explode: a single select
    // with generator + md5 would compute the md5 in the Project
    // ABOVE the Generate — once per token instead of once per doc
    // (measured 3.2 s → sub-second at sf1).
    val cells = Tables.documents(s, d)
      .select(col("source"), bucketCol.as("b"), col("text"))
      .select(col("source"), col("b"),
        explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(sum(when(col("b") < 80, 1L).otherwise(0L)).as("ct"),
        sum(when(col("b") >= 80, 1L).otherwise(0L)).as("cv"))
      .cache() // feeds the train margin AND the scoring pass
    val m = cells.filter(col("ct") > 0).groupBy(col("source"))
      .agg(sum(col("ct")).as("n_tr"), count(lit(1)).as("v_tr"))
    cells.filter(col("cv") > 0)
      .join(broadcast(m), Seq("source"))
      .select(col("source"), col("cv"),
        floor(col("cv") * log((col("ct") + 1).cast("double") /
          (col("n_tr") + col("v_tr") + 1)) * 1000000000L + 0.5)
          .cast("long").as("term_fp"))
      .groupBy(col("source"))
      .agg(sum(col("cv")).as("n_test"), sum(col("term_fp")).as("sfp"))
      .select(col("source"), col("n_test"),
        (floor((-col("sfp").cast("double") /
          (col("n_test").cast("double") * lit(1000000000.0)))
          * 1000000 + 0.5) / 1000000).as("cross_entropy"))
      .select(col("source"), col("n_test").as("n_test_tokens"),
        col("cross_entropy"),
        (floor(exp(col("cross_entropy")) * 1000000 + 0.5) / 1000000)
          .as("perplexity"))
  }

  /** Tokenizer out-of-vocabulary rate per source — the coverage audit
    * beside q128's BPE encode: fix a vocabulary budget (the top-16
    * train-split tokens corpus-wide, count-desc with token tiebreak —
    * 16 so the cap BINDS at every SF; production uses 32k–256k), then
    * measure each source's held-out token share that falls outside
    * it. A high-OOV source either needs vocab budget or is noise —
    * either way it's the first number a tokenizer-budget decision
    * reads (and the per-source input q194's water-fill allocates
    * against).
    *
    * Exactness: pure int64 counts end to end; the one division is the
    * reported share, floored 1e-6.
    *
    * Scale shape: ONE corpus pass — both splits land in the same
    * (source, token) cell frame as conditional counts (q209's
    * device); the top-K pick is a row_number over the ≤|V| corpus-
    * wide train margin (vocab-bounded metadata sort — the q194/q202
    * argument); scoring is one broadcast left join of the test cells
    * against the K-row vocab. */
  val q210OovRate: QueryDef = QueryDef.withOracle(
    s"""WITH d AS (
      |  SELECT source, $bucketSql AS b,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |gv AS (
      |  SELECT tok, count(*) AS c FROM d WHERE b < 80 GROUP BY 1),
      |vk AS (
      |  SELECT tok FROM (
      |    SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rn
      |    FROM gv) WHERE rn <= 16),
      |te AS (
      |  SELECT source, tok, count(*) AS cv FROM d WHERE b >= 80
      |  GROUP BY 1, 2)
      |SELECT source, CAST(sum(cv) AS BIGINT) AS n_test_tokens,
      |  CAST(sum(CASE WHEN vk.tok IS NULL THEN cv ELSE 0 END) AS BIGINT)
      |    AS n_oov,
      |  floor((CAST(sum(CASE WHEN vk.tok IS NULL THEN cv ELSE 0 END)
      |    AS DOUBLE) / sum(cv)) * 1000000 + 0.5) / 1000000 AS oov_share
      |FROM te LEFT JOIN vk USING (tok)
      |GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val cells = Tables.documents(s, d)
      .select(col("source"), bucketCol.as("b"), col("text"))
      .select(col("source"), col("b"), // md5 below the Generate (q209)
        explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(sum(when(col("b") < 80, 1L).otherwise(0L)).as("ct"),
        sum(when(col("b") >= 80, 1L).otherwise(0L)).as("cv"))
      .cache() // ONE corpus pass feeds the vocab pick AND the scoring
    val gv = cells.filter(col("ct") > 0)
      .groupBy(col("tok")).agg(sum(col("ct")).as("c"))
    // limit-then-rank idiom: TakeOrderedAndProject caps map-side, so
    // the vocab pick never funnels the ≤|V| margin through one reducer
    val vk = AnalyticsOps2.topKByCount(gv,
        Seq(col("c").desc, col("tok")), 16)
      .select(col("tok"), lit(1).as("in_v"))
    cells.filter(col("cv") > 0)
      .join(broadcast(vk), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(sum(col("cv")).as("n_test_tokens"),
        sum(when(col("in_v").isNull, col("cv")).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_test_tokens"), col("n_oov"),
        (floor((col("n_oov").cast("double") / col("n_test_tokens"))
          * 1000000 + 0.5) / 1000000).as("oov_share"))
  }

  val all: Map[String, QueryDef] = Map(
    "q204_kendall_tau" -> q204KendallTau,
    "q205_mann_whitney" -> q205MannWhitney,
    "q206_js_divergence" -> q206JsDivergence,
    "q207_t_closeness" -> q207TCloseness,
    "q208_hits" -> q208Hits,
    "q209_perplexity" -> q209Perplexity,
    "q210_oov_rate" -> q210OovRate
  )
}
