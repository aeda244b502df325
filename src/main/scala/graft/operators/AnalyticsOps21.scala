package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Exact.{dec, q6}

/** Round-12 tranche nine: the clustering-validity panel the label
  * column has been waiting for — Davies-Bouldin (per-cluster
  * worst-confusion: WHICH labels blur together), Calinski-Harabasz
  * (the global between/within variance ratio — the one number that
  * ranks alternative labelings), and the label-centroid cosine
  * matrix (the direction-space confusion map beside q265's
  * token-space one) — plus the diurnal-profile chi-square (does each
  * event type have a distinctive hour-of-day rhythm, the categorical
  * companion to q290's F_S).
  *
  * q253's silhouette reads ONE number per label off centroid gaps;
  * this panel factors cluster quality three ways (who-blurs-with-
  * whom, global ratio, direction overlap) from ONE shared centroid
  * frame. House conventions: component sums on the q144/q283 1e-9
  * grid, centroids quantized to 1e-6 ints BEFORE any distance (so
  * both engines measure against the SAME centroid), per-point and
  * per-term quantization before every order-dependent sum, mirrored
  * double chains, outputs on the 1e-6 grid.
  */
object AnalyticsOps21 {

  /** Davies-Bouldin per-label row — intra-cluster mean distance s_i
    * (Euclidean, to the 1e-6-quantized label centroid) and R_i =
    * max_{j != i} (s_i + s_j) / d(c_i, c_j), the index's per-cluster
    * term (Davies & Bouldin 1979; the full index is avg(R_i), left
    * to the reader so the per-label diagnosis — WHICH pairing is the
    * worst — survives in the output). Complements q253's silhouette:
    * silhouette scores separation per label against the NEAREST
    * centroid; R_i names the worst offender and weighs both sides'
    * spread.
    *
    * Exactness: centroids quantize to 1e-6 ints off exact 1e-9
    * component sums; per-(point, dim) squared deviations quantize to
    * 1e-9 ints before the exact per-point sum; per-point distances
    * quantize to 1e-6 before the exact per-label sum; centroid-pair
    * distances are exact decimal sums of int squares under ONE sqrt.
    * The R_i max runs over identical mirrored doubles. Labels with
    * n = 0 can't occur; k = 1 emits no R (no j) — row dropped
    * (stated).
    *
    * Scale shape: ONE embeddings pass -> (label, dim) component sums
    * (the q283 frame); ONE more pass for point-to-own-centroid
    * distances (64 cells per point, map-side against a broadcast
    * 640-row centroid frame); the pair sweep is k x k x 64 cell
    * algebra — metadata. */
  val q292DaviesBouldin: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |sz AS (
      |  SELECT label, i.i AS i,
      |    CAST(sum(CAST(floor(emb[i.i + 1] * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS ssp,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM c, LATERAL (SELECT unnest(range(0, len(emb))) AS i) i
      |  GROUP BY 1, 2),
      |cen AS (
      |  SELECT label, i,
      |    CAST(floor(CAST(ssp AS DOUBLE) / n / 1000 + 0.5) AS BIGINT)
      |      AS c6, n
      |  FROM sz),
      |pd AS (
      |  SELECT c.vec_id, c.label,
      |    CAST(sum(CAST(floor((emb[cen.i + 1]
      |        - CAST(cen.c6 AS DOUBLE) / 1000000)
      |      * (emb[cen.i + 1] - CAST(cen.c6 AS DOUBLE) / 1000000)
      |      * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS d9
      |  FROM c JOIN cen ON cen.label = c.label
      |  GROUP BY 1, 2),
      |pt AS (
      |  SELECT label,
      |    CAST(floor(sqrt(CAST(d9 AS DOUBLE) / 1000000000)
      |      * 1000000 + 0.5) AS BIGINT) AS d6
      |  FROM pd),
      |si AS (
      |  SELECT label, CAST(sum(d6) AS BIGINT) AS sd6,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM pt GROUP BY 1),
      |dc AS (
      |  SELECT a.label AS la, b.label AS lb,
      |    sqrt(CAST(sum(CAST(a.c6 - b.c6 AS HUGEINT) * (a.c6 - b.c6))
      |      AS DOUBLE)) / 1000000 AS dij
      |  FROM cen a JOIN cen b ON a.i = b.i AND a.label <> b.label
      |  GROUP BY 1, 2),
      |ri AS (
      |  SELECT dc.la AS label,
      |    max((CAST(sa.sd6 AS DOUBLE) / sa.n / 1000000
      |      + CAST(sb.sd6 AS DOUBLE) / sb.n / 1000000) / dc.dij) AS r
      |  FROM dc JOIN si sa ON sa.label = dc.la
      |  JOIN si sb ON sb.label = dc.lb
      |  WHERE dc.dij > 0 GROUP BY 1)
      |SELECT CAST(si.label AS BIGINT) AS label, si.n AS n_vecs,
      |  floor(CAST(si.sd6 AS DOUBLE) / si.n / 1000000 * 1000000 + 0.5)
      |    / 1000000 AS s_intra,
      |  floor(ri.r * 1000000 + 0.5) / 1000000 AS r_max
      |FROM si JOIN ri ON ri.label = si.label""".stripMargin
  ) { (s, d) =>
    val c = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x)")
          .as("emb"))
      .cache() // component sums and the distance pass share it
    val sz = c.select(col("label"), explode(expr(
        """transform(sequence(0, size(emb) - 1), i ->
          |  struct(i AS i,
          |    CAST(floor(emb[i] * 1000000000D + 0.5D) AS BIGINT)
          |      AS sp))""".stripMargin)).as("t"))
      .select(col("label"), col("t.i").as("i"), col("t.sp").as("sp"))
      .groupBy(col("label"), col("i"))
      .agg(sum(dec(col("sp"))).as("ssp"),
        count(lit(1)).as("n"))
    val cen = sz.select(col("label"), col("i"),
        floor(col("ssp").cast("double") / col("n") / 1000 + 0.5)
          .cast("long").as("c6"), col("n"))
      .cache() // broadcast to the point pass; reused by dc pairs
    val pd = c.join(broadcast(cen.withColumnRenamed("label", "lc")),
        col("lc") === col("label"))
      .select(col("vec_id"), col("label"),
        floor((element_at(col("emb"), (col("i") + 1).cast("int"))
          - col("c6").cast("double") / 1000000L)
          * (element_at(col("emb"), (col("i") + 1).cast("int"))
            - col("c6").cast("double") / 1000000L)
          * 1000000000L + 0.5).cast("long").as("t9"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("t9")).cast("long").as("d9"))
    val pt = pd.select(col("label"),
      floor(sqrt(col("d9").cast("double") / 1000000000L) * 1000000L
        + 0.5).cast("long").as("d6"))
    val si = pt.groupBy(col("label"))
      // decimal from the start (the q304 sse3 int64-headroom class):
      // 1e-6-grid point distances sum past long near n ~ 1e12
      .agg(sum(dec(col("d6"))).as("sd6"),
        count(lit(1)).as("n"))
    val cb = cen.select(col("label").as("lb"), col("i").as("ib"),
      col("c6").as("cb6"))
    val dc = cen.join(cb,
        col("ib") === col("i") && col("lb") =!= col("label"))
      .groupBy(col("label").as("la"), col("lb"))
      .agg((sqrt(sum(dec(col("c6") - col("cb6"))
        * (col("c6") - col("cb6"))).cast("double")) / 1000000L)
        .as("dij"))
    val sa = si.toDF("la", "sda", "na")
    val sb = si.toDF("lb", "sdb", "nb")
    val ri = dc.filter(col("dij") > 0)
      .join(sa, Seq("la")).join(sb, Seq("lb"))
      .groupBy(col("la").as("label"))
      .agg(max((col("sda").cast("double") / col("na") / 1000000L
        + col("sdb").cast("double") / col("nb") / 1000000L)
        / col("dij")).as("r"))
    si.join(ri, Seq("label"))
      .select(col("label").cast("long").as("label"),
        col("n").as("n_vecs"),
        (floor(col("sd6").cast("double") / col("n") / 1000000L
          * 1000000L + 0.5) / 1000000L).as("s_intra"),
        (floor(col("r") * 1000000L + 0.5) / 1000000L).as("r_max"))
  }

  /** Calinski-Harabasz index over the label clustering — CH =
    * (SSB/(k-1)) / (SSW/(n-k)), the between/within variance ratio
    * (Calinski & Harabasz 1974): the single number that makes two
    * labelings of the SAME corpus comparable (bigger = tighter,
    * better-separated clusters). q292 diagnoses pairs; this ranks
    * the whole partition — the metric a labeling/clustering sweep
    * optimizes.
    *
    * Exactness: SSW is the exact integer sum of q292's per-(point,
    * dim) 1e-9 deviation cells; SSB = sum_i n_i * ||c_i - g||^2 is
    * exact decimal algebra on the 1e-6 centroid grid (g is the
    * n-weighted mean of label centroids on the same grid, so both
    * engines subtract IDENTICAL integers); one mirrored double ratio.
    * k < 2 or zero SSW degrade to ch = 0 (stated).
    *
    * Scale shape: q292's two passes re-aggregated global — nothing
    * new touches data; SSB is k x 64 cell algebra. */
  val q293CalinskiHarabasz: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |sz AS (
      |  SELECT label, i.i AS i,
      |    CAST(sum(CAST(floor(emb[i.i + 1] * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS ssp,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM c, LATERAL (SELECT unnest(range(0, len(emb))) AS i) i
      |  GROUP BY 1, 2),
      |cen AS (
      |  SELECT label, i,
      |    CAST(floor(CAST(ssp AS DOUBLE) / n / 1000 + 0.5) AS BIGINT)
      |      AS c6, n
      |  FROM sz),
      |gc AS (
      |  SELECT i,
      |    CAST(floor(CAST(sum(c6 * n) AS DOUBLE) / sum(n) + 0.5)
      |      AS BIGINT) AS g6
      |  FROM cen GROUP BY 1),
      |ssb AS (
      |  SELECT sum(CAST(cen.n AS HUGEINT) * (cen.c6 - gc.g6)
      |    * (cen.c6 - gc.g6)) AS b12
      |  FROM cen JOIN gc ON gc.i = cen.i),
      |ssw AS (
      |  SELECT CAST(sum(CAST(floor((emb[cen.i + 1]
      |        - CAST(cen.c6 AS DOUBLE) / 1000000)
      |      * (emb[cen.i + 1] - CAST(cen.c6 AS DOUBLE) / 1000000)
      |      * 1000000000 + 0.5) AS BIGINT)) AS HUGEINT) AS w9
      |  FROM c JOIN cen ON cen.label = c.label),
      |kk AS (
      |  SELECT CAST(count(DISTINCT label) AS BIGINT) AS k,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM c)
      |SELECT kk.n AS n_vecs, kk.k AS n_labels,
      |  floor(CAST(b12 AS DOUBLE) / 1000000000000 * 1000000 + 0.5)
      |    / 1000000 AS ssb,
      |  floor(CAST(w9 AS DOUBLE) / 1000000000 * 1000000 + 0.5)
      |    / 1000000 AS ssw,
      |  CASE WHEN kk.k < 2 OR w9 <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor((CAST(b12 AS DOUBLE) / 1000000000000 / (kk.k - 1))
      |      / (CAST(w9 AS DOUBLE) / 1000000000 / (kk.n - kk.k))
      |      * 1000000 + 0.5) / 1000000 END AS ch
      |FROM ssb CROSS JOIN ssw CROSS JOIN kk""".stripMargin
  ) { (s, d) =>
    val c = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x)")
          .as("emb"))
      .cache()
    val sz = c.select(col("label"), explode(expr(
        """transform(sequence(0, size(emb) - 1), i ->
          |  struct(i AS i,
          |    CAST(floor(emb[i] * 1000000000D + 0.5D) AS BIGINT)
          |      AS sp))""".stripMargin)).as("t"))
      .select(col("label"), col("t.i").as("i"), col("t.sp").as("sp"))
      .groupBy(col("label"), col("i"))
      .agg(sum(dec(col("sp"))).as("ssp"), count(lit(1)).as("n"))
    val cen = sz.select(col("label"), col("i"),
        floor(col("ssp").cast("double") / col("n") / 1000 + 0.5)
          .cast("long").as("c6"), col("n"))
      .cache()
    val gc = cen.groupBy(col("i"))
      .agg(floor(sum(col("c6") * col("n")).cast("double")
        / sum(col("n")) + 0.5).cast("long").as("g6"))
    val ssb = cen.join(gc, Seq("i"))
      .agg(sum(dec(col("n")) * (col("c6") - col("g6"))
        * (col("c6") - col("g6"))).as("b12"))
    val ssw = c.join(broadcast(cen.withColumnRenamed("label", "lc")),
        col("lc") === col("label"))
      .agg(sum(floor((element_at(col("emb"), (col("i") + 1).cast("int"))
        - col("c6").cast("double") / 1000000L)
        * (element_at(col("emb"), (col("i") + 1).cast("int"))
          - col("c6").cast("double") / 1000000L)
        * 1000000000L + 0.5).cast("long").cast("decimal(38,0)"))
        .as("w9"))
    val kk = c.agg(countDistinct(col("label")).as("k"),
      count(lit(1)).as("n"))
    ssb.crossJoin(ssw).crossJoin(kk)
      .select(col("n").as("n_vecs"), col("k").as("n_labels"),
        (floor(col("b12").cast("double") / 1000000000000L * 1000000L
          + 0.5) / 1000000L).as("ssb"),
        (floor(col("w9").cast("double") / 1000000000L * 1000000L + 0.5)
          / 1000000L).as("ssw"),
        when(col("k") < 2 || col("w9") <= 0, lit(0.0))
          .otherwise(floor((col("b12").cast("double") / 1000000000000L
            / (col("k") - 1))
            / (col("w9").cast("double") / 1000000000L
              / (col("n") - col("k")))
            * 1000000L + 0.5) / 1000000L).as("ch"))
  }

  /** Label-centroid cosine matrix — cos(c_a, c_b) for every label
    * pair off the SAME quantized centroid frame as q292/q293: the
    * direction-space confusion map (which classes point the same way
    * even when their clouds don't overlap). The embedding-side twin
    * of q265's token-space cross-entropy matrix, and the map a
    * label-merge / taxonomy-cleanup decision reads.
    *
    * Exactness: dot products and norms are exact decimal sums of
    * 1e-6-grid centroid ints; one mirrored sqrt-divide per pair;
    * zero-norm centroids degrade to 0 (stated).
    *
    * Scale shape: k x k x 64 pure cell algebra off the cached
    * centroid frame — no data pass beyond the component sums. */
  val q294CentroidCosines: QueryDef = QueryDef.withOracle(
    """WITH c AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |sz AS (
      |  SELECT label, i.i AS i,
      |    CAST(sum(CAST(floor(emb[i.i + 1] * 1000000000 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS ssp,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM c, LATERAL (SELECT unnest(range(0, len(emb))) AS i) i
      |  GROUP BY 1, 2),
      |cen AS (
      |  SELECT label, i,
      |    CAST(floor(CAST(ssp AS DOUBLE) / n / 1000 + 0.5) AS BIGINT)
      |      AS c6
      |  FROM sz),
      |pr AS (
      |  SELECT a.label AS la, b.label AS lb,
      |    sum(CAST(a.c6 AS HUGEINT) * b.c6) AS dot,
      |    sum(CAST(a.c6 AS HUGEINT) * a.c6) AS na,
      |    sum(CAST(b.c6 AS HUGEINT) * b.c6) AS nb
      |  FROM cen a JOIN cen b ON b.i = a.i AND a.label < b.label
      |  GROUP BY 1, 2)
      |SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT)
      |    AS label_b,
      |  CASE WHEN na <= 0 OR nb <= 0 THEN CAST(0 AS DOUBLE)
      |    ELSE floor(CAST(dot AS DOUBLE)
      |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
      |      * 1000000 + 0.5) / 1000000 END AS cosine
      |FROM pr""".stripMargin
  ) { (s, d) =>
    val sz = Tables.embeddings(s, d)
      .select(col("label"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x)")
          .as("emb"))
      .select(col("label"), explode(expr(
        """transform(sequence(0, size(emb) - 1), i ->
          |  struct(i AS i,
          |    CAST(floor(emb[i] * 1000000000D + 0.5D) AS BIGINT)
          |      AS sp))""".stripMargin)).as("t"))
      .select(col("label"), col("t.i").as("i"), col("t.sp").as("sp"))
      .groupBy(col("label"), col("i"))
      .agg(sum(dec(col("sp"))).as("ssp"), count(lit(1)).as("n"))
    val cen = sz.select(col("label"), col("i"),
      floor(col("ssp").cast("double") / col("n") / 1000 + 0.5)
        .cast("long").as("c6"))
    val cb = cen.toDF("lb", "ib", "cb6")
    val pr = cen.join(cb,
        col("ib") === col("i") && col("label") < col("lb"))
      .groupBy(col("label").as("la"), col("lb"))
      .agg(sum(dec(col("c6")) * col("cb6")).as("dot"),
        sum(dec(col("c6")) * col("c6")).as("na"),
        sum(dec(col("cb6")) * col("cb6")).as("nb"))
    pr.select(col("la").cast("long").as("label_a"),
      col("lb").cast("long").as("label_b"),
      when(col("na") <= 0 || col("nb") <= 0, lit(0.0))
        .otherwise(floor(col("dot").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb")
            .cast("double"))) * 1000000L + 0.5) / 1000000L)
        .as("cosine"))
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

  val all: Map[String, QueryDef] = Map(
    "q292_davies_bouldin" -> q292DaviesBouldin,
    "q293_calinski_harabasz" -> q293CalinskiHarabasz,
    "q294_centroid_cosines" -> q294CentroidCosines,
    "q295_diurnal_profile" -> q295DiurnalProfile)
}
