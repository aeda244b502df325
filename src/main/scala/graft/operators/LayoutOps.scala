package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Exact.epochDay

/** Physical data-layout operators: the audits that decide HOW a
  * 100 TB table should be clustered on disk, not what a query over
  * it returns. At cluster scale the dominant cost of most reads is
  * the scan, and the scan cost is set by min/max-zone pruning — which
  * the WRITE-time row order controls. These operators measure that
  * effect with the engine's own primitives. The layout writers the
  * audits argue for sit beside them: range-clustered and Z-order
  * clustered writes and the bucketed lineitem/orders pair.
  *
  * Reference scope: the reference partitions its lake by date only
  * (`consumer/ingest_bronze.py` writes date-partitioned parquet) and
  * never revisits layout; multi-dimensional clustering is part of the
  * extension tranche (SURVEY §2.11).
  */
object LayoutOps {

  /** Z-order vs time-linear layout audit: lay the events table out in
    * 64 equal row-count files two ways — `linear` (the default
    * append order, `(ts, event_id)`) and `zorder` (Morton interleave
    * of an 8-bit user bucket and an 8-bit day index) — record each
    * file's per-dimension min/max zone map, and replay a 4×4 grid of
    * 2-D probe predicates (user-bucket range × day range) against the
    * zone maps. `files_scanned` is the number of files whose box
    * intersects the probe — exactly what a parquet reader's row-group
    * pruning would scan. The time-linear layout prunes the day
    * dimension and nothing else; Z-order bounds BOTH dimensions per
    * file, which is the entire argument for clustered rewrites of
    * multi-dimensionally-filtered 100 TB tables.
    *
    * Scale shape: each layout's file assignment is a GLOBAL rank —
    * which rides the two-phase range-partitioned prefix
    * ([[Kernels.globalRowNumber]]), never a single-task window
    * — followed by one integer floordiv into 64 equal-row files
    * (rank·64 div n; the row-count scalar is a broadcast, the q168
    * pattern). Everything after the two per-(layout, file) min/max
    * aggregates is metadata-sized (128 zone rows × 16 probes). The
    * Morton code itself is 6 shift-or-mask ops of codegen'd int64
    * math — free at scan speed.
    *
    * Determinism: ranks tiebreak on event_id; day index is the
    * sign-safe epoch-µs floordiv anchored at 2024-01-01 (epoch day
    * 19723), taken POSITIVE-mod 256 as the documented 256-day tile —
    * pmod on the Spark side, ((x%256)+256)%256 in the oracle, so
    * pre-anchor timestamps tile identically on both engines (post-
    * 1970 epochs assumed, the repo-wide q143 convention). */
  val q169ZorderLayout: QueryDef = QueryDef.withOracle(
    """WITH base AS (
      |  SELECT event_id, epoch_us(ts) AS t,
      |    user_id % 256 AS x,
      |    ((((epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
      |      - 19723) % 256) + 256) % 256 AS y
      |  FROM events),
      |sp AS (
      |  SELECT event_id, t, x, y,
      |    ((x | (x << 4)) & 3855) AS xa, ((y | (y << 4)) & 3855) AS ya
      |  FROM base),
      |sp2 AS (
      |  SELECT event_id, t, x, y,
      |    ((xa | (xa << 2)) & 13107) AS xb,
      |    ((ya | (ya << 2)) & 13107) AS yb
      |  FROM sp),
      |m AS (
      |  SELECT event_id, t, x, y,
      |    (((xb | (xb << 1)) & 21845)
      |      | ((((yb | (yb << 1)) & 21845)) << 1)) AS morton
      |  FROM sp2),
      |r AS (
      |  SELECT x, y,
      |    row_number() OVER (ORDER BY t, event_id) AS rn_lin,
      |    row_number() OVER (ORDER BY morton, event_id) AS rn_z,
      |    count(*) OVER () AS n
      |  FROM m),
      |fl AS (
      |  SELECT 'linear' AS layout, ((rn_lin - 1) * 64) // n AS f, x, y FROM r
      |  UNION ALL
      |  SELECT 'zorder' AS layout, ((rn_z - 1) * 64) // n AS f, x, y FROM r),
      |zones AS (
      |  SELECT layout, f, min(x) AS mnx, max(x) AS mxx,
      |    min(y) AS mny, max(y) AS mxy
      |  FROM fl GROUP BY 1, 2),
      |probes AS (
      |  SELECT p AS probe, (p % 4) * 64 AS px0, (p % 4) * 64 + 15 AS px1,
      |    (p // 4) * 8 AS py0, (p // 4) * 8 + 7 AS py1
      |  FROM (SELECT unnest(range(0, 16)) AS p))
      |SELECT layout, probe,
      |  CAST(sum(CASE WHEN mxx < px0 OR mnx > px1 OR mxy < py0 OR mny > py1
      |    THEN 0 ELSE 1 END) AS BIGINT) AS files_scanned,
      |  floor((CAST(sum(CASE WHEN mxx < px0 OR mnx > px1 OR mxy < py0
      |      OR mny > py1 THEN 0 ELSE 1 END) AS DOUBLE) / 64) * 1000000
      |    + 0.5) / 1000000 AS scan_share
      |FROM zones CROSS JOIN probes
      |GROUP BY 1, 2""".stripMargin
  ) { (s, d) =>
    val base = Tables.events(s, d).select(
      col("event_id"),
      unix_micros(col("ts")).as("t"),
      pmod(col("user_id"), lit(256L)).as("x"))
      .withColumn("y", pmod(epochDay(col("t")) - 19723, lit(256L)))
      // the native codegen'd interleave (q84's expression): for 8-bit
      // inputs the 31-bit ladder and the oracle's 8-bit ladder agree
      // bit for bit (high input bits are zero)
      .withColumn("morton",
        graft.functions.LayoutExpressions.morton(col("x"), col("y")))
    val n = base.agg(count(lit(1)).as("n"))
    def layoutFiles(name: String, sortCols: Seq[Column]) =
      Kernels.globalRowNumber(base, sortCols, "rn")
        .crossJoin(broadcast(n))
        .select(lit(name).as("layout"),
          expr("((rn - 1) * 64) div n").as("f"), col("x"), col("y"))
    // zorder side rides (morton, count) CELLS, never a raw-row rank:
    // morton is 16-bit and (x, y) are functions of morton, so a
    // file's extent depends only on WHICH morton runs intersect it.
    // The run occupying inclusive ranks [cum−cnt+1, cum] spans files
    // ((cum−cnt)·64) div n .. ((cum−1)·64) div n; rank→file steps by
    // ≤ 1 when n ≥ 64 (always — 64 is the file count), so every file
    // in the span holds ≥ 1 row of the run, and all the run's rows
    // share (x, y) — per-file min/max are exact without the oracle's
    // row-level rank (the q187/q166 cell collapse; at sf100 this
    // halves the spill-bound sort, leaving only the linear side,
    // whose sort key t is row-unique: cells = rows, no collapse
    // exists). Oracle keeps the row-level form.
    val zfiles = Kernels.groupedPrefixSums(
        base.groupBy(col("morton"), col("x"), col("y"))
          .agg(count(lit(1)).as("cnt")),
        Seq.empty, Seq(col("morton")), Seq((col("cnt"), "cum", None)))
      .crossJoin(broadcast(n))
      .select(lit("zorder").as("layout"), col("x"), col("y"),
        explode(sequence(expr("((cum - cnt) * 64) div n"),
          expr("((cum - 1) * 64) div n"))).as("f"))
    val zones = layoutFiles("linear", Seq(col("t"), col("event_id")))
      .unionByName(zfiles.select(col("layout"), col("f"),
        col("x"), col("y")))
      .groupBy(col("layout"), col("f"))
      .agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
        min(col("y")).as("mny"), max(col("y")).as("mxy"))
    val probes = s.range(1).select(
      explode(sequence(lit(0L), lit(15L))).as("probe"))
      .select(col("probe"),
        (col("probe") % 4 * 64).as("px0"),
        (col("probe") % 4 * 64 + 15).as("px1"),
        expr("(probe div 4) * 8").as("py0"),
        expr("(probe div 4) * 8 + 7").as("py1"))
    zones.crossJoin(broadcast(probes))
      .groupBy(col("layout"), col("probe"))
      .agg(sum(when(col("mxx") < col("px0") || col("mnx") > col("px1") ||
        col("mxy") < col("py0") || col("mny") > col("py1"), 0L)
        .otherwise(1L)).as("files_scanned"))
      .select(col("layout"), col("probe"), col("files_scanned"),
        (floor((col("files_scanned").cast("double") / 64) * 1000000
          + 0.5) / 1000000).as("scan_share"))
  }

  /** Per-file bloom-filter index vs min/max zone map for POINT
    * lookups — q169's sibling audit for the other data-skipping
    * decision: a time-linear layout leaves every file's user_id
    * min/max spanning nearly the whole domain (zone maps prune ~
    * nothing for `user_id = ?`), while a small per-file bloom prunes
    * to the files that actually contain the user plus a bounded
    * false-positive tail. Reports, for 20 deterministic probe users:
    * files truly containing the user, files a zone map would scan,
    * files a 4096-bit k=3 bloom would scan, and the bloom's
    * false-positive count.
    *
    * Scale shape: the bloom index IS an aggregate — positions are 3
    * 12-bit slices of the shared 60-bit md5 hash, and the per-(file,
    * word) `bit_or` of position bits is an ordinary mergeable
    * partial+final aggregate (the q163 argument: the index build
    * costs one map-side pass, the serialized index is ≤ 64 files ×
    * 66 words). Words are 63 bits wide — shift counts stay ≤ 62,
    * inside the checked range of DuckDB's `<<` (Spark's shiftleft
    * would wrap at 63; 63-bit words keep both engines in the
    * defined-behavior zone). File assignment rides the same two-phase global rank
    * as q169. Probes, zones, and bloom words are all broadcast
    * metadata; the only data-sized work is the rank pass, the two
    * aggregates, and one broadcast semi-filter for ground truth.
    *
    * Bloom has NO false negatives by construction (every element's
    * bits are OR'd in), so files_bloom_pass ≥ files_true always —
    * asserted per row in the spec. */
  val q174BloomIndex: QueryDef = QueryDef.withOracle(
    """WITH base AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t,
      |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS h
      |  FROM events),
      |r AS (
      |  SELECT user_id, h,
      |    row_number() OVER (ORDER BY t, event_id) AS rn,
      |    count(*) OVER () AS n
      |  FROM base),
      |fl AS (SELECT user_id, h, ((rn - 1) * 64) // n AS f FROM r),
      |pos AS (
      |  SELECT f, user_id, (h >> (12 * j)) & 4095 AS p
      |  FROM fl, (SELECT unnest(range(0, 3)) AS j)),
      |bloom AS (
      |  SELECT f, p // 63 AS w, bit_or(1::BIGINT << (p % 63)) AS bits
      |  FROM pos GROUP BY 1, 2),
      |zone AS (
      |  SELECT f, min(user_id) AS mn, max(user_id) AS mx
      |  FROM fl GROUP BY 1),
      |probe AS (
      |  SELECT user_id, h FROM (
      |    SELECT DISTINCT user_id, h FROM base)
      |  ORDER BY h, user_id LIMIT 20),
      |ppos AS (
      |  SELECT user_id, (h >> (12 * j)) & 4095 AS p
      |  FROM probe, (SELECT unnest(range(0, 3)) AS j)),
      |bp AS (
      |  SELECT pp.user_id, b.f
      |  FROM ppos pp JOIN bloom b ON b.w = (pp.p // 63)
      |  GROUP BY 1, 2
      |  HAVING sum(CASE WHEN ((b.bits >> (pp.p % 63)) & 1) = 1
      |    THEN 1 ELSE 0 END) = 3),
      |bpc AS (SELECT user_id, count(*) AS files_bloom_pass FROM bp GROUP BY 1),
      |zpc AS (
      |  SELECT p.user_id, count(*) AS files_zone_pass
      |  FROM probe p JOIN zone z ON p.user_id >= z.mn AND p.user_id <= z.mx
      |  GROUP BY 1),
      |tc AS (
      |  SELECT user_id, count(DISTINCT f) AS files_true
      |  FROM fl WHERE user_id IN (SELECT user_id FROM probe)
      |  GROUP BY 1)
      |SELECT tc.user_id, tc.files_true, zpc.files_zone_pass,
      |  bpc.files_bloom_pass,
      |  bpc.files_bloom_pass - tc.files_true AS bloom_fp
      |FROM tc JOIN zpc USING (user_id) JOIN bpc USING (user_id)""".stripMargin
  ) { (s, d) =>
    val base = Tables.events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("t"),
      expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), " +
        "16, 10) AS BIGINT)").as("h"))
    val n = base.agg(count(lit(1)).as("n"))
    val fl = Kernels.globalRowNumber(base,
        Seq(col("t"), col("event_id")), "rn")
      .crossJoin(broadcast(n))
      .select(col("user_id"), col("h"), expr("((rn - 1) * 64) div n").as("f"))
      // r13: three consumers (bloom build, zone maps, probe truth)
      // each replayed the md5 + two-phase global rank pass — one
      // materialization instead of three (guide §5, reuse-vs-recompute)
      .cache()
    val js = explode(sequence(lit(0), lit(2))).as("j")
    val bloom = fl.select(col("f"), col("h"), js)
      .select(col("f"), expr("(h >> (12 * j)) & 4095").as("p"))
      .groupBy(col("f"), expr("p div 63").as("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
        "CAST(p % 63 AS INT)))").as("bits"))
    val zone = fl.groupBy(col("f"))
      .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
    val probe = base.select(col("user_id"), col("h")).distinct()
      .orderBy(col("h"), col("user_id")).limit(20)
    val ppos = probe.select(col("user_id"), col("h"), js)
      .select(col("user_id"), expr("(h >> (12 * j)) & 4095").as("p"))
    val bloomPass = bloom.join(broadcast(ppos),
        expr("w = (p div 63)"))
      .groupBy(col("user_id"), col("f"))
      .agg(sum(when(expr("((bits >> (p % 63)) & 1) = 1"), 1L)
        .otherwise(0L)).as("hits"))
      .filter(col("hits") === 3)
      .groupBy(col("user_id")).agg(count(lit(1)).as("files_bloom_pass"))
    val zonePass = zone.join(broadcast(probe),
        col("user_id") >= col("mn") && col("user_id") <= col("mx"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("files_zone_pass"))
    val truth = fl.join(broadcast(probe.select(col("user_id"))),
        Seq("user_id"), "leftsemi")
      .groupBy(col("user_id"))
      .agg(countDistinct(col("f")).as("files_true"))
    truth.join(broadcast(zonePass), Seq("user_id"))
      .join(broadcast(bloomPass), Seq("user_id"))
      .select(col("user_id"), col("files_true"), col("files_zone_pass"),
        col("files_bloom_pass"),
        (col("files_bloom_pass") - col("files_true")).as("bloom_fp"))
  }

  /** Per-column encoding-choice profile of the events table — the
    * write-path decision q169/q174 are the read-path siblings of:
    * for each column, exact row count, exact distinct count, the
    * estimated PLAIN size (8 B per numeric, byte length per string)
    * and DICTIONARY size (distinct values + n·⌈log₂ d⌉ bits of
    * indices), and which encoding wins. At 100 TB the wrong pick on
    * one wide column is petabyte-years of storage; this is the audit
    * a compaction job consults per file-group.
    *
    * Scale shape: one `stack` explodes each row to 5 (column, value)
    * pairs — map-side, codegen'd — and ONE (column, value)-keyed
    * partial+final aggregate collapses them to the distinct-value
    * frame with multiplicities (map-side combine bounds the exchange
    * by Σ per-column cardinalities, not row count); the per-column
    * rollup and all byte math run on that frame. ⌈log₂ d⌉ uses
    * floor(log₂(d−1))+1 — exact in double below 2⁴⁰ (the
    * HllRegisters rationale). */
  val q179EncodingProfile: QueryDef = QueryDef.withOracle(
    """WITH kv AS (
      |  SELECT 'event_type' AS c, event_type AS v, 1 AS is_str FROM events
      |  UNION ALL SELECT 'props', props, 1 FROM events
      |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR), 0 FROM events
      |  UNION ALL SELECT 'value_cents',
      |    CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR), 0
      |    FROM events
      |  UNION ALL SELECT 'day', CAST((epoch_us(ts) - epoch_us(ts)
      |    % 86400000000) // 86400000000 AS VARCHAR), 0 FROM events),
      |dv AS (
      |  SELECT c, is_str, v, count(*) AS cnt, len(v) AS w
      |  FROM kv GROUP BY 1, 2, 3),
      |agg AS (
      |  SELECT c, is_str, CAST(sum(cnt) AS BIGINT) AS n, count(*) AS d,
      |    CAST(sum(w * cnt) AS BIGINT) AS val_bytes,
      |    CAST(sum(w) AS BIGINT) AS dict_val_bytes
      |  FROM dv GROUP BY 1, 2),
      |sz AS (
      |  SELECT c, n, d,
      |    CASE WHEN is_str = 1 THEN val_bytes ELSE 8 * n END AS plain_bytes,
      |    (CASE WHEN is_str = 1 THEN dict_val_bytes ELSE 8 * d END)
      |      + (n * (CASE WHEN d <= 1 THEN 0
      |          ELSE CAST(floor(log2(d - 1)) AS BIGINT) + 1 END) + 7) // 8
      |      AS dict_bytes
      |  FROM agg)
      |SELECT c AS col_name, n, d AS n_distinct, plain_bytes, dict_bytes,
      |  CASE WHEN dict_bytes < plain_bytes THEN 'dict' ELSE 'plain' END
      |    AS encoding
      |FROM sz""".stripMargin
  ) { (s, d) =>
    val kv = Tables.events(s, d).select(expr(
      "stack(5, " +
        "'event_type', event_type, 1, " +
        "'props', props, 1, " +
        "'user_id', CAST(user_id AS STRING), 0, " +
        "'value_cents', CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) " +
          "AS STRING), 0, " +
        "'day', CAST((unix_micros(ts) - pmod(unix_micros(ts), " +
          "86400000000)) div 86400000000 AS STRING), 0" +
      ") AS (c, v, is_str)"))
    val agg = kv
      .groupBy(col("c"), col("is_str"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("w", length(col("v")).cast("long"))
      .groupBy(col("c"), col("is_str"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("d"),
        sum(col("w") * col("cnt")).as("val_bytes"),
        sum(col("w")).as("dict_val_bytes"))
    agg
      .select(col("c"), col("n"), col("d"), col("is_str"),
        when(col("is_str") === 1, col("val_bytes"))
          .otherwise(col("n") * 8).as("plain_bytes"),
        (when(col("is_str") === 1, col("dict_val_bytes"))
          .otherwise(col("d") * 8) +
          expr("(n * (CASE WHEN d <= 1 THEN 0 " +
            "ELSE CAST(floor(log2(d - 1)) AS BIGINT) + 1 END) + 7) div 8"))
          .as("dict_bytes"))
      .select(col("c").as("col_name"), col("n"), col("d").as("n_distinct"),
        col("plain_bytes"), col("dict_bytes"),
        when(col("dict_bytes") < col("plain_bytes"), "dict")
          .otherwise("plain").as("encoding"))
  }

  /** One Hilbert xy2d level (the classic n-reflection recurrence) as
    * portable SQL expression text over working columns hx/hy/hd —
    * `divOp` is the ONE dialect difference (Spark `div`, DuckDB `//`;
    * all operands are non-negative by construction, where the two
    * agree). Returns (hd', hx', hy') per level, most-significant bit
    * first. Shared by the engine side and the oracle so the algebra
    * cannot drift. */
  private[operators] def hilbertExprs(divOp: String)
      : Seq[(String, String, String)] =
    Seq(128, 64, 32, 16, 8, 4, 2, 1).map { s =>
      val rx = s"((hx $divOp $s) % 2)"
      val ry = s"((hy $divOp $s) % 2)"
      (s"(hd + ${s.toLong * s} * (CASE WHEN $rx = 1 THEN 3 - $ry " +
        s"ELSE $ry END))",
        s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN 255 - hy " +
          "ELSE hy END) ELSE hx END)",
        s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN 255 - hx " +
          "ELSE hx END) ELSE hy END)")
    }

  /** Adds a `hilbert` column — the 16-bit Hilbert index of (x, y) on
    * the 256×256 grid — to a frame carrying non-negative int columns
    * x, y < 256. Eight levels of codegen'd integer CASE arithmetic,
    * map-side free at scan speed (no custom Expression needed — the
    * recurrence composes from existing operators). */
  private[operators] def withHilbert(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val start = df.withColumn("hx", col("x")).withColumn("hy", col("y"))
      .withColumn("hd", expr("CAST(0 AS BIGINT)"))
    val stepped = hilbertExprs("div").foldLeft(start) {
      case (acc, (hdE, hxE, hyE)) =>
        val keep = acc.columns.filterNot(Set("hx", "hy", "hd")).map(col)
        acc.select(keep :+ expr(hdE).as("hd") :+ expr(hxE).as("hx")
          :+ expr(hyE).as("hy"): _*)
    }
    stepped.withColumnRenamed("hd", "hilbert").drop("hx", "hy")
  }

  /** Hilbert-curve vs Z-order layout audit — q169 one step further:
    * on the same 256×256 (user-bucket, day-tile) grid and the same
    * 4×4 probe replay, lay the table out by the Morton interleave AND
    * by the Hilbert index. Z-order's locality has seams (consecutive
    * Morton codes jump across the grid at power-of-two boundaries, so
    * a file can span a wide box); the Hilbert walk moves ONE cell per
    * step (adjacency is spec-pinned), so equal-row file cuts get
    * tighter boxes and probes touch fewer files. This is the
    * clustered-rewrite decision audit for a 100 TB fact table: same
    * write cost, measurably better zone pruning.
    *
    * The index is eight levels of the classic xy2d recurrence
    * (quadrant digit + reflect/swap rotation), generated ONCE as
    * portable integer SQL ([[hilbertExprs]]) and evaluated identically
    * by both engines — pure non-negative int arithmetic, so the gate
    * hashes exact int64s.
    *
    * Scale shape: the q169 cell collapse applies to BOTH layouts here
    * (each key is 16-bit and (x, y) is a function of the key — Morton
    * by bit de-interleave, Hilbert by d2xy bijectivity), so the file
    * assignment is a grouped prefix sum over ≤65 536-cell frames and
    * NOTHING after the one events scan is row-sized. The oracle keeps
    * the row-level rank form. */
  val q211HilbertLayout: QueryDef = QueryDef.withOracle {
    val hilbertCtes = hilbertExprs("//").zipWithIndex.map {
      case ((hdE, hxE, hyE), i) =>
        s"""h${i + 1} AS (
          |  SELECT event_id, $hdE AS hd, $hxE AS hx, $hyE AS hy
          |  FROM h$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
      |  SELECT event_id, user_id % 256 AS x,
      |    ((((epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
      |      - 19723) % 256) + 256) % 256 AS y
      |  FROM events),
      |sp AS (
      |  SELECT *, ((x | (x << 4)) & 3855) AS xa, ((y | (y << 4)) & 3855) AS ya
      |  FROM base),
      |sp2 AS (
      |  SELECT *, ((xa | (xa << 2)) & 13107) AS xb,
      |    ((ya | (ya << 2)) & 13107) AS yb
      |  FROM sp),
      |m AS (
      |  SELECT event_id, x, y,
      |    (((xb | (xb << 1)) & 21845)
      |      | ((((yb | (yb << 1)) & 21845)) << 1)) AS morton
      |  FROM sp2),
      |h0 AS (
      |  SELECT event_id, x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd
      |  FROM base),
      |$hilbertCtes,
      |r AS (
      |  SELECT m.x, m.y,
      |    row_number() OVER (ORDER BY m.morton, m.event_id) AS rn_z,
      |    row_number() OVER (ORDER BY h8.hd, m.event_id) AS rn_h,
      |    count(*) OVER () AS n
      |  FROM m JOIN h8 USING (event_id)),
      |fl AS (
      |  SELECT 'zorder' AS layout, ((rn_z - 1) * 64) // n AS f, x, y FROM r
      |  UNION ALL
      |  SELECT 'hilbert' AS layout, ((rn_h - 1) * 64) // n AS f, x, y
      |  FROM r),
      |zones AS (
      |  SELECT layout, f, min(x) AS mnx, max(x) AS mxx,
      |    min(y) AS mny, max(y) AS mxy
      |  FROM fl GROUP BY 1, 2),
      |probes AS (
      |  SELECT p AS probe, (p % 4) * 64 AS px0, (p % 4) * 64 + 15 AS px1,
      |    (p // 4) * 8 AS py0, (p // 4) * 8 + 7 AS py1
      |  FROM (SELECT unnest(range(0, 16)) AS p))
      |SELECT layout, probe,
      |  CAST(sum(CASE WHEN mxx < px0 OR mnx > px1 OR mxy < py0 OR mny > py1
      |    THEN 0 ELSE 1 END) AS BIGINT) AS files_scanned,
      |  floor((CAST(sum(CASE WHEN mxx < px0 OR mnx > px1 OR mxy < py0
      |      OR mny > py1 THEN 0 ELSE 1 END) AS DOUBLE) / 64) * 1000000
      |    + 0.5) / 1000000 AS scan_share
      |FROM zones CROSS JOIN probes
      |GROUP BY 1, 2""".stripMargin
  } { (s, d) =>
    // ONE events scan: both curve keys are functions of (x, y), so a
    // single (x, y) cell count carries them both — each layout's file
    // assignment regroups the SAME ≤65 536-cell cached frame (q169's
    // collapse argument, applied twice without a second pass)
    val cells = withHilbert(Tables.events(s, d).select(
      pmod(col("user_id"), lit(256L)).as("x"),
      pmod(epochDay(unix_micros(col("ts"))) - 19723, lit(256L)).as("y"))
      .withColumn("morton",
        graft.functions.LayoutExpressions.morton(col("x"), col("y"))))
      .groupBy(col("morton"), col("hilbert"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      .cache()
    val n = cells.agg(sum(col("cnt")).as("n"))
    def files(name: String, key: Column) =
      Kernels.groupedPrefixSums(
        cells.select(key.as("k"), col("x"), col("y"), col("cnt")),
        Seq.empty, Seq(col("k")), Seq((col("cnt"), "cum", None)))
        .crossJoin(broadcast(n))
        .select(lit(name).as("layout"), col("x"), col("y"),
          explode(sequence(expr("((cum - cnt) * 64) div n"),
            expr("((cum - 1) * 64) div n"))).as("f"))
    val zones = files("zorder", col("morton"))
      .unionByName(files("hilbert", col("hilbert")))
      .groupBy(col("layout"), col("f"))
      .agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
        min(col("y")).as("mny"), max(col("y")).as("mxy"))
    val probes = s.range(1).select(
      explode(sequence(lit(0L), lit(15L))).as("probe"))
      .select(col("probe"),
        (col("probe") % 4 * 64).as("px0"),
        (col("probe") % 4 * 64 + 15).as("px1"),
        expr("(probe div 4) * 8").as("py0"),
        expr("(probe div 4) * 8 + 7").as("py1"))
    zones.crossJoin(broadcast(probes))
      .groupBy(col("layout"), col("probe"))
      .agg(sum(when(col("mxx") < col("px0") || col("mnx") > col("px1") ||
        col("mxy") < col("py0") || col("mny") > col("py1"), 0L)
        .otherwise(1L)).as("files_scanned"))
      .select(col("layout"), col("probe"), col("files_scanned"),
        (floor((col("files_scanned").cast("double") / 64) * 1000000
          + 0.5) / 1000000).as("scan_share"))
  }

  /** Range-clustered write: repartitionByRange + sortWithinPartitions
    * on the cluster key gives every output file a DISJOINT key range,
    * so parquet row-group/file min-max statistics prune reads for any
    * range or point predicate on that key — the poor-man's
    * Z-ordering for the single-key case, at zero read-path cost.
    * Range boundaries come from Spark's reservoir sample of the key
    * distribution, so files are near-equal-sized even under skew. */
  def clusteredWrite(df: DataFrame, dir: String, clusterCol: String,
      nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(dir)

  /** Z-order clustered write: range-cluster on the MORTON interleave
    * of two keys instead of one key, so every file bounds BOTH
    * dimensions — 2-D range/point predicates prune files where a
    * lexicographic sort only prunes the leading key (the trailing key
    * spans its full range in every file).
    *
    * Both keys are min-max normalized to 16 bits BEFORE interleaving
    * (one tiny stats pass): raw interleaving only helps when the two
    * domains have comparable bit widths — with an 11-bit key against
    * an 8-bit key, every high interleaved bit belongs to the wide key
    * and the split degenerates to a 1-D sort. Normalization gives
    * both dims equal weight at every split granularity (the same move
    * production Z-order implementations make by interleaving
    * range-bucket ids). The interleave itself is the native codegen'd
    * `LayoutExpressions.morton`. */
  def zorderWrite(df: DataFrame, dir: String, colA: String, colB: String,
      nFiles: Int): Unit = {
    // numeric or timestamp keys only — anything else has no defined
    // min-max normalization here (cast a date to timestamp first)
    Seq(colA, colB).foreach { c =>
      val t = df.schema(c).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        t == org.apache.spark.sql.types.TimestampType,
        s"zorderWrite key '$c' must be numeric or timestamp, got ${t.sql}")
    }
    val r = df.agg(min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    // a key with no non-null values has no min-max domain: degrade
    // gracefully instead of NPE-ing on getDouble — both keys absent
    // (or empty input) → plain write; one absent → 1-D clustering on
    // the surviving key, which is the best layout available
    (r.isNullAt(0), r.isNullAt(2)) match {
      case (true, true) =>
        df.write.mode("overwrite").parquet(dir)
        return
      case (true, false) =>
        clusteredWrite(df, dir, colB, nFiles)
        return
      case (false, true) =>
        clusteredWrite(df, dir, colA, nFiles)
        return
      case _ => ()
    }
    def lv(i: Int): Double = r.getDouble(i)
    def norm(c: String, lo: Double, hi: Double) =
      if (hi > lo)
        ((col(c).cast("double") - lo) / (hi - lo) * 65535.0).cast("long")
      else lit(0L)
    df.withColumn("__z", graft.functions.LayoutExpressions.morton(
        norm(colA, lv(0), lv(1)), norm(colB, lv(2), lv(3))))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }

  /** Bucketed fact layout — the exchange-elimination lever for
    * REPEATED fact-to-fact joins (q191's header/detail
    * reconciliation, any lineitem⋈orders): both tables are written
    * bucketBy+sortBy on the join key into the session catalog, so
    * every equi-join AND key-grouped aggregate on orderkey plans with
    * zero shuffle exchanges (BucketingSpec locks the physics; its
    * q191-twin test locks this API end to end). Bucket counts MUST
    * match across the pair or Spark re-shuffles one side. At 100 TB
    * the write pays its shuffle ONCE and every downstream join reads
    * the layout back for free; `buckets` sizes per-bucket files to
    * executor memory (32 suits the local SFs — a cluster deployment
    * scales it with data volume, not executor count). */
  def writeBucketedFacts(spark: SparkSession, sfDir: String,
      buckets: Int = 32,
      liTable: String = "lineitem_bucketed",
      oTable: String = "orders_bucketed"): Unit = {
    graft.Tables.lineitem(spark, sfDir).write
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(liTable)
    graft.Tables.orders(spark, sfDir).write
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(oTable)
  }

  /** The bucketed pair written by [[writeBucketedFacts]], as
    * (lineitem, orders). */
  def readBucketedFacts(spark: SparkSession,
      liTable: String = "lineitem_bucketed",
      oTable: String = "orders_bucketed"): (DataFrame, DataFrame) =
    (spark.table(liTable), spark.table(oTable))

  /** Z-order (Morton) bucketing of the order book on
    * (custkey, orderkey): the interleaved code's high bits partition
    * the 2-D key space into buckets whose rows are bounded in BOTH
    * dimensions — the layout contract behind [[zorderWrite]]'s 2-D
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

  val all: Map[String, QueryDef] = Map(
    "q84_zorder" -> q84Zorder,
    "q169_zorder_layout" -> q169ZorderLayout,
    "q174_bloom_index" -> q174BloomIndex,
    "q179_encoding_profile" -> q179EncodingProfile,
    "q211_hilbert_layout" -> q211HilbertLayout
  )
}
