package graft.operators

/** DuckDB oracle SQL for the smart-home medallion pipeline (q60-q63).
  *
  * The driver's correctness gate compares Spark output against DuckDB
  * running this SQL over the SAME deterministic bronze fixture, which
  * `graft.Verify` writes to [[fixtureDir]] before dumping query
  * results. The SQL re-derives BronzeToSilver + SilverToGold
  * (consumer/bronze_to_silver.py:112-275, silver_to_gold.py:83-275 in
  * the reference) from bronze, so a hash match is an end-to-end proof
  * of the medallion semantics — not a file round-trip.
  *
  * Cross-engine float parity (see q5's contract note, extended here):
  *
  *   - Order-sensitive sums/means: Spark folds doubles sequentially —
  *     windows in frame order, partial aggregates in partition row
  *     order (each device lives in one partition post-window-shuffle,
  *     rows sorted by (device_id, ts)). DuckDB's default sum/avg use
  *     different association (segment trees, parallel merges), so the
  *     oracle reproduces Spark's exact fold with
  *     `list_reduce(list(x ORDER BY ts), (a,b) -> a+b)` — bitwise
  *     identical left-to-right double addition.
  *   - `bround`: Spark rounds HALF_EVEN on the SHORTEST DECIMAL REPR
  *     of the double (Catalyst RoundBase goes through
  *     `BigDecimal.valueOf`, i.e. `Double.toString`). DuckDB's
  *     `round`/`round_even` operate on the binary value and flip at
  *     decimal ties (round(0.9985, 3) = 0.999 vs bround = 0.998).
  *     Ties are COMMON here — means of 0.1-grained quality scores are
  *     multiples of 1/2000 — so [[duckBround]] replicates Spark
  *     exactly: VARCHAR cast (shortest repr, same as Double.toString
  *     for these magnitudes) → exact DECIMAL → manual half-even CASE.
  *   - Everything else (single divisions, comparison chains, CASE
  *     subtraction chains) is written in the same left-associated op
  *     order as the Scala code, so both engines execute the identical
  *     IEEE op sequence. All float literals are ::DOUBLE-cast — bare
  *     DuckDB literals parse as DECIMAL and would compute exactly
  *     where Spark accumulates binary error.
  *
  * The q63 global aggregates span multiple partitions in Spark (merge
  * order nondeterministic), so SmartHomeOps feeds
  * `coalesce(1).sortWithinPartitions(device_id)` inputs to pin the
  * fold order the oracle mirrors with ORDER BY device_id.
  */
object SmartHomeOracle {

  /** Where Verify writes the deterministic bronze fixture for the
    * driver's DuckDB process to read. Absolute (resolved from the
    * launch directory, overridable via -Dgraft.fixture.dir) so the
    * oracle SQL works regardless of the checker's working directory;
    * under target/ so it is never committed. The oracle SQL strings
    * embed the path at class-init inside the same JVM that writes the
    * fixtures, so the dumped oracle_sql.json always points where that
    * run actually wrote. */
  val fixtureDir: String = sys.props.getOrElse("graft.fixture.dir",
    new java.io.File("target/verify_fixtures").getAbsolutePath)

  private val bronzeGlob = s"$fixtureDir/smarthome_bronze.parquet/*.parquet"
  private val catalogGlob = s"$fixtureDir/device_catalog.parquet/*.parquet"

  /** Spark `bround(e, n)` ≡ HALF_EVEN at scale n on the shortest
    * decimal representation, computed in exact DECIMAL arithmetic. */
  private def duckBround(e: String, n: Int): String = {
    val k = "1" + "0" * n
    val y = s"(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,20)) * $k)"
    s"""(CAST((CASE WHEN ($y - floor($y)) > 0.5 THEN floor($y) + 1
       |  WHEN ($y - floor($y)) < 0.5 THEN floor($y)
       |  WHEN CAST(floor($y) AS BIGINT) % 2 = 0 THEN floor($y)
       |  ELSE floor($y) + 1 END) AS DOUBLE) / $k)""".stripMargin
  }

  /** Sequential left fold of doubles in ts order — Spark's partial-agg
    * accumulation order within a device's (sorted, single-partition)
    * rows. */
  private def foldSum(e: String, ord: String = "ts"): String =
    s"list_reduce(list(($e) ORDER BY $ord), (a,b) -> a + b)"

  private def foldAvg(e: String, cnt: String, ord: String = "ts"): String =
    s"(${foldSum(e, ord)} / CAST($cnt AS DOUBLE))"

  private val boolDouble: String => String =
    c => s"CASE WHEN $c THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END"

  /** Bronze → Silver as CTEs (bronze_to_silver.py:112-275 semantics,
    * mirroring graft.etl.BronzeToSilver stage for stage). */
  private val silverCte: String =
    s"""WITH bronze AS (
       |  SELECT * FROM read_parquet('$bronzeGlob')
       |), cat AS (
       |  SELECT device_id, location AS location_c, installation_date,
       |         manufacturer AS manufacturer_c, model AS model_c
       |  FROM read_parquet('$catalogGlob')
       |), parsed AS (
       |  SELECT *, TRY_CAST("timestamp" AS TIMESTAMP) AS ts FROM bronze
       |), dedup AS (
       |  SELECT * EXCLUDE (rn) FROM (
       |    SELECT *, row_number() OVER (PARTITION BY device_id, ts) AS rn
       |    FROM parsed) WHERE rn = 1
       |), clean AS (
       |  SELECT * FROM dedup
       |  WHERE device_id IS NOT NULL AND device_type IS NOT NULL
       |    AND user_id IS NOT NULL AND ts IS NOT NULL
       |    AND temperature BETWEEN -50 AND 100
       |    AND power_usage BETWEEN 0 AND 10000
       |    AND energy_consumption_wh >= 0
       |), scored AS (
       |  SELECT *,
       |    1.0::DOUBLE
       |      - (CASE WHEN location IS NULL THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END)
       |      - (CASE WHEN manufacturer IS NULL THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END)
       |      - (CASE WHEN model IS NULL THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END)
       |      - (CASE WHEN temperature < 0.0::DOUBLE OR temperature > 50.0::DOUBLE
       |              THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END)
       |      - (CASE WHEN power_usage > 5000.0::DOUBLE
       |              THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END) AS quality_score
       |  FROM clean
       |), enr AS (
       |  SELECT s.*, c.installation_date,
       |    date_diff('day', c.installation_date, CAST(s.ts AS DATE))
       |      AS device_age_days,
       |    date_diff('second', s.ts, TRY_CAST(s.ingestion_time AS TIMESTAMP))
       |      / 3600.0::DOUBLE AS processing_delay_hours
       |  FROM scored s LEFT JOIN cat c ON s.device_id = c.device_id
       |), silver AS (
       |  SELECT *,
       |    quality_score >= 0.5::DOUBLE AS is_valid,
       |    processing_delay_hours > 48 AS is_late_event,
       |    (list_reduce(list(temperature) OVER w, (a,b) -> a + b)
       |      / CAST(count(temperature) OVER w AS DOUBLE)) AS temp_1h_avg,
       |    (list_reduce(list(power_usage) OVER w, (a,b) -> a + b)
       |      / CAST(count(power_usage) OVER w AS DOUBLE)) AS power_1h_avg,
       |    CASE WHEN power_usage > 0 THEN energy_consumption_wh / power_usage
       |         ELSE 0.0::DOUBLE END AS energy_efficiency,
       |    sum(${boolDouble("alert <> 'none'")}) OVER w AS alert_frequency_1h
       |  FROM enr
       |  WINDOW w AS (PARTITION BY device_id, CAST(ts AS DATE) ORDER BY ts
       |               ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
       |)""".stripMargin

  val q60Sql: String =
    s"""$silverCte
       |SELECT device_id, ts AS "timestamp", temperature, power_usage,
       |  quality_score, is_valid, device_age_days, processing_delay_hours,
       |  is_late_event, temp_1h_avg, power_1h_avg, energy_efficiency,
       |  alert_frequency_1h
       |FROM silver""".stripMargin

  /** Daily energy rollup CTEs shared by q61 and q63
    * (silver_to_gold.py:83-128). */
  private val dailyCte: String =
    s""", dailyraw AS (
       |  SELECT device_id, device_type, user_id, CAST(ts AS DATE) AS "date",
       |    ${foldSum("energy_consumption_wh")} AS e_sum,
       |    count(energy_consumption_wh) AS cnt,
       |    max(energy_consumption_wh) AS e_max,
       |    ${foldSum("power_usage")} AS p_sum,
       |    max(power_usage) AS p_max,
       |    ${foldSum("temperature")} AS t_sum,
       |    min(temperature) AS t_min,
       |    max(temperature) AS t_max,
       |    ${foldSum("quality_score")} AS q_sum,
       |    ${foldSum(boolDouble("is_valid"))} AS v_sum,
       |    max(alert_frequency_1h) AS af_max
       |  FROM silver GROUP BY 1, 2, 3, 4
       |), daily AS (
       |  SELECT device_id, device_type, user_id, "date",
       |    ${duckBround("e_sum", 3)} AS energy_consumption_wh_sum,
       |    ${duckBround("e_sum / CAST(cnt AS DOUBLE)", 3)} AS energy_consumption_wh_mean,
       |    ${duckBround("e_max", 3)} AS energy_consumption_wh_max,
       |    cnt AS energy_consumption_wh_count,
       |    ${duckBround("p_sum / CAST(cnt AS DOUBLE)", 3)} AS power_usage_mean,
       |    ${duckBround("p_max", 3)} AS power_usage_max,
       |    ${duckBround("t_sum / CAST(cnt AS DOUBLE)", 3)} AS temperature_mean,
       |    ${duckBround("t_min", 3)} AS temperature_min,
       |    ${duckBround("t_max", 3)} AS temperature_max,
       |    ${duckBround("q_sum / CAST(cnt AS DOUBLE)", 3)} AS quality_score_mean,
       |    ${duckBround("v_sum / CAST(cnt AS DOUBLE)", 3)} AS is_valid_mean,
       |    ${duckBround("af_max", 3)} AS alert_frequency_1h_max
       |  FROM dailyraw
       |), daily2 AS (
       |  SELECT *,
       |    ${duckBround("energy_consumption_wh_sum / 1000 * 0.12::DOUBLE", 2)}
       |      AS energy_cost_estimate,
       |    ${duckBround("CASE WHEN power_usage_mean > 0 " +
                         "THEN energy_consumption_wh_mean / power_usage_mean " +
                         "ELSE 0.0::DOUBLE END", 3)} AS avg_efficiency,
       |    ${duckBround("is_valid_mean * 100", 1)} AS data_completeness,
       |    energy_consumption_wh_count AS total_readings
       |  FROM daily
       |)""".stripMargin

  val q61Sql: String =
    s"""$silverCte$dailyCte
       |SELECT * FROM daily2""".stripMargin

  /** Device health CTEs shared by q62 and q63
    * (silver_to_gold.py:131-206). */
  private val healthCte: String =
    s""", dhraw AS (
       |  SELECT device_id, device_type,
       |    ${foldSum("quality_score")} AS q_sum,
       |    ${foldSum(boolDouble("is_valid"))} AS v_sum,
       |    ${foldSum("alert_frequency_1h")} AS af_sum,
       |    ${foldSum("processing_delay_hours")} AS pd_sum,
       |    ${foldSum(boolDouble("is_late_event"))} AS late_sum,
       |    count(ts) AS ts_cnt, min(ts) AS ts_min, max(ts) AS ts_max
       |  FROM silver GROUP BY 1, 2
       |), dhmeans AS (
       |  SELECT device_id, device_type, ts_cnt, ts_min, ts_max,
       |    ${duckBround("q_sum / CAST(ts_cnt AS DOUBLE)", 3)} AS quality_score_mean,
       |    ${duckBround("v_sum / CAST(ts_cnt AS DOUBLE)", 3)} AS is_valid_mean,
       |    ${duckBround("af_sum / CAST(ts_cnt AS DOUBLE)", 3)} AS alert_frequency_1h_mean,
       |    ${duckBround("pd_sum / CAST(ts_cnt AS DOUBLE)", 3)} AS processing_delay_hours_mean,
       |    ${duckBround("late_sum / CAST(ts_cnt AS DOUBLE)", 3)} AS is_late_event_mean
       |  FROM dhraw
       |), dhh AS (
       |  SELECT *,
       |    ${duckBround(
             "quality_score_mean * 0.4::DOUBLE + is_valid_mean * 0.3::DOUBLE" +
             " + (1 - is_late_event_mean) * 0.2::DOUBLE" +
             " + (1 - least(alert_frequency_1h_mean / 10, 1.0::DOUBLE)) * 0.1::DOUBLE",
             3)} AS health_score
       |  FROM dhmeans
       |), dh AS (
       |  SELECT device_id, device_type, health_score,
       |    ${duckBround(
             "least((1 - health_score) * 0.7::DOUBLE" +
             " + alert_frequency_1h_mean / 20 + is_late_event_mean * 0.3::DOUBLE," +
             " 1.0::DOUBLE)", 3)} AS failure_probability,
       |    ${duckBround(
             "is_valid_mean * 0.6::DOUBLE + (1 - is_late_event_mean) * 0.4::DOUBLE",
             3)} AS data_reliability,
       |    CAST(${duckBround("alert_frequency_1h_mean * ts_cnt / 60", 0)}
       |         AS INTEGER) AS total_alerts,
       |    CASE WHEN date_diff('second', ts_min, ts_max) / 60.0::DOUBLE > 0
       |      THEN ${duckBround(
               "least(ts_cnt / (date_diff('second', ts_min, ts_max) / 60.0::DOUBLE)" +
               " * 100, 100.0::DOUBLE)", 1)}
       |      ELSE 100.0::DOUBLE END AS uptime_percentage,
       |    TIMESTAMP '2025-07-15 06:00:00' AS created_at
       |  FROM dhh
       |)""".stripMargin

  val q62Sql: String =
    s"""$silverCte$healthCte
       |SELECT * FROM dh""".stripMargin

  /** silver_to_gold.py:208-275 — per-date rollup of daily energy with
    * health global means attached to every row. Fold order is
    * device_id, matching the coalesce(1)+sortWithinPartitions feed in
    * SmartHomeOps.q63. */
  /** J3 billing reconciliation (q65): metered energy per (user, month)
    * from the daily gold rollup vs the billed totals. The billing dim
    * is dumped by Verify (SF-independent); fold order is device_id,
    * matching the pinned feed in SmartHomeOps.q65. */
  val q65Sql: String =
    s"""$silverCte$dailyCte, billing AS (
       |  SELECT * FROM read_parquet('$fixtureDir/billing.parquet/*.parquet')
       |), metered AS (
       |  SELECT user_id, strftime("date", '%Y-%m') AS billing_period,
       |    ${duckBround(foldSum("energy_consumption_wh_sum",
                         "device_id, \"date\"") + " / 1000", 3)} AS metered_kwh,
       |    ${duckBround(foldSum("energy_cost_estimate", "device_id, \"date\""), 2)}
       |      AS metered_cost
       |  FROM daily2 GROUP BY 1, 2
       |)
       |SELECT m.user_id, m.billing_period, m.metered_kwh, m.metered_cost,
       |  b.total_usage_kwh AS billed_kwh,
       |  b.total_cost AS billed_cost,
       |  CASE WHEN b.total_usage_kwh IS NOT NULL
       |    THEN ${duckBround("m.metered_kwh - b.total_usage_kwh", 3)} END
       |    AS kwh_delta,
       |  CASE WHEN b.total_cost IS NOT NULL
       |    THEN ${duckBround(
               "m.metered_cost + coalesce(b.base_charge, 0.0::DOUBLE)" +
               " - b.total_cost", 2)} END AS cost_delta
       |FROM metered m LEFT JOIN billing b
       |  ON m.user_id = b.user_id AND m.billing_period = b.billing_period""".stripMargin

  /** Dashboard panel layer (q64): every panel re-derived over the
    * silver/daily/health CTEs and unpivoted to (panel, metric, value)
    * — today's KPIs, the silver 24 h fallback numbers, energy by
    * device type, the health gauge, alert distribution, and the A8
    * kpi-chain (which resolves to the gold-today branch on this
    * fixture, health gauge attached unrounded). Fold orders match the
    * pinned single-partition feeds in SmartHomeOps.q64. */
  val q64Sql: String =
    s"""$silverCte$dailyCte$healthCte, tk AS (
       |  SELECT
       |    ${duckBround(foldSum("energy_consumption_wh_sum",
                         "device_id, \"date\"") + " / 1000", 2)} AS kwh,
       |    ${duckBround(foldSum("energy_cost_estimate",
                         "device_id, \"date\""), 2)} AS cost,
       |    count(DISTINCT device_id) AS dev
       |  FROM daily2 WHERE "date" = DATE '2025-07-15'
       |), l24 AS (
       |  SELECT
       |    ${duckBround(foldSum("energy_consumption_wh",
                         "device_id, ts") + " / 1000", 2)} AS kwh,
       |    ${duckBround(foldSum("energy_consumption_wh", "device_id, ts") +
                         " / 1000 * 0.12::DOUBLE", 2)} AS cost,
       |    count(DISTINCT device_id) AS dev
       |  FROM silver WHERE ts >= TIMESTAMP '2025-07-14 06:00:00'
       |), ebt AS (
       |  SELECT device_type,
       |    ${duckBround(foldSum("energy_consumption_wh_sum",
                         "device_id, \"date\"") + " / 1000", 3)} AS kwh
       |  FROM daily2 GROUP BY 1
       |), hgr AS (
       |  SELECT
       |    ${foldSum("health_score", "device_id")} AS h_sum,
       |    ${foldSum("failure_probability", "device_id")} AS f_sum,
       |    count(*) AS cnt,
       |    CAST(sum(total_alerts) AS DOUBLE) AS alerts
       |  FROM dh
       |), al AS (
       |  SELECT alert, count(*) AS n, count(DISTINCT device_id) AS nd
       |  FROM silver WHERE alert <> 'none' GROUP BY 1
       |)
       |SELECT 'kpi_chain' AS panel, 'total_energy_kwh' AS metric, kwh AS value FROM tk
       |UNION ALL SELECT 'kpi_chain', 'total_cost', cost FROM tk
       |UNION ALL SELECT 'kpi_chain', 'active_devices', CAST(dev AS DOUBLE) FROM tk
       |UNION ALL SELECT 'kpi_chain', 'avg_health',
       |  (h_sum / CAST(cnt AS DOUBLE)) * 100 FROM hgr
       |UNION ALL SELECT 'today_kpis', 'total_energy_kwh', kwh FROM tk
       |UNION ALL SELECT 'today_kpis', 'total_cost', cost FROM tk
       |UNION ALL SELECT 'today_kpis', 'active_devices', CAST(dev AS DOUBLE) FROM tk
       |UNION ALL SELECT 'last24h_kpis', 'total_energy_kwh', kwh FROM l24
       |UNION ALL SELECT 'last24h_kpis', 'total_cost', cost FROM l24
       |UNION ALL SELECT 'last24h_kpis', 'active_devices', CAST(dev AS DOUBLE) FROM l24
       |UNION ALL SELECT 'energy_by_type', device_type, kwh FROM ebt
       |UNION ALL SELECT 'health_gauge', 'avg_health_score',
       |  ${duckBround("h_sum / CAST(cnt AS DOUBLE)", 3)} FROM hgr
       |UNION ALL SELECT 'health_gauge', 'avg_failure_risk',
       |  ${duckBround("f_sum / CAST(cnt AS DOUBLE)", 3)} FROM hgr
       |UNION ALL SELECT 'health_gauge', 'total_alerts', alerts FROM hgr
       |UNION ALL SELECT 'alerts', alert || '/n', CAST(n AS DOUBLE) FROM al
       |UNION ALL SELECT 'alerts', alert || '/n_devices', CAST(nd AS DOUBLE) FROM al""".stripMargin

  /** Multimodal pipeline rollup (q66) from the dumped decode output:
    * the oracle re-derives the resize arithmetic (identical IEEE op
    * sequence: 256/max side as double, ceil of the scaled dim — the
    * quotient and products are computed by the same ops in both
    * engines, so the ceil boundary cases agree bitwise), the 5 s frame
    * sampling (count = trunc(duration/5000)+1), and the group-by. */
  val q66Sql: String =
    s"""WITH dec AS (
       |  SELECT * FROM read_parquet('$fixtureDir/sf___SFTAG__/decoded_media.parquet/*.parquet')),
       |r AS (
       |  -- resized dims under fresh names: DuckDB's lateral column
       |  -- aliasing would otherwise resolve `width` inside the height
       |  -- expression to the just-computed alias, not dec's column
       |  SELECT media_id, duration_ms,
       |    least(256, CAST(ceil(width * sc) AS INTEGER)) AS new_w,
       |    least(256, CAST(ceil(height * sc) AS INTEGER)) AS new_h
       |  FROM (SELECT *, least(1.0::DOUBLE,
       |          256 / CAST(greatest(width, height) AS DOUBLE)) AS sc
       |        FROM dec WHERE kind = 'video'))
       |SELECT media_id, new_w AS width, new_h AS height,
       |  CAST(floor(duration_ms / 5000.0) AS BIGINT) + 1 AS n_frames,
       |  CAST(CAST(floor(duration_ms / 5000.0) AS BIGINT) * 5000 AS INTEGER)
       |    AS last_frame_ms
       |FROM r""".stripMargin

  val q63Sql: String =
    s"""$silverCte$dailyCte$healthCte, summraw AS (
       |  SELECT "date",
       |    ${foldSum("energy_consumption_wh_sum", "device_id")} AS te_sum,
       |    ${foldSum("energy_cost_estimate", "device_id")} AS tc_sum,
       |    count(DISTINCT device_id) AS active_devices,
       |    count(DISTINCT user_id) AS active_users,
       |    ${foldSum("data_completeness", "device_id")} AS dq_sum,
       |    count(data_completeness) AS dq_cnt,
       |    CAST(sum(total_readings) AS BIGINT) AS total_data_points
       |  FROM daily2 GROUP BY 1
       |), summ AS (
       |  SELECT "date",
       |    ${duckBround("te_sum", 2)} AS total_energy_wh,
       |    ${duckBround("tc_sum", 2)} AS total_cost_estimate,
       |    active_devices, active_users,
       |    ${duckBround("dq_sum / CAST(dq_cnt AS DOUBLE)", 2)} AS avg_data_quality,
       |    total_data_points
       |  FROM summraw
       |), summ2 AS (
       |  SELECT *, ${duckBround("total_energy_wh / 1000", 3)} AS total_energy_kwh
       |  FROM summ
       |), hg AS (
       |  SELECT
       |    ${duckBround("h_sum / CAST(h_cnt AS DOUBLE)", 3)} AS avg_device_health,
       |    ${duckBround("f_sum / CAST(h_cnt AS DOUBLE)", 3)} AS avg_failure_risk,
       |    CAST(a_sum AS DOUBLE) AS total_alerts
       |  FROM (SELECT
       |    ${foldSum("health_score", "device_id")} AS h_sum,
       |    ${foldSum("failure_probability", "device_id")} AS f_sum,
       |    count(health_score) AS h_cnt,
       |    sum(total_alerts) AS a_sum
       |  FROM dh)
       |)
       |SELECT s."date", s.total_energy_wh, s.total_cost_estimate,
       |  s.active_devices, s.active_users, s.avg_data_quality,
       |  s.total_data_points, s.total_energy_kwh,
       |  hg.avg_device_health, hg.avg_failure_risk, hg.total_alerts,
       |  ${duckBround("CASE WHEN s.total_energy_kwh > 0 " +
                       "THEN s.total_cost_estimate / s.total_energy_kwh " +
                       "ELSE 0.0::DOUBLE END", 3)} AS cost_per_kwh,
       |  TIMESTAMP '2025-07-15 06:00:00' AS created_at
       |FROM summ2 s CROSS JOIN hg""".stripMargin
}
