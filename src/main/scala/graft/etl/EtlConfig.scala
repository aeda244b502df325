package graft.etl

import java.time.Instant

/** Engine configuration, defaults mirroring the reference's
  * config/config.py:40-89.
  *
  * `referenceInstant`: every `now()`-anchored computation (lookback
  * windows, created_at stamps — SURVEY §7.5.5) flows through this so
  * jobs are reproducible; None means wall clock.
  */
final case class EtlConfig(
    energyRatePerKwh: Double = 0.12, // config.py:46 ENERGY_RATE_PER_KWH
    watermarkHours: Int = 48, // bronze_to_silver.py:213 detect_late_events
    rollingWindowRows: Int = 60, // bronze_to_silver.py:249 rolling(window=60)
    tempRangeMin: Double = -50, // bronze_to_silver.py:140 validation ranges
    tempRangeMax: Double = 100,
    powerRangeMax: Double = 10000,
    extremeTempLow: Double = 0, // bronze_to_silver.py:159 quality penalties
    extremeTempHigh: Double = 50,
    extremePower: Double = 5000,
    validQualityThreshold: Double = 0.5, // bronze_to_silver.py:168
    referenceInstant: Option[Instant] = None
) {
  def now: Instant = referenceInstant.getOrElse(Instant.now())
}
