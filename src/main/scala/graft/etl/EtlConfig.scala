package graft.etl

import java.time.Instant

/** Engine configuration: the reference's constants
  * (config/config.py:40-89), and the one setting a caller chooses.
  *
  * `referenceInstant`: every `now()`-anchored computation (lookback
  * windows, created_at stamps — SURVEY §7.5.5) flows through this so
  * jobs are reproducible; None means wall clock.
  */
final case class EtlConfig(referenceInstant: Option[Instant] = None) {
  val energyRatePerKwh: Double = 0.12 // config.py:46 ENERGY_RATE_PER_KWH
  val watermarkHours: Int = 48 // bronze_to_silver.py:213 detect_late_events
  val rollingWindowRows: Int = 60 // bronze_to_silver.py:249 rolling(window=60)
  val tempRangeMin: Double = -50 // bronze_to_silver.py:140 validation ranges
  val tempRangeMax: Double = 100
  val powerRangeMax: Double = 10000
  val extremeTempLow: Double = 0 // bronze_to_silver.py:159 quality penalties
  val extremeTempHigh: Double = 50
  val extremePower: Double = 5000
  val validQualityThreshold: Double = 0.5 // bronze_to_silver.py:168

  def now: Instant = referenceInstant.getOrElse(Instant.now())
}
