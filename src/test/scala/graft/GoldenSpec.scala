package graft

import graft.etl._
import org.apache.spark.sql.functions._

/** End-to-end golden values (SURVEY §5.2): the deterministic fixture
  * pipeline must keep producing these exact numbers. Goldens were
  * computed from the seeded generator (seed 42, 5 devices × 100 rows,
  * pinned instant) — regenerate only deliberately.
  */
class GoldenSpec extends SparkSpec {

  private lazy val cfg = EtlConfig(
    referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(6 * 3600)))
  private lazy val silver = BronzeToSilver.run(
    Fixtures.bronzeTelemetry(spark, nDevices = 5, rowsPerDevice = 100),
    Fixtures.deviceCatalog(spark, 5), cfg).cache()

  test("golden: silver layer invariants are stable across refactors") {
    assert(silver.count() == 500)
    val agg = silver.agg(
      bround(sum("energy_consumption_wh"), 3).as("wh"),
      bround(avg("temperature"), 3).as("t"),
      countDistinct("device_id").as("d")).head()
    // pinned seed ⇒ pinned sums; any transform change that alters
    // semantics moves these
    val wh = agg.getDouble(0)
    val t = agg.getDouble(1)
    assert(agg.getLong(2) == 5)
    assert(wh > 0 && t > 15 && t < 30)
    // lock exact values (printed once, then frozen):
    assert(math.abs(wh - 106.182) < 1e-9, s"wh=$wh")
    assert(math.abs(t - 24.602) < 1e-9, s"t=$t")
  }

  test("golden: gold daily energy exact row for device_001") {
    val daily = SilverToGold.dailyEnergyConsumption(silver, cfg)
    val r = daily.filter(col("device_id") === "device_001").head()
    val sumWh = r.getAs[Double]("energy_consumption_wh_sum")
    val cost = r.getAs[Double]("energy_cost_estimate")
    assert(r.getAs[Long]("total_readings") == 100)
    // cost formula consistency, frozen value
    assert(math.abs(cost -
      BigDecimal(sumWh / 1000 * 0.12)
        .setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble) < 1e-9)
    assert(math.abs(sumWh - 70.043) < 1e-9, s"sumWh=$sumWh")
  }
}
