package graft.etl

import graft.SparkSpec

class EtlRunnerSpec extends SparkSpec {

  test("a pass's counts come from its writes and match the tables on disk") {
    val lake = java.nio.file.Files.createTempDirectory("graft-etl-pass").toString
    val cfg = EtlConfig(
      referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(2 * 3600)))
    Lake.writeBronze(
      Fixtures.bronzeTelemetry(spark, nDevices = 4, rowsPerDevice = 60, dirty = true),
      lake)
    val counts = EtlRunner.pass(spark, lake, Fixtures.deviceCatalog(spark, 4), cfg,
      hoursBack = 24, daysBack = 7)
    assert(counts.map(_._1) == Seq("bronze", "silver", "gold_daily_energy",
      "gold_device_health", "gold_business_summary"))
    def onDisk(table: String) = spark.read.parquet(s"$lake/gold/$table").count()
    val byLayer = counts.toMap
    assert(byLayer == Map(
      "bronze" -> Lake.readBronze(spark, lake, 24, cfg).count(),
      "silver" -> Lake.readSilver(spark, lake, 7, cfg).count(),
      "gold_daily_energy" -> onDisk("daily_energy_consumption"),
      "gold_device_health" -> onDisk("device_health_metrics"),
      "gold_business_summary" -> onDisk("daily_business_summary")))
    // 4 × 60 clean rows plus 3 dirty survivors (one of them from a
    // fifth device, so health has 5 rows)
    assert(byLayer("silver") == 4 * 60 + 3)
    assert(byLayer("gold_device_health") == 5)
  }

  test("a pass over an empty lake counts nothing") {
    val lake = java.nio.file.Files.createTempDirectory("graft-etl-empty").toString
    val cfg = EtlConfig(
      referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(2 * 3600)))
    val counts = EtlRunner.pass(spark, lake, Fixtures.deviceCatalog(spark, 4), cfg,
      hoursBack = 24, daysBack = 7)
    assert(counts == Seq("bronze" -> 0L, "silver" -> 0L, "gold_daily_energy" -> 0L,
      "gold_device_health" -> 0L, "gold_business_summary" -> 0L))
  }

  test("the flag parser rejects what it does not know") {
    assert(EtlRunner.parse(Seq("--fixtures", "--hours-back", "2", "--compact")) ==
      Some(Map("--fixtures" -> "true", "--hours-back" -> "2", "--compact" -> "true")))
    assert(EtlRunner.parse(Seq("--hours-bak", "2")).isEmpty, "a misspelt flag")
    assert(EtlRunner.parse(Seq("--days-back")).isEmpty, "a flag without its value")
    assert(EtlRunner.parse(Seq("--lake", "/tmp/x", "stray")).isEmpty, "a stray value")
    assert(EtlRunner.options(Seq("--hours-back", "2")).map(_.hoursBack).contains(2))
    assert(EtlRunner.options(Seq("--hours-back", "x")).isEmpty, "a number that does not parse")
    assert(EtlRunner.options(Seq("--at", "nope")).isEmpty, "an instant that does not parse")
    Seq("--lake", "--fixtures", "--devices", "--rows-per-device", "--catalog-csv",
      "--hours-back", "--days-back", "--at", "--interval-seconds", "--iterations",
      "--compact", "--compact-target-mb").foreach(f => assert(EtlRunner.Usage.contains(f), f))
  }
}
