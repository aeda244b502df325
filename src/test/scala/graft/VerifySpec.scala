package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Locks Verify's per-SF fixture tag derivation: the sfDir path is
  * normalized BEFORE the tag is computed, so a trailing-slash (or
  * `//`, `/./`) driver invocation names the SAME fixture dir as the
  * canonical spelling — an un-normalized tag would silently point the
  * DuckDB oracle at a stale per-SF fixture (round-9 verdict, "What's
  * wrong" #3). Pure string derivation — no SparkSession needed.
  *
  * Also locks what Verify shares with Bench and the other mains: the
  * one session factory and the timing protocol. */
class VerifySpec extends SparkSpec {

  test("sfTagOf is invariant under trailing slash and redundant elements") {
    val canonical = Verify.sfTagOf("/root/testdata/sf0.01")
    assert(canonical == "_root_testdata_sf0.01")
    assert(Verify.sfTagOf("/root/testdata/sf0.01/") == canonical)
    assert(Verify.sfTagOf("/root/testdata//sf0.01") == canonical)
    assert(Verify.sfTagOf("/root/testdata/./sf0.01/") == canonical)
  }

  test("sfTagOf keeps distinct SFs distinct") {
    assert(Verify.sfTagOf("/root/testdata/sf0.01") !=
      Verify.sfTagOf("/root/testdata/sf0.1"))
  }

  test("every main runs on GraftSession, whose conf is Bench's") {
    val conf = GraftSession.conf.toMap
    assert(conf("spark.sql.shuffle.partitions") == GraftSession.cpus.toString)
    assert(conf("spark.sql.files.maxPartitionBytes") == "8m")
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    if (!sys.env.contains("SPARK_MASTER"))
      assert(GraftSession.master == s"local[${GraftSession.cpus}]")
    // no main may build a session of its own: the factory is the one
    // builder site, and each main calls it
    val main = Paths.get("src/main/scala")
    val sources = Files.walk(main).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".scala"))
      .map(f => f -> new String(Files.readAllBytes(Paths.get(f)), "UTF-8"))
      .toMap
    assert(sources.collect { case (f, t) if t.contains("SparkSession.builder") =>
      f }.toSeq == Seq("src/main/scala/graft/GraftSession.scala"))
    Seq("Bench", "Verify", "ExplainAudit", "Scale", "EntrySmoke",
        "etl/EtlRunner").foreach { m =>
      assert(sources(s"src/main/scala/graft/$m.scala")
        .contains("GraftSession.create()"), m)
    }
  }

  test("the reported median is the lower middle for even n") {
    assert(Timing.medianOf(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Timing.medianOf(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Timing.medianOf(Seq(5.0)) == 5.0)
  }

  test("a query with any failed run reports -1 and its caches are swept") {
    var run = 0
    val failed = Timing.time(spark, "planted_failure", 3) {
      run += 1
      spark.range(10).cache().count()
      if (run == 2) sys.error("planted")
    }
    assert(run == 3)
    assert(failed == Timing.Timed(-1.0, -1.0))
    assert(Timing.fmt(failed.median) == "-1")
    assert(CacheHygiene.isClean(spark))
    val ok = Timing.time(spark, "ok", 3) { val _ = spark.range(10).count() }
    assert(ok.median >= ok.min && ok.min >= 0)
    assert(Timing.fmt(1.5) == "1.50")
  }

  test("the budget helper keeps a strict prefix and counts the rest") {
    // each entry costs its length plus one separator char
    assert(Timing.keepWithin(Seq("aaa", "bb", "c"), 7) ==
      (Seq("aaa", "bb"), 1))
    // "c" would fit after the too-long "bbbbbb", but a strict prefix
    // stops at the first entry that does not
    assert(Timing.keepWithin(Seq("aaa", "bbbbbb", "c"), 7) ==
      (Seq("aaa"), 2))
    assert(Timing.keepWithin(Seq("aaa", "bb"), Int.MaxValue) ==
      (Seq("aaa", "bb"), 0))
    assert(Timing.keepWithin(Seq.empty, 10) == (Seq.empty, 0))
  }
}
