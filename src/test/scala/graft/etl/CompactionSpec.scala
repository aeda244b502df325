package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {

  private def parquetFiles(dir: String): Map[String, Int] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { s =>
        s.getPath.getName ->
          fs.listStatus(s.getPath)
            .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }.toMap
  }

  test("compact collapses small files per partition, preserves content") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
      .toString + "/t"
    // 2 date partitions × 12 small files each (micro-batch residue)
    val rows = (1 to 2400).map(i =>
      (i.toLong, s"device_${i % 7}", java.sql.Date.valueOf(
        if (i % 2 == 0) "2025-07-01" else "2025-07-02")))
    rows.toDF("id", "device_id", "date")
      .repartition(12)
      .write.partitionBy("date").parquet(dir)
    val before = parquetFiles(dir)
    assert(before.values.forall(_ >= 10), before)
    val originalRows = spark.read.parquet(dir).collect().toSet

    // huge target size → every partition should compact to ONE file
    Lake.compact(spark, dir, targetBytes = 1L << 30)

    val after = parquetFiles(dir)
    assert(after.keySet == before.keySet, after)
    assert(after.values.forall(_ == 1), s"expected 1 file/partition: $after")
    assert(spark.read.parquet(dir).collect().toSet == originalRows)

    // idempotent: a second pass finds nothing worth rewriting (file
    // mtimes unchanged proves no rewrite happened)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def mtimes = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory)
      .flatMap(s => fs.listStatus(s.getPath).filter(_.isFile).map(_.getModificationTime))
      .toSeq.sorted
    val m1 = mtimes
    Lake.compact(spark, dir, targetBytes = 1L << 30)
    assert(mtimes == m1, "second compact pass must be a no-op")
  }

  test("compact splits by target size when a partition is oversized") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact2")
      .toString + "/t"
    val rows = (1 to 5000).map(i =>
      (i.toLong, "x" * 100, java.sql.Date.valueOf("2025-07-03")))
    rows.toDF("id", "payload", "date")
      .repartition(10)
      .write.partitionBy("date").parquet(dir)
    val bytes = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .filter(_.isDirectory)
        .flatMap(s => fs.listStatus(s.getPath).filter(_.isFile).map(_.getLen)).sum
    }
    // target = ~1/3 of the partition bytes → expect ceil(bytes/target)
    // ≈ 3-4 files, strictly fewer than the original 10
    Lake.compact(spark, dir, targetBytes = bytes / 3)
    val after = parquetFiles(dir)
    val n = after.values.head
    assert(n < 10 && n >= 2, after)
    assert(spark.read.parquet(dir).count() == 5000)
  }

  test("compact sizes each partition independently (mixed sizes reach a fixed point)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact3")
      .toString + "/t"
    // small partition (BYTES below the target → exactly 1 file) + big
    // partition (needs several): a GLOBAL salt would shred the small
    // one across the big one's file count and a second pass would
    // rewrite it again. The two are written separately so the small
    // one's on-disk bytes (parquet per-file overhead included) stay
    // under the big-derived target — the 1-file expectation must be
    // byte-true, not hash-luck
    (1 to 4000).map(i => (i.toLong, "x" * 100, java.sql.Date.valueOf("2025-08-02")))
      .toDF("id", "payload", "date")
      .repartition(10).write.partitionBy("date").parquet(dir)
    (1 to 200).map(i => (i.toLong, "x" * 100, java.sql.Date.valueOf("2025-08-01")))
      .toDF("id", "payload", "date")
      .repartition(3).write.mode("append").partitionBy("date").parquet(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val bigBytes = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/date=2025-08-02"))
      .filter(_.isFile).map(_.getLen).sum

    Lake.compact(spark, dir, targetBytes = bigBytes / 3)
    val after = parquetFiles(dir)
    assert(after("date=2025-08-01") == 1, after)
    assert(after("date=2025-08-02") >= 2 && after("date=2025-08-02") < 10, after)
    assert(spark.read.parquet(dir).count() == 4200)

    // Convergence: at toy sizes parquet's fixed per-file overhead
    // dominates the byte estimate, so the post-rewrite bytes shrink
    // and the target ceiling can shift once (at real MB-scale files
    // the estimate is stable and one pass suffices). Assert a fixed
    // point is reached by the second pass: the third must be a no-op.
    def mtimes = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory)
      .flatMap(s => fs.listStatus(s.getPath).filter(_.isFile).map(_.getModificationTime))
      .toSeq.sorted
    Lake.compact(spark, dir, targetBytes = bigBytes / 3)
    val m2 = mtimes
    Lake.compact(spark, dir, targetBytes = bigBytes / 3)
    assert(mtimes == m2, "third mixed-size compact pass must be a no-op")
    assert(parquetFiles(dir)("date=2025-08-01") == 1)
  }

  test("compact sizes by per-partition rows, not a global byte/row average") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact4")
      .toString + "/t"
    // wide-row partition (stays untouched: its target exceeds its file
    // count) + narrow-row partition targeting ONE file. A global
    // bytes/row estimate is dominated by the wide rows and would shred
    // the narrow partition into ~bytes/avgRow tiny files.
    val wide = (1 to 500).map(i =>
      (i.toLong, "w" * 1000, java.sql.Date.valueOf("2025-09-01")))
    val narrow = (1 to 2000).map(i =>
      (i.toLong, "n" * 10, java.sql.Date.valueOf("2025-09-02")))
    (wide ++ narrow).toDF("id", "payload", "date")
      .repartition(10)
      .write.partitionBy("date").parquet(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val narrowBytes = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/date=2025-09-02"))
      .filter(_.isFile).map(_.getLen).sum

    Lake.compact(spark, dir, targetBytes = narrowBytes)
    val after = parquetFiles(dir)
    assert(after("date=2025-09-02") == 1,
      s"narrow partition must compact to exactly one file: $after")
    assert(spark.read.parquet(dir).count() == 2500)
  }

  test("compact preserves columns added by schema evolution") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact5")
      .toString + "/t"
    // one partition, mixed footers: 8 old-schema files + 4 new-schema
    // files with an extra column — compaction must keep the union
    // schema, not whichever footer Spark samples first
    Seq.tabulate(800)(i => (i.toLong, "p", java.sql.Date.valueOf("2025-10-01")))
      .toDF("id", "payload", "date")
      .repartition(8).write.partitionBy("date").parquet(dir)
    Seq.tabulate(400)(i => (1000L + i, "p", 0.5, java.sql.Date.valueOf("2025-10-01")))
      .toDF("id", "payload", "score", "date")
      .repartition(4).write.mode("append").partitionBy("date").parquet(dir)

    Lake.compact(spark, dir, targetBytes = 1L << 30)
    assert(parquetFiles(dir)("date=2025-10-01") == 1)
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(back.columns.contains("score"),
      "evolved column must survive the rewrite")
    assert(back.count() == 1200)
    assert(back.filter(col("score").isNotNull).count() == 400)
  }

  test("compact layout is deterministic: same input twice ⇒ identical file layout") {
    import spark.implicits._
    // the salt is a content hash (pmod(xxhash64(data cols), nf)), not
    // monotonically_increasing_id — so two compactions of the same
    // rows must land every row in the same salt group and produce the
    // same per-file row counts. (Byte-identity is not asserted: row
    // ORDER within a salt group depends on shuffle fetch order, which
    // parquet encodes differently; the layout — file count and row
    // spread — is the retry/speculation-stability contract.)
    def build(tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-det-$tag")
        .toString + "/t"
      (1 to 5000).map(i => (i.toLong, "x" * 100, java.sql.Date.valueOf("2025-07-04")))
        .toDF("id", "payload", "date")
        .repartition(10).write.partitionBy("date").parquet(dir)
      dir
    }
    def layout(dir: String): Seq[Long] = spark.read.parquet(dir)
      .groupBy(input_file_name()).count()
      .collect().map(_.getLong(1)).toSeq.sorted
    val (d1, d2) = (build("a"), build("b"))
    val bytes = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(d1), spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$d1/date=2025-07-04"))
        .filter(_.isFile).map(_.getLen).sum
    }
    // a multi-file split (≈3 files) exercises the salt, not just a
    // coalesce-to-one
    Lake.compact(spark, d1, targetBytes = bytes / 3)
    Lake.compact(spark, d2, targetBytes = bytes / 3)
    val (l1, l2) = (layout(d1), layout(d2))
    assert(l1.length >= 2, s"split expected: $l1")
    assert(l1 == l2, s"layouts diverged: $l1 vs $l2")
  }

  test("compact skipHotPartitions leaves the newest partition untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hot")
      .toString + "/t"
    // 3 date partitions × 8 small files; the greatest date is the hot
    // one a concurrent micro-batch ingest would still be appending to
    val rows = (1 to 2400).map { i =>
      val d = Seq("2025-07-01", "2025-07-02", "2025-07-03")(i % 3)
      (i.toLong, s"device_${i % 7}", java.sql.Date.valueOf(d))
    }
    rows.toDF("id", "device_id", "date")
      .repartition(8).write.partitionBy("date").parquet(dir)
    val before = parquetFiles(dir)
    assert(before.values.forall(_ >= 6), before)

    Lake.compact(spark, dir, targetBytes = 1L << 30, skipHotPartitions = 1)

    val after = parquetFiles(dir)
    assert(after("date=2025-07-01") == 1 && after("date=2025-07-02") == 1, after)
    assert(after("date=2025-07-03") == before("date=2025-07-03"),
      s"hot partition must not be rewritten: $after")
    assert(spark.read.parquet(dir).count() == 2400)
  }

  test("clustered write: files carry disjoint key ranges for skipping") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cluster")
      .toString + "/t"
    val li = graft.Tables.lineitem(spark, sf("sf0.001"))
    graft.operators.LayoutOps.clusteredWrite(li, dir, "l_orderkey", nFiles = 8)

    val back = spark.read.parquet(dir)
    assert(back.count() == li.count())
    // per-file [min,max] of the cluster key must be pairwise disjoint —
    // that's what lets parquet min/max stats prune whole files
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length >= 6, s"expected ~8 files, got ${ranges.length}")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, ranges.toSeq)
      case _ =>
    }
  }
}
