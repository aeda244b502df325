package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the round-12 tranche nine (q292–q295). */
class AnalyticsOps21Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** 64-dim embedding rows from sparse (dim -> value) specs. */
  private def writeEmb(dir: String,
      rows: Seq[(Long, Map[Int, Float], Int)]): Unit = {
    import spark.implicits._
    rows.map { case (id, m, l) =>
      (id, (0 until 64).map(i => m.getOrElse(i, 0.0f)).toArray, l) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (id, ms, t, v) =>
      (id, new java.sql.Timestamp(ms), 1L, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Two 2-point clusters 10 apart, each with unit spread. */
  private def twoClusters(dir: String): Unit =
    writeEmb(dir, Seq(
      (1L, Map(1 -> 1.0f), 0), (2L, Map(1 -> -1.0f), 0),
      (3L, Map(0 -> 10.0f, 1 -> 1.0f), 1),
      (4L, Map(0 -> 10.0f, 1 -> -1.0f), 1)))

  test("q292: two unit-spread clusters 10 apart give R = 0.2") {
    val dir = tmp("graft-db")
    twoClusters(dir)
    val out = ClusteringOps.q292DaviesBouldin.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("label") ->
        (r.getAs[Double]("s_intra"), r.getAs[Double]("r_max"))).toMap
    assert(out(0L) == ((1.0, 0.2)))
    assert(out(1L) == ((1.0, 0.2)))
  }

  test("q293: the same fixture scores CH = (100/1)/(4/2) = 50") {
    val dir = tmp("graft-ch")
    twoClusters(dir)
    val r = ClusteringOps.q293CalinskiHarabasz.fn(spark, dir).head()
    assert(r.getAs[Long]("n_vecs") == 4L)
    assert(r.getAs[Long]("n_labels") == 2L)
    assert(r.getAs[Double]("ssb") == 100.0)
    assert(r.getAs[Double]("ssw") == 4.0)
    assert(r.getAs[Double]("ch") == 50.0)
  }

  test("q294: orthogonal, diagonal singleton centroids") {
    val dir = tmp("graft-cc")
    writeEmb(dir, Seq(
      (1L, Map(0 -> 1.0f), 0), (2L, Map(1 -> 1.0f), 1),
      (3L, Map(0 -> 1.0f, 1 -> 1.0f), 2)))
    val out = ClusteringOps.q294CentroidCosines.fn(spark, dir)
      .collect().map(r => (r.getAs[Long]("label_a"),
        r.getAs[Long]("label_b")) -> r.getAs[Double]("cosine")).toMap
    assert(out((0L, 1L)) == 0.0)
    assert(out((0L, 2L)) == 0.707107) // 1/sqrt(2) on the 1e-6 grid
    assert(out((1L, 2L)) == 0.707107)
  }

  test("q295: fully separated hour profiles score chi2 = 24") {
    val dir = tmp("graft-diurnal")
    val hour = 3600000L
    writeEvents(dir,
      (1 to 24).map(i => (i.toLong, 0 * hour, "view", 1.0)) ++
      (1 to 24).map(i => ((i + 100).toLong, 1 * hour, "click", 1.0)))
    val out = SeriesOps.q295DiurnalProfile.fn(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val v = out("view")
    assert(v.getAs[Double]("chi2") == 24.0)
    assert(v.getAs[Long]("dof") == 23L)
    assert(v.getAs[Double]("chi2_over_dof") == 1.043478)
  }

  test("q295: identical profiles score chi2 = 0") {
    val dir = tmp("graft-diurnal0")
    val hour = 3600000L
    writeEvents(dir,
      Seq((1L, 0 * hour, "view", 1.0), (2L, 1 * hour, "view", 1.0),
        (3L, 0 * hour, "click", 1.0), (4L, 1 * hour, "click", 1.0)))
    val out = SeriesOps.q295DiurnalProfile.fn(spark, dir)
      .collect()
    assert(out.forall(_.getAs[Double]("chi2") == 0.0))
  }
}
