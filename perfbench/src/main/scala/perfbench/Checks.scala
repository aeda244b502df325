package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. Each returns the list of mismatches it found, empty
  * when the output is right; the self-test plants a wrong answer into
  * every one of them. */
object Checks {

  /** Row count and an order-insensitive hash of every column. */
  final case class Signature(rows: Long, hash: BigDecimal)

  def signature(df: DataFrame): Signature = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)),
        sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    Signature(r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The same multiset of rows, compared by signature, columns matched by
    * name. */
  def sameRows(what: String, got: DataFrame, want: DataFrame): Seq[String] = {
    val g = signature(got.select(want.columns.map(col).toIndexedSeq: _*))
    val w = signature(want)
    if (g == w) Nil else Seq(s"$what: got $g, want $w")
  }

  /** pipeline_batch, per pass: Silver holds exactly the generator's valid
    * rows, and Gold's daily readings add up to Silver. */
  def batchPass(truth: Truth, silverRows: Long, goldReadings: Long): Seq[String] =
    (if (silverRows == truth.silverRows) Nil
     else Seq(s"silver rows $silverRows, ground truth ${truth.silverRows}")) ++
      (if (goldReadings == silverRows) Nil
       else Seq(s"gold sum(total_readings) $goldReadings, silver rows $silverRows"))

  /** Reject counters against the generator's ground truth. */
  def rejects(truth: Truth, counted: Map[String, Long]): Seq[String] = {
    val want = Map(
      "bronze_ingest.rejected" -> truth.bronzeRejected,
      "bronze_ingest.rows_out" -> truth.bronzeRows,
      "silver.rejected.null_required" -> 0L, // Bronze already drops these
      "silver.rejected.bad_timestamp" -> 0L, // and these
      "silver.rejected.duplicate" -> truth.duplicate,
      "silver.rejected.temp_range" -> truth.tempRange,
      "silver.rejected.power_range" -> truth.powerRange,
      "silver.rejected.negative_energy" -> truth.negativeEnergy,
      "silver.late_flagged" -> truth.late,
      "silver.rows_out" -> truth.silverRows)
    want.keys.toSeq.sorted.flatMap { k =>
      val got = counted.getOrElse(k, -1L)
      if (got == want(k)) None else Some(s"$k = $got, ground truth ${want(k)}")
    }
  }
}
