package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-sweep harness: proves the heavy query families' scaling
  * curves empirically (the 100 TB design claims are otherwise only
  * plan-shape arguments).
  *
  *   runMain graft.Scale gen   <srcSfDir> <dstDir> <copies>
  *   runMain graft.Scale skew  <srcSfDir> <dstDir> <copies>
  *   runMain graft.Scale sweep <sfDir> <q1> <q2> ...
  *
  * `gen` replicates a driver SF directory N× with CONTENT
  * PERTURBATION, not plain duplication: byte-identical copies would
  * make every document/vector an exact near-duplicate of its N−1
  * clones, inflating the true-pair output quadratically in N — the
  * sweep would then measure the pair explosion of a degenerate
  * corpus, not the operator's scaling. Instead each copy k:
  *   - shifts every id column by k × (max id + 1) — disjoint id
  *     spaces, so joins/graphs become N independent populations of
  *     the original's shape (exactly what 10× more real data looks
  *     like: more users, not hotter users);
  *   - rewrites text by a copy-specific rotation of the 10 most
  *     common English letters (`translate`, codegen'd): lengths,
  *     within-copy duplicate structure, and token statistics are
  *     preserved while nearly every cross-copy shingle differs;
  *   - decorrelates embeddings by a copy-specific deterministic
  *     per-dimension sign flip: norms and within-copy geometry are
  *     exactly preserved (sign flips are an isometry), while
  *     cross-copy cosine collapses to ~0 under the pseudo-random
  *     sign pattern.
  * Orders/lineitem shift (orderkey, custkey, suppkey, partkey)
  * consistently so referential joins stay intact per copy.
  *
  * `sweep` times the named queries with Bench's session and timing
  * protocol ([[GraftSession]], [[Timing]]) and prints one JSON line:
  * the dev-loop timer for measuring a few queries without paying the
  * full 328-query Bench sweep.
  */
object Scale {

  // 10 most common English letters; copy k translates by rotation
  // k mod 10, and a second disjoint alphabet rotates by the tens
  // digit so up to 100 copies stay pairwise decorrelated.
  private val Letters = "etaoinshrd"
  private val Letters2 = "lcumwfgypb"
  private def rot(s: String, k: Int): String = {
    val r = k % s.length
    s.drop(r) + s.take(r)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    args(0) match {
      case "gen"   => gen(spark, args(1), args(2), args(3).toInt)
      case "skew"  => gen(spark, args(1), args(2), args(3).toInt, skew = true)
      case "sweep" => sweep(spark, args(1), args.drop(2).toSeq)
      case "bucket" => bucketAb(spark, args(1))
      case other   => sys.error(s"unknown mode $other (gen|skew|sweep|bucket)")
    }
    spark.stop()
  }

  /** `skew = true` (mode `skew`) generates the ADVERSARIAL-SKEW
    * replica: same content-perturbed N× replication, then hot keys
    * are planted at the concentrations the benign sweep can't
    * produce (uniform replicas only ever scale population, never
    * per-key mass — the hot-key cliff is the real 100 TB killer):
    *   - events: ONE user (id 0) owns ~1% of ALL events (≈150× the
    *     mean user) — stresses every user-keyed window/join family
    *     (q2b, q114, q131, q143, q2k, q106);
    *   - lineitem: ONE part lands in ~10% of all baskets (first line
    *     of every 10th order) — stresses the basket pair-stream
    *     families' per-item degree (q86, q102, q108, q148);
    *   - documents: one shared shingle is planted just UNDER the
    *     df-cap (df ≈ 950 < 1000 — the worst key the cap still
    *     admits: one posting list of ~950 ids, ~450k verify pairs
    *     from a single key) and one just OVER it (df ≈ 3×cap — must
    *     be dropped for free by the df band) — stresses q41/q124/
    *     q42/q140; n_chars is recomputed so the documents table
    *     stays internally consistent.
    * Hot ids keep referential integrity (user 0 and the min partkey
    * exist in every copy's dim range). The planted tokens use
    * letters outside both rotation alphabets, so the df counts
    * accumulate across copies instead of being rotated apart. */
  def gen(spark: SparkSession, src: String, dst: String, copies: Int,
      skew: Boolean = false): Unit = {
    // read through Tables.load, not raw: the loader normalizes every
    // timestamp encoding (NANOS/NTZ/LTZ), so replicas always carry a
    // genuine TimestampType — a raw read of a NANOS source would write
    // plain unannotated INT64 columns the loader could no longer
    // recognize as timestamps
    def read(t: String) = Tables.load(spark, src, t)
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    val docs = read("documents"); val emb = read("embeddings")
    val ev = read("events"); val ord = read("orders")
    val li = read("lineitem"); val prt = read("part")
    val cust = read("customer"); val supp = read("supplier")
    val docS = stride(docs, "doc_id")
    val vecS = stride(emb, "vec_id")
    val evS = stride(ev, "event_id"); val userS = stride(ev, "user_id")
    val okS = stride(ord, "o_orderkey")
    // dim-key strides come from the DIM (the key superset): fact-side
    // strides would collide when a copy's shifted fact keys overlap
    // the next copy's dim range
    val ckS = stride(cust, "c_custkey"); val skS = stride(supp, "s_suppkey")
    val pkS = stride(prt, "p_partkey")

    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(k => f(df, k)).reduce(_ unionAll _)
    def shift(c: String, s: Long, k: Int): Column = col(c) + lit(k * s)
    def mutate(c: Column, k: Int): Column =
      if (k == 0) c
      else {
        val once = translate(c, Letters, rot(Letters, k % 10))
        if (k < 10) once
        else translate(once, Letters2, rot(Letters2, (k / 10) % 10))
      }

    val docsRep = rep(docs) { (d, k) =>
      d.withColumn("doc_id", shift("doc_id", docS, k))
        .withColumn("text", mutate(col("text"), k))
    }
    write(if (!skew) docsRep else {
      val total = docS * copies
      val mHot = math.max(1L, total / 950)   // df ≈ 950, just under the cap
      val mOver = math.max(1L, total / 3000) // df ≈ 3000, over the cap
      // integer-division moduli only hit their df targets when the
      // corpus is big enough: planted df = ceil(total/m) overshoots
      // 950 toward/past the 1000 cap below ~20k docs, and the
      // over-cap plant needs residue mOver-1 (with mOver = 1 a
      // `pmod == 1` test would NEVER fire and the plant silently
      // vanished). Warn instead of reporting a stress that never ran.
      if ((total + mHot - 1) / mHot > 1000)
        System.err.println(s"[scale] WARN: under-cap shingle plants df=" +
          s"${(total + mHot - 1) / mHot} > 1000 at total=$total — the " +
          "df band will DROP it; use a larger source corpus")
      docsRep
        .withColumn("text",
          when(pmod(col("doc_id"), lit(mHot)) === 0,
            concat(col("text"), lit(" zx qv jk")))
          .when(pmod(col("doc_id"), lit(mOver)) === lit(mOver - 1),
            concat(col("text"), lit(" xj vk qz")))
          .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")))
    }, "documents")
    write(rep(emb) { (d, k) =>
      d.withColumn("vec_id", shift("vec_id", vecS, k))
        .withColumn("embedding",
          if (k == 0) col("embedding")
          else transform(col("embedding"), (x, i) =>
            when(pmod(hash(i, lit(k)), lit(2)) === 0, x).otherwise(-x)))
    }, "embeddings")
    val evRep = rep(ev) { (d, k) =>
      d.withColumn("event_id", shift("event_id", evS, k))
        .withColumn("user_id", shift("user_id", userS, k))
    }
    write(if (!skew) evRep else
      // ~1% of all events funnel to user 0 (xxhash64 of the unique
      // event id — deterministic, uniform over rows)
      evRep.withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(100)) === 0, lit(0L))
          .otherwise(col("user_id"))), "events")
    write(rep(ord) { (d, k) =>
      d.withColumn("o_orderkey", shift("o_orderkey", okS, k))
        .withColumn("o_custkey", shift("o_custkey", ckS, k))
    }, "orders")
    val liRep = rep(li) { (d, k) =>
      d.withColumn("l_orderkey", shift("l_orderkey", okS, k))
        .withColumn("l_suppkey", shift("l_suppkey", skS, k))
        .withColumn("l_partkey", shift("l_partkey", pkS, k))
    }
    write(if (!skew) liRep else {
      // the min partkey exists in copy 0's dim range; planting it on
      // exactly ONE line of every ~10th basket puts one item in ~10%
      // of all baskets without changing basket sizes (row_number, not
      // l_linenumber: the synthetic lineitem's linenumbers are neither
      // unique nor dense per order — gen-time-only window cost)
      val hotPart = prt.agg(min(col("p_partkey"))).head().getLong(0)
      liRep.withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("l_orderkey"))
            .orderBy(col("l_linenumber"), col("l_partkey"))))
        .withColumn("l_partkey",
          when(pmod(xxhash64(col("l_orderkey")), lit(10)) === 0 &&
               col("__rn") === 1, lit(hotPart))
            .otherwise(col("l_partkey")))
        .drop("__rn")
    }, "lineitem")
    write(rep(prt) { (d, k) =>
      d.withColumn("p_partkey", shift("p_partkey", pkS, k))
        .withColumn("p_name", mutate(col("p_name"), k))
    }, "part")
    // key-carrying dims replicate with the SAME strides as their fact
    // columns so referential joins stay intact in every copy
    write(rep(cust) { (d, k) =>
      d.withColumn("c_custkey", shift("c_custkey", ckS, k))
    }, "customer")
    write(rep(supp) { (d, k) =>
      d.withColumn("s_suppkey", shift("s_suppkey", skS, k))
    }, "supplier")
    // nation/region are genuinely fixed-cardinality reference data
    // (dim keys above keep their nationkeys valid): copy through
    Seq("nation", "region").foreach { t => write(read(t), t) }
    println(s"""{"gen":"$dst","copies":$copies,"skew":$skew}""")
  }

  def sweep(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Timing.warmUp(spark, sfDir)
    val q = names.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val t = Timing.time(spark, name) { val _ = fn(spark, sfDir).count() }
      "\"" + name + "\":" + Timing.fmt(t.median)
    }
    println(s"""{"sweep":"$sfDir","queries":${q.mkString("{", ",", "}")}}""")
  }

  /** A/B of q191's reconciliation on the plain parquet scan vs the
    * bucketed fact layout ([[operators.LayoutOps.writeBucketedFacts]]): prints
    * the one-time bucket-write cost and both read-path times, so the
    * bucketing claim ("pay the shuffle once, every downstream
    * orderkey join is exchange-free") carries a measured number at
    * whatever SF dir it's pointed at. Same timing protocol as sweep
    * (SPARK_GRAFT_BENCH_RUNS, median). */
  def bucketAb(spark: SparkSession, sfDir: String): Unit = {
    import Timing.fmt
    val plain = Timing.time(spark, "q191_plain") {
      val _ = operators.CurationOps.reconciliationOn(
        Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)).count()
    }.median
    val build = Timing.seconds(operators.LayoutOps.writeBucketedFacts(spark, sfDir))
    val (li, o) = operators.LayoutOps.readBucketedFacts(spark)
    val bucketed = Timing.time(spark, "q191_bucketed") {
      val _ = operators.CurationOps.reconciliationOn(o, li).count()
    }.median
    val _ = spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
    val _ = spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    println(s"""{"bucket_ab":"$sfDir","q191_plain_sec":${fmt(plain)},""" +
      s""""bucket_write_sec":${fmt(build)},""" +
      s""""q191_bucketed_sec":${fmt(bucketed)},"runs":${Timing.runs}}""")
  }
}
