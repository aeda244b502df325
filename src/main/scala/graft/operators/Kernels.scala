package graft.operators

import graft.{CacheHygiene, Tables}
import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frame kernels shared by the query modules, each with one home so a
  * convention change lands in every consumer at once. Holds no query.
  *
  *   - `globalRowNumber`, `groupedPrefixSum(s)`: the two-phase prefix
  *     pattern — range-partitioned local windows plus a broadcast
  *     per-partition offset table, never a single-task window over
  *     data-sized input.
  *   - `topKByCount`: the capped global top-k.
  *   - `hllEstimate`: the HyperLogLog estimator tail.
  *   - `PreEnd`: the pre/post split instant of the experiment and
  *     drift readouts.
  *   - `docBucket`: the md5 doc-id banding of the split operators.
  *   - `tokenized`, `shingleArrays`, `shingles`: the 3-token shingle
  *     frames of the dedup and vocabulary queries.
  *   - `corpusCount`, `lshBucketsWithEmbeddings`: the embedding
  *     corpus size and its hyperplane-LSH buckets.
  */
private[operators] object Kernels {

  /** Two-phase distributed global row_number over `sortCols` (the
    * q91 prefix pattern, generalized): range-repartition on the sort
    * key, partition-local row_number, then add each partition's
    * row-count prefix from a metadata-sized offset table. Exact —
    * independent of where the range boundaries land — and never a
    * single-task global sort.
    *
    * The stamped frame is CACHED before it branches: the offsets
    * branch and the join-back branch must read ONE materialized
    * `spark_partition_id` assignment. The stamp is nondeterministic,
    * and without the pin AQE can compile the broadcast (offsets)
    * side as its own job with fresh range-boundary sampling — then
    * offsets from assignment A meet local ranks from assignment B
    * and the rank silently overshoots n (observed: q112 emitted
    * quartile 5 of 4 at sf0.1). With the cache both branches share
    * the InMemoryRelation; a partition rebuilt after executor loss
    * reuses the same plan instance (same RangePartitioner
    * boundaries), so the assignment stays stable. */
  private[operators] def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
      out: String): DataFrame = {
    val parts = df
      .repartitionByRange(df.sparkSession.sparkContext.defaultParallelism,
        sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
    val local = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    val withLocal = parts
      .withColumn("__lrn", row_number().over(local).cast("long"))
      .cache()
    val offsets = withLocal.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pn"))
      .withColumn("__off", coalesce(
        sum(col("__pn")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    withLocal.join(broadcast(offsets), Seq("__pid"))
      .withColumn(out, col("__lrn") + col("__off"))
      .drop("__pid", "__lrn", "__off")
  }

  /** Top-k rows in `sortCols` order with an optional rank attached
    * AFTER the cap — the shared limit-then-rank idiom (r11 verdict
    * #3). `orderBy(...).limit(k)` plans as TakeOrderedAndProject:
    * every task keeps its local top-k and one k-row merge finishes
    * the pick, so no full sort and no global shuffle ever happen.
    * The optional `row_number` that follows runs over ≤ k rows of
    * metadata. The ANTI-pattern this replaces — rank the full frame
    * with a global Window, then filter rank ≤ k — funnels the whole
    * frame through ONE reducer, and Spark's InferWindowGroupLimit
    * only rescues it when the filter sits in the same DataFrame
    * layer (the q238 r11 lesson: a `.cache()` or a separate layer
    * between rank and filter leaves the window uncapped). `sortCols`
    * must totally order rows (tiebreak on a unique column) or both
    * the cap and the rank are nondeterministic. */
  private[operators] def topKByCount(df: DataFrame, sortCols: Seq[Column],
      k: Int, rankOut: Option[String] = None): DataFrame = {
    val capped = df.orderBy(sortCols: _*).limit(k)
    rankOut.fold(capped)(r => capped.withColumn(r,
      row_number().over(Window.orderBy(sortCols: _*))))
  }

  /** GROUPED two-phase prefix sum — [[globalRowNumber]]'s per-group
    * sibling, for the skewed-key case where the group column has few
    * values (q132's 2-value `step`, q134's 5-value segment): a
    * `Window.partitionBy(group)` would sort the whole population
    * through |group| single tasks, so instead the GROUP LEADS THE
    * RANGE KEY — each range partition holds a contiguous slice of one
    * group's sorted run, the partition-local running sum stays
    * parallel across all partitions, and the global prefix is local +
    * a broadcast per-(pid, group) offset. The only group-partitioned
    * windows run on the metadata-sized count frame (≤ |groups|·P
    * rows). Same AQE re-sampling pin as globalRowNumber.
    *
    * With `value = lit(1L)` the inclusive prefix is exactly a
    * per-group row_number. Adds `cumOut` (inclusive prefix of
    * `value` in `sortCols` order within each group) and `totalOut`
    * (per-group total). `sortCols` must be a total order within each
    * group (tiebreak on a unique id) or the prefix is
    * nondeterministic. */
  private[operators] def groupedPrefixSum(df: DataFrame, groups: Seq[String],
      sortCols: Seq[Column], value: Column,
      cumOut: String, totalOut: String): DataFrame =
    groupedPrefixSums(df, groups, sortCols,
      Seq((value, cumOut, Some(totalOut))))

  /** N-measure form of [[groupedPrefixSum]] — ONE range shuffle + one
    * pinned partition stamp carrying any number of running sums over
    * the same sort order (q153 carries both KS CDFs; q132 carries a
    * rank + needs the per-group total). `groups` may be empty (pure
    * global prefix, the q153 case): every group-partitioned window
    * below runs on the metadata-sized per-(pid, group) count frame
    * (≤ |groups|·P rows), never on data.
    *
    * Each measure is (value, cumOut, totalOut): `cumOut` gets the
    * inclusive prefix of `value` in `sortCols` order within each
    * group; `totalOut = Some(name)` also attaches the per-group total
    * of that measure. With `value = lit(1L)` the prefix is exactly a
    * per-group row_number. `sortCols` must totally order rows within
    * each group (tiebreak on a unique id) or the prefix is
    * nondeterministic. Same AQE re-sampling pin as globalRowNumber:
    * the stamped frame is cached so the offsets branch and the
    * join-back branch read ONE materialized spark_partition_id
    * assignment. */
  private[operators] def groupedPrefixSums(df: DataFrame,
      groups: Seq[String], sortCols: Seq[Column],
      measures: Seq[(Column, String, Option[String])]): DataFrame = {
    val gcols = groups.map(col)
    val local = Window.partitionBy((col("__pid") +: gcols): _*)
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val mi = measures.zipWithIndex
    val parts = mi.foldLeft(
      df.repartitionByRange(
          df.sparkSession.sparkContext.defaultParallelism,
          (gcols ++ sortCols): _*)
        .withColumn("__pid", spark_partition_id())) {
        case (acc, ((v, _, _), i)) =>
          // same window spec for every measure → ONE physical Window node
          acc.withColumn(s"__lc$i", sum(v).over(local))
      }
      .cache() // pin the partition stamp (q112's AQE hazard)
    val pcs = mi.map { case ((v, _, _), i) => sum(v).as(s"__pc$i") }
    val cnts = parts.groupBy((col("__pid") +: gcols): _*)
      .agg(pcs.head, pcs.tail: _*)
    val offs = mi.foldLeft(cnts) { case (acc, ((_, _, totalOut), i)) =>
      val withOff = acc.withColumn(s"__off$i", coalesce(
        sum(col(s"__pc$i")).over(Window.partitionBy(gcols: _*)
          .orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      totalOut.fold(withOff)(t => withOff.withColumn(t,
        sum(col(s"__pc$i")).over(Window.partitionBy(gcols: _*))))
    }.select((col("__pid") +: gcols) ++
      mi.map { case (_, i) => col(s"__off$i") } ++
      measures.flatMap(_._3).map(col): _*)
    val joined = parts.join(broadcast(offs), "__pid" +: groups)
    mi.foldLeft(joined) { case (acc, ((_, cumOut, _), i)) =>
      acc.withColumn(cumOut, col(s"__lc$i") + col(s"__off$i"))
    }.drop("__pid" +: mi.flatMap { case (_, i) =>
      Seq(s"__lc$i", s"__off$i") }: _*)
  }

  /** THE HLL estimator tail, parameterized by register count m = 2^p:
    * raw α·m²/S with the 2.5m linear-counting switch, rounded at 1e-6
    * to absorb last-ulp libm disagreement. `sInv` = Σ 2^−reg (exact
    * in any order — dyadic rationals), `vZero` = count of empty
    * registers. Every HLL consumer estimates through this ONE
    * definition — q154/q164/q171 at m = 1024, GraphOps q160 at
    * m = 256 — so the constants (α's rational form, the regime
    * threshold, the rounding quantum) cannot drift apart from each
    * other or from their four oracles. */
  private[operators] def hllEstimate(sInv: Column, vZero: Column,
      m: Int): Column = {
    val md = m.toDouble
    // α switches on m (Flajolet et al. §5): the 0.7213/(1+1.079/m)
    // form is the bias constant only for m ≥ 128; the small-m values
    // are the paper's exact constants — HllRegisters accepts p ≥ 4, so
    // without the switch a p ∈ 4..6 consumer would get a silently
    // biased estimate. A small-m consumer's oracle SQL must hardcode
    // the SAME constant (every current oracle is m ≥ 256, large form).
    val alphaMm: Column = m match {
      case 16 => lit(0.673) * lit(md * md)
      case 32 => lit(0.697) * lit(md * md)
      case 64 => lit(0.709) * lit(md * md)
      case _ =>
        require(m >= 128 && (m & (m - 1)) == 0,
          s"hllEstimate needs a power-of-two register count >= 16, got $m")
        (lit(0.7213) * lit(md * md)) / (lit(1.0) + (lit(1.079) / lit(md)))
    }
    val eRaw = alphaMm / sInv
    floor((when(eRaw <= lit(2.5 * md) && vZero > 0,
      lit(md) * log(lit(md) / vZero.cast("double")))
      .otherwise(eRaw)) * 1000000 + 0.5) / 1000000
  }

  /** 2024-01-16 00:00 UTC in epoch-µs: the fixed pre/post boundary
    * splitting the 30-day event window in half — shared by the
    * CUPED readout (q172), the conformal intervals (q176) and the
    * drift family (q187/q235), so all of them read the same two
    * periods. */
  private[operators] val PreEnd = 1705363200000000L

  /** md5-based 256-way bucket of a doc id — the shared banding under
    * the q37/q45/q46 split operators (train < 205, val < 230, else
    * test). One definition: a banding change must hit the three Scala
    * sites and their oracle SQL together. */
  private[operators] def docBucket: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")

  /** Tokenized docs with ≥3 tokens: (doc_id, toks). */
  private[operators] def tokenized(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .filter(size(col("toks")) >= 3)

  /** Per-doc DISTINCT 3-token shingle ARRAY (docs with ≥3 tokens):
    * (doc_id, shs) — the map-side dedup a document's shingles get for
    * free (array_distinct), shared by the exploded view below and the
    * in-place MinHash signature kernel. */
  private[operators] def shingleArrays(df: DataFrame): DataFrame =
    tokenized(df)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("shs"))

  /** Distinct 3-token shingles per doc: (doc_id, s). The dedup is
    * map-side (array_distinct on the per-doc shingle array) — a
    * document's shingles never need a shuffle to dedup, so consumers
    * get per-doc-distinct rows without the global DISTINCT exchange.
    *
    * Deliberately NOT written as shingleArrays + explode: keeping the
    * HOF chain INSIDE the generator lets Generate evaluate it in
    * place, while a separate Project materializes the whole shingle
    * array as an unsafe row first — an r14 A/B measured the split
    * shape 3-5× slower on every exploded-shingle consumer (q39 0.72 →
    * 3.83 s, q149 0.85 → 4.13 s) with identical results. */
  private[operators] def shingles(df: DataFrame): DataFrame =
    tokenized(df)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))).as("s"))

  /** Row count of the `embeddings` table, once per (session, source
    * dir) through the session memo: the count is a planning-time
    * scalar of the adaptive LSH, IVF and k-means sizes, and building a
    * query plan should not fire a Spark job each time. */
  private[operators] def corpusCount(s: SparkSession, d: String): Long =
    CacheHygiene.memo(s, s"embeddings.count $d")(
      java.lang.Long.valueOf(Tables.embeddings(s, d).count())).longValue

  private val LshTables = 3 // L hash tables ...
  private val LshBits = 4 // ... of at least k hyperplane bits each

  /** Adaptive bit count: k grows with log₂(corpus) so expected bucket
    * occupancy stays ~constant (~125 vectors per table bucket). A
    * FIXED k is the classic LSH scale cliff: occupancy ∝ n makes the
    * within-bucket candidate join ∝ n²/2ᵏ — measured 8.2× time at 10×
    * data on this corpus before the change, ~linear after. The count
    * is a planning-time scalar (parquet row-count scan, no shuffle);
    * at real scale L would grow alongside k to hold per-table recall
    * ((1−θ/π)ᵏ shrinks as k grows) — L stays fixed here to keep the
    * fixture frames small, and recall remains a tuning contract
    * (the oracle re-derives candidates from the dumped buckets, so
    * correctness is bucket-consistency, not a fixed recall). */
  private def lshBits(n: Long): Int =
    math.max(LshBits,
      math.ceil(math.log(math.max(n / 125.0, 1.0)) / math.log(2)).toInt)

  /** Every (vector, table) row with its LSH bucket, embedding carried
    * alongside, in one fused codegen pass: (vec_id, embedding, t,
    * bucket). Consumers that score candidates inside the bucket join
    * (q44, q51) ship each vector L times (O(L·n)), which beats
    * attaching arrays to the candidate pairs afterwards
    * (O(candidates) ≫ O(L·n)). */
  private[operators] def lshBucketsWithEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
      posexplode(VectorExpressions.lshSignature(col("embedding"),
        LshTables, lshBits(corpusCount(s, d)))).as(Seq("t", "bucket")))
}
