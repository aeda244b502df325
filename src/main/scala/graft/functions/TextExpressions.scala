package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for document sketching.
  *
  * SimHash is computed per document in ONE pass over its token array —
  * the dataflow alternative (explode tokens → 64 conditional sums →
  * re-assemble bits) costs a shuffle plus a 64-buffer aggregate per
  * token row. At 100 TB that is the difference between a map-only
  * stage and an extra exchange of |tokens| rows.
  */
object TextExpressions {

  /** 64-bit SimHash over an array<string> token column. Token hash =
    * XXH64 (Spark's own, seed 42 like the xxhash64 SQL function);
    * bit b of the signature is set iff more tokens have bit b set
    * than unset (majority vote, weight 1 per token). */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"graft_simhash needs array<string>, got ${t.sql}")
      }

    override def nullSafeEval(a: Any): Any =
      java.lang.Long.valueOf(
        TextExpressions.simhash64(a.asInstanceOf[ArrayData]))

    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      // static-method call per row (the JaroWinkler / Levenshtein
      // pattern): no CodegenFallback row boxing, stage stays in
      // whole-stage codegen
      nullSafeCodeGen(ctx, ev, x =>
        s"${ev.value} = graft.functions.TextExpressions.simhash64($x);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Static kernel behind [[SimHash64]] (also called from generated
    * code — keep the signature stable). */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    var nonNull = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        nonNull += 1
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        var b = 0
        while (b < 64) {
          votes(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) * 2 > nonNull) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Order-sensitive 64-bit rolling (polynomial) fingerprint over an
    * array<string> token column: h = Σ xxh64(tokᵢ)·B^(n−1−i) with
    * wrap-around multiplication — two docs match iff their token
    * SEQUENCES match (unlike the set-based md5 fingerprint). One
    * pass, map-only. */
  case class RollingFingerprint(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"graft_fingerprint needs array<string>, got ${t.sql}")
      }

    override def nullSafeEval(a: Any): Any =
      java.lang.Long.valueOf(
        TextExpressions.rollingFingerprint64(a.asInstanceOf[ArrayData]))

    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, x =>
        s"${ev.value} = graft.functions.TextExpressions.rollingFingerprint64($x);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Static kernel behind [[RollingFingerprint]] (also called from
    * generated code — keep the signature stable). */
  def rollingFingerprint64(arr: ArrayData): Long = {
    val Base = 1099511628211L // FNV prime
    var h = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val tokHash = if (arr.isNullAt(i)) 0L else {
        val s = arr.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes(), 42L)
      }
      h = h * Base + tokHash
      i += 1
    }
    h
  }

  /** Jaro–Winkler similarity — the record-linkage scorer Spark lacks
    * (it ships only levenshtein). Classic Winkler variant, matched to
    * DuckDB's `jaro_winkler_similarity` bit-for-bit so the oracle can
    * re-derive scores: match window = max(l1,l2)/2 − 1 (floored at 0),
    * transpositions = mismatched matched-positions / 2 (integer,
    * truncating), prefix scaling 0.1 capped at 4 chars applied only
    * when jaro > 0.7 (the boost threshold), and 0.0 when either side
    * is empty. Each score is a fixed IEEE sequence over small integer
    * ratios, so equality with DuckDB is exact (verified on the q118
    * gate at three SFs). Comparison is UTF-16 code unit wise — for
    * the ASCII linkage keys this equals DuckDB's byte-wise compare.
    */
  case class JaroWinkler(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType == StringType)
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_jaro_winkler needs string inputs, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      TextExpressions.jaroWinklerScore(
        a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      // the loop lives in a compiled static method; codegen emits one
      // call per row (the Spark Levenshtein pattern), keeping the
      // surrounding stage in whole-stage codegen
      nullSafeCodeGen(ctx, ev, (x, y) =>
        s"${ev.value} = graft.functions.TextExpressions.jaroWinklerScore($x, $y);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Static scorer behind [[JaroWinkler]] (also called from generated
    * code — keep the signature stable). */
  def jaroWinklerScore(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    // transpositions TRUNCATE: t mismatched positions count as t/2
    // integer-div transpositions (an odd mismatch count rounds DOWN,
    // matching DuckDB/RapidFuzz — 'red widget'/'new widget' has 3
    // mismatches ⇒ 1 transposition, not 1.5)
    val jaro =
      (m.toDouble / l1 + m.toDouble / l2 + (m - t / 2).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var p = 0
    val maxP = math.min(4, math.min(l1, l2))
    while (p < maxP && s1.charAt(p) == s2.charAt(p)) p += 1
    jaro + 0.1 * p * (1.0 - jaro)
  }

  /** DEFLATE compression ratio of a string's UTF-8 bytes —
    * compressed_len / max(raw_len, 1), level 6, raw deflate (nowrap).
    * The classic cheap corpus-quality signal (Gopher-family filter
    * rules): highly repetitive text compresses far below ~0.3,
    * random/garbled text stays near or above 1.0, natural prose sits
    * in between. A native expression so the scorer rides the scan
    * inside whole-stage codegen — map-side scalar, no shuffle,
    * perfectly parallel at any corpus size.
    *
    * Determinism: zlib's output is a pure function of (input, level,
    * strategy) for a given zlib build, so the ratio is reproducible
    * across runs and partitionings in one environment; the q203 gate
    * therefore dumps the per-doc fixed-point ratios as a Verify
    * fixture (the q196 pattern) rather than asking DuckDB to
    * re-implement DEFLATE. */
  case class DeflateRatio(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"graft_deflate_ratio needs string, got ${t.sql}")
      }

    override def nullSafeEval(a: Any): Any =
      java.lang.Double.valueOf(
        TextExpressions.deflateRatio(a.asInstanceOf[UTF8String]))

    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, x =>
        s"${ev.value} = graft.functions.TextExpressions.deflateRatio($x);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One Deflater per thread, reset per row — Deflater is stateful
    * and allocation-heavy (native zlib stream), the ThreadLocal is
    * the hexDigest pattern from SketchAggregates. */
  private val deflaters = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6, true)
  }

  /** Static kernel behind [[DeflateRatio]] (also called from generated
    * code — keep the signature stable). */
  def deflateRatio(s: UTF8String): Double = {
    val in = s.getBytes
    val d = deflaters.get()
    d.reset()
    d.setInput(in)
    d.finish()
    val buf = new Array[Byte](8192)
    var out = 0L
    while (!d.finished()) out += d.deflate(buf)
    out.toDouble / math.max(in.length, 1).toDouble
  }

  def deflateRatioCol(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      DeflateRatio(org.apache.spark.sql.GraftColumnBridge.expression(text)))

  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      JaroWinkler(org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  def simhash(tokens: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SimHash64(org.apache.spark.sql.GraftColumnBridge.expression(tokens)))

  /** MinHash signature over a per-doc shingle ARRAY, map-side (q42's
    * signature builder): slot i is min over the array of
    * xxhash64(i, s) — BIT-IDENTICAL to the old
    * explode → groupBy(doc_id).agg(min(xxhash64(lit(i), s)) × k)
    * shape (the two-child xxhash64 chains seed 42 through the int
    * literal, precomputed per slot below; min over longs is the same
    * signed min), but with no Generate and NO exchange: doc rows are
    * already signature-grain. Null only for an empty array (the old
    * shape emitted no group — callers filter ≥3 tokens so it cannot
    * occur in the pipeline). */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"graft_minhash_sig needs array<string>, got ${t.sql}")
      }

    override def nullSafeEval(a: Any): Any =
      TextExpressions.minhashSig(a.asInstanceOf[ArrayData], numHashes)

    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, x =>
        s"""
           |${ev.value} = graft.functions.TextExpressions.minhashSig(
           |  $x, $numHashes);
           |${ev.isNull} = (${ev.value} == null);
         """.stripMargin)

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-slot seeds: xxhash64(i, s) hashes the int literal i first
    * (seed 42), then chains the result into the string hash — so
    * slot i's effective string seed is hashInt(i, 42), a constant. */
  private val minhashSeedCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()
  private def minhashSeeds(k: Int): Array[Long] =
    minhashSeedCache.computeIfAbsent(k,
      _ => Array.tabulate(k)(i => XXH64.hashInt(i, 42L)))

  /** Static kernel behind [[MinHashSig]] (also called from generated
    * code — keep the signature stable). Returns null iff the array is
    * empty or all-null. */
  def minhashSig(arr: ArrayData, numHashes: Int): ArrayData = {
    val seeds = minhashSeeds(numHashes)
    val out = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val s = arr.getUTF8String(i)
        var j = 0
        while (j < numHashes) {
          val h = XXH64.hashUnsafeBytes(
            s.getBaseObject, s.getBaseOffset, s.numBytes(), seeds(j))
          if (h < out(j)) out(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (!any) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-doc k-gram xxhash64 sequence, map-side in one kernel call
    * (q57's fixture frame): slot i is
    * xxhash64(concat_ws(' ', toks[i..i+k−1])) — bit-identical to the
    * old transform(sequence(...), i -> xxhash64(concat_ws(...)))
    * shape (same UTF-8 bytes, same seed-42 hash), but the ~|toks|
    * interpreted lambda calls and per-window concat Column trees are
    * one tight loop inside whole-stage codegen. Callers filter
    * size ≥ k. */
  case class KgramHashes(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"graft_kgram_hashes needs array<string>, got ${t.sql}")
      }

    override def nullSafeEval(a: Any): Any =
      TextExpressions.kgramHashes(a.asInstanceOf[ArrayData], k)

    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, x =>
        s"${ev.value} = graft.functions.TextExpressions.kgramHashes($x, $k);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private val SpaceSep = UTF8String.fromString(" ")

  /** Static kernel behind [[KgramHashes]] (also called from generated
    * code — keep the signature stable). */
  def kgramHashes(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    val out = new Array[Long](m)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      val s = UTF8String.concatWs(SpaceSep, parts: _*)
      out(i) = XXH64.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct W-window minima over a hash sequence, map-side (q57's
    * winnowing fingerprints): the distinct-set of
    * array_min(slice(h, i+1, w)) for i in 0..max(len−w, 0) — same
    * values, same first-occurrence order as the old
    * array_distinct(transform(..., array_min(slice(...)))) chain,
    * without a per-window slice allocation + interpreted lambda.
    *
    * Precondition: a non-empty input. The old chain gives `[null]` on
    * an empty array, which this non-null result type cannot hold, so
    * an empty input fails the query instead (callers keep documents
    * with at least `WinnowK` tokens). */
  case class WinnowMinima(child: Expression, w: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"graft_winnow_minima needs array<bigint>, got ${t.sql}")
      }

    override def nullSafeEval(a: Any): Any =
      TextExpressions.winnowMinima(a.asInstanceOf[ArrayData], w)

    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, x =>
        s"${ev.value} = graft.functions.TextExpressions.winnowMinima($x, $w);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Static kernel behind [[WinnowMinima]] (also called from generated
    * code — keep the signature stable). */
  def winnowMinima(h: ArrayData, w: Int): ArrayData = {
    val n = h.numElements()
    require(n > 0, "graft_winnow_minima needs a non-empty array (WinnowMinima's precondition)")
    val m = java.lang.Math.max(n - w, 0) + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < m) {
      var mn = Long.MaxValue
      val end = java.lang.Math.min(i + w, n)
      var j = i
      while (j < end) {
        val v = h.getLong(j)
        if (v < mn) mn = v
        j += 1
      }
      if (end > i) { val _ = seen.add(mn) }
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def kgramHashesCol(tokens: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      KgramHashes(org.apache.spark.sql.GraftColumnBridge.expression(tokens), k))

  def winnowMinimaCol(hashes: Column, w: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      WinnowMinima(org.apache.spark.sql.GraftColumnBridge.expression(hashes), w))

  def minhashSigCol(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      MinHashSig(org.apache.spark.sql.GraftColumnBridge.expression(shingles),
        numHashes))

  def rollingFingerprint(tokens: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      RollingFingerprint(org.apache.spark.sql.GraftColumnBridge.expression(tokens)))
}
