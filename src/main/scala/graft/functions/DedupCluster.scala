package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Turns near-duplicate PAIRS (from MinHash/SimHash/Jaccard candidate
  * generation) into duplicate CLUSTERS with a canonical survivor —
  * the step an actual dedup pipeline needs before dropping rows.
  *
  * Connected components via iterative min-label propagation, with
  * pointer jumping engaged adaptively: shallow components (the normal
  * near-dup case) converge in a few plain hop rounds with no extra
  * work; anything still moving after `JumpAfter` rounds is deep, and
  * later rounds also follow each label to its own label, collapsing a
  * diameter-d chain in O(log d) total rounds. The loop exits early at
  * fixpoint; a non-converged run is reported loudly rather than
  * returned silently. All driver-side logic is the loop counter; the
  * data path is pure shuffled joins/aggregations (scales with edges,
  * not with cluster count).
  *
  * EVERY round's label frame is a lazy localCheckpoint that the
  * round's own convergence count materializes — so each round's plan
  * is a constant-size tree over two leaves (edges, previous labels).
  * The earlier cache()-based variant kept plans nested: a jump round
  * references its input twice, so the LOGICAL tree grew ~4× per
  * round, and a 5-round checkpoint cadence still admitted ~1000×
  * growth between cuts — measured 6.5 GB of catalyst trees (driver
  * OOM at 8 GB) on a 500-doc / 321-edge input by round 9. Lineage
  * truncation per round caps the whole loop at O(1) plan size, with
  * the same one action per round.
  *
  * Fault-tolerance trade (deliberate): localCheckpoint truncates
  * lineage, so a lost executor/block FAILS the query instead of
  * recomputing the lost partition (what a cache would allow). That is
  * the price of bounded planning cost; acceptable because each round
  * is seconds of work and a failed query simply re-runs from source.
  * Superseded checkpoints are released promptly via their underlying
  * RDD (Dataset.unpersist does NOT free localCheckpoint blocks — only
  * CacheManager entries); without the explicit release they linger
  * until the ContextCleaner GCs the RDD reference.
  */
object DedupCluster {

  /** Rounds of plain hop-propagation before pointer jumping kicks in
    * (see the loop comment). */
  private val JumpAfter = 3

  /** Free the storage blocks behind a localCheckpoint-backed frame.
    * The checkpointed Dataset's analyzed plan is a LogicalRDD whose
    * RDD holds the persisted blocks; unpersisting THAT rdd releases
    * them (a new `.rdd` handle would not — it wraps a fresh
    * deserializing RDD). No-op on non-checkpoint frames. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** @param pairs edges as (doc_a, doc_b) columns
    * @param docs  all doc ids as column `doc_id` (singletons keep
    *              themselves as canonical)
    * @return (doc_id, canonical_id) — canonical = min id in the
    *         connected component, as a localCheckpoint-backed frame:
    *         a compact plan leaf that survives runner cache sweeps,
    *         so callers (q49/q130, q133) can share one
    *         materialization per session. OWNERSHIP: whoever holds
    *         the frame decides its lifetime — `CacheHygiene.memo`
    *         shares the frame session-wide and only application end
    *         (or `forget`) retires it, so consumers of a memoized
    *         frame must NOT call [[releaseCheckpoint]] on it (a lost localCheckpoint
    *         block FAILS, it does not recompute). Only a caller that
    *         builds privately (e.g. with the memo off) should
    *         release the frame when done.
    */
  def canonicalize(docs: DataFrame, pairs: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // undirected edge list, both directions. EAGER localCheckpoint:
    // a cache would truncate execution but NOT the logical plan, so
    // when the candidate generator behind `pairs` is itself a large
    // subtree (q44's LSH bucket self-join), every round would re-nest
    // that subtree. The checkpoint makes the edge list the loop's
    // leaf.
    // repartition(dst) BEFORE the checkpoint: LogicalRDD preserves the
    // hash partitioning, so every round's edges⋈labels join re-uses
    // the edge side as-is and only the (smaller) label frame moves —
    // the old leaf was (src, dst)-partitioned from the distinct and
    // paid an edge-sized exchange per round (guide §2.4).
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .localCheckpoint(true)
    // The loop runs over EDGE ENDPOINTS only: a doc with no near-dup
    // edge can never change its label, yet the old shape dragged every
    // singleton through every round's joins — per-round frames were
    // O(|docs|) when the moving part is O(|endpoints|), and near-dup
    // endpoints are typically a small fraction of a corpus. Singletons
    // re-attach once, after the fixpoint, as canonical_id = doc_id
    // (exactly the label they would have carried through every round).
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("canonical_id"))
    var prevCp: DataFrame = null // superseded-checkpoint release handle
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      // neighbor's current label, min over (own, neighbors'). The
      // round CARRIES the pre-round label as __old so convergence is
      // a plain column compare on the round's own frame — the earlier
      // shape (join next↔labels on doc_id, filter, count) paid an
      // extra doc-keyed shuffle every round for the same bit.
      val viaEdges = edges
        .join(labels.withColumnRenamed("doc_id", "dst")
          .withColumnRenamed("canonical_id", "n_label"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("n_label")).as("min_n_label"))
      val hopped = labels.join(viaEdges, Seq("doc_id"), "left")
        .select(col("doc_id"), col("canonical_id").as("__old"),
          least(col("canonical_id"),
            coalesce(col("min_n_label"), col("canonical_id")))
            .as("canonical_id"))
      // Pointer jump — but only once plain hopping has had JumpAfter
      // rounds: near-dup components are almost always diameter ≤ 2-3,
      // and for them the jump's extra self-join per round is pure
      // overhead. A component still unconverged after JumpAfter rounds
      // is deep, and from then on each round also follows every label
      // to ITS label (labels are always doc ids, so the self-join
      // matches every row), halving the remaining pointer depth —
      // O(log d) rounds for a diameter-d chain instead of O(d).
      // The jump reads `hopped` twice; hopped is cached so the hop
      // join/aggregate executes once per round.
      val hc = if (i < JumpAfter) hopped else hopped.cache()
      val next =
        if (i < JumpAfter) hc
        else hc
          .join(hc.select(col("doc_id").as("canonical_id"),
            col("canonical_id").as("jumped")), Seq("canonical_id"), "left")
          .select(col("doc_id"), col("__old"),
            least(col("canonical_id"),
              coalesce(col("jumped"), col("canonical_id")))
              .as("canonical_id"))
      // LAZY checkpoint, materialized by the round's ONE action (the
      // convergence count): next round's plan starts from this leaf
      val cp = next.localCheckpoint(false)
      val diff = cp.filter(col("canonical_id") =!= col("__old")).count()
      if (hc ne hopped) { val _ = hc.unpersist() }
      if (prevCp ne null) releaseCheckpoint(prevCp)
      prevCp = cp
      labels = cp.drop("__old")
      changed = diff > 0
      i += 1
    }
    releaseCheckpoint(edges)
    if (changed) {
      // failure path owns the final round's checkpoint too — release
      // it before throwing so the blocks don't linger until the
      // ContextCleaner happens to GC the RDD handle
      if (prevCp ne null) releaseCheckpoint(prevCp)
      throw new IllegalStateException(
        s"DedupCluster.canonicalize did not converge in $maxIter rounds — " +
          "a component has diameter > maxIter; raise maxIter")
    }
    // singletons (docs with no edge) re-attach with themselves as
    // canonical — ONE left join instead of one per round. The frame
    // returned must stay a compact leaf that survives cache sweeps
    // (the session memo's contract), so the union is checkpointed too;
    // the loop's last checkpoint is then released like any superseded
    // round.
    val full = docs
      .join(labels.withColumnRenamed("canonical_id", "__canon"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__canon"), col("doc_id")).as("canonical_id"))
      .localCheckpoint(false)
    val _ = full.count() // materialize before releasing the loop leaf
    if (prevCp ne null) releaseCheckpoint(prevCp)
    full
  }

  /** Full near-dup removal: keep one row per cluster (the canonical
    * doc), given a pair-producing candidate stage. */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val canon = canonicalize(
      docs.select(col(idCol).as("doc_id")), pairs)
      .filter(col("doc_id") === col("canonical_id"))
      .select(col("doc_id").as(idCol))
    docs.join(canon, Seq(idCol), "left_semi")
  }
}
