package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by smallest-label propagation WITH pointer
  * jumping — the missing half of near-duplicate detection: pair queries
  * (q19/q44) emit EDGES, but dedup needs CLUSTERS (keep one doc per
  * component). Pure DataFrame iteration: each round every node takes the
  * min label among itself and its neighbors (propagates distance 1), then
  * compresses by taking its LABEL'S label (doubles every already-built
  * propagation path — the classic pointer-jumping / path-halving step,
  * the same mechanism as large-star compression in the published
  * MapReduce-CC algorithms). Reach grows ≥ 2r+1 per round, so
  * convergence is O(log diameter) rounds, not O(diameter): the r5
  * 10M-doc ladder rung measured the diameter-bound loop at 14 rounds /
  * 228 s (3.7× wall for 2× data over 5M) — hub-heavy dup graphs get
  * DEEPER as they grow, so the round count itself was the super-linear
  * term. Correctness is unchanged: a label is always the id of some
  * node REACHABLE from its holder (induction: neighbor-min adopts a
  * neighbor's reachable node; the jump adopts a reachable node's
  * reachable node), labels only decrease, and a no-change fixed point
  * of the combined update is in particular a neighbor-min fixed point —
  * labels constant across every edge, hence constant per component and
  * equal to the component's min id (the min node's label can never drop
  * below itself). Same exact output, fewer rounds.
  *
  * Scale shape: each round is one shuffle-join on the edge list + one
  * min-aggregate + one n-row self-join on the label key, all
  * distributed, with every exchange sized and coalesced by AQE (no
  * hand-sized width: a checkpointed frame does not hand its partitioning
  * to a later join); the driver only checks a converged count, exactly
  * how Pregel-style systems iterate. Per-round frames are
  * localCheckpoint'ed, NOT merely persisted: persist caches data but the
  * LOGICAL plan still embeds every previous round (and the possibly huge
  * edge-query lineage), so analysis cost doubles per round — measured
  * ~2 s/round on a 231-edge graph before truncation, ~0.1 s after.
  * Lineage truncation per round is the standard iterative-algorithm
  * pattern (GraphX/GraphFrames checkpoint the same way).
  */
object Components {

  /** @param edges undirected edge list
    * @return (doc_id, component) for every node appearing in `edges`,
    *         component = smallest doc_id reachable (the canonical label) */
  def connectedComponents(edges: DataFrame, src: String = "doc1",
                          dst: String = "doc2",
                          maxIter: Int = 20): DataFrame = {
    // symmetrize by EXPLODING both directions out of one row, as PageRank
    // does: the edge lineage (LSH banding + verify joins for q51) is read
    // once. localCheckpoint: materialize AND truncate the plan to a
    // LogicalRDD so no round re-analyzes (or re-plans against) the edge
    // query.
    val sym = edges.select(explode(array(
        struct(col(src).as("a"), col(dst).as("b")),
        struct(col(dst).as("a"), col(src).as("b")))).as("e"))
      .select("e.*")
      .distinct()
      .localCheckpoint()
    // eager, like `half` below: round 1 reads `labels` from two query
    // stages AQE runs at once, so it is filled before either starts
    var labels = sym.select(col("a").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = sym
        .join(labels.select(col("id").as("b"), col("label").as("nl")), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("nl")).as("nmin"))
      // `half` is checkpointed eagerly, in its own job: both sides of the
      // pointer-jump self-join below read it, and AQE runs their two query
      // stages at once. Filled lazily, the second stage's task would block
      // on the first one's write lock for the same block (BlockManager's
      // "already exists on this machine" WARN) instead of reading a stored
      // one. `next` stays lazy: only the convergence count reads it. The
      // OLD label rides along so convergence is a filter+count over the
      // checkpointed rows — not another join+shuffle per round.
      val half = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          col("label").as("old"))
        .localCheckpoint()
      // pointer jump: label <- label(label). Every label IS a node id (it
      // started as one and only ever adopts other nodes' ids), so the
      // lookup side covers every key; left-join defensively anyway. The
      // jump is what turns a length-d propagation chain into d/2 — the
      // neighbor-min step alone re-walks long chains one hop per round.
      val next = half
        .join(half.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"),
          col("old"))
        .localCheckpoint(false)
      val changed = next.filter(col("label") =!= col("old")).count()
      converged = changed == 0
      labels = next.select("id", "label")
      i += 1
    }
    // silent truncation would return plausible-but-WRONG labels (a long
    // chain's far end keeps a non-minimal label) — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        s"(graph diameter exceeds maxIter); raise maxIter")
    labels.select(col("id").as("doc_id"), col("label").as("component"))
  }
}
