package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph, and the
  * canonicalization step a training-data pipeline runs after pairwise
  * dedup: transitively group duplicate pairs into clusters and keep one
  * representative (the minimum doc_id) per cluster.
  *
  * Algorithm: iterative min-label propagation. Every vertex starts
  * labelled with itself; each round every vertex takes the minimum label
  * among itself and its neighbors, until no label changes. Rounds needed
  * = the maximum component *diameter*, and each round is exactly one
  * shuffle (join on vertex id) + one aggregation — near-dup graphs have
  * tiny, dense components (a cluster of copies of one document), so this
  * converges in 2-3 rounds at any corpus scale. For adversarial graphs
  * with long-chain components (diameter ~ log n or worse), swap the loop
  * body for the large-star/small-star contraction of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" (SoCC'14) — the driver
  * loop and contracts below stay the same.
  *
  * Scale notes: each round costs exactly ONE Spark job — the new label
  * table is persisted and the convergence probe (`count(changed)`, a
  * full scan by design) doubles as the action that materializes the
  * cache. Lineage is truncated with `localCheckpoint` every few rounds
  * only: dup-cluster graphs converge in 1-2 rounds where plan growth is
  * irrelevant, while long-chain graphs still get the truncation before
  * Catalyst re-analysis dominates (on a cluster with a checkpoint dir,
  * reliable `checkpoint` is the durable choice).
  */
object ConnectedComponents {

  /** Transitive components with pointer jumping: each round, after the
    * min-over-neighbors propagation, every vertex also adopts its
    * label's label (`component ← label(component)`), halving the
    * remaining distance to the component minimum — convergence in
    * O(log diameter) rounds instead of O(diameter). One extra
    * (tiny) labels⋈labels join per round, worth it for long-chain
    * graphs; plain [[components]] is the cheaper choice for dup
    * clusters whose diameter is 1-2. */
  def componentsPointerJump(edges: DataFrame, maxIter: Int = 20): DataFrame =
    components(edges, maxIter, pointerJump = true)

  /** Transitive components of an undirected pair graph.
    *
    * @param edges DataFrame with columns (id_a, id_b), one row per pair.
    * @return (doc_id, component) for every vertex that appears in any
    *         edge; component is the minimum doc_id reachable from it.
    */
  def components(edges: DataFrame, maxIter: Int = 25,
      pointerJump: Boolean = false): DataFrame =
    componentsWithRounds(edges, maxIter, pointerJump)._1

  /** [[components]] plus the number of propagation rounds actually
    * executed — the observable that PlanInvariantsSpec pins on
    * controlled-diameter fixtures, because a convergence-driven loop's
    * rounds never appear in any plan: an accidental extra round (or a
    * propagation change that slows convergence) re-converges to the
    * same fixpoint and would otherwise ship silently at ~1.5× the
    * cost. */
  private[graft] def componentsWithRounds(edges: DataFrame,
      maxIter: Int = 25,
      pointerJump: Boolean = false): (DataFrame, Int) = {
    // Symmetrize once: propagation below only needs u <- v direction
    // for every ordered orientation of each edge. Both orientations come
    // from ONE explode rather than a two-branch union — a union would
    // evaluate the (possibly expensive) upstream `edges` plan twice in
    // the materializing job; e.g. the LSH-candidate chain feeding
    // dedup_components costs ~1.6s per evaluation at sf0.1.
    val sym = edges
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .persist()

    // Size the iteration's partitioning from the measured edge count,
    // not the session's shuffle-partition default: a cached plan keeps
    // its materialization-time partitioning (AQE does not re-coalesce
    // cached output), so a 6k-edge dup graph would otherwise iterate on
    // 32 near-empty partitions and pay scheduler overhead every round.
    // The count() also materializes the cache, so the expensive edge
    // chain runs exactly once. ~500k edges per partition keeps rounds
    // task-bound, with full parallelism restored at real graph sizes.
    val nEdges = sym.count()
    val nParts = math.max(1, math.min(
      edges.sparkSession.sparkContext.defaultParallelism.toLong,
      (nEdges + 499999L) / 500000L).toInt)
    // Fused init + first propagation: round 0's "min over self and
    // neighbors" is one aggregation over the symmetrized edges, so the
    // identity-label table is never materialized (dup-cluster graphs
    // then typically need a single further round to confirm the
    // fixpoint).
    var labels = sym.groupBy(col("u"))
      .agg(min(col("v")).as("min_nbr"))
      .select(col("u").as("doc_id"),
        least(col("u"), col("min_nbr")).as("component"))
      .coalesce(nParts)
      .persist()
    var prevCached = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborLabels = sym
        .join(labels.withColumnRenamed("doc_id", "v"), "v")
        .select(col("u").as("doc_id"), col("component"))
      // The per-doc `changed` flag rides in the same aggregation that
      // produces the new labels (labels shrink monotonically, so
      // "changed" == "min over neighbors beat my old label" ==
      // min(candidate) < min-tagged-old).
      val propagated = labels.select(col("doc_id"), col("component"),
          lit(true).as("is_own"))
        .unionByName(neighborLabels.withColumn("is_own", lit(false)))
        .groupBy("doc_id")
        .agg(min(col("component")).as("component"),
          min(when(col("is_own"), col("component"))).as("prev"))
      // Pointer jump: adopt the label's label (labels shrink
      // monotonically, so the parent's component is never worse). The
      // `changed` flag is computed after the jump so a jump-only
      // improvement still defers convergence.
      val jumped = if (!pointerJump) propagated else {
        val parents = propagated
          .select(col("doc_id").as("p_id"), col("component").as("p_comp"))
        propagated
          .join(parents, col("component") === col("p_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("p_comp"), col("component")).as("component"),
            col("prev"))
      }
      val next = jumped
        .withColumn("changed", col("component") < col("prev"))
        .drop("prev")
        .coalesce(nParts)
        .persist()
      // ONE job per round: the convergence probe is a deliberate FULL
      // scan (count, not limit-1) so the very same action materializes
      // every cached partition of `next` — a short-circuiting probe
      // would leave the cache partial and re-run the propagate join for
      // the partitions the next round touches.
      val changed = next
        .agg(count(when(col("changed"), lit(1))).as("n"))
        .first().getLong(0)
      prevCached.unpersist(false)
      prevCached = next
      labels = next.drop("changed")
      converged = changed == 0
      iter += 1
      // Truncate the iterative lineage every few rounds: irrelevant for
      // dup clusters (diameter 1-2) but keeps Catalyst re-analysis from
      // dominating on long-chain graphs. localCheckpoint drops the plan
      // to the cached RDD, after which the persist above is redundant.
      if (!converged && iter % 5 == 0) {
        labels = labels.localCheckpoint()
        prevCached.unpersist(false)
        prevCached = labels
      }
    }
    sym.unpersist(false)
    // Non-convergence must be loud: returning partial labels would
    // split true duplicate clusters and silently keep duplicates.
    if (!converged) {
      prevCached.unpersist(false)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise maxIter or use " +
          "componentsPointerJump (O(log diameter) rounds) for " +
          "long-chain graphs")
    }
    // Hand back a lineage-free copy and release the cache-manager entry:
    // localCheckpoint blocks are reclaimed by the ContextCleaner once the
    // result is unreachable, whereas a persisted Dataset would sit in the
    // cache manager forever. One extra tiny job (scan of the cached
    // labels, no join).
    val result = labels.localCheckpoint()
    prevCached.unpersist(false)
    (result, iter)
  }

  /** Canonical-representative assignment over a full corpus: every doc
    * gets the component label of its duplicate cluster (its own id when
    * it has no duplicates), and `is_canonical` marks the one kept doc
    * per cluster. The label table is tiny relative to the corpus (only
    * docs that occur in a dup pair), so the join broadcasts at scale.
    */
  def canonicalize(corpus: DataFrame, edges: DataFrame): DataFrame =
    corpus.select(col("doc_id"))
      .join(broadcast(components(edges)), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("is_canonical", col("doc_id") === col("component"))

  /** Quality-aware canonicalization: instead of [[canonicalize]]'s
    * min-id policy, each duplicate cluster keeps its HIGHEST-`quality`
    * member (ties to the smaller doc_id) — the policy real pipelines
    * want, since the member kept should be the longest / cleanest
    * rendition of the duplicated content, not whichever copy was
    * ingested first.
    *
    * Scale shape: the corpus itself never shuffles. The per-cluster
    * argmax runs only over docs that appear in a dup pair (the tiny
    * label table): one broadcast join attaches labels to their quality,
    * one map-side-partial `max(struct(quality, -doc_id))` aggregation
    * picks each cluster's winner deterministically, and the winners —
    * smaller still than the labels — broadcast back over the corpus.
    * Singletons (no dup pair) keep themselves via the null path of the
    * left joins. */
  def canonicalizeByQuality(corpus: DataFrame, edges: DataFrame,
      quality: org.apache.spark.sql.Column): DataFrame = {
    val labels = components(edges)
    val winners = corpus.select(col("doc_id"), quality.as("q"))
      .join(broadcast(labels), Seq("doc_id"))
      .groupBy(col("component"))
      .agg(max(struct(col("q"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("component"), (-col("best.neg_id")).as("keep_id"))
    corpus.select(col("doc_id"), quality.as("q"))
      .join(broadcast(labels), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"), col("q"))
      .join(broadcast(winners), Seq("component"), "left_outer")
      .select(col("doc_id"), col("component"), col("q"),
        coalesce(col("keep_id") === col("doc_id"), lit(true)).as("keep"))
  }
}
