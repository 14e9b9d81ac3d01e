package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph clustering for dedup: near-dup candidate pairs only say
  * "these two are alike" — curation needs the transitive closure
  * (one keeper per *cluster*, not per pair).
  */
object Cluster {

  /** Outcome of a connected-components run: rounds executed and
    * whether the labels reached a fixpoint.
    */
  final case class CcStats(rounds: Int, converged: Boolean)

  /** Connected components by min-label propagation with shortcutting:
    * every node starts labeled with itself; each round every node takes
    * the minimum label among itself, its neighbors' labels, and its
    * label's label (the pointer-doubling hop — long chains converge in
    * O(log diameter) rounds instead of O(diameter)).
    *
    * Scale shape: each round is two equi-joins (edges→labels,
    * labels→labels) plus one partial min aggregation, all shuffling on
    * node id — no all-pairs work. Convergence is detected INSIDE the
    * round's single action: the old label rides along into the
    * aggregation, and the materializing `max(changed)` aggregate both
    * populates the round's cache and answers "did anything move" — no
    * separate probe job. Lineage is truncated every
    * [[Lineage.cadence]] rounds (see [[Lineage]]).
    *
    * Throws on non-convergence within `maxIters` — silently returning
    * partially-propagated labels would hand the caller wrong clusters.
    */
  def connectedComponents(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", maxIters: Int = 20): DataFrame = {
    val (labels, stats) = connectedComponentsWithStats(pairs, id1, id2,
      maxIters)
    if (!stats.converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds — " +
        "labels are partial; raise maxIters")
    labels
  }

  /** As [[connectedComponents]] but returns [[CcStats]] instead of
    * throwing on non-convergence. `onRound` is invoked after each
    * materialized round with (round, converged) — progress hook for
    * long runs, same contract as Graph.pageRankUntilStable's.
    */
  def connectedComponentsWithStats(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", maxIters: Int = 20,
      onRound: (Int, Boolean) => Unit = (_, _) => ()): (DataFrame, CcStats) = {
    val edges = Lineage.truncate(pairs
      .select(col(id1).as("src"), col(id2).as("dst"))
      .unionByName(pairs.select(col(id2).as("src"), col(id1).as("dst")))
      .distinct())
    var labels = Lineage.truncate(edges.select(col("src").as("id"))
      .distinct()
      .withColumn("cluster_id", col("id")))
    var iter = 0
    var converged = false
    var toFree: Option[DataFrame] = None
    while (!converged && iter < maxIters) {
      val viaEdges = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id")), "dst")
        .select(col("src").as("id"), col("cluster_id"))
      // shortcutting: follow my current label to ITS label — every
      // label value is itself a node id (min over labels is closed),
      // so chains of stale labels halve each round
      val viaLabel = labels.select(col("id").as("__lid"),
          col("cluster_id").as("__next"))
      val shortcut = labels
        .join(viaLabel, col("cluster_id") === col("__lid"))
        .select(col("id"), col("__next").as("cluster_id"))
      // the node's previous label rides along (null on candidate rows;
      // min() over the group recovers it — each id has exactly one
      // self row) so `changed` is computable without a re-join
      val self = labels.withColumn("__old", col("cluster_id"))
      val cands = viaEdges.withColumn("__old",
          lit(null).cast(self.schema("__old").dataType))
        .unionByName(shortcut.withColumn("__old",
          lit(null).cast(self.schema("__old").dataType)))
        .unionByName(self)
      val next = cands.groupBy("id")
        .agg(min("cluster_id").as("cluster_id"), min("__old").as("__old"))
        .withColumn("__changed", col("cluster_id") =!= col("__old"))
        .persist()
      // ONE action: materializes the round's cache and answers
      // convergence in the same job
      converged = !next.agg(coalesce(max(col("__changed")), lit(false)))
        .head().getBoolean(0)
      val fresh = next.select("id", "cluster_id")
      toFree.foreach(_.unpersist(false))
      toFree = Some(next)
      labels =
        if (!converged && (iter + 1) % Lineage.cadence == 0) {
          // periodic lineage cut: the cached plans still nest one level
          // per round; a checkpoint resets plan depth
          val flat = Lineage.truncate(fresh)
          next.unpersist(false)
          toFree = None
          flat
        } else fresh
      iter += 1
      onRound(iter, converged)
    }
    // materialize the result off the round cache before freeing it
    val out = Lineage.truncate(labels)
    toFree.foreach(_.unpersist(false))
    (out, CcStats(iter, converged))
  }
}
