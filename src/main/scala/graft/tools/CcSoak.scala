package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.{Cluster, Dedup}

/** Clustering soak: mine near-dup pairs over a fixture's `documents`
  * and run connectedComponents with stats — the dd6/dd8 cost path at
  * scale. Point it at a [[ScaleFixture]] output built with the
  * giantDocs mode to attest the deep-topology case the zipfian soak
  * cannot produce (zipfian skews key MASS; giantDocs plants one
  * deep-diameter, high-degree near-dup component).
  *
  * Prints ONE JSON line:
  * {"rounds":N,"converged":b,"n_pairs":N,"n_labeled":N,
  *  "largest_cluster":N,"giant_members":N,"wall_sec":S}
  * where giant_members counts labeled docs from the planted id range
  * (doc_id >= the base fixture's max — 0 when no giant was planted).
  *
  * Usage: runMain graft.tools.CcSoak <sfDir> [maxIters]
  */
object CcSoak {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && args.length <= 2,
      "usage: CcSoak <sfDir> [maxIters]")
    val dir = args(0)
    val maxIters = if (args.length == 2) args(1).toInt else 20
    val spark = Harness.session("WARN")

    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "source")
    val giantFrom = docs.filter(col("source") === "giantsrc")
      .agg(min(col("doc_id"))).head() match {
        case r if r.isNullAt(0) => Long.MaxValue
        case r                  => r.getLong(0)
      }
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashNearDupPairs(
      docs.select("doc_id", "text"), "doc_id", "text",
      minEstJaccard = 0.5)
    val (labels, stats) = Cluster.connectedComponentsWithStats(
      pairs.select("id1", "id2"), maxIters = maxIters)
    val nPairs = pairs.count()
    val nLabeled = labels.count()
    val largest = labels.groupBy("cluster_id").count()
      .agg(max("count")).head().getLong(0)
    val giantMembers = labels.filter(col("id") >= giantFrom).count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"rounds":${stats.rounds},"converged":${stats.converged},""" +
        s""""n_pairs":$nPairs,"n_labeled":$nLabeled,""" +
        s""""largest_cluster":$largest,"giant_members":$giantMembers,""" +
        s""""wall_sec":${Harness.fmt("%.1f", wall)}}""")
    spark.stop()
  }
}
