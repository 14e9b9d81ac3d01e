package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.Graph

/** PageRank convergence soak: build the customer<->supplier purchase
  * graph from a fixture (the gr1 entry's graph) and run
  * [[Graph.pageRankUntilStable]] — attests the decay model the
  * Scaladoc claims (rounds ≈ ln(scale/tolGrid) / ln(dampDen/dampNum),
  * ~85 for tolGrid 1e6 at the defaults) on a real graph, and the
  * per-round cost at fixture scale.
  *
  * Prints ONE JSON line:
  * {"n_nodes":N,"rounds":N,"converged":b,"max_delta":N,
  *  "top_rank":N,"wall_sec":S}
  *
  * Usage: runMain graft.tools.PrSoak <sfDir> [tolGrid] [maxIters]
  */
object PrSoak {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && args.length <= 3,
      "usage: PrSoak <sfDir> [tolGrid] [maxIters]")
    val dir = args(0)
    val tolGrid = if (args.length >= 2) args(1).toLong else 1000000L
    val maxIters = if (args.length == 3) args(2).toInt else 150
    val spark = Harness.session("WARN")

    val ord = Tables.load(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val li = Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val cs = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = cs.unionByName(
      cs.select(col("dst").as("src"), col("src").as("dst")))

    val t0 = System.nanoTime()
    var last = t0
    val (ranks, stats) = Graph.pageRankUntilStable(edges,
      tolGrid = tolGrid, maxIters = maxIters,
      onRound = { (r, d) =>
        val now = System.nanoTime()
        System.err.println(
          s"PRSOAK round=$r delta=$d wall=${Harness.fmt("%.2f", (now - last) / 1e9)}s")
        last = now
      })
    val nNodes = ranks.count()
    val topRank = ranks.agg(max("rank")).head().getLong(0)
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"""{"n_nodes":$nNodes,"rounds":${stats.rounds},""" +
      s""""converged":${stats.converged},"max_delta":${stats.maxDelta},""" +
      s""""top_rank":$topRank,"wall_sec":${Harness.fmt("%.1f", wall)}}""")
    spark.stop()
  }
}
