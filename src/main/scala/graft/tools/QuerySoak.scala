package graft.tools

import graft.{Bench, PipelineQueries, SparkEntry}

/** Times a SELECTED subset of the gate queries at a fixture — the
  * per-operator soak tool (fn1/rt1 under the hot-user zipfian
  * fixture, a new entry at 10×) without paying the full 80-entry
  * Bench. Same materialization contract as Bench (xxhash64 over all
  * output columns folded to one row), 1 cold + `iters` warm runs,
  * median reported.
  *
  * Prints ONE JSON line:
  *   {"sf":dir,"queries":{name:medianWarmSec,...},"cold":{...}}
  *
  * Usage: runMain graft.tools.QuerySoak <sfDir> <query1> [query2 ...]
  */
object QuerySoak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QuerySoak <sfDir> <query...>")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    require(iters >= 1,
      s"SPARK_GRAFT_BENCH_ITERS must be >= 1, got $iters")
    val spark = Harness.session("WARN")
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        Bench.materializeForSoak(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      // reset shared memos before the COLD run too: a query sharing a
      // harness memo with an earlier-soaked entry would otherwise get
      // an artificially fast cold (the dd8-after-dd2 artifact Bench
      // fixed in r9)
      PipelineQueries.resetCaches()
      val cold = once()
      val warms = Seq.fill(iters) {
        PipelineQueries.resetCaches(); once()
      }.sorted
      name -> ((cold, warms(warms.length / 2)))
    }
    def obj(f: ((Double, Double)) => Double): String =
      results.map { case (k, v) => s""""$k":${f(v)}""" }
        .mkString("{", ",", "}")
    println(s"""{"sf":"$dir","queries":${obj(_._2)},"cold":${obj(_._1)}}""")
    spark.stop()
  }
}
