package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Graph, Snapshot}

/** Behavior tests for integer-grid PageRank (vs an in-spec reference
  * implementation with identical arithmetic) and the snapshot diff.
  */
class GraphSnapshotSpec extends SparkTestBase {

  /** Reference PageRank: same integer-grid semantics as
    * [[Graph.pageRank]], computed driver-side over plain maps.
    */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000000L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val teleport = (scale * 15L / 100L) / n
    var rank = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) =>
          (85L * (rank(s) / outdeg(s))) / 100L
        }.sum
      }
      rank = nodes.map(v => v -> (teleport + in.getOrElse(v, 0L))).toMap
    }
    rank
  }

  private def runPageRank(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("hits: hand-computed round, ppm normalization, zero fill, no cartesian") {
    import spark.implicits._
    // u1→{v1,v2}, u2→{v1}: round 1 with a0 = 1e6 everywhere:
    //   h(u1)=2e6, h(u2)=1e6 → normalized u1=1e6, u2=5e5
    //   a(v1)=1e6+5e5=1.5e6, a(v2)=1e6 → v1=1e6, v2=(1e6*1e6)//1.5e6
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val r1 = Graph.hits(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(r1(1L) == ((1000000L, 0L)))   // best hub; never an authority
    assert(r1(2L) == ((500000L, 0L)))
    assert(r1(10L) == ((0L, 1000000L)))  // best authority; never a hub
    assert(r1(11L) == ((0L, 666666L)))   // (1e6*1e6) DIV 1.5e6
    // more rounds keep the invariants: grid-bounded, maxima at 1e6
    val r3 = Graph.hits(edges, iters = 3).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(r3.forall { case (h, a) => h >= 0 && h <= 1000000L &&
      a >= 0 && a <= 1000000L })
    assert(r3.map(_._1).max == 1000000L && r3.map(_._2).max == 1000000L)
    // duplicate edges collapse (the distinct), and the plan is
    // equi-join shaped — no cartesian/broadcast-NLJ
    val dup = Graph.hits(edges.unionByName(edges), iters = 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(dup == r1)
    val p = Graph.hits(edges, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("pageRank: 2-cycle is an exact fixpoint of the integer grid") {
    // a<->b, outdeg 1 each: rank' = tp + (85*(r div 1)) div 100
    //   = 75e9 + 425e9 = 5e11 = r0, every round.
    val got = runPageRank(Seq((1L, 2L), (2L, 1L)), iters = 5)
    assert(got == Map(1L -> 500000000000L, 2L -> 500000000000L))
  }

  test("pageRank: matches the reference implementation exactly") {
    // star + chain + dangling node, 12 nodes, deterministic edges
    val edges = (1L to 8L).map(l => (l, 100L)) ++ // leaves -> hub
      Seq((100L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), // chain with cycle back
        (4L, 1L), (100L, 200L)) // 200 is dangling (no out-edges)
    for (iters <- Seq(1, 3, 5)) {
      val got = runPageRank(edges, iters)
      val want = refPageRank(edges, iters)
      assert(got == want, s"iters=$iters")
    }
  }

  test("pageRank: hub outranks leaves and mass never exceeds scale") {
    val edges = (1L to 8L).map(l => (l, 100L)) ++ Seq((100L, 1L))
    val got = runPageRank(edges, iters = 5)
    assert((2L to 8L).forall(l => got(100L) > got(l)))
    assert(got.values.sum <= 1000000000000L) // floor + dangling leak only
  }

  test("pageRank: dangling redistribution — hand-computed round, conservation, no-op without dangling") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long)], iters: Int, redist: Boolean) =
      Graph.pageRank(edges.toDF("src", "dst"), iters = iters,
          redistributeDangling = redist)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a→b, b dangling. n=2, tp=75e9, r0=5e11 each.
    // round 1 leak-mode:    a=tp, b=tp+(85·5e11)//100=tp+4.25e11
    // round 1 redistribute: D=r0(b)=5e11, share=(85·(D//2))//100=2.125e11
    val leak = run(Seq((1L, 2L)), iters = 1, redist = false)
    assert(leak == Map(1L -> 75000000000L, 2L -> 500000000000L))
    val re = run(Seq((1L, 2L)), iters = 1, redist = true)
    assert(re == Map(1L -> 287500000000L, 2L -> 712500000000L))
    // exact conservation in this round (no floor loss at these values)
    assert(re.values.sum == 1000000000000L)
    // over 5 rounds the redistributed total stays within floor-loss
    // of scale while leak-mode bleeds the dangling mass
    val re5 = run(Seq((1L, 2L)), iters = 5, redist = true)
    val leak5 = run(Seq((1L, 2L)), iters = 5, redist = false)
    assert(re5.values.sum > leak5.values.sum)
    assert(re5.values.sum <= 1000000000000L)
    // on a dangling-free graph the flag is a no-op (D = 0 each round)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(run(cyc, 3, redist = true) == run(cyc, 3, redist = false))
  }

  test("pageRank: multigraph edges collapse (duplicates don't change ranks)") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(runPageRank(e ++ e ++ e, iters = 3) == runPageRank(e, iters = 3))
  }

  test("pageRankUntilStable: 2-cycle hits the exact fixpoint in one round") {
    import spark.implicits._
    val (df, stats) = Graph.pageRankUntilStable(
      Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), tolGrid = 0L)
    assert(stats == Graph.PrStats(1, maxDelta = 0L))
    assert(df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 500000000000L, 2L -> 500000000000L))
  }

  test("pageRankUntilStable: K4 settles exactly in 2 rounds, matches fixed loop") {
    import spark.implicits._
    // complete digraph on 4 nodes: symmetric, exact fixpoint round 2
    val edges = (for { a <- 1L to 4L; b <- 1L to 4L if a != b }
      yield (a, b)).toDF("src", "dst")
    val (df, stats) = Graph.pageRankUntilStable(edges, tolGrid = 0L)
    assert(stats == Graph.PrStats(2, maxDelta = 0L))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 4L).map(_ -> 249999999999L).toMap)
    val fixed = Graph.pageRank(edges, iters = stats.rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == fixed)
  }

  test("pageRankUntilStable: deep fixpoint runs stay flat per round") {
    import spark.implicits._
    // Regression pin for the exponential plan blowup: checkpointing
    // the (round ⋈ prev) delta frame nested each round's captured
    // plan state inside the next LogicalRDD, and per-round cost grew
    // ~2.5×/round from round ~16 — a ~40-round run like this one
    // would effectively hang. With the
    // delta probe outside the truncated frame, rounds are flat and
    // this finishes in seconds; deltas decay by dampNum/dampDen per
    // round, which also pins the documented decay model.
    val fwd = (1L to 2000L).map { i =>
      (i % 400 + 1, 401 + (i * i * 13 + i * 7) % 200)
    }
    val edges = (fwd ++ fwd.map(p => (p._2, p._1))).toDF("src", "dst")
    val walls = scala.collection.mutable.ArrayBuffer.empty[Long]
    var last = System.nanoTime()
    val (_, stats) = Graph.pageRankUntilStable(edges,
      tolGrid = 1000000L, maxIters = 80,
      onRound = { (_, _) =>
        val now = System.nanoTime(); walls += now - last; last = now
      })
    assert(stats.maxDelta <= 1000000L && stats.rounds >= 35,
      s"graph converged too fast (${stats.rounds} rounds) to exercise deep iteration")
    // late rounds must not dwarf early rounds (pre-fix: 100×+)
    val early = walls.slice(2, 10).sorted.apply(4)
    val late = walls.takeRight(8).sorted.apply(4)
    assert(late < early * 10,
      s"per-round wall grew: early median ${early / 1e6}ms late ${late / 1e6}ms")
  }

  test("pageRankUntilStable: throws when maxIters can't reach the tolerance") {
    import spark.implicits._
    // bidirectional star: floor dynamics orbit a few grid units wide,
    // so tolGrid=0 is unreachable — the cap must throw, not return
    // half-converged ranks
    val edges = ((1L to 4L).map(l => (l, 100L)) ++
      (1L to 4L).map(l => (100L, l))).toDF("src", "dst")
    intercept[IllegalStateException] {
      Graph.pageRankUntilStable(edges, tolGrid = 0L, maxIters = 5)
    }
  }

  test("pageRank: rejects bad damping and empty edges") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), dampNum = 100L)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"))
    }
  }

  // ---------------- snapshot diff ----------------

  private def mkDocs(rows: Seq[(Long, String, String, String)]) = {
    import spark.implicits._
    rows.toDF("id", "body", "lang", "source")
  }

  lazy val v1 = mkDocs(Seq(
    (1L, "alpha", null, "s1"), // lang NULL -> changed in v2 ("" != NULL)
    (2L, "beta", "en", "s1"), // unchanged
    (3L, "gamma", "en", "s2"), // removed in v2
    (5L, "delta", "en", "s2"))) // body edited in v2
  lazy val v2 = mkDocs(Seq(
    (1L, "alpha", "", "s1"),
    (2L, "beta", "en", "s1"),
    (4L, "new doc", "de", "s2"), // added
    (5L, "delta2", "en", "s2")))

  test("snapshotDiff: all four statuses, NULL vs empty-string distinct") {
    val got = Snapshot.snapshotDiff(v1, v2, Seq("id"), Seq("body", "lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "changed", 2L -> "unchanged",
      3L -> "removed", 4L -> "added", 5L -> "changed"))
  }

  test("snapshotDiff: non-fingerprint column changes are 'unchanged'") {
    val moved = v1.withColumn("source", lit("elsewhere"))
    val got = Snapshot.snapshotDiff(v1, moved, Seq("id"), Seq("body", "lang"))
      .collect().map(_.getString(1)).toSet
    assert(got == Set("unchanged"))
  }

  test("snapshotDiffSummary: per-group counts, v2 grouping wins") {
    // move doc 2 to source s9 in v2: it counts under s9 (the NEW
    // snapshot's grouping), while removed doc 3 counts under its v1
    // source s2.
    val v2moved = v2.withColumn("source",
      when(col("id") === 2, lit("s9")).otherwise(col("source")))
    val got = Snapshot.snapshotDiffSummary(v1, v2moved, Seq("id"),
      Seq("body", "lang"), Seq("source"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(
      ("s1", "changed") -> 1L, ("s9", "unchanged") -> 1L,
      ("s2", "removed") -> 1L, ("s2", "added") -> 1L,
      ("s2", "changed") -> 1L))
  }
}
