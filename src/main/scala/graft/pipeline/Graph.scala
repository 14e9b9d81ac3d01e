package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative link analysis over an edge list. [[Cluster]] answers
  * "which nodes are the same thing" (idempotent min-propagation);
  * this answers "which nodes matter" (damped mass propagation) — the
  * importance signal corpus curation uses to weight a source/page
  * graph (e.g. harmonic/PageRank centrality over a crawl's link
  * graph as a quality prior).
  */
object Graph {

  /** Outcome of a [[pageRankUntilStable]] run: rounds executed and
    * the final round's max per-node rank delta (grid units, at most
    * `tolGrid`: a run that does not converge throws).
    */
  final case class PrStats(rounds: Int, maxDelta: Long)

  /** Damped PageRank on an exact integer grid.
    *
    * All arithmetic is 64-bit integer: the unit rank mass is `scale`
    * (default 10^12), the damping factor is the exact rational
    * `dampNum/dampDen` (default 85/100), and every division is a
    * floor division — so each iteration is a sum of integers, which
    * is fold-order-independent. The result is bit-identical on any
    * cluster, any partitioning, any round ordering; a double-typed
    * rank would differ in the last ulps between runs because shuffle
    * order changes the fold order of incoming mass. (Same exact-grid
    * trade as [[Profiling.corrProfile]] / Ivf.clusterProfile.)
    *
    * Semantics: edges are deduplicated (multigraph edges collapse to
    * one), every distinct endpoint is a node, rank starts uniform at
    * `scale DIV n`, and each of `iters` rounds sets
    *
    *   rank'(v) = teleport + Σ_{(u,v) ∈ E} (dampNum * (rank(u) DIV outdeg(u))) DIV dampDen
    *
    * with `teleport = (scale * (dampDen - dampNum) DIV dampDen) DIV n`.
    * Mass at dangling nodes (no out-edges) leaks by default — the
    * simple formulation; ranks remain a valid relative ordering,
    * which is what a quality prior consumes. Pass
    * `redistributeDangling = true` for the standard formulation:
    * each round adds (dampNum·(D DIV n)) DIV dampDen to every node,
    * D = the round's dangling mass, read through a one-row broadcast
    * so the round stays one lazy plan (gr2 oracle-replays it; on a
    * dangling-free graph the flag is a no-op, pinned in spec).
    * Floor-division remainders also leak (bounded by outdeg(u) per
    * node per round, i.e. ~E ulps of the 10^12 grid per round).
    *
    * Scale shape: the edge list is the big frame and is shuffled ONCE
    * — `edgesWithDeg` (edges ⋈ out-degrees, both keyed on src) is
    * hash-repartitioned on src and lineage-truncated before the loop,
    * so every iteration's rank join reuses that layout and only the
    * rank frame (|V| rows, not |E|) moves. Each round is then one
    * equi-join on src, one partial (map-side combined) sum keyed on
    * dst, and one left join back to the node frame for teleport-only
    * nodes. No all-pairs work, no driver-side loop over rows; the one
    * driver action besides checkpoints is the node count (a scalar
    * needed as a literal divisor). Lineage is truncated every
    * [[Lineage.cadence]] rounds (see [[Lineage.rounds]]).
    *
    * Returns (node, rank) with rank on the `scale` grid.
    */
  def pageRank(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iters: Int = 5,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1000000000000L,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1, s"pageRank needs >= 1 iteration, got $iters")
    val st = setup(edges, srcCol, dstCol, dampNum, dampDen, scale,
      redistributeDangling)
    Lineage.rounds(st.ranks0, iters)(st.round)
  }

  /** Personalized (seed-teleport) PageRank: the damped walk restarts
    * only at `seeds`, so rank measures proximity-weighted importance
    * RELATIVE to the seed set — the "expand from a curated set"
    * primitive (propagate quality from vetted domains over a crawl's
    * link graph, find suppliers close to flagged customers, seed-based
    * corpus expansion). Same exact integer grid, same once-shuffled
    * edge frame and |V|-row rounds as [[pageRank]]; only the teleport
    * vector changes: `(1−d)·scale DIV |S|` at seeds, 0 elsewhere, and
    * the walk starts AT the seeds (`scale DIV |S|` each).
    *
    * Seeds outside the graph are ignored (teleport onto a node with
    * no edges would just self-decay); at least one seed must be a
    * graph node. Dangling mass leaks as in the base formulation —
    * redistribution under personalized teleport re-targets the seeds,
    * a different operator contract, so it is deliberately not offered
    * here.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst", iters: Int = 5,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"personalizedPageRank needs >= 1 iteration, got $iters")
    val st = setup(edges, srcCol, dstCol, dampNum, dampDen, scale,
      redistributeDangling = false, seeds = Some(seeds))
    Lineage.rounds(st.ranks0, iters)(st.round)
  }

  /** [[pageRank]] iterated to a FIXPOINT instead of a fixed round
    * count: stops when the largest per-node rank change of a round is
    * <= `tolGrid` grid units. Deltas decay by ~dampNum/dampDen per
    * round, so expect ≈ ln(scale/tolGrid) / ln(dampDen/dampNum)
    * rounds (~85 for the defaults); `tolGrid = 0` demands the EXACT
    * integer fixpoint, which symmetric graphs reach (the grid makes
    * it well-defined where doubles would dither forever) but floor
    * dynamics on asymmetric graphs can orbit a few grid units wide
    * instead — don't pass 0 unless the graph is known to settle.
    * Throws if `maxIters` rounds don't get there, like
    * [[Cluster.connectedComponents]]: silently returning a
    * half-converged ranking would hand the caller wrong importance
    * scores.
    *
    * Unlike the fixed-count loop (which runs lazily between
    * checkpoints), convergence detection needs per-round actions:
    * each round's rank frame is materialized (lineage-truncated),
    * then the max |Δrank| is read by a separate |V|-row join of the
    * two truncated frames — the same price [[Cluster]] pays for its
    * changed-label probe. The probe MUST stay outside the truncated
    * frame (see the loop comment). Use the fixed-count form when the
    * round budget is known; this form when the graph's mixing time
    * isn't.
    *
    * Returns ((node, rank), [[PrStats]]). `onRound` is invoked after
    * each materialized round with (round, maxDelta) — hook for
    * progress logging in long fixpoint runs; default no-op.
    */
  def pageRankUntilStable(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", tolGrid: Long = 1000000L, maxIters: Int = 100,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1000000000000L,
      onRound: (Int, Long) => Unit = (_, _) => ()): (DataFrame, PrStats) = {
    require(tolGrid >= 0, s"tolGrid must be >= 0, got $tolGrid")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val st = setup(edges, srcCol, dstCol, dampNum, dampDen, scale)
    var ranks = Lineage.truncate(st.ranks0)
    var round = 0
    var delta = Long.MaxValue
    while (round < maxIters && delta > tolGrid) {
      // The delta probe joins the two TRUNCATED frames and is never
      // itself checkpointed. Folding the prev-join into the frame
      // that gets truncated (the obvious one-action shape) compounds:
      // each LogicalRDD carries the constraints/stats of the plan it
      // replaced, so a checkpointed (round ⋈ prev-checkpoint) nests
      // the previous round's captured plan state and optimization
      // cost grows exponentially — ~2.5×/round from round ~16, while
      // the separate probe keeps plan size and RDD depth constant.
      val next = Lineage.truncate(st.round(ranks))
      delta = next
        .join(ranks.withColumnRenamed("rank", "__prev"), "node")
        .agg(max(abs(col("rank") - col("__prev")))).head().getLong(0)
      ranks = next
      round += 1
      onRound(round, delta)
    }
    if (delta > tolGrid) throw new IllegalStateException(
      s"pageRankUntilStable did not reach tolGrid=$tolGrid in " +
        s"$maxIters rounds (last max delta $delta) — raise " +
        "maxIters or tolGrid")
    (ranks, PrStats(round, maxDelta = delta))
  }

  /** Shared setup: deduped long-typed edges joined with out-degrees,
    * repartitioned on src once and materialized; nodes derived FROM
    * that materialized frame (deriving from the raw plan would
    * recompute the caller's whole upstream join a second time just to
    * list the endpoints); uniform initial ranks; and the one-round
    * transition function.
    */
  private final case class Setup(ranks0: DataFrame,
      round: DataFrame => DataFrame)

  private def setup(edges: DataFrame, srcCol: String, dstCol: String,
      dampNum: Long, dampDen: Long, scale: Long,
      redistributeDangling: Boolean = false,
      seeds: Option[DataFrame] = None): Setup = {
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must satisfy 0 < dampNum < dampDen, got $dampNum/$dampDen")
    // scale * dampNum must stay in Long for the per-edge contribution
    require(scale <= Long.MaxValue / dampDen,
      s"scale $scale overflows the contribution product")

    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // The |E|-row frame, partitioned on the join key once and pinned:
    // the per-round join against ranks reuses this exchange.
    val edgesWithDeg = Lineage.truncate(
      e.join(outdeg, "src").repartition(col("src")))
    val nodes = Lineage.truncate(
      edgesWithDeg.select(col("src").as("node"))
        .union(edgesWithDeg.select(col("dst").as("node"))).distinct())

    val n = nodes.count()
    require(n > 0, "pageRank on an empty edge list")
    val teleport = (scale * (dampDen - dampNum) / dampDen) / n

    // Personalized teleport: a truncated |V|-row (node, tp, rank0)
    // frame replaces the uniform literal. Kept on a separate branch so
    // the uniform path's round plan stays byte-identical to before.
    val seeded: Option[DataFrame] = seeds.map { sd =>
      require(!redistributeDangling,
        "dangling redistribution under personalized teleport re-targets" +
          " the seeds — a different contract; not offered")
      val seedNodes = sd
        .select(col(sd.columns.head).cast("long").as("node")).distinct()
        .join(nodes, "node") // seeds outside the graph are ignored
      val nSeeds = seedNodes.count()
      require(nSeeds > 0, "no seed is a node of the graph")
      val tpSeed = (scale * (dampDen - dampNum) / dampDen) / nSeeds
      Lineage.truncate(nodes
        .join(seedNodes.withColumn("__s", lit(1L)), Seq("node"), "left")
        .select(col("node"),
          when(col("__s") === 1L, lit(tpSeed)).otherwise(lit(0L)).as("tp"),
          when(col("__s") === 1L, lit(scale / nSeeds)).otherwise(lit(0L))
            .as("rank")))
    }

    // Dangling redistribution (the standard formulation the base
    // pageRank doc documents as a leak): the static dangling-node set
    // is nodes minus edge sources; each round their damped mass is
    // shared uniformly — (dampNum·(D DIV n)) DIV dampDen added to
    // every node, D read through a ONE-ROW broadcast cross join so
    // the round stays a single lazy plan (no extra driver action).
    lazy val dangling = Lineage.truncate(nodes.join(
      edgesWithDeg.select(col("src").as("node")).distinct(),
      Seq("node"), "left_anti"))

    def round(ranks: DataFrame): DataFrame = {
      // shuffled-hash hints on the |V|-row sides (r12 optimization):
      // the checkpointed frames carry no runtime stats, so AQE never
      // converts these joins and sort-merge re-SORTS the |E| frame
      // every round; building a per-partition hash table over the
      // small side skips both sorts at any scale (|V| << |E|).
      // Caveat (r12 ADVICE): the hint pins a build-side hash table
      // that cannot fall back to sort-merge, and AQE may coalesce the
      // rank exchange to few partitions — on an extremely hub-skewed
      // node set where one partition holds a large |V| slice, drop the
      // hint (or pin partitions) and let SMJ degrade gracefully.
      val inMass = edgesWithDeg
        .join(ranks.hint("shuffle_hash"),
          edgesWithDeg("src") === ranks("node"))
        .select(col("dst"),
          expr(s"($dampNum * (rank DIV outdeg)) DIV $dampDen").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("in_mass"))
      // inMass is NOT hinted: it sits on top of a shuffle stage, so
      // AQE has runtime stats there and converts the teleport join to
      // a broadcast when |V| is small — a hint would pin it to
      // shuffled-hash and force an extra Exchange of the node frame
      val base = seeded match {
        case Some(ntp) =>
          ntp.join(inMass, ntp("node") === inMass("dst"), "left")
            .select(col("node"),
              (col("tp") + coalesce(col("in_mass"), lit(0L))).as("rank"))
        case None =>
          nodes.join(inMass, nodes("node") === inMass("dst"), "left")
            .select(col("node"),
              (lit(teleport) + coalesce(col("in_mass"), lit(0L))).as("rank"))
      }
      if (!redistributeDangling) base
      else {
        val dm = ranks.join(dangling, Seq("node"))
          .agg(coalesce(sum("rank"), lit(0L)).as("__dm"))
        base.crossJoin(org.apache.spark.sql.functions.broadcast(dm))
          .select(col("node"),
            (col("rank") +
              expr(s"($dampNum * (__dm DIV ${n}L)) DIV $dampDen"))
              .as("rank"))
      }
    }
    val ranks0 = seeded match {
      case Some(ntp) => ntp.select(col("node"), col("rank"))
      case None => nodes.select(col("node"), lit(scale / n).as("rank"))
    }
    Setup(ranks0, round)
  }

  /** HITS hubs & authorities (Kleinberg, "Authoritative Sources in a
    * Hyperlinked Environment", JACM 1999) on the exact integer grid:
    * iterate h(u) = Σ_{u→v} a(v) and a(v) = Σ_{u→v} h(u), each
    * half-step renormalized to the ppm grid against that step's max
    * score — `(s·10⁶) DIV max` is pure long arithmetic, so every
    * round replays bit-for-bit in the oracle (the pageRank grid
    * discipline applied to the other classic link-analysis fixpoint).
    *
    * Output: one row per node, `hub_ppm`/`auth_ppm` on the 0..10⁶
    * grid (nodes with no outgoing edges have hub 0; no incoming,
    * auth 0; the best hub/authority sit at exactly 10⁶).
    *
    * Scale shape: same as pageRank — the |E| frame is deduped,
    * src-partitioned and materialized ONCE; each half-round is one
    * equi-join + one map-side-combined agg, the round max rides in
    * through a ONE-ROW broadcast cross join (no extra action), score
    * frames are |V|-row, lineage truncated per round. Overflow
    * budget: normalized scores are ≤ 10⁶, so a raw score is at most
    * degree·10⁶ and the normalization product at most degree·10¹² —
    * exact in long up to max degree ~9.2·10⁶; beyond that (celebrity
    * fan-in at extreme scale) widen the product to DECIMAL(38,0).
    */
  def hits(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = Lineage.truncate(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src")))
    def normalized(raw: DataFrame, score: String): DataFrame = {
      val mx = raw.agg(max(col(score)).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"($score * 1000000L) DIV __mx").as(score))
    }
    var auth = Lineage.truncate(e.select(col("dst").as("node"))
      .distinct().withColumn("a", lit(1000000L)))
    var hub: DataFrame = null
    (1 to iters).foreach { _ =>
      // the raw half-step frame appears twice inside one truncate
      // action (the one-row max broadcast and the outer cross-join);
      // AQE's in-query stage reuse dedupes the shared subplan, so one
      // action per half-step is the cheap shape (measured in the r12
      // optimization round: truncating hRaw separately and normalizing
      // lazily doubled the per-half-step job count and ran 33% slower)
      val hRaw = e.join(auth, e("dst") === auth("node"))
        .groupBy(e("src").as("node")).agg(sum("a").as("h"))
      hub = Lineage.truncate(normalized(hRaw, "h"))
      val aRaw = e.join(hub, e("src") === hub("node"))
        .groupBy(e("dst").as("node")).agg(sum("h").as("a"))
      auth = Lineage.truncate(normalized(aRaw, "a"))
    }
    hub.withColumnRenamed("h", "hub_ppm")
      .join(auth.withColumnRenamed("a", "auth_ppm"), Seq("node"), "full")
      .select(col("node"),
        coalesce(col("hub_ppm"), lit(0L)).as("hub_ppm"),
        coalesce(col("auth_ppm"), lit(0L)).as("auth_ppm"))
  }
}
