package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community structure over an edge list — the two classic local /
  * mesoscale graph signals corpus curation consumes alongside
  * [[Graph]]'s global importance: label-propagation communities
  * (which topical/site neighborhood is this page in — LPA, Raghavan
  * et al., Phys. Rev. E 2007) and per-node triangle counts /
  * clustering coefficients (how clique-like is this node's
  * neighborhood — spam farms and boilerplate rings are near-cliques,
  * organic link neighborhoods are not).
  *
  * Both are exact integer computations: labels are node ids,
  * triangle counts are counts, and the clustering coefficient is
  * emitted on a ppm integer grid — every value replays bit-for-bit
  * in any engine, the same discipline as Graph.pageRank's integer
  * rank grid.
  */
object Communities {

  /** Synchronous label propagation with a self-vote, deterministic
    * ties. Every node starts labeled with itself; each round every
    * node adopts the label with the highest vote count among its
    * neighbors' current labels plus ONE self-vote for its own current
    * label, ties broken toward the SMALLEST label. The self-vote
    * damps the 2-cycle oscillation plain synchronous LPA exhibits on
    * bipartite graphs (Raghavan et al. §III discuss the
    * label-oscillation failure mode); the (count DESC, label ASC)
    * rule makes every round a pure function of the previous one — no
    * random visit order, so the result is reproducible across runs,
    * partitionings, and engines, unlike the paper's asynchronous
    * formulation.
    *
    * Scale shape: the edge list is symmetrized, deduped,
    * hash-partitioned on `src` ONCE and lineage-truncated; each round
    * is one equi-join of edges against the |V|-row label frame, one
    * partial (map-side combined) count keyed on (node, label), and
    * one struct-max partial agg keyed on node — the (count, -label)
    * pair folds associatively, so the argmax needs no window and no
    * sort. Per-round shuffle volume is O(|E|) vote rows collapsing to
    * O(|V|) — never all-pairs, no driver-side loop over rows.
    * Lineage is truncated every [[Lineage.cadence]] rounds (see
    * [[Lineage.rounds]]).
    *
    * Runs a FIXED `iters` rounds (LPA has no monotone convergence
    * guarantee; production runs use a small fixed budget — labels
    * stabilize in a handful of rounds on real graphs). Returns
    * (node, community) with community = the surviving label.
    */
  def labelPropagation(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", iters: Int = 4): DataFrame = {
    require(iters >= 1, s"labelPropagation needs >= 1 round, got $iters")
    // symmetrized edge set materialized ONCE (r12 optimization): it
    // feeds three derivations (both arms of the self-loop union and
    // the initial label frame), which as separate truncate actions
    // each recomputed the caller's pair build + distinct
    val sym = Lineage.truncate(pairs
      .select(col(id1).cast("long").as("src"), col(id2).cast("long").as("dst"))
      .unionByName(pairs.select(col(id2).cast("long").as("src"),
        col(id1).cast("long").as("dst")))
      .distinct())
    // the self-vote is baked in as a self-loop edge: each round then
    // reads the label frame ONCE (edges ⋈ labels), instead of the
    // obvious neighbor-votes ∪ self-votes shape whose double reference
    // doubles the lazy plan per round between checkpoints — the same
    // failure family Graph.pageRank's fixpoint probe works around
    val edges = Lineage.truncate(sym
      .unionByName(sym.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
      .repartition(col("src")))
    val labels0 = Lineage.truncate(
      sym.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")))
    val labels = Lineage.rounds(labels0, iters) { cur =>
      val votes = edges
        .join(cur.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("lbl"))
        .groupBy("node", "lbl").agg(count(lit(1)).as("c"))
      // argmax by (count DESC, label ASC) as ONE associative
      // struct-max: maximize (c, -lbl), then recover lbl. No window.
      votes
        .groupBy("node")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("w"))
        .select(col("node"), (-col("w.nl")).as("lbl"))
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** The k-core of an undirected simple graph: the maximal subgraph
    * in which every node has degree >= `k` (Seidman, Social Networks
    * 1983) — the "dense backbone" signal curation uses opposite
    * [[triangleStats]]: coreness separates structurally embedded
    * pages from peripheral ones, and a crawl's spam/link-farm audits
    * read both. Computed by synchronous peeling: each round drops
    * every node whose CURRENT degree is < k, until nothing changes.
    * Peeling is monotone (dropped nodes never return) and idempotent
    * at the fixpoint, so running a FIXED `rounds` budget is exact as
    * long as the budget covers convergence — extra rounds are no-ops,
    * which is what makes the computation replayable as a fixed CTE
    * chain in any engine. The returned frame is the k-core's edge
    * endpoints with their in-core degree.
    *
    * Scale shape: each round is one partial count keyed on the edge
    * source and two semi equi-joins filtering both endpoints against
    * the survivor set — all keyed on node ids, no all-pairs work, no
    * window, no driver-side rows. The surviving edge frame shrinks
    * monotonically. The round function reads the live frame twice
    * (degree + filter), so lineage is truncated every
    * [[Lineage.cadence]] rounds to contain the plan doubling (the
    * gr2 double-reference family; bounded at 2^cadence× between
    * cuts; see [[Lineage.rounds]]). Convergence within the budget is
    * the caller's contract — pass `rounds` >= the graph's peel depth
    * and assert idempotence in tests (the spec does; real deployments
    * log the last round's drop count).
    */
  def kCore(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
      k: Int = 3, rounds: Int = 12): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    require(rounds >= 1, s"kCore needs rounds >= 1, got $rounds")
    Lineage.rounds(symmetrized(pairs, id1, id2), rounds)(peel(_, k))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** The peel input of [[kCore]] and [[kCoreProfile]]: both
    * orientations of every non-self-loop pair, deduped, partitioned
    * on `src` and lineage-truncated.
    */
  private def symmetrized(pairs: DataFrame, id1: String,
      id2: String): DataFrame =
    Lineage.truncate(pairs
      .select(col(id1).cast("long").as("src"), col(id2).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .unionByName(pairs.select(col(id2).cast("long").as("src"),
        col(id1).cast("long").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src")))

  /** One synchronous peel: keeps the edges both of whose endpoints
    * have degree >= `k` in `live`.
    */
  private def peel(live: DataFrame, k: Int): DataFrame = {
    val keep = live.groupBy("src").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= k).select(col("src").as("__keep"))
    live
      .join(keep.withColumnRenamed("__keep", "src"), Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("__keep", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst")
  }

  /** The peel TRAJECTORY of [[kCore]]: one row per round (0 = the
    * input graph) with the surviving node and edge counts — the
    * decomposition profile an audit actually reads ("how fast does
    * the graph shed periphery at this k"), and the form that stays
    * informative when the k-core itself is empty. Rounds past the
    * fixpoint repeat the converged counts (or 0/0 once empty), so a
    * fixed budget attests idempotence in-band. Same per-round shape
    * as [[kCore]], but every round's survivor frame is materialized
    * (r12 optimization): unlike kCore, the trajectory output reads
    * EVERY generation, so an un-truncated generation is recomputed by
    * each later stats row — the kc1 entry's final job carried 92
    * sort-merge joins from that replication; per-round truncation
    * (one cheap action on a shrinking frame) makes the final union a
    * flat read of `rounds + 1` one-row aggregates. Note this makes
    * construction EAGER: rounds+1 materialization jobs run before the
    * returned frame is acted on; where the round frames are stored
    * follows the session policy in [[Lineage]].
    */
  def kCoreProfile(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", k: Int = 3, rounds: Int = 6): DataFrame = {
    require(k >= 1, s"kCoreProfile needs k >= 1, got $k")
    require(rounds >= 1, s"kCoreProfile needs rounds >= 1, got $rounds")
    def stats(round: Int, live: DataFrame): DataFrame =
      live.agg(expr("count(DISTINCT src)").as("nodes"),
        expr("count(1) DIV 2").as("edges"))
        .select(lit(round).as("round"), col("nodes"), col("edges"))
    var live = symmetrized(pairs, id1, id2)
    var out = stats(0, live)
    for (r <- 1 to rounds) {
      live = Lineage.truncate(peel(live, k))
      out = out.unionByName(stats(r, live))
    }
    out
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected simple graph, by degree-ordered orientation
    * ("compact-forward", Latapy, TCS 2008; Schank & Wagner, WEA 2005)
    * — the shape that survives scale: orienting every edge from its
    * lower-(degree, id) endpoint to the higher one bounds every
    * out-degree by O(√|E|), so the wedge self-join emits at most
    * O(|E|^1.5) candidate rows on ANY graph, including power-law ones
    * where the naive neighbor self-join explodes on hub nodes.
    * Everything is an equi-join keyed on a node id (wedges on their
    * apex, closure on the far endpoint pair) — no broadcast NLJ, no
    * all-pairs.
    *
    * Output: one row per node — (node, deg, tri, wedges, lcc_ppm)
    * with wedges = deg·(deg−1)/2 (exact: the product of consecutive
    * integers is even) and lcc_ppm = ⌊10⁶·tri / wedges⌋ (0 when
    * deg < 2) — the clustering coefficient on an exact ppm integer
    * grid, fold-order-independent and engine-replayable.
    *
    * `pairs` rows are treated as undirected edges; duplicates and
    * both orientations collapse; self-loops are dropped.
    *
    * Since the r12 optimization this operator runs eager Spark jobs at
    * CONSTRUCTION (the edge/degree/oriented frames are materialized to
    * truncate the caller's upstream plan out of every reference);
    * where those O(|E|) frames are stored follows the session policy
    * in [[Lineage]], as for its iterative siblings.
    */
  def triangleStats(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2"): DataFrame = {
    // canonical undirected edge set: (a < b), deduped, no self-loops.
    // e, deg and oriented are each referenced 2-3 times downstream
    // (deg twice in the orientation join and once in the output join;
    // oriented by both wedge arms and the closure); materialize them
    // once (r12 optimization) — without the cut the caller's whole
    // upstream pair build replicates into every reference (the tr1
    // gate entry's initial plan carried 564 parquet scans), leaving
    // dedup to runtime stage reuse and paying plan/optimizer cost
    // proportional to the replication either way.
    val e = Lineage.truncate(pairs
      .select(least(col(id1).cast("long"), col(id2).cast("long")).as("a"),
        greatest(col(id1).cast("long"), col(id2).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = Lineage.truncate(e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    // orient each edge from the lower (deg, node) endpoint to the
    // higher: out-degrees are then <= O(sqrt(|E|)) on any graph
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = Lineage.truncate(withDeg.select(
      when(lowFirst, col("a")).otherwise(col("b")).as("u"),
      when(lowFirst, col("b")).otherwise(col("a")).as("v"),
      when(lowFirst, col("da")).otherwise(col("db")).as("du"),
      when(lowFirst, col("db")).otherwise(col("da")).as("dv")))
    // wedges at apex u: out-neighbor pairs (v, w) with rank(v) <
    // rank(w) in the same (deg, id) order — each unordered pair once
    val o1 = oriented.select(col("u"), col("v"), col("dv"))
    val o2 = oriented.select(col("u"), col("v").as("w"),
      col("dv").as("dw"))
    val wedges = o1.join(o2, Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    // closure: the (v, w) edge is oriented v->w because rank(v) <
    // rank(w) — one equi-join against the oriented edge set
    val closing = oriented.select(col("u").as("v"), col("v").as("w"))
    // each triangle credits its three corners: ONE explode pass over
    // the (possibly O(|E|^1.5)-row) triangle frame instead of a
    // 3-way union that evaluates the wedge-closure join three times
    val tris = wedges.join(closing, Seq("v", "w"))
      .select(col("u").as("x"), col("v").as("y"), col("w").as("z"))
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        expr("deg * (deg - 1) DIV 2").as("wedges"),
        when(col("deg") >= 2,
          expr("(1000000 * coalesce(tri, 0)) DIV (deg * (deg - 1) DIV 2)"))
          .otherwise(lit(0L)).as("lcc_ppm"))
  }
}
