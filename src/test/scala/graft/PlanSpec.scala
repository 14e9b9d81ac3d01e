package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.frontend.Engine

/** Physical-plan shape assertions: the scale posture the operators
  * were designed around (semi/anti joins for IN, no cartesian
  * products, broadcast dims, pruned scans) pinned so a refactor that
  * silently degrades the plan fails here, not on a cluster.
  */
class PlanSpec extends SparkTestBase {

  lazy val engine: Engine = Catalog.engine(spark, sf)

  def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("IN-conjunct WHERE lowers to a left-semi join") {
    val p = plan(engine.sql(
      """select c_custkey from customer
        |where c_custkey in (select o_custkey from orders where o_totalprice > 400000.0)""".stripMargin))
    assert(p.contains("LeftSemi"), p.take(800))
  }

  test("NOT IN conjunct lowers to a left-anti join") {
    val p = plan(engine.sql(
      """select c_custkey from customer
        |where not (c_custkey in (select o_custkey from orders where o_totalprice > 400000.0))""".stripMargin))
    assert(p.contains("LeftAnti"), p.take(800))
  }

  test("equi-join keeps its hash/merge join when ON carries a subquery conjunct") {
    val p = plan(engine.sql(
      """select c_custkey, o_orderkey
        |from customer join orders
        |on c_custkey = o_custkey
        |  and o_orderkey in (select l2.l_orderkey from lineitem as l2 where l2.l_quantity > 45.0)""".stripMargin))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p.take(800))
  }

  test("LEFT JOIN ON with a both-sides subquery probe stays equi-joined") {
    // the sq15 lowering: inner pair frame + flag rewrite + left-anti
    // null-extended restore — every join in the plan must stay an
    // equi join (hash/merge), never a cartesian product
    val p = plan(engine.sql(
      """select n_name, c_custkey
        |from nation left join customer
        |on c_nationkey = n_nationkey
        |  and (c_custkey + n_nationkey) in
        |    (select o_custkey from orders where o_totalprice > 150000.0)""".stripMargin))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("LeftAnti"), p.take(1200)) // the unmatched-left restore
  }

  test("multi-column nullable IN keeps its equi probe join; only the NULL verdict is a mark join") {
    // sq16 path: the definite-match arm is an equi join on all probe
    // columns; the null-match verdict is an ExistenceJoin against the
    // DISTINCT subquery rows (non-equi by construction, so a broadcast
    // nested loop over O(distinct) rows is the intended shape — what
    // must NOT appear is a cartesian product materializing pairs)
    val p = plan(engine.sql(
      """select c_custkey,
        |  ((nullif(c_nationkey, 3), c_custkey) in
        |   (select n_nationkey, nullif(o_custkey, 370)
        |    from nation join orders on o_custkey = n_nationkey * 100)) as f
        |from customer""".stripMargin))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("ExistenceJoin"), p.take(1200))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(1200))
  }

  test("small-dim equi-join plans a broadcast hash join") {
    val p = plan(RelQueries.q2JoinAgg(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("LEFT OPTIONAL JOIN: unused right side is eliminated — no join, no right scan") {
    val df = engine.sql(
      """select c_custkey from customer
        |left optional join orders on o_custkey = c_custkey""".stripMargin)
    val p = plan(df)
    assert(!p.toLowerCase.contains("join"), p.take(800))
    assert(!p.contains("orders"), p.take(800))
    // row-preserving by construction when eliminated: exactly the
    // un-joined left rows
    assert(df.count() ==
      engine.sql("select c_custkey from customer").count())
  }

  test("LEFT OPTIONAL JOIN: projected right field keeps the join with pruned-scan keys") {
    val df = engine.sql(
      """select c_custkey, o_orderkey from customer
        |left optional join orders on o_custkey = c_custkey""".stripMargin)
    val p = plan(df)
    assert(p.contains("Join") && p.contains("LeftOuter"), p.take(800))
    // identical rows to the plain LEFT JOIN form
    val plain = engine.sql(
      """select c_custkey, o_orderkey from customer
        |left join orders on o_custkey = c_custkey""".stripMargin)
    assert(df.count() == plain.count())
    assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
  }

  test("LEFT OPTIONAL JOIN: a WHERE reference to the right side keeps the join") {
    val df = engine.sql(
      """select c_custkey from customer
        |left optional join orders on o_custkey = c_custkey
        |where o_totalprice > 100.0""".stripMargin)
    // the join survives (Catalyst legally inner-izes it: the WHERE
    // filters the null-extended rows away) and the right scan keeps
    // both the filter column and the pruned join key
    val p = plan(df)
    assert(p.contains("Join"), p.take(800))
    assert(p.contains("orders") && p.contains("o_custkey"), p.take(800))
    assert(df.count() > 0)
  }

  test("LEFT OPTIONAL JOIN inside a subselect: lazy WITH field decides it") {
    // the right side is only reachable through a LAZY field (WITH):
    // outer query skips it -> the optional join is eliminated
    val pruned = engine.sql(
      """select ck from (
        |  select c_custkey as ck, with o_orderkey as ok from customer
        |  left optional join orders on o_custkey = c_custkey) as s""".stripMargin)
    assert(!plan(pruned).toLowerCase.contains("join"), plan(pruned).take(800))
    // outer query uses the lazy field -> the use cascades through the
    // field's dependencies and the join survives end to end
    val kept = engine.sql(
      """select ok from (
        |  select c_custkey as ck, with o_orderkey as ok from customer
        |  left optional join orders on o_custkey = c_custkey) as s""".stripMargin)
    assert(plan(kept).contains("LeftOuter"), plan(kept).take(800))
  }

  test("chained LEFT OPTIONAL JOINs: a kept join resurrects the one its ON depends on") {
    // region is only reachable through nation; using r_name keeps the
    // region join, whose ON references nation — the deferred-marks
    // replay must cascade inward (outer join decided first) so the
    // nation join is kept too, with its keys in the scan
    val kept = engine.sql(
      """select c_custkey, r_name from customer
        |left optional join nation on n_nationkey = c_nationkey
        |left optional join region on r_regionkey = n_regionkey
        |order by c_custkey""".stripMargin)
    val p = plan(kept)
    assert(p.contains("nation") && p.contains("region"), p.take(1200))
    assert(p.contains("n_regionkey"), p.take(1200)) // nation's key survived pruning
    val oracle = engine.sql(
      """select c_custkey, r_name from customer
        |left join nation on n_nationkey = c_nationkey
        |left join region on r_regionkey = n_regionkey
        |order by c_custkey""".stripMargin)
    assert(kept.exceptAll(oracle).isEmpty && oracle.exceptAll(kept).isEmpty)
    // ...and with neither right side referenced, BOTH joins vanish
    val pruned = engine.sql(
      """select c_custkey from customer
        |left optional join nation on n_nationkey = c_nationkey
        |left optional join region on r_regionkey = n_regionkey
        |order by c_custkey""".stripMargin)
    assert(!plan(pruned).toLowerCase.contains("join"), plan(pruned).take(800))
  }

  test("LEFT OPTIONAL JOIN with an IN-subquery ON conjunct: prunes clean, keeps correct") {
    // pruned: the subquery must vanish with the join (no scan of
    // orders OR lineitem)
    val pruned = engine.sql(
      """select c_custkey from customer
        |left optional join orders
        |on o_custkey = c_custkey
        |  and o_orderkey in (select l_orderkey from lineitem where l_quantity > 45.0)
        |order by c_custkey""".stripMargin)
    val pp = plan(pruned)
    assert(!pp.toLowerCase.contains("join"), pp.take(800))
    assert(!pp.contains("orders") && !pp.contains("lineitem"), pp.take(800))
    // kept: equals the plain LEFT JOIN form with the same ON
    val kept = engine.sql(
      """select c_custkey, o_orderkey from customer
        |left optional join orders
        |on o_custkey = c_custkey
        |  and o_orderkey in (select l_orderkey from lineitem where l_quantity > 45.0)
        |order by c_custkey""".stripMargin)
    val plain = engine.sql(
      """select c_custkey, o_orderkey from customer
        |left join orders
        |on o_custkey = c_custkey
        |  and o_orderkey in (select l_orderkey from lineitem where l_quantity > 45.0)
        |order by c_custkey""".stripMargin)
    assert(kept.exceptAll(plain).isEmpty && plain.exceptAll(kept).isEmpty)
  }

  test("LEFT OPTIONAL JOIN over a subselect right side: eager fields pin it, all-lazy prunes") {
    // a subselect's plain projection fields are born used (they are
    // the subselect's output demand), so an optional join over one is
    // CONSERVATIVELY kept even when the outer query ignores it...
    val kept = engine.sql(
      """select c_custkey from customer
        |left optional join (select o_custkey as k from orders) as s
        |on s.k = c_custkey
        |order by c_custkey limit 10""".stripMargin)
    assert(plan(kept).toLowerCase.contains("join"), plan(kept).take(800))
    // ...but a subselect whose fields are ALL lazy (WITH) carries no
    // demand of its own — unused from outside, the join is eliminated
    // and the subselect is never lowered
    val pruned = engine.sql(
      """select c_custkey from customer
        |left optional join (select with o_custkey as k, ... from orders) as s
        |on s.k = c_custkey
        |order by c_custkey limit 10""".stripMargin)
    assert(!plan(pruned).toLowerCase.contains("join"), plan(pruned).take(800))
    assert(!plan(pruned).contains("orders"), plan(pruned).take(800))
  }

  test("LEFT OPTIONAL JOIN under GROUP BY: elimination is the author's multiplicity assertion") {
    // THE semantic contract, pinned: count(1) over customer with an
    // unused optional orders join counts CUSTOMERS (the join is
    // asserted row-preserving and eliminated), while a plain LEFT
    // JOIN would count customer×orders match rows. Writing OPTIONAL
    // on a non-unique key changes aggregates — deliberately: that is
    // what the author asserts away.
    val opt = engine.sql(
      """select c_nationkey, count(1) as n from customer
        |left optional join orders on o_custkey = c_custkey
        |group by c_nationkey order by c_nationkey""".stripMargin)
    val base = engine.sql(
      """select c_nationkey, count(1) as n from customer
        |group by c_nationkey order by c_nationkey""".stripMargin)
    assert(opt.collect().toSeq == base.collect().toSeq)
    assert(!plan(opt).toLowerCase.contains("join"), plan(opt).take(800))
  }

  test("LEFT OPTIONAL JOIN: eager projection of a right field always keeps it") {
    // a plain (non-WITH) projection field is materialized whether or
    // not an outer query reads it — so it keeps the join even when
    // the outer projection skips the field
    val p = plan(engine.sql(
      """select ck from (
        |  select c_custkey as ck, o_orderkey as ok from customer
        |  left optional join orders on o_custkey = c_custkey) as s""".stripMargin))
    assert(p.contains("LeftOuter"), p.take(800))
  }

  test("n-gram Jaccard mining plans equi joins, never a cartesian") {
    val d = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").filter(col("doc_id") < 50)
    val p = plan(graft.pipeline.Dedup.ngramJaccardPairs(
      d, "doc_id", "text", n = 3, minJaccard = 0.5))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("exact-substring dedup meets windows only on gram equi joins with a partial agg") {
    val d = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").filter(col("doc_id") < 50)
    val p = plan(graft.pipeline.Dedup.exactSubstringDedup(
      d, "doc_id", "text", n = 8))
    // a gram shared by M docs joins M window rows to ONE gram row:
    // linear equi joins, never a pairwise or nested-loop product
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the dup-gram countDistinct aggregates partially before its
    // exchange (hot boilerplate grams combine map-side)
    assert(p.contains("partial_count(distinct"), p.take(2000))
  }

  test("cosine near-dup mining pairs meet only inside LSH buckets") {
    val e = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") < 100)
    val p = plan(graft.pipeline.Similarity.cosineNearDupPairs(
      e, "vec_id", "embedding", dims = 64))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("contamination check plans an equi join on the shingle") {
    val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val p = plan(graft.pipeline.Contamination.ngramContamination(
      d.filter(col("doc_id") < 20), d.filter(col("doc_id") >= 20),
      "doc_id", "text"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("vocabulary top-K plans per-partition heaps, not a full sort") {
    val p = plan(graft.pipeline.TextAnalysis.vocabProfile(
      Tables.load(spark, sf, "documents").select("doc_id", "text"),
      "doc_id", "text", n = 2, topK = 50))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("grouped aggregation is partial+final (map-side combine)") {
    val p = plan(RelQueries.q1Agg(spark, sf))
    assert(p.contains("partial_sum"), p.take(800))
  }

  test("exact sample plans per-partition k-heaps, not a full sort") {
    val p = plan(graft.pipeline.Sampling.exactSample(
      Tables.load(spark, sf, "documents").select("doc_id", "source"),
      "doc_id", k = 100))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("incremental dedup meets the corpus only inside LSH buckets") {
    val d = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").filter(col("doc_id") < 60)
    val index = graft.pipeline.Dedup.minhashSignatures(d, "doc_id", "text")
    val inc = d.filter(col("doc_id") < 10)
      .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
    val p = plan(graft.pipeline.Dedup.minhashNearDupPairsIncremental(
      inc, "doc_id", "text", index))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("batch attribution join is bin-banded: hash join on (user, bin), no range-only join") {
    val ev = Tables.load(spark, sf, "events")
    val p = plan(graft.streaming.EventStreams.attributionJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "view")))
    // the time bin must be part of the equi key: a (user, range)-only
    // join funnels a hot user's history through one task (251x
    // measured under a 30%-hot-user soak); the bin bounds per-task
    // work by per-window occupancy
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1000))
    assert(p.contains("__bin"), p.take(1000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1000))
  }

  test("capPerSource pre-tops inside salt buckets before the exact stratum window") {
    val d = Tables.load(spark, sf, "documents").select("doc_id", "source")
    val p = plan(graft.pipeline.Sampling.capPerSource(
      d, "doc_id", "source", cap = 10))
    // two row_number windows: the salted pre-pass bounds any
    // stratum's window partition to ~n/salts rows, and only
    // <= salts*cap survivors reach the exact stratum-wide window —
    // a single stratum-partitioned window would funnel a hot source
    // into ONE task
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(2000))
    val saltedWindow = p.linesIterator
      .filter(_.contains("Window [")).toSeq
    assert(saltedWindow.exists(_.contains("__salt")), p.take(2000))
    // and the rank filter reaches the MAP side: each window gets a
    // Partial WindowGroupLimit below its exchange, so shuffled bytes
    // are bounded by cap per group before any data moves
    val partials = p.linesIterator
      .filter(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
      .toSeq
    assert(partials.size == 2, p.take(2000))
  }

  test("tokenBudgetSelect never windows a whole stratum of raw rows") {
    val d = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " +")).cast("long").as("n_tokens"))
    val p = plan(graft.pipeline.Sampling.tokenBudgetSelect(
      d, "doc_id", "n_tokens", "source", Map("src0" -> 1000L),
      defaultBudget = 500L))
    // exactly two windows: bucket offsets (over the <= strata*buckets
    // aggregate — the ONLY stratum-partitioned window) and the
    // within-bucket running total, whose partition spec must include
    // the bucket column so no single task ever holds a whole stratum
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(2000))
    val rowWindow = p.linesIterator
      .filter(l => l.contains("Window [") && l.contains("__u")).toSeq
    assert(rowWindow.nonEmpty && rowWindow.forall(_.contains("__bk")),
      p.take(2000))
    // the per-bucket token sums are partial-aggregated before their
    // shuffle, and the tiny offsets frame joins back as a broadcast
    assert(p.contains("partial_sum") || p.contains("Partial"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("corrProfile is one scan and one aggregation: no join, no window, partial sums") {
    val p = plan(graft.pipeline.Profiling.corrProfile(
      Tables.load(spark, sf, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount")))
    // the whole k^2 sum matrix rides ONE wide agg over a single scan;
    // a per-pair join or window here would re-scan per pair
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1500))
    assert(p.contains("partial_"), p.take(1500))
  }

  test("bucketed join on the bucket key plans ZERO shuffle exchanges") {
    import graft.sources.Bucketed
    Bucketed.write(Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority"),
      "bkspec_orders", numBuckets = 4, "o_orderkey")
    Bucketed.write(Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity"),
      "bkspec_lineitem", numBuckets = 4, "l_orderkey")
    // force the non-broadcast path: the point is the SHUFFLE the
    // bucket layout removes, which a tiny test table would otherwise
    // dodge via broadcast
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def joined = Bucketed.table(spark, "bkspec_lineitem")
        .join(Bucketed.table(spark, "bkspec_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), p.take(1500))
      // the whole point of the layout: both sides arrive pre-
      // clustered on the key — the shuffle is GONE (and the scans
      // advertise the bucket layout they serve)
      assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
      assert(p.contains("Bucketed: true"), p.take(2000))
      // the in-task Sorts remain by default: since SPARK-28632 the
      // scan does not report the written sortBy order (multi-file
      // buckets can't be verified cheaply). Bucketed.write clusters
      // one file per bucket, so the legacy sorted-scan conf
      // legitimately drops the Sorts too — the full zero-work read
      assert("Sort \\[".r.findAllIn(p).size == 2, p.take(2000))
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val pSorted =
        try plan(joined)
        finally spark.conf.set(
          "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
      assert(!"Sort \\[".r.findFirstIn(pSorted).isDefined, pSorted.take(2000))
      assert(!pSorted.contains("Exchange hashpartitioning"), pSorted.take(2000))
      assert(joined.count() == Tables.load(spark, sf, "lineitem").count())
      // mismatched bucket counts degrade to a shuffle — refused loudly
      Bucketed.write(Tables.load(spark, sf, "orders")
        .select("o_orderkey"), "bkspec_orders8", numBuckets = 8, "o_orderkey")
      val ex = intercept[IllegalArgumentException] {
        Bucketed.join(spark, "bkspec_lineitem", "bkspec_orders8",
          Seq("o_orderkey"))
      }
      assert(ex.getMessage.contains("SAME count"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("approxProfileChecked plans bounded buffers: no Expand, no exact distinct/percentile, broadcast profile") {
    val p = plan(graft.pipeline.Profiling.approxProfileChecked(
      Tables.load(spark, sf, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount")))
    // multiple exact countDistincts plan through Expand (row
    // multiplication at the widest stage) and exact percentile
    // buffers the whole column — both are the unbounded-state paths
    // the approx profile exists to avoid
    assert(!p.contains("Expand"), p.take(2000))
    assert(!p.toLowerCase.contains("count(distinct"), p.take(2000))
    assert(!"(?i)\\bpercentile\\(".r.findFirstIn(p).isDefined, p.take(2000))
    assert(p.contains("approx_percentile") ||
      p.contains("approx_count_distinct"), p.take(2000))
    // the rank-check scan meets the k-row profile as a BROADCAST
    // nested-loop cross join — never a shuffled cartesian of the data
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("cohortRetention plans no join and no countDistinct Expand") {
    val p = plan(graft.pipeline.Analytics.cohortRetention(
      Tables.load(spark, sf, "events")))
    // cohorts come from a per-user window min (state bounded by
    // calendar days), not a join back; and the final count is a plain
    // count(*) over already-distinct (user, day) rows — an Expand here
    // would mean a countDistinct re-expansion at the widest stage
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Expand"), p.take(1500))
    assert(p.contains("Window"), p.take(1500))
    assert(p.contains("partial_"), p.take(1500))
  }

  test("funnelStages pushes step filters to the scans and keeps equi joins") {
    val ev = Tables.load(spark, sf, "events")
    val p = plan(graft.pipeline.Analytics.funnelStages(
      ev, Seq("view", "click", "purchase")))
    // each step reads only its event type (filter at the parquet
    // scan), and users meet step events only through hash/merge equi
    // joins on user_id — the ts >= t_prev predicate must ride the
    // join, never force a nested-loop pair product
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)")
      || p.contains("EqualTo(event_type,click)"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("text ops over a shuffled frame add no exchange and launch no job at composition") {
    import graft.pipeline.TextAnalysis
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "source")
    val agged = docs.join(docs.select("doc_id"), Seq("doc_id"))
      .groupBy("doc_id").agg(first(col("text")).as("text"))
    val tracker = spark.sparkContext.statusTracker
    val jobsBefore = tracker.getJobIdsForGroup(null).length
    val composed = TextAnalysis.tokenCounts(agged, "doc_id", "text")
    // composing over a frame with upstream exchanges must be pure
    // plan construction: under AQE, probing such a frame's .rdd (the
    // round-6 hazard) EXECUTES the upstream join/agg stages right
    // here. Poll briefly so the async listener bus can surface any
    // job that did start.
    val deadline = System.currentTimeMillis + 1500
    var jobsAfter = tracker.getJobIdsForGroup(null).length
    while (jobsAfter == jobsBefore && System.currentTimeMillis < deadline) {
      Thread.sleep(50)
      jobsAfter = tracker.getJobIdsForGroup(null).length
    }
    assert(jobsAfter == jobsBefore,
      s"composition launched ${jobsAfter - jobsBefore} Spark job(s)")
    // and the operator adds only map-side work: exchange count equals
    // the input frame's own
    val exBase = "Exchange".r.findAllIn(plan(agged)).size
    val exComposed = "Exchange".r.findAllIn(plan(composed)).size
    assert(exComposed == exBase, plan(composed).take(1500))
  }

  test("weightedSample plans per-partition k-heaps, not a full sort") {
    val p = plan(graft.pipeline.Sampling.weightedSample(
      Tables.load(spark, sf, "documents")
        .select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", k = 100))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("lineDedup winners come from a partial min-struct agg: no Window, no Expand") {
    val p = plan(graft.pipeline.Dedup.lineDedup(
      Tables.load(spark, sf, "documents").select("doc_id", "text"),
      "doc_id", "text", delim = " "))
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("Expand"), p.take(1200))
    assert(p.contains("partial_min") || p.contains("partial min"),
      p.take(1200))
    assert(!p.toLowerCase.contains("cartesian"), p.take(1200))
  }

  test("stream-static enrichment broadcasts the dim: feed side never shuffles") {
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "value")
    val dim = Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_mktsegment")
    val p = plan(graft.streaming.EventStreams.enrichEvents(
      ev, dim, "user_id", "c_custkey"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // the only exchange is the dim's broadcast, never a feed shuffle
    assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
  }

  test("topKPerGroup pre-tops inside salt buckets; limits pushed map-side") {
    val d = Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "n_chars")
    val p = plan(graft.pipeline.Sampling.topKPerGroup(
      d, "doc_id", "source", "n_chars", k = 10))
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(2000))
    assert(p.linesIterator.filter(_.contains("Window ["))
      .exists(_.contains("__salt")), p.take(2000))
    val partials = p.linesIterator
      .filter(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
      .toSeq
    assert(partials.size == 2, p.take(2000))
  }

  test("assignSplits is map-only: no exchange, no window, no job at composition") {
    val d = Tables.load(spark, sf, "documents").select("doc_id", "source")
    val p = plan(graft.pipeline.Sampling.assignSplits(
      d, "doc_id", Seq("train" -> 0.9, "val" -> 0.1)))
    assert(!p.contains("Exchange") && !p.contains("Window"), p.take(1200))
  }

  test("histogram is one scan, bounded groups, partial+final agg") {
    val p = plan(graft.pipeline.Profiling.histogram(
      Tables.load(spark, sf, "lineitem"), "l_extendedprice",
      bins = 20, lo = 0.0, hi = 60000.0))
    assert(p.contains("partial_count") || p.contains("partial count"),
      p.take(1200))
    assert(!p.contains("Window") && !p.contains("Expand"), p.take(1200))
  }

  test("hotKeys plans partial counts and a top-k heap, no window") {
    val p = plan(graft.pipeline.Skew.hotKeys(
      Tables.load(spark, sf, "events").select("user_id"), "user_id"))
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(p.contains("partial_count") || p.contains("partial count"),
      p.take(1200))
    assert(!p.contains("Window"), p.take(1200))
  }

  test("zOutliers broadcasts the one-row stats frame; no window, no expand") {
    val p = plan(graft.pipeline.Profiling.zOutliers(
      Tables.load(spark, sf, "events").select("event_id", "value"),
      "event_id", "value"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(1500))
    assert(!p.contains("Window") && !p.contains("Expand"), p.take(1500))
  }

  test("zorder tile profile is one scan and one partial+final agg") {
    val ev = Tables.load(spark, sf, "events").select(
      col("user_id").cast("long").as("x"),
      floor(col("value")).cast("long").as("y"))
    val p = plan(ev
      .withColumn("tile", shiftright(
        graft.sources.Zorder.zValue(col("x"), col("y"), 9), 12))
      .groupBy("tile").agg(count(lit(1)).as("n")))
    assert(p.contains("partial_count") || p.contains("partial count"),
      p.take(1200))
    assert(!p.contains("Window") && !p.toLowerCase.contains("cartesian"),
      p.take(1200))
  }

  test("percentileRank windows only aggregated values, partitioned by bucket") {
    val p = plan(graft.pipeline.Profiling.percentileRank(
      Tables.load(spark, sf, "events").select("event_id", "value"),
      "event_id", "value"))
    // exactly two windows: bucket offsets (over the <= buckets-row
    // totals frame) and the within-bucket running sum, whose
    // partition spec must include the bucket column so no single task
    // ever orders the whole distinct-value set
    assert("Window \\[".r.findAllIn(p).size == 2, p.take(2000))
    val valueWindow = p.linesIterator
      .filter(l => l.contains("Window [") && l.contains("value")).toSeq
    assert(valueWindow.nonEmpty && valueWindow.forall(_.contains("__b")),
      p.take(2000))
    // raw rows collapse to (bucket, value) counts BEFORE any window
    assert(p.contains("partial_count") || p.contains("Partial"),
      p.take(2000))
  }

  test("joinCardinality joins distinct-key counts, never raw rows") {
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"))
    val ord = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("k"))
    val p = plan(graft.pipeline.Skew.joinCardinality(li, ord, Seq("k")))
    // ONE equi join (counts x counts); the side-total one-row frames
    // arrive as broadcast nested-loop crosses, and every count is
    // partial-aggregated before its exchange
    val equiJoins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(p).size
    assert(equiJoins == 1, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("Partial"),
      p.take(2000))
  }

  test("hashingTrick is map-only before one partial agg: no join, no window") {
    val p = plan(graft.pipeline.Features.hashingTrick(
      Tables.load(spark, sf, "documents"), "doc_id", "text", dim = 64))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1500))
    assert(p.contains("partial_count") || p.contains("Partial"),
      p.take(1500))
  }

  test("pmiCollocations: equi joins on words, TakeOrdered top-K, no cartesian") {
    val p = plan(graft.pipeline.TextAnalysis.pmiCollocations(
      Tables.load(spark, sf, "documents"), "text", minCount = 5L, topK = 50))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the one-row totals arrive as broadcast nested-loop crosses; the
    // word joins stay equi (hash or sort-merge)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("gramSums is one scan: the corpus feeds the Gram Aggregator once") {
    val df = graft.pipeline.Pca.gramSums(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      dim = 64, shards = 8)
    val p = plan(df)
    // ONE parquet scan — the whole second-moment matrix rides a single
    // pass; a per-(i,j) self-join would scan per pair (2080x)
    assert("FileScan parquet".r.findAllIn(p).length == 1, p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(2000))
    // typed Aggregator runs partial+final (map-side combine per shard)
    assert(p.contains("partial_gramagg") || p.contains("partial_"),
      p.take(2000))
  }

  test("cms heavy hitters: sketch probe is a broadcast, no cartesian") {
    val p = plan(graft.pipeline.Sketch.cmsHeavyHitters(
      Tables.load(spark, sf, "events"), "user_id",
      depth = 4, width = 32, topK = 10))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the bounded sketch (depth x width rows) broadcasts to the probe
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // exact top-k side is a TakeOrdered heap, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("label propagation argmax is a struct-max partial agg, no window") {
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("id1"), col("l_suppkey").as("id2"))
    val p = plan(graft.pipeline.Communities.labelPropagation(li, iters = 2))
    // (count DESC, label ASC) folds associatively as max(struct(c,-lbl))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(2000))
    assert(p.contains("partial_max") || p.contains("partial_"), p.take(2000))
  }

  test("triangle stats: oriented wedge join stays equi, no NLJ") {
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("a"), col("l_suppkey").as("b"))
    val p = plan(graft.pipeline.Communities.triangleStats(li, "a", "b"))
    // wedge pairing keys on the apex, closure keys on (v, w): every
    // join is hash/merge — the degree orientation exists precisely so
    // no step needs an all-pairs comparison
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("hll register build is one scan, one partial agg, no Expand") {
    val p = plan(graft.pipeline.Sketch.hllRegisters(
      Tables.load(spark, sf, "events"), "user_id", "event_type"))
    assert("FileScan parquet".r.findAllIn(p).length == 1, p.take(2000))
    // the sketch replaces countDistinct's Expand: its own build must
    // not reintroduce one
    assert(!p.contains("Expand"), p.take(2000))
    assert(p.contains("partial_max"), p.take(2000))
  }

  test("epoch upsample is map-only: no exchange, no join, no window") {
    val p = plan(graft.pipeline.Sampling.epochUpsample(
      Tables.load(spark, sf, "documents"), "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.25)))
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("Generate"), p.take(2000)) // the sequence explode
  }

  test("termDrift: corpora meet in a tagged-union agg, totals broadcast, no window") {
    val v = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "source")
    val p = plan(graft.pipeline.TextAnalysis.termDrift(
      v, v.limit(400), "source", "text"))
    // the two snapshots are never JOINED row-to-row: they union into
    // one (source, term) aggregation; the |sources|-row totals come
    // back via broadcast
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("Union"), p.take(2000))
  }

  test("bpe merges are a local frame: a flat plan that never re-scans the corpus") {
    // the merge loop runs on the driver over the collected word
    // counts, so the merge table is a local relation: its plan has the
    // same size for any number of rounds and reads no parquet
    val merges = graft.pipeline.TextAnalysis.bpeLearn(
      Tables.load(spark, sf, "documents"), "text", rounds = 6)
    val p = plan(merges)
    assert(p.linesIterator.length < 200, s"plan blew up: ${p.take(2000)}")
    assert(!p.contains("FileScan parquet"),
      "final merge frame must be local, not re-scan the corpus")
  }

  test("building bp2_bpe_learn runs at most 3 Spark jobs") {
    // the vocabulary aggregation's stages under AQE (the schema comes
    // from the parquet footer, with no job); the merge rounds
    // themselves launch no job
    val jobs = jobsIn(SparkEntry.queries("bp2_bpe_learn")(spark, sf))
    assert(jobs >= 1 && jobs <= 3, s"bp2 construction ran $jobs jobs")
  }
}
