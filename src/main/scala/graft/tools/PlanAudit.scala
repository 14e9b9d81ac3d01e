package graft.tools

import graft.{Entry, SparkEntry}

/** Plan-hygiene sweep over EVERY gate entry: build each query's
  * physical plan at the given SF and flag the two shapes that do not
  * survive a 100 TB scale-up —
  *   - `CartesianProduct`: never acceptable; |L|x|R| work.
  *   - `BroadcastNestedLoopJoin`: acceptable ONLY as the planner's
  *     shape for `crossJoin(broadcast(<one-row frame>))` (the
  *     round-max / total / dangling-mass pattern several operators
  *     use on purpose). Entries that use that pattern are allowlisted
  *     BY NAME below with the reason; a BNLJ on any other entry fails
  *     the audit — it means a join lost its equi-key.
  *
  * Prints one JSON line: {"pass":bool,"cartesian":[...],
  * "unexpected_bnlj":[...],"allowlisted_bnlj":[...],
  * "unused_allowlist":[...],"bad_types":[...],"errors":{...}}.
  * `unused_allowlist` names the allowlist keys whose entry planned no
  * BNLJ in this sweep: a stale key would let a BNLJ that later
  * appears there pass unnoticed, so it is reported (it does not fail
  * the audit, since a plan may differ by scale). Exit code 1 on
  * failure. Building a plan does not run the query, but entries
  * whose CONSTRUCTION runs bounded driver actions (centroid training,
  * budget probes) execute those — the sweep takes a couple of minutes
  * at sf0.01, not hours.
  */
object PlanAudit {

  /** name -> why a bounded-broadcast BNLJ is the intended plan there.
    * Two legitimate families:
    *   - ONE-ROW broadcast (totals, normalizers, domain probes,
    *     dangling mass): the broadcast side is a single aggregate row.
    *   - BOUNDED-DIM broadcast against a non-equi condition: a
    *     driver-bounded frame (query set, 64-bucket grid) broadcast on
    *     purpose — the documented baseline/attestation shape.
    */
  val bnljAllowlist: Map[String, String] = Map(
    // one-row broadcasts
    "gr2_pagerank_dangling" -> "one-row dangling-mass broadcast per round",
    "hk1_hot_keys" -> "one-row corpus-total broadcast for the share column",
    "pf1a_numeric_profile_approx" ->
      "one-row sketch frame joined for in-plan rank attestation",
    "pf4_z_outliers" -> "one-row exact-grid mean/std broadcast",
    "sm10_waterfill_budget" -> "one-row total-budget broadcast",
    "sm3_mixture_rates" -> "one-row binding-stratum broadcast",
    "sm7_temperature_mix" -> "one-row temperature-normalizer broadcast",
    "ca1_source_keyness" -> "one-row corpus totals broadcast",
    "jc1_join_cardinality" -> "one-row distinct-count estimate frames",
    "pr1_percentile_rank" -> "one-row corpus-count broadcast",
    "tx10_lm_score" -> "one-row corpus perplexity-normalizer broadcast",
    "tx13_pmi_collocations" -> "one-row token/bigram totals broadcast",
    "tx8_tfidf_keywords" -> "one-row doc-count broadcast (idf)",
    "ir1_dsir_weights" -> "one-row per-corpus token totals broadcast",
    "rr1_bm25_topk" -> "one-row n_docs/avgdl stats broadcast",
    "rr3_rrf_fusion" -> "rr1's one-row stats broadcast in the lexical leg",
    "rr4_sparse_cosine" -> "one-row doc-count broadcast (idf)",
    // uncorrelated EXISTS: the dialect's lazy gate is
    // broadcast(sub.limit(1)) — a ONE-row (at most) broadcast by
    // construction (Lowering.scala)
    "q6_exists" -> "EXISTS gate broadcasts sub.limit(1)",
    "sq7_dialect_exists" -> "EXISTS gate broadcasts sub.limit(1)",
    "sq14_dialect_having_subquery" -> "EXISTS gate in HAVING",
    "sq15_dialect_left_join_on_subquery" -> "EXISTS gate in LEFT JOIN ON",
    "sq16_dialect_multicol_in_3vl" ->
      "3VL multi-col IN carries a one-row has-null probe broadcast",
    // bounded-dim broadcasts
    "hl1_hll_distinct" ->
      "64-bucket register grid cross-joined with the distinct types",
    "ss1_cosine_topk_brute" ->
      "brute baseline: bounded query set broadcast against the corpus",
    "ss4_hard_negatives" ->
      ("exact baseline and ss5's recall yardstick: bounded query set " +
        "broadcast; the scale path is ss5 (IVF probed-cell equi-join, " +
        "NOT allowlisted — a BNLJ there fails this audit)"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session("ERROR")
    val cartesian = List.newBuilder[String]
    val unexpected = List.newBuilder[String]
    val allowlisted = List.newBuilder[String]
    val badTypes = List.newBuilder[String]
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.entries.sortBy(_.name).foreach { case Entry(name, build, _) =>
      try {
        val df = build(spark, sfDir)
        // same-sweep output-type lint (Verify refuses these at dump
        // time; flagging them here too makes the audit a one-stop
        // pre-ship check)
        val bad = graft.Verify.lintSchema(df.schema)
        if (bad.nonEmpty) badTypes += s"$name(${bad.mkString("; ")})"
        val plan = df.queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) cartesian += name
        if (plan.contains("BroadcastNestedLoopJoin")) {
          if (bnljAllowlist.contains(name)) allowlisted += name
          else unexpected += name
        }
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.next().take(160)
      }
    }
    def arr(xs: List[String]) = xs.map(Harness.json).mkString("[", ",", "]")
    val errObj = errors.map { case (k, v) => Harness.json(k) + ":" + Harness.json(v) }
      .mkString("{", ",", "}")
    val cart = cartesian.result()
    val unexp = unexpected.result()
    val badT = badTypes.result()
    val allowed = allowlisted.result()
    val unused = bnljAllowlist.keys.toList.filterNot(allowed.contains).sorted
    val pass = cart.isEmpty && unexp.isEmpty && badT.isEmpty && errors.isEmpty
    println(s"""{"pass":$pass,"cartesian":${arr(cart)},"unexpected_bnlj":${arr(unexp)},"allowlisted_bnlj":${arr(allowed)},"unused_allowlist":${arr(unused)},"bad_types":${arr(badT)},"errors":$errObj}""")
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
