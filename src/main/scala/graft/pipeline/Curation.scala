package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** An end-to-end training-data curation pass composing the pipeline
  * operators — the shape a 100 TB pre-training data job takes:
  *
  *   quality gate → exact dedup → near-dup candidate drop → per-source
  *   quota stats
  *
  * Each stage is one of the standalone operators; composition stays
  * declarative so Catalyst plans the whole pass as one job (scans are
  * shared, filters push down through the gates).
  */
object Curation {

  /** Survivors of the curation pass with their quality features.
    *
    * @param minWords    drop docs shorter than this many ws-tokens
    * @param maxWords    drop docs longer than this (truncation bait)
    * @param nearDupEst  drop the higher-id member of every MinHash
    *                    near-dup candidate pair at or above this
    *                    estimated Jaccard
    * @param precomputedPairs a near-dup pair frame
    *                    (id1, id2, est_jaccard) already mined over
    *                    this corpus (or a superset — pair ids absent
    *                    from the corpus drop nothing). At 100 TB the
    *                    mining pass dominates the job; a pipeline
    *                    that also reports/clusters the pairs should
    *                    mine ONCE and feed the same frame here rather
    *                    than have curate re-shingle the corpus.
    *                    Pairs whose keeper (id1) did not itself
    *                    survive the quality gate and exact dedup are
    *                    ignored, so a raw-corpus-mined pair can never
    *                    drop the last surviving copy of its content.
    */
  def curate(docs: DataFrame, minWords: Long = 10, maxWords: Long = 100000,
      nearDupEst: Double = 0.9, portable: Boolean = false,
      precomputedPairs: Option[DataFrame] = None): DataFrame = {
    // stage 1: quality gate — the metric expressions are computed
    // inline on the corpus (map-side withColumn + filter), not joined
    // back from a scored table: same rows, one shuffle fewer
    val qe = TextAnalysis.qualityExprs("text").toMap
    val gated = docs
      .withColumn("n_words", qe("n_words"))
      .withColumn("avg_word_len", qe("avg_word_len"))
      .filter(col("n_words") >= minWords && col("n_words") <= maxWords)

    // stage 2: exact dedup — keep the minimum id per content hash
    val keep = Dedup.exactDedup(gated, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val exactDeduped = gated.join(keep, Seq("doc_id"))

    // stage 3: near-dup drop — higher id of each candidate pair goes.
    // Precomputed pairs may have been mined on the RAW corpus, so a
    // pair's keeper (id1) can already be gone (quality gate or exact
    // dedup); dropping its id2 would then remove EVERY copy of that
    // content. Keep only pairs whose keeper survived stages 1-2 —
    // within mined pairs id1 < id2, so a component's minimum id is
    // never an id2 and always survives the pair drop itself. On the
    // internal mining path the pairs come from exactDeduped, where
    // every id1 survives by construction, so no join is paid.
    // keep's id set IS exactDeduped's id set (exactDeduped = gated
    // semi keep), so the survival probe joins the narrow keeper-id
    // aggregate, not the re-joined corpus
    val pairs = precomputedPairs match {
      case Some(p) => p.join(
        keep.select(col("doc_id").as("id1")), Seq("id1"),
        "left_semi")
      case None => Dedup.minhashNearDupPairs(
        exactDeduped.select("doc_id", "text"), "doc_id", "text",
        minEstJaccard = nearDupEst, portable = portable)
    }
    val nearDupLosers = pairs
      .filter(col("est_jaccard") >= nearDupEst)
      .select(col("id2").as("doc_id")).distinct()
    exactDeduped.join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  /** One keeper per near-dup cluster, chosen by QUALITY rather than
    * by id: the pair-drop in [[curate]] keeps the lowest id, which is
    * arbitrary; a curation pass that scored its documents should keep
    * the best one. Clusters come from the transitive closure of
    * `pairs` (Cluster.connectedComponents); documents in no cluster
    * keep themselves. Within a cluster the highest `qualityCol` wins,
    * ties broken by the smallest id.
    *
    * Scale shape: the clustering rounds (O(log diameter) equi-joins),
    * one left join of corpus to labels on id, and ONE partial+final
    * aggregation per cluster whose state is a single (quality, id)
    * struct max plus a count — no window over cluster members, no
    * per-cluster funnel.
    */
  def selectKeepers(docs: DataFrame, pairs: DataFrame, idCol: String,
      qualityCol: String): DataFrame = {
    val labels = Cluster.connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    val labeled = docs.join(labels, Seq(idCol), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    // keeper = max (quality, -id) struct: highest quality, then the
    // SMALLEST id — max_by alone is nondeterministic under ties
    labeled.groupBy("cluster_id")
      .agg(max(struct(col(qualityCol).as("q"), (-col(idCol)).as("negid")))
          .as("k"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("k.negid")).as("keep_id"),
        col("k.q").as("keep_quality"), col("n_members"))
  }

  /** SemDeDup end to end (Abbas et al., arXiv:2303.09540): mine
    * embedding near-duplicate pairs with sign-LSH banding
    * (Similarity.cosineNearDupPairs), cluster them transitively, and
    * keep the best-quality member of each cluster. Returns the keeper
    * frame of [[selectKeepers]] — (cluster_id, keep_id, keep_quality,
    * n_members); items in no cluster keep themselves.
    *
    * The three stages are the already-scale-shaped operators: pairs
    * meet only inside LSH buckets (hot-bucket guarded), clustering is
    * O(log diameter) equi-join rounds, keeper selection is one
    * struct-max partial agg per cluster. One mining pass feeds both
    * the clustering and any pair-level reporting the caller does.
    */
  def semanticDedup(docs: DataFrame, idCol: String, vecCol: String,
      qualityCol: String, minCosine: Double = 0.9, bands: Int = 4,
      bitsPerBand: Int = 8, seed: Long = 42L, dims: Int = 0,
      maxBucketSize: Int = 1000): DataFrame = {
    val pairs = Similarity.cosineNearDupPairs(
      docs.select(col(idCol), col(vecCol)), idCol, vecCol, minCosine,
      bands, bitsPerBand, seed, dims, maxBucketSize)
    selectKeepers(docs, pairs.select("id1", "id2"), idCol, qualityCol)
  }

  /** Per-source summary of a curation pass (the report a data-quota
    * dashboard consumes).
    */
  def curationStats(docs: DataFrame, portable: Boolean = false,
      precomputedPairs: Option[DataFrame] = None): DataFrame =
    curate(docs, portable = portable, precomputedPairs = precomputedPairs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("source"))

  /** Per-source quality-percentile filtering (the FineWeb-style
    * "keep the best slice of EACH source" cut, Penedo et al.,
    * arXiv:2406.17557): score every document, rank it WITHIN its
    * source, and keep documents at or above `minPercentile` of their
    * source's distribution. Filtering per source rather than globally
    * stops one high-scoring source from squeezing every other domain
    * out of the mixture. The score here is the stopword ratio
    * (`TextAnalysis.qualityExprs` — higher reads as more natural
    * prose on this fixture family); any scoring column works the
    * same way.
    *
    * percent_rank = (rank − 1)/(n − 1) with rank over
    * (score, id) — the id tiebreak makes ranks unique, so the
    * percentile of every row is deterministic in any engine. The
    * keep decision compares that single exact division against the
    * threshold.
    *
    * Scale shape: scoring is map-only; the window shuffles once on
    * the source key with per-row state (rank counters), memory-flat
    * per partition. Source keys are few and can be huge — if one
    * source dominates, swap the window for the two-pass variant:
    * an approx-quantile threshold per source (tiny frame),
    * broadcast-joined back as a plain filter, which never
    * materializes a per-source ordering at all.
    */
  def qualityPercentileFilter(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String,
      minPercentile: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minPercentile >= 0.0 && minPercentile <= 1.0,
      s"minPercentile must be in [0, 1], got $minPercentile")
    val score = TextAnalysis.qualityExprs(textCol)
      .toMap.apply("stopword_ratio")
    val w = Window.partitionBy(col(srcCol))
      .orderBy(col("q_score"), col(idCol))
    docs.select(col(idCol), col(srcCol), score.as("q_score"))
      .withColumn("pct_rank", percent_rank().over(w))
      .filter(col("pct_rank") >= lit(minPercentile))
  }

  /** [[qualityPercentileFilter]] without the per-source row window —
    * the giant-source path its scaladoc promises, made EXACT: keeps
    * the identical document set (same (score ASC, id ASC) percent_rank
    * ≥ p semantics) while never materializing a per-source ordering
    * of document rows.
    *
    * How: the keep count per source is n − ⌈p·(n−1)⌉ (the number of
    * unique ranks with (rank−1)/(n−1) ≥ p; for p an exact binary
    * fraction like 0.75 the ⌈⌉ form and the division form cannot
    * disagree — the nearest ratio to p other than equality is
    * ≥ 1/(4(n−1)) away, astronomically above ulp). Documents collapse
    * to (source, score) counts FIRST; a suffix sum over score DESC on
    * that collapsed frame (≤ distinct scores per source, not rows)
    * finds the threshold score T where the keep count lands; docs
    * with score > T are kept by a broadcast-join filter (map-only
    * over the corpus), and the exact remainder at score = T is a
    * row_number over (source, value) tie groups of the ≥ T slice — a
    * partition bounded by the tie count at one value, not the source
    * size. Worst case (every doc in a source sharing one score)
    * degenerates to the window it replaces; any real score
    * distribution keeps partitions tiny.
    *
    * The measured trade (SOAK_r10, sf100 ≈ 5 M docs): this form costs
    * TWO scoring scans (collapse pass + keep pass) vs the window
    * form's one, and the regex scoring dominates at fixture scale —
    * 28.9 s vs 10.1 s. Use [[qualityPercentileFilter]] until a single
    * source outgrows what one window partition can sort (the
    * multi-billion-doc-source regime, where the global per-source
    * sort spills and this form's bounded partitions win); the exact
    * same keep set comes out of both (the qp2 gate entry hash-matches
    * the window oracle, and the equivalence spec sweeps p).
    */
  def qualityPercentileFilterScalable(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String,
      minPercentile: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minPercentile >= 0.0 && minPercentile <= 1.0,
      s"minPercentile must be in [0, 1], got $minPercentile")
    val score = TextAnalysis.qualityExprs(textCol)
      .toMap.apply("stopword_ratio")
    val scored = docs.select(col(idCol), col(srcCol), score.as("q_score"))
    // PASS 1 (the only corpus-wide aggregation): collapse to
    // (source, score) counts; per-source totals and keep counts
    // derive from the collapsed frame — no second scoring scan.
    // Keep count per source: |{r : (r-1)/(n-1) >= p}|; n = 1 has
    // percent_rank defined as 0.0, kept only at p = 0.
    val vc = scored.groupBy(col(srcCol), col("q_score"))
      .agg(count(lit(1)).as("__c"))
    val nSrc = vc.groupBy(col(srcCol)).agg(sum(col("__c")).as("__n"))
      .withColumn("__keep",
        when(col("__n") === 1L,
          when(lit(minPercentile) <= 0.0, 1L).otherwise(0L))
        .otherwise(col("__n") - ceil(lit(minPercentile) *
          (col("__n") - 1L).cast("double")).cast("long")))
      .select(col(srcCol), col("__keep"))
    val wDesc = Window.partitionBy(col(srcCol))
      .orderBy(col("q_score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = vc.withColumn("__cum", sum(col("__c")).over(wDesc))
      .withColumn("__above", col("__cum") - col("__c"))
    // exactly one threshold row per source (cum is strictly increasing)
    val th = cum.join(broadcast(nSrc), srcCol)
      .filter(col("__above") < col("__keep") &&
        col("__cum") >= col("__keep"))
      .select(col(srcCol), col("q_score").as("__t"),
        (col("__keep") - col("__above")).as("__bk"))
    // PASS 2 (one scan, map-only + a tie-bounded window): keep docs
    // above the threshold outright; rank ONLY within (source, value)
    // groups of the >= T slice — partitions are tie groups, never the
    // source — and qp-window semantics keep the LARGEST ids at T.
    val wTies = Window.partitionBy(col(srcCol), col("q_score"))
      .orderBy(col(idCol).desc)
    scored.join(broadcast(th), Seq(srcCol))
      .filter(col("q_score") >= col("__t"))
      .withColumn("__r", row_number().over(wTies))
      .filter(col("q_score") > col("__t") || col("__r") <= col("__bk"))
      .select(col(idCol), col(srcCol), col("q_score"))
  }

  /** Gopher-style repetition-free quality rules (Rae et al.,
    * "Scaling Language Models: … Gopher", arXiv:2112.11446 §A1.1):
    * the document-level heuristic gate most pretraining pipelines run
    * FIRST, before any model-based scoring — word-count bounds, mean
    * word length bounds, symbol-to-word ratio, fraction of words
    * containing an alphabetic character, and a minimum number of
    * distinct stopwords present. Returns every rule's measured value
    * AND its pass flag (0/1 longs) plus the conjunctive `keep`, so a
    * pipeline can audit WHICH rule rejected a document, not just that
    * one did.
    *
    * Exactness: every count is an exact long; the three ratios are
    * each a single IEEE division of exact longs, bit-identical in any
    * engine; pass flags compare those against literal thresholds.
    *
    * Scale shape: map-only — one split + a handful of codegen'd
    * regexp/aggregate expressions per row, no shuffle at all. At
    * 100 TB this is the cheapest stage of the pass and the one that
    * should run first (it prunes before anything that shuffles).
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minAvgWordLen: Double = 3.0, maxAvgWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaWordRatio: Double = 0.8,
      minStopwordHits: Long = 2): DataFrame = {
    val t = col(textCol)
    val words = split(t, " +")
    val nWords = size(words).cast("long")
    val charSum = aggregate(words, lit(0L),
      (acc, w) => acc + length(w).cast("long"))
    val nSymbols = size(regexp_extract_all(t, lit("[#…]"), lit(0)))
      .cast("long")
    val nAlphaWords = size(filter(words,
      w => w.rlike("[a-zA-Z]"))).cast("long")
    val stopHits = Seq("the", "a", "of", "and", "to")
      .map(s => when(t.rlike("\\b" + s + "\\b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val avgLen = charSum.cast("double") / nWords.cast("double")
    val symRatio = nSymbols.cast("double") / nWords.cast("double")
    val alphaRatio = nAlphaWords.cast("double") / nWords.cast("double")
    def flag(c: org.apache.spark.sql.Column) =
      when(c, 1L).otherwise(0L)
    val pWords = flag(nWords >= minWords && nWords <= maxWords)
    val pLen = flag(avgLen >= minAvgWordLen && avgLen <= maxAvgWordLen)
    val pSym = flag(symRatio <= maxSymbolRatio)
    val pAlpha = flag(alphaRatio >= minAlphaWordRatio)
    val pStop = flag(stopHits >= minStopwordHits)
    Dedup.spread(docs).select(col(idCol),
      nWords.as("n_words"), avgLen.as("avg_word_len"),
      symRatio.as("symbol_ratio"), alphaRatio.as("alpha_word_ratio"),
      stopHits.as("stop_hits"),
      pWords.as("pass_words"), pLen.as("pass_word_len"),
      pSym.as("pass_symbols"), pAlpha.as("pass_alpha"),
      pStop.as("pass_stopwords"),
      (pWords * pLen * pSym * pAlpha * pStop).as("keep"))
  }

  /** Per-(doc, bucket) DSIR contributions feeding [[dsirWeights]]:
    * `contrib` is the raw IEEE double c·(ln p_target − ln p_raw),
    * `c_micro` its ×10⁶ floor. Exposed so specs can attest the grid
    * margin on real fixtures (the [[graft.pipeline.Retrieval]] BM25
    * discipline).
    */
  def dsirBucketContribs(raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String, dim: Int = 64): DataFrame = {
    require(dim >= 2, s"dsirWeights needs dim >= 2, got $dim")
    val db = Features.hashingTrick(raw, idCol, textCol, dim)
    val rawTot = db.groupBy(col("bucket"))
      .agg(sum(col("n_hits")).as("cr"))
    val tgtTot = Features.hashingTrick(target, idCol, textCol, dim)
      .groupBy(col("bucket")).agg(sum(col("n_hits")).as("ct"))
    // ≤ dim rows each side: the whole model broadcasts
    val lam = rawTot
      .join(tgtTot, Seq("bucket"), "left")
      .crossJoin(broadcast(rawTot.agg(sum(col("cr")).as("tr"))))
      .crossJoin(broadcast(tgtTot.agg(sum(col("ct")).as("tt"))))
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + 1L).cast("double") /
             (col("tt") + dim.toLong).cast("double")) -
         log((col("cr") + 1L).cast("double") /
             (col("tr") + dim.toLong).cast("double"))).as("lam"))
    db.join(broadcast(lam), Seq("bucket"))
      .withColumn("contrib", col("n_hits").cast("double") * col("lam"))
      .withColumn("c_micro",
        floor(col("contrib") * lit(1e6)).cast("long"))
  }

  /** DSIR importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023):
    * score every raw document by how much more likely its hashed
    * bag-of-tokens is under the TARGET distribution than under the
    * raw-corpus distribution — log w(d) = Σ_b c_d[b]·(ln p̂_t[b] −
    * ln p̂_r[b]) with add-one smoothing over `dim` hashed buckets.
    * Sampling raw docs proportionally to w (or taking the top slice
    * by it) tilts a giant crawl toward a small high-quality target
    * set without training a classifier.
    *
    * Exactness: bucket counts are exact longs; each p̂ is ln of a
    * single IEEE division of exact longs (engine-identical up to the
    * ≤1-ulp cross-engine ln); each per-bucket contribution lands on a
    * ×10⁶ integer grid BEFORE the per-doc sum, so `weight_micro` is
    * fold-order and cross-engine exact. PipelineSpec attests the grid
    * margin on the fixture.
    *
    * Scale shape: the "model" is two `dim`-row count vectors — one
    * partial agg over each corpus's hashed tokens (no vocabulary
    * pass, the [[Features.hashingTrick]] property) — broadcast back
    * onto the per-doc bucket frame; scoring is an equi-join against
    * a ≤`dim`-row broadcast plus ONE per-doc partial agg. At 100 TB
    * the target set is tiny by construction and the raw pass is
    * linear, embarrassing-parallel, shuffle-bounded by docs ×
    * min(distinct tokens, dim).
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, dim: Int = 64): DataFrame =
    dsirBucketContribs(raw, target, idCol, textCol, dim)
      .groupBy(col(idCol))
      .agg(sum(col("n_hits")).as("n_tokens"),
        sum(col("c_micro")).as("weight_micro"))
}
