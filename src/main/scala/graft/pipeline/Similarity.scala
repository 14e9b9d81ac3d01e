package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * The dot products run on built-in higher-order functions
  * (`zip_with` + `aggregate`) in double precision with a
  * left-to-right fold — deterministic and codegen-friendly, no UDF.
  */
object Similarity {

  /** Cosine similarity of two `array<float>` columns: a native codegen
    * Catalyst expression running one fused primitive loop
    * (graft.functions.CosineSimilarity). Same double-precision
    * left-to-right fold as the composed version below, so results are
    * bit-identical — just without the intermediate arrays.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineNative(a, b)

  /** Composed built-ins variant (any numeric array type) — kept as the
    * reference implementation the native expression is verified
    * against.
    */
  def cosineComposed(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Bounded top-k buffer keyed by (score desc, id asc) — a typed
    * Aggregator, so Spark runs it with map-side partial aggregation:
    * every partition reduces its candidates to at most k rows per
    * query BEFORE the shuffle. The naive `row_number` window funnels
    * the whole scored set for one query through a single task — the
    * classic skew-killer at corpus scale.
    */
  final class TopKByScore(k: Int)
      extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private val ord: Ordering[(Double, Long)] =
      Ordering.by { case (s, id) => (-s, id) }
    def zero: Seq[(Double, Long)] = Nil
    def reduce(buf: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
      (buf :+ x).sorted(ord).take(k)
    def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      (a ++ b).sorted(ord).take(k)
    def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r.sorted(ord)
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** (query_id, neighbor_id, cosine) → per-query top-k with 1-based
    * rank, via the partial-aggregating TopKByScore (ties broken by
    * neighbor_id ascending, like `row_number` over (cosine desc, id)).
    *
    * NULL cosines (a zero-norm vector makes the division NULL) are
    * dropped before aggregation: the typed Aggregator's input encoder
    * is non-nullable, and a no-similarity candidate has no rank anyway.
    */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKByScore(k))
    scored.filter(col("cosine").isNotNull).groupBy("query_id")
      .agg(topk(col("cosine"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t._2").as("neighbor_id"),
        col("t._1").as("cosine"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Brute-force top-k cosine neighbors.
    *
    * `queries` is expected to be small (it is broadcast): the scan of
    * `corpus` is then a single pass, and the per-query top-k runs as a
    * partial aggregation (≤ k rows per query per partition reach the
    * shuffle — never the full scored corpus through one task).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k candidates by cosine INSIDE the band [lo, hi) — similar
    * enough to be hard negatives, capped below the near-duplicate
    * threshold so positives and dups never leak into the negative
    * set (the standard retrieval-training data step; e.g. DPR-style
    * pipelines mine exactly this band). Same broadcast shape as
    * [[bruteForceTopK]] — the exact baseline; at billion scale use
    * [[Ivf.ivfHardNegatives]] (the ss5 gate entry), which feeds the
    * same band + top-k from an IVF probed-cell equi-join instead of
    * the full scan — this exact form is its recall yardstick.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, lo: Double, hi: Double, k: Int): DataFrame = {
    require(lo < hi, s"empty band [$lo, $hi)")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
      .filter(col("cosine") >= lo && col("cosine") < hi)
    topKPerQuery(scored, k)
  }

  /** Deterministic ±1 (Rademacher) hyperplanes derived from md5 hex
    * parity: `planes(seed)(j)(d)` = +1 iff the first hex digit of
    * md5("lsh:seed:j:d") is even. Sign-LSH with Rademacher planes has
    * the same locality property as Gaussian planes, and the signs are
    * reproducible in any engine with md5 — the correctness oracle
    * re-derives them in SQL.
    */
  def hyperplanes(numPlanes: Int, dims: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(numPlanes) { j =>
      Array.tabulate(dims) { d =>
        val hex = PortableHash.md5Hex(s"lsh:$seed:$j:$d").charAt(0)
        if ((Character.digit(hex, 16) & 1) == 0) 1.0 else -1.0
      }
    }

  /** Sign-random-projection bucket for one band of planes; `vecd`
    * must already be a double array (cast once per row, not once per
    * plane).
    */
  private def bandBucket(vecd: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val planeCol = array(p.toIndexedSeq.map(lit): _*)
      val d = aggregate(zip_with(vecd, planeCol, (x, y) => x * y),
        lit(0.0d), (acc, v) => acc + v)
      when(d > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Hyperplane bits for a corpus of `n` vectors: enough buckets that
    * the EXPECTED per-(band, bucket) occupancy under a uniform split
    * is ~`targetOccupancy` — `ceil(log2(n / targetOccupancy))`,
    * clamped to [4, 24]. Sign-LSH buckets are not uniform (that is
    * the point — similar vectors pile up together), but the expected
    * occupancy is the right sizing handle: FIXED bits make in-bucket
    * pair density grow quadratically with corpus size (SOAK_r8
    * measured dd10 at 5.4× work for 10× data with fixed 8-bit
    * bands), while occupancy-targeted bits keep candidate mass
    * proportional to the data. The floor keeps tiny corpora at the
    * old default (stable small-scale behavior); the cap bounds plane
    * count — beyond 24 bits the per-row bucketize cost dominates any
    * join saving.
    */
  def deriveBits(n: Long, targetOccupancy: Long = 64L): Int = {
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val needed = math.ceil(
      math.log(math.max(n, 1L).toDouble / targetOccupancy) / math.log(2.0)).toInt
    math.min(24, math.max(4, needed))
  }

  /** Banded sign-LSH top-k: candidates meet when any band's bucket
    * matches (multi-band trades precision for recall, like MinHash
    * banding); exact cosine reranks within candidates. The join
    * shuffles on (band, bucket) — at 100 TB this is the scale path
    * versus the brute-force scan.
    *
    * `dims` is the embedding dimensionality the hyperplanes are built
    * for. The default (0) derives it from the first query row — one
    * tiny job on the queries side, which is broadcast-small by this
    * operator's contract; pass it explicitly to avoid even that.
    * Every vector on BOTH sides is then length-checked at scan time
    * and a mismatch fails the job: hyperplanes of the wrong length
    * would NULL the dot product and silently file every vector into
    * bucket 0 of every band — recall collapses and the bucket join
    * degenerates toward all-pairs, the exact blowup LSH exists to
    * avoid.
    *
    * `bitsPerBand = 0` (the default) sizes the buckets from the
    * corpus row count via [[deriveBits]] — one metadata-cheap
    * count job, the same derive-or-override contract as `dims`.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, bands: Int = 4, bitsPerBand: Int = 0,
      seed: Long = 42L, dims: Int = 0): DataFrame = {
    require(dims >= 0, s"lshTopK: dims must be non-negative (0 = derive), got $dims")
    require(bitsPerBand >= 0,
      s"lshTopK: bitsPerBand must be non-negative (0 = derive), got $bitsPerBand")
    val bits = if (bitsPerBand > 0) bitsPerBand else deriveBits(corpus.count())
    val d =
      if (dims > 0) dims
      // derive from the first NON-NULL vector: a NULL in the first
      // row would make size() NULL and surface as an opaque NPE here
      else queries.filter(col(vecCol).isNotNull)
        .select(size(col(vecCol))).limit(1).collect()
        .headOption.map(_.getInt(0))
        // no (non-null) query rows: the result is empty whatever the
        // planes are; 1 keeps the plan well-formed
        .getOrElse(1)
    def checked(c: Column): Column =
      // NULL vectors flow through BY CONSTRUCTION (their cosine is
      // NULL, which the top-k already drops — same contract as
      // zero-norm vectors); without the explicit pass-through their
      // fate would depend on whether the optimizer happens to prune
      // them via an inferred isnotnull before this guard evaluates
      when(c.isNull, c)
        .when(size(c) === d, c)
        .otherwise(raise_error(concat(
          lit(s"lshTopK: expected $d-dim vectors (pass dims= explicitly " +
            "for a different dimensionality), found length "),
          size(c).cast("string"))))
    val bandCols = (0 until bands).map { b =>
      val planes = hyperplanes(bits, d, seed + b)
      struct(lit(b).as("band"), bandBucket(col("__vd"), planes).as("bucket"))
    }
    def bucketize(df: DataFrame, side: String): DataFrame =
      df.withColumn("__vd", transform(checked(col(vecCol)), x => x.cast("double")))
        .select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec"),
          explode(array(bandCols: _*)).as("bb"))
        .select(col(s"${side}_id"), col(s"${side}_vec"),
          col("bb.band"), col("bb.bucket"))
    val qb = broadcast(bucketize(queries, "query"))
    val cb = bucketize(corpus, "neighbor")
    val candidates = qb.join(cb, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "query_vec", "neighbor_id", "neighbor_vec")
      .distinct()
    val scored = candidates.select(col("query_id"), col("neighbor_id"),
      cosine(col("query_vec"), col("neighbor_vec")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Cosine similarity of consecutive ids — a linear near-dup sweep
    * used by the oracle-checked entry (deterministic, join on id+1).
    */
  def consecutiveCosine(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, col("id1") + 1 === col("id2"))
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("cosine"))
  }

  /** Matryoshka-style truncation fidelity probe: how well cosine over
    * the first `dims` coordinates tracks cosine over the full vector
    * (Kusupati et al., "Matryoshka Representation Learning", NeurIPS
    * 2022 — the property that makes cheap prefix-dim ANN prefilters
    * sound). Probed over the consecutive-id pair chain (the dd5
    * frame): one equi-join, two fused cosine loops per pair, map-only
    * after the join — corpus-linear, never pairwise.
    *
    * Returns (id1, id2, cos_full, cos_trunc) with both cosines as raw
    * left-to-right double folds (bit-reproducible cross-engine, the
    * dd5 contract), so downstream can compute any agreement metric
    * without re-touching vectors.
    */
  def truncationFidelity(df: DataFrame, idCol: String, vecCol: String,
      dims: Int): DataFrame = {
    require(dims >= 1, s"truncationFidelity needs dims >= 1, got $dims")
    val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, col("id1") + 1 === col("id2"))
      .select(col("id1"), col("id2"),
        cosine(col("v1"), col("v2")).as("cos_full"),
        cosine(slice(col("v1"), 1, dims), slice(col("v2"), 1, dims))
          .as("cos_trunc"))
  }

  /** Embedding near-duplicate PAIR mining at corpus scale — the cosine
    * analogue of `Dedup.minhashNearDupPairs` and the candidate step of
    * SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540).
    * Sign-LSH banding buckets the corpus; candidate pairs meet ONLY
    * inside a (band, bucket) equi-join group; hot buckets are dropped
    * like stop-shingles (a bucket with B members is B² pairs — beyond
    * `maxBucketSize` it is low-precision noise and THE quadratic
    * blowup at corpus scale); the exact cosine reranks survivors to
    * `minCosine`. Returns (id1, id2, cosine) with id1 < id2, each
    * pair once. NULL vectors are dropped up front (nothing is a
    * near-dup of NULL).
    *
    * The vectors ride on the bucket rows through the bucket exchange
    * and the cross-band pair `distinct`, so the rerank runs directly
    * on the joined rows. Bucketing id-only rows and joining the
    * vectors back per surviving pair side was measured and lost at
    * production width: 56.7 s against 33.1 s at 256 dims on the 10×
    * fixture (SOAK_r9). Its two extra joins scale with the
    * candidates, which explode exactly when real duplicate mass is
    * found.
    *
    * `bitsPerBand = 0` (the default) sizes buckets from the corpus
    * row count via [[deriveBits]] — fixed bits turn 10× data into
    * ~100× in-bucket pair density; derived bits keep candidate mass
    * linear in the corpus. Pass explicitly to pin reproducible
    * bucketing (the oracle-checked entries do).
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.9, bands: Int = 4, bitsPerBand: Int = 0,
      seed: Long = 42L, dims: Int = 0,
      maxBucketSize: Int = 1000): DataFrame = {
    require(dims >= 0,
      s"cosineNearDupPairs: dims must be non-negative (0 = derive), got $dims")
    require(bitsPerBand >= 0,
      s"cosineNearDupPairs: bitsPerBand must be non-negative (0 = derive), got $bitsPerBand")
    val in = df.filter(col(vecCol).isNotNull)
    val bits = if (bitsPerBand > 0) bitsPerBand else deriveBits(in.count())
    val d =
      if (dims > 0) dims
      else in.select(size(col(vecCol))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1)
    // wrong-length vectors fail the job: mismatched hyperplanes would
    // NULL the dot products and file every vector into bucket 0 —
    // recall collapses while the bucket join degenerates toward
    // all-pairs (same contract as lshTopK)
    def checked(c: Column): Column =
      when(size(c) === d, c).otherwise(raise_error(concat(
        lit(s"cosineNearDupPairs: expected $d-dim vectors (pass dims= " +
          "explicitly for a different dimensionality), found length "),
        size(c).cast("string"))))
    val bandCols = (0 until bands).map { b =>
      val planes = hyperplanes(bits, d, seed + b)
      struct(lit(b).as("band"), bandBucket(col("__vd"), planes).as("bucket"))
    }
    val buckets0 = in
      .withColumn("__vd", transform(checked(col(vecCol)), x => x.cast("double")))
      .select(col(idCol), col(vecCol).as("vec"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("vec"), col("bb.band"), col("bb.bucket"))
    val hot = buckets0.groupBy("band", "bucket").count()
      .filter(col("count") > maxBucketSize).select("band", "bucket")
    val buckets = buckets0.join(broadcast(hot), Seq("band", "bucket"),
      "left_anti")
      // a USING join moves the join keys first — restore column order
      // before the positional renames below
      .select(col(idCol), col("vec"), col("band"), col("bucket"))
    val b1 = buckets.toDF("id1", "v1", "band", "bucket")
    val b2 = buckets.toDF("id2", "v2", "band", "bucket")
    val candidates = b1.join(b2, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "v1", "id2", "v2").distinct()
    candidates
      .select(col("id1"), col("id2"),
        cosine(col("v1"), col("v2")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }
}
