package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators are expressed as declarative DataFrame programs so
  * Catalyst/Tungsten handle distribution: shingling and hashing happen
  * map-side with built-in (codegen'd) functions, aggregations are
  * partial+final, and candidate generation never materializes an
  * all-pairs product — pairs meet only through equality joins on
  * shingles / LSH buckets, which shuffle-partition by key.
  */
object Dedup {

  // ---------------- exact dedup ----------------

  /** Exact duplicate grouping by content hash. Returns one row per
    * distinct content: the kept (minimum) id and the duplicate count.
    * At scale this is a single hash aggregation on a 128-bit key —
    * no text comparison, no skew beyond true duplicate mass.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact-substring (duplicate-passage) dedup over token n-grams —
    * the distributed reshape of the suffix-array method of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499). Every length-`n` token window whose gram
    * occurs in >= `minDocs` distinct documents is a duplicated span
    * (shared boilerplate, copied passages); the document itself is
    * kept, with every covered token removed from `clean_text`.
    *
    * Returns one row per input document:
    * (id, n_windows, dup_windows, clean_text).
    *
    * Scale shape: windows meet only through a partial-aggregated
    * groupBy and an equi join on the 128-bit gram hash — a gram shared
    * by M documents joins M window rows to ONE gram row (linear,
    * never pairwise), so hot boilerplate cannot explode the join.
    * Span removal is per-row token work bounded by document length
    * (the covered-position array is materialized once per row, not
    * per lambda element). md5 keeps gram keys collision-safe at
    * corpus scales where 64-bit hashing would birthday-collide
    * (~4e9 grams), and is what makes the op oracle-portable.
    */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 2, s"window length must be >= 2 tokens, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = spread(df).select(col(idCol), col(textCol),
        split(col(textCol), " +").as("__toks"))
      .withColumn("__ntok", size(col("__toks")))
    // CaseWhen evaluates only the matched branch, so sequence() never
    // sees a negative stop for docs shorter than n (Spark's sequence
    // would otherwise count DOWN); posexplode drops them from wins.
    val wins = base.select(col(idCol),
        posexplode(when(col("__ntok") >= n,
            transform(sequence(lit(0), col("__ntok") - n),
              i => md5(array_join(slice(col("__toks"), i + 1, lit(n)), " "))))
          .otherwise(array().cast("array<string>"))))
      .toDF(idCol, "__start", "__gram")
    val dupGrams = wins.groupBy("__gram")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__gram")
    val marked = wins.join(dupGrams, "__gram")
      .groupBy(idCol)
      .agg(sort_array(collect_set(col("__start"))).as("__dups"))
    base.join(marked, Seq(idCol), "left")
      .withColumn("__cov", array_distinct(flatten(transform(
        coalesce(col("__dups"), array().cast("array<int>")),
        s => sequence(s, s + (n - 1))))))
      .select(col(idCol),
        greatest(col("__ntok") - (n - 1), lit(0)).cast("long")
          .as("n_windows"),
        coalesce(size(col("__dups")), lit(0)).cast("long")
          .as("dup_windows"),
        when(size(col("__cov")) === 0, col(textCol))
          .otherwise(array_join(
            filter(col("__toks"),
              (t, i) => !array_contains(col("__cov"), i)), " "))
          .as("clean_text"))
  }

  /** Cross-corpus line-level exact dedup — the C4 rule (Raffel et
    * al., arXiv:1910.10683 §2.2: "we discarded all but one of any
    * three-sentence span occurring more than once in the data set")
    * at line granularity, as RefinedWeb/Dolma apply it. Documents are
    * split on `delim`; of every set of verbatim-identical lines the
    * corpus-wide FIRST occurrence (smallest (id, position)) survives,
    * every other occurrence is removed, and each document is
    * reassembled from its surviving lines in order. Lines shorter
    * than `minChars` (e.g. blank separator lines) bypass dedup and
    * are always kept — deduplicating those would splice unrelated
    * boilerplate out of nearly every document.
    *
    * Returns one row per input document:
    * (id, n_lines, n_dropped, clean_text); clean_text is "" when
    * every line occurs earlier elsewhere.
    *
    * Scale shape: occurrences meet only through ONE partial+final
    * hash aggregation on the line's 128-bit md5 (state per distinct
    * line = a 12-byte min-(id,pos) struct, combined map-side — hot
    * boilerplate lines collapse before the shuffle) plus an equi
    * join of winners back to occurrences: linear in corpus lines,
    * never pairwise. Reassembly is a per-row array_sort over the
    * document's own surviving lines, bounded by document length.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n", minChars: Int = 1): DataFrame = {
    val delimRe = java.util.regex.Pattern.quote(delim)
    val base = spread(df).select(col(idCol), col(textCol))
    val lines = base.select(col(idCol),
        posexplode(split(col(textCol), delimRe)))
      .toDF(idCol, "__pos", "__line")
    val parts = lines.filter(length(col("__line")) >= minChars)
      .withColumn("__h", md5(col("__line").cast("binary")))
    val winners = parts.groupBy("__h")
      .agg(min(struct(col(idCol).as("i"), col("__pos").as("p")))
        .as("__w"))
      .select(col("__h"), col("__w.i").as("__wid"),
        col("__w.p").as("__wpos"))
    val kept = parts.join(winners, Seq("__h"))
      .filter(col(idCol) === col("__wid") && col("__pos") === col("__wpos"))
      .select(col(idCol), col("__pos"), col("__line"))
      .unionByName(lines.filter(length(col("__line")) < minChars)
        .select(col(idCol), col("__pos"), col("__line")))
    val agg = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("__nkept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")), delim).as("__clean"))
    base.select(col(idCol),
        size(split(col(textCol), delimRe)).as("__nl"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        col("__nl").cast("long").as("n_lines"),
        (col("__nl") - coalesce(col("__nkept"), lit(0))).cast("long")
          .as("n_dropped"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  // ---------------- shingling ----------------

  /** Repartition a low-parallelism input before CPU-heavy per-row map
    * work (shingling, per-shingle hashing). A local fixture is often
    * ONE parquet split, which would serialize the whole map stage on a
    * single core; a real corpus arrives in thousands of splits, where
    * this is a no-op (the input is already at least cluster-parallel,
    * and an extra shuffle of raw text would only cost). Streaming
    * frames are returned untouched.
    *
    * Partition-count inspection is confined to map-only plans
    * (projections/filters/unions over leaf scans): under AQE,
    * materializing `.rdd` for a plan WITH exchanges executes every
    * upstream shuffle stage at query-composition time — a frame built
    * from a join/aggregate would silently run its upstream stages
    * twice. Such frames are returned untouched: they come out of a
    * shuffle already at `spark.sql.shuffle.partitions`-way (or
    * AQE-coalesced, size-targeted) parallelism.
    */
  private[graft] def spread(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      import org.apache.spark.sql.catalyst.plans.logical._
      def mapOnly(p: LogicalPlan): Boolean = p match {
        case _: LeafNode => true
        case _: Project | _: Filter | _: SubqueryAlias | _: Union |
            _: Generate => p.children.forall(mapOnly)
        case _ => false
      }
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (mapOnly(df.queryExecution.analyzed) &&
          df.rdd.getNumPartitions < target) df.repartition(target)
      else df
    }

  /** Distinct word w-shingles per document, one row per (id, shingle).
    * Built-ins only: split → transform(sequence) → array_distinct →
    * explode, all inside whole-stage codegen.
    */
  def wordShingles(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    // materialize the split once: referencing split(...) directly from
    // every element_at in the lambda re-runs the regex split per
    // element (measured 5x slowdown on shingling)
    val words = col("__words")
    val shingles = array_distinct(transform(
      sequence(lit(0), greatest(size(words) - w, lit(0))),
      i => array_join(slice(words, i + lit(1), lit(w)), " ")))
    spread(df).withColumn("__words", split(col(textCol), " +"))
      .select(col(idCol), explode(shingles).as("shingle"))
  }

  /** Distinct character n-grams per document (expr form:
    * `functions.substring` takes only literal positions, the SQL
    * `substring` accepts a column).
    */
  def charShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    spread(df).filter(length(col(textCol)) >= n)
      .select(col(idCol), explode(array_distinct(expr(
        s"transform(sequence(1, length($textCol) - ${n - 1}), i -> substring($textCol, i, $n))"
      ))).as("shingle"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm): hash every word k-gram, slide a window of `w`
    * consecutive gram hashes over the document, and select each
    * window's minimum — deduplicated, that's the fingerprint set. The
    * guarantee: any shared substring of at least k+w−1 words between
    * two documents yields at least one SHARED fingerprint, at an
    * expected density of 2/(w+1) — position-robust partial-overlap
    * detection (quote mining, contamination, plagiarism) at a fixed
    * fraction of the gram volume.
    *
    * Determinism: the windowed min runs over `hash·2²⁰ + pos` packed
    * longs, so ties between equal gram hashes inside one window break
    * to the EARLIEST position — exactly reproducible in any engine
    * (the hash is the portable 40-bit md5 lane; positions are bounded
    * by 2²⁰ ≈ 1M grams per document, plenty for training documents —
    * chunk longer inputs first, [[TextAnalysis.chunkDocuments]]).
    * Documents with fewer than `w` grams contribute their single
    * global minimum (one full window of whatever exists).
    *
    * Scale shape: gram hashing is a map-only Generate; BOTH windows
    * (running min + row counter) share one partition spec, so the
    * whole operator costs ONE shuffle on the doc key, per-partition
    * state is the w-row frame, and the output is the deduplicated
    * 2/(w+1) fraction. Never a doc×doc comparison — fingerprints are
    * the join key a downstream overlap pass buckets on.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, s"winnowing needs k,w >= 1, got k=$k w=$w")
    val words = col("__words")
    val grams = spread(df)
      .withColumn("__words", split(col(textCol), " +"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), greatest(size(words) - k, lit(0))),
        i => array_join(slice(words, i + lit(1), lit(k)), " "))))
      .toDF(idCol, "__pos", "__gram")
    // 40-bit portable hash packed with the 20-bit position: the
    // windowed min then IS the (hash, earliest-pos) argmin
    val key = (conv(substring(md5(col("__gram").cast("binary")), 1, 10),
      16, 10).cast("long") * lit(1048576L)) + col("__pos")
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val winMin = min(col("__key")).over(byPos.rowsBetween(-(w - 1), 0))
    val rn = row_number().over(byPos)
    val cnt = count(lit(1)).over(Window.partitionBy(col(idCol)))
    val keyed = grams.withColumn("__key", key)
      .select(col(idCol), winMin.as("__fp"), rn.as("__rn"),
        cnt.as("__cnt"))
    keyed
      // full windows; short docs keep their single global min (the
      // last row's running min spans the whole doc)
      .filter(col("__rn") >= w || col("__rn") === col("__cnt"))
      .select(col(idCol), col("__fp")).distinct()
      // integer DIV, not '/': the packed key is up to 2^60 and a
      // double-typed divide would round the 53-bit mantissa
      .select(col(idCol),
        (col("__fp") % 1048576L).as("fp_pos"),
        expr("__fp DIV 1048576").as("fp_hash"))
  }

  // ---------------- MinHash + LSH ----------------

  /** MinHash signatures: `numHashes` permutations approximated by
    * seeded xxhash64. One explode + one grouped min-aggregation —
    * map-side partial aggregation keeps the shuffle at
    * |docs| × numHashes longs regardless of document length.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, numHashes: Int = 32,
      portable: Boolean = false): DataFrame = {
    val sh = wordShingles(df, idCol, textCol, shingleWidth)
    if (portable) {
      // one md5 per shingle; the i-th permutation is the 2-universal
      // (a + (i+1)·b) mod P — oracle-reproducible at the cost of md5
      // vs xxhash64 on the hot path
      val (a, b) = PortableHash.lanes(col("shingle"))
      val lanes = sh.select(col(idCol), a.as("__a"), b.as("__b"))
      val mins = (0 until numHashes).map(h =>
        min(PortableHash.laneHash(col("__a"), col("__b"), h)).as(s"mh_$h"))
      lanes.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    } else {
      val mins = (0 until numHashes).map(h =>
        min(xxhash64(lit(h), col("shingle"))).as(s"mh_$h"))
      sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    }
  }

  /** LSH banding: split the signature into `bands` bands of
    * `numHashes / bands` rows, hash each band → (id, band, bucket).
    */
  def lshBuckets(sig: DataFrame, idCol: String, numHashes: Int,
      bands: Int, portable: Boolean = false): DataFrame = {
    sig.select(col(idCol),
        explode(bandStructs(numHashes, bands, portable)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  /** The per-band (band, bucket) structs over signature columns
    * mh_0..mh_{n-1}. Portable buckets join the band's values as a
    * string (SQL `string_agg` reproduces it); the default hashes them
    * to one long with xxhash64 (cheaper to shuffle).
    */
  private def bandStructs(numHashes: Int, bands: Int,
      portable: Boolean): Column = {
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      val bucket =
        if (portable) concat_ws("_", cols: _*)
        else xxhash64(cols: _*).cast("string")
      struct(lit(b).as("band"), bucket.as("bucket"))
    }: _*)
  }

  /** Near-duplicate candidate pairs via MinHash LSH, with the estimated
    * Jaccard (fraction of agreeing minhashes) computed from the
    * signatures. Pairs meet only inside an LSH bucket — the join is a
    * shuffle on (band, bucket), never an all-pairs product.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, numHashes: Int = 32, bands: Int = 8,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 200,
      portable: Boolean = false): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, shingleWidth, numHashes,
      portable).cache()
    // carry the full signature through the bucket rows as one array:
    // the estimated Jaccard is then computed directly on the joined
    // bucket rows, saving the two candidate×signature shuffle joins
    // the naive plan needs
    val buckets0 = sig.select(col(idCol),
        array((0 until numHashes).map(h => col(s"mh_$h")): _*).as("sig"),
        explode(bandStructs(numHashes, bands, portable)).as("bb"))
      .select(col(idCol), col("sig"), col("bb.band"), col("bb.bucket"))
    // hot-bucket guard: a bucket with B members yields B² candidate
    // pairs; over maxBucketSize members it is low-precision noise
    // (everything collides with everything) and at corpus scale it is
    // THE quadratic blowup — drop such buckets, like stop-shingles
    val hot = buckets0.groupBy("band", "bucket").count()
      .filter(col("count") > maxBucketSize).select("band", "bucket")
    val buckets = buckets0.join(broadcast(hot), Seq("band", "bucket"),
      "left_anti")
      // a USING join moves the join keys first — restore column order
      // before the positional renames below
      .select(col(idCol), col("sig"), col("band"), col("bucket"))
    val b1 = buckets.toDF("id1", "sig1", "band", "bucket")
    val b2 = buckets.toDF("id2", "sig2", "band", "bucket")
    val candidates = b1.join(b2, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "sig1", "id2", "sig2").distinct()
    val agree = aggregate(
      zip_with(col("sig1"), col("sig2"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    // materialize the (tiny) pair set so the signature cache can be
    // freed NOW — otherwise every invocation leaks a cached
    // signature table into executor storage for the session's life
    val pairs = Lineage.truncate(candidates
      .select(col("id1"), col("id2"),
        (agree.cast("double") / lit(numHashes)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard))
    sig.unpersist(false)
    pairs
  }

  /** Incremental MinHash near-dup mining: candidate pairs between a
    * NEW batch of documents and an EXISTING corpus represented only
    * by its stored signatures (plus new×new pairs) — the production
    * shape at corpus scale. A 100 TB corpus is not re-shingled for
    * every daily increment: `minhashSignatures` is run once, its
    * |docs| × numHashes longs are kept as the dedup index, and each
    * increment shingles ONLY its own documents, buckets both sides,
    * and meets the corpus inside LSH buckets. Existing×existing pairs
    * are excluded (they were reported when those docs arrived).
    *
    * `existingSigs` must come from `minhashSignatures` with the SAME
    * shingleWidth/numHashes/portable parameters (the signature is the
    * contract; mismatched parameters silently produce junk recall, so
    * the column count is checked). Returns (id1, id2, est_jaccard)
    * with `id1 < id2` like the full miner.
    */
  def minhashNearDupPairsIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, existingSigs: DataFrame,
      shingleWidth: Int = 3, numHashes: Int = 32, bands: Int = 8,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 200,
      portable: Boolean = false): DataFrame = {
    val sigCols = (0 until numHashes).map(h => s"mh_$h")
    require(existingSigs.columns.contains(idCol) &&
      sigCols.forall(existingSigs.columns.contains),
      s"existingSigs must carry $idCol, mh_0..mh_${numHashes - 1} " +
        s"(from minhashSignatures with numHashes=$numHashes); got " +
        existingSigs.columns.mkString(", "))
    val newSigs = minhashSignatures(newDocs, idCol, textCol,
      shingleWidth, numHashes, portable).cache()
    def tagged(sigs: DataFrame, isNew: Boolean): DataFrame =
      sigs.select(col(idCol),
        array(sigCols.map(col): _*).as("sig"),
        lit(isNew).as("is_new"),
        explode(bandStructs(numHashes, bands, portable)).as("bb"))
        .select(col(idCol), col("sig"), col("is_new"),
          col("bb.band"), col("bb.bucket"))
    val buckets0 = tagged(newSigs, isNew = true)
      .unionByName(tagged(existingSigs.select(col(idCol) +: sigCols.map(col): _*),
        isNew = false))
    // the hot-bucket guard sees the COMBINED corpus: a bucket that is
    // cold today can have gone hot with the increment, and pair mass
    // is quadratic in the bucket's total membership either way
    val hot = buckets0.groupBy("band", "bucket").count()
      .filter(col("count") > maxBucketSize).select("band", "bucket")
    val buckets = buckets0.join(broadcast(hot), Seq("band", "bucket"),
      "left_anti")
      .select(col(idCol), col("sig"), col("is_new"), col("band"), col("bucket"))
    val b1 = buckets.toDF("id1", "sig1", "new1", "band", "bucket")
    val b2 = buckets.toDF("id2", "sig2", "new2", "band", "bucket")
    val candidates = b1.join(b2, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      // at least one side must be from the increment
      .filter(col("new1") || col("new2"))
      .select("id1", "sig1", "id2", "sig2").distinct()
    val agree = aggregate(
      zip_with(col("sig1"), col("sig2"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val pairs = Lineage.truncate(candidates
      .select(col("id1"), col("id2"),
        (agree.cast("double") / lit(numHashes)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard))
    newSigs.unpersist(false)
    pairs
  }

  // ---------------- exact n-gram Jaccard ----------------

  /** Exact Jaccard similarity over distinct character n-grams for all
    * pairs that share at least one shingle. The per-shingle join is the
    * scale hazard: `maxDocFreq` drops stop-shingles (present in more
    * than that many docs) before the join — the standard skew guard.
    * The guard is ON by default (a shingle in >1000 docs contributes
    * >10⁶ pair rows while carrying ~zero similarity signal); pass
    * `None` only for corpora known to be skew-free. Note the pruning
    * changes the similarity definition: Jaccard is computed over the
    * surviving shingle sets — consumers recomputing it without the
    * guard will diverge on corpora with hot shingles.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.0,
      maxDocFreq: Option[Int] = Some(1000)): DataFrame = {
    val shingles = charShingles(df, idCol, textCol, n)
    val pruned = maxDocFreq match {
      case Some(k) =>
        val hot = shingles.groupBy("shingle").count()
          .filter(col("count") > k).select("shingle")
        shingles.join(broadcast(hot), Seq("shingle"), "left_anti")
          // a USING join moves the join keys first — restore column
          // order before the positional renames below
          .select(col(idCol), col("shingle"))
      case None => shingles
    }
    val sizes = pruned.groupBy(col(idCol))
      .agg(count(lit(1)).as("sz"))
    val a = pruned.toDF("id1", "shingle")
    val b = pruned.toDF("id2", "shingle")
    val inter = a.join(b, Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("m"))
    inter
      .join(sizes.toDF("id1", "sz1"), Seq("id1"))
      .join(sizes.toDF("id2", "sz2"), Seq("id2"))
      .select(col("id1"), col("id2"),
        (col("m").cast("double") /
          (col("sz1") + col("sz2") - col("m"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash folded from token hashes by a typed Aggregator
    * (partial aggregation per partition; the merge state is just 64
    * ints, so the shuffle is tiny regardless of document size).
    */
  object SimhashAgg extends Aggregator[Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](64)
    def reduce(acc: Array[Int], tokenHash: Long): Array[Int] = {
      var i = 0
      while (i < 64) {
        if (((tokenHash >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
      acc
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    def finish(acc: Array[Int]): Long = {
      var sig = 0L
      var i = 0
      while (i < 64) { if (acc(i) > 0) sig |= (1L << i); i += 1 }
      sig
    }
    def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Per-document SimHash signature over whitespace tokens. The
    * portable variant hashes tokens with the md5-derived 60-bit hash
    * (bits 60-63 then never set) so an oracle can recompute it.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    val simhashUdaf = udaf(SimhashAgg)
    val tok = df.select(col(idCol),
      explode(split(col(textCol), " +")).as("token"))
    val th =
      if (portable) PortableHash.hash60(col("token"))
      else xxhash64(col("token"))
    tok.select(col(idCol), th.as("th"))
      .groupBy(col(idCol))
      .agg(simhashUdaf(col("th")).as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs among documents whose signatures fall in
    * the same bucket on at least one of four 16-bit bands (the
    * standard rotate-and-block scheme: a pair within Hamming distance
    * 3 must agree on one band).
    *
    * Buckets larger than `maxBucketSize` are dropped before the join —
    * the same quadratic-blowup guard minhashNearDupPairs carries: a
    * degenerate corpus (thousands of near-identical documents) piles
    * its whole mass into one 16-bit bucket per band, and B members
    * yield B² candidate rows. Exact duplicates should go through
    * exactDedup first; such a hot bucket is all recall-noise.
    */
  /** The 4×16-bit banding of a simhash signature frame (one row per
    * (id, band, bucket)); shared by the pair miner and the hot-bucket
    * audit so both always see identical bucketing.
    */
  private def simhashBanded(sig: DataFrame, idCol: String): DataFrame =
    sig.select(col(idCol), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * 16)
            .bitwiseAND(lit(0xFFFFL)).as("bucket"))): _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band"), col("bb.bucket"))

  /** The buckets simhashNearDupPairs would silently drop at this
    * `maxBucketSize`, with their member counts — run this alongside a
    * dedup pass to make the guard's recall loss visible (a huge count
    * here means the corpus needs exactDedup first, not a bigger
    * bucket cap).
    */
  def simhashHotBuckets(df: DataFrame, idCol: String, textCol: String,
      maxBucketSize: Int = 200): DataFrame =
    simhashBanded(simhash(df, idCol, textCol), idCol)
      .groupBy("band", "bucket").count()
      .filter(col("count") > maxBucketSize)

  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 200): DataFrame = {
    val sig = simhash(df, idCol, textCol).cache()
    val banded0 = simhashBanded(sig, idCol)
    val hot = banded0.groupBy("band", "bucket").count()
      .filter(col("count") > maxBucketSize).select("band", "bucket")
    val banded = banded0.join(broadcast(hot), Seq("band", "bucket"),
      "left_anti")
      // a USING join moves the join keys first — restore column order
      // before the positional renames below
      .select(col(idCol), col("simhash"), col("band"), col("bucket"))
    val l = banded.toDF("id1", "sig1", "band", "bucket")
    val r = banded.toDF("id2", "sig2", "band", "bucket")
    val pairs = Lineage.truncate(l.join(r, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        hamming(col("sig1"), col("sig2")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming))
    sig.unpersist(false)
    pairs
  }
}
