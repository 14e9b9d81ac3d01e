package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Similarity, TextAnalysis, Multimodal}

/** Training-data pipeline operators wired into the driver's
  * correctness gate. Every entry carries oracle SQL: each one runs
  * on a computation portable between Spark and DuckDB (md5, regexp
  * in the common RE2 subset, double-precision fold-order-identical
  * arithmetic). The production hash family (xxhash64 minhash/
  * simhash) has no external twin: it is covered by ScalaTest, and
  * its production-path builders are timed as Bench `extras`.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** DECIMAL(38,0) → BIGINT for the driver's pandas harness, GUARDED:
    * Spark's non-ANSI cast silently NULLs on overflow while the
    * DuckDB oracle's CAST(... AS BIGINT) raises — at extreme scale
    * the two sides would fail differently and Spark's failure would
    * be silent (r11 ADVICE). The documented ~1e5x int64 headroom on
    * the km1/km2/pq1/pc1 moment sums is now CHECKED in-plan: an
    * overflowing sum raises with the offending value instead of
    * hash-mismatching as a NULL.
    */
  private[graft] def checkedLong(c: Column): Column =
    when(abs(c) > lit(Long.MaxValue).cast("decimal(38,0)"),
      raise_error(concat(
        lit("gate cast overflow: |"), c.cast("string"),
        lit("| exceeds int64 — rescale the entry's grid"))))
      .otherwise(c.cast("long"))

  // ---------------- dedup ----------------

  // Exact dedup over a corpus with planted duplicates (the table
  // unioned with a re-keyed copy of itself).
  val dd1ExactDedup: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val planted = d.unionByName(
      d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    Dedup.exactDedup(planted, "doc_id", "text")
      .orderBy("keep_id")
  }
  val dd1Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
      |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      |       count(*) AS n_copies
      |FROM planted GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // MinHash + LSH near-dup candidates, portable-hash variant: the
  // md5-derived 2-universal family is recomputed by the DuckDB oracle,
  // so the full pipeline (shingling → signatures → banding →
  // hot-bucket guard → est-Jaccard filter) is hash-attested.
  //
  // The mined pair set is shared with dd6 (which clusters exactly these
  // pairs): minhashNearDupPairs materializes its tiny result eagerly,
  // so one memoized DataFrame serves both entries instead of re-mining
  // the corpus — the composition a real curation job uses.
  //
  // Lifetime/staleness contract: entries live for the JVM's life and
  // assume the fixture dir is immutable while the process runs — true
  // for the gate harness (one process per sweep, read-only testdata).
  // Bench calls resetCaches() between its cold and warm runs so warm
  // numbers measure the mining operators, not a memo read. Long-lived
  // applications with mutable inputs should call minhashNearDupPairs
  // directly rather than going through this gate-harness memo.
  private val plantedPairsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Drop all harness-level memos (and their cached Spark storage) so
    * a re-execution measures the operators from scratch.
    *
    * The bucketed-table registry (bk1) is deliberately NOT reset:
    * those catalog tables are INPUT LAYOUT — the write-once shuffle a
    * bucketing strategy prepays — not a memoized result. Re-writing
    * them per bench run would time the layout build, not the
    * zero-shuffle read path the entry exists to measure.
    */
  def resetCaches(): Unit = {
    plantedPairsCache.forEach { (_, df) =>
      try df.unpersist(blocking = false) catch { case _: Throwable => }
    }
    plantedPairsCache.clear()
  }

  // dir → bucketed catalog table names, built once per fixture per
  // JVM (same immutable-fixture lifetime contract as the pair memo)
  private val bucketedTables =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()

  private def ensureBucketed(s: SparkSession, dir: String): (String, String) =
    bucketedTables.computeIfAbsent((s, dir), { _ =>
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val (ot, lt) = (s"graft_bk_orders_$tag", s"graft_bk_lineitem_$tag")
      sources.Bucketed.write(
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority"),
        ot, numBuckets = 8, "o_orderkey")
      sources.Bucketed.write(
        Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_quantity"),
        lt, numBuckets = 8, "l_orderkey")
      (ot, lt)
    })

  private def plantedMinhashPairs(s: SparkSession, dir: String): DataFrame =
    plantedPairsCache.computeIfAbsent((s, dir), { _ =>
      val d = docs(s, dir).select("doc_id", "text")
      // plant near-duplicates: copies with the first word replaced
      // (high Jaccard at every document length)
      val nearDup = d.filter(col("doc_id") < 50).select(
        (col("doc_id") + 2000000).as("doc_id"),
        concat(lit("zzz "), expr("substring(text, instr(text, ' ') + 1)"))
          .as("text"))
      Dedup.minhashNearDupPairs(d.unionByName(nearDup), "doc_id", "text",
        shingleWidth = 3, numHashes = 32, bands = 8, minEstJaccard = 0.5,
        portable = true)
    })

  val dd2MinhashLsh: Q = (s, dir) =>
    plantedMinhashPairs(s, dir).orderBy("id1", "id2")

  /** The production-hash (xxhash64) twin of dd2's planted miner.
    * Bench-only (Bench `extras`, never in the oracle gate): no
    * external engine reproduces xxhash64, so the portable md5 twin
    * above carries the oracle; this entry exists so the bench shows
    * the throughput the gate's md5 lane family trades away — the
    * number a production deployment actually sees. Same corpus, same
    * banding, same guard; only the hash family differs.
    */
  private[graft] val dd2xProdMinhash: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val nearDup = d.filter(col("doc_id") < 50).select(
      (col("doc_id") + 2000000).as("doc_id"),
      concat(lit("zzz "), expr("substring(text, instr(text, ' ') + 1)"))
        .as("text"))
    Dedup.minhashNearDupPairs(d.unionByName(nearDup), "doc_id", "text",
      shingleWidth = 3, numHashes = 32, bands = 8, minEstJaccard = 0.5,
      portable = false)
  }

  /** Bench-only entries: timed by Bench under an `extras` JSON field
    * (excluded from the gate and from the headline total so round
    * totals stay comparable), each documenting a production path
    * whose hash family the oracle cannot replay.
    */
  // Production-path IVFADC twin: the coarse quantizer is Lloyd-trained
  // (quality path) instead of the gate's oracle-replayable static
  // pick — timed under `extras` so the training cost is visible
  // without polluting gate-to-gate totals.
  private val pq2xTrainedIvfAdc: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val centroids = pipeline.Ivf.trainCentroids(e, "vec_id", "embedding",
      k = 16)
    val cbs = pipeline.Quantize.pqCodebooks(e, "vec_id", "embedding",
      m = 4, k = 16)
    pipeline.Quantize.ivfAdcTopK(e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", centroids, cbs, k = 10, nprobe = 6)
  }

  // ss5's production twin: the SAME composed band + top-k rerank but
  // with a TRAINED (km2 grid-Lloyd) quantizer supplying the cells —
  // the form a real corpus runs, where nlist tracks corpus size and
  // per-cell occupancy stays constant (SOAK_r12's ss5 note). Bench-
  // only: Lloyd's driver loop isn't oracle-replayable per query run
  // cheaply; recall vs the exact baseline is spec-pinned instead.
  private val ss5xTrainedHardNegatives: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val cents = pipeline.Ivf.trainCentroidsGrid(e, "vec_id", "embedding",
      k = 16, iters = 2, seed = 42L, sampleLimit = 256)
      .map(_.map(_ / 1e6))
    pipeline.Ivf.ivfHardNegatives(cents, e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", lo = 0.05, hi = 0.95, k = 10, nprobe = 6)
  }

  // lazy, like any list of builders: eager init would capture a null
  // fn for a builder defined further down the object (r12's first
  // bench run hit exactly that)
  private[graft] lazy val benchExtras: Map[String, Q] = Map(
    "dd2x_minhash_prod_hash" -> dd2xProdMinhash,
    "pq2x_ivfadc_trained" -> pq2xTrainedIvfAdc,
    "ss5x_hard_negatives_trained" -> ss5xTrainedHardNegatives,
  )

  /** Shared oracle-SQL fragment: portable MinHash signatures, LSH
    * banding with the hot-bucket guard, candidate pairs, and agreement
    * counts over a CTE named `base(doc_id, text)`. Mirrors
    * Dedup.minhashSignatures/minhashNearDupPairs with portable=true
    * (32 hashes, 8 bands of 4, maxBucketSize 200).
    */
  // The signature derivation is ONE wide aggregate (32 min exprs over
  // the lane rows), mirroring the Spark plan — the earlier
  // lanes CROSS JOIN generate_series(0,31) form materialized 32x the
  // lane rows into a 128M-row GROUP BY at the 10x soak fixture and
  // exhausted DuckDB's temp disk; the wide form is a single pass with
  // 50k x 32 aggregate state and needs no spill. Agreement counts
  // likewise come from one wide sig x sig join, not a 32-way h-join.
  private def minhashPairsCtes(maxBucketSize: Int = 200): String = {
    val minExprs = (0 until 32).map(h =>
      s"min((a + ${h + 1} * b) % 1000000007) AS mh_$h")
      .mkString(",\n         ")
    val bandSelects = (0 until 8).map { b =>
      val bucket = (0 until 4).map(r => s"CAST(mh_${b * 4 + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $bucket AS bucket FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val agreeSum = (0 until 32).map(h =>
      s"CASE WHEN sa.mh_$h = sb.mh_$h THEN 1 ELSE 0 END").mkString(" + ")
    s"""words AS (
      |  SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM base),
      |shpos AS (
      |  SELECT doc_id, w,
      |         unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      |  FROM words),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      |  FROM shpos),
      |lanes AS (
      |  SELECT doc_id,
      |         CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS a,
      |         CAST('0x' || substr(md5(shingle), 8, 7) AS BIGINT) AS b
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id,
      |         $minExprs
      |  FROM lanes GROUP BY doc_id),
      |bkt AS (
      |  $bandSelects),
      |cold AS (
      |  SELECT band, bucket FROM bkt GROUP BY band, bucket
      |  HAVING count(*) <= MAXBUCKET),
      |bkt2 AS (
      |  SELECT bkt.doc_id, bkt.band, bkt.bucket
      |  FROM bkt JOIN cold USING (band, bucket)),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      |  FROM bkt2 l JOIN bkt2 r USING (band, bucket)
      |  WHERE l.doc_id < r.doc_id),
      |agree AS (
      |  SELECT c.id1, c.id2, $agreeSum AS m
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.id1
      |  JOIN sig sb ON sb.doc_id = c.id2)""".stripMargin
      .replace("MAXBUCKET", maxBucketSize.toString)
  }

  val dd2Sql: String =
    s"""WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, 'zzz ' || substr(text, strpos(text, ' ') + 1)
      |  FROM documents WHERE doc_id < 50),
      |${minhashPairsCtes()}
      |SELECT id1, id2, CAST(m AS DOUBLE) / 32 AS est_jaccard
      |FROM agree WHERE CAST(m AS DOUBLE) / 32 >= 0.5
      |ORDER BY id1, id2""".stripMargin

  // SimHash signatures, portable-hash variant (md5-low-60 token hash;
  // bit-majority fold recomputed in SQL by the oracle).
  val dd3Simhash: Q = (s, dir) =>
    Dedup.simhash(docs(s, dir).select("doc_id", "text"), "doc_id", "text",
      portable = true)
      .orderBy("doc_id")

  val dd3Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, ' +')) AS token
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS th
      |  FROM tok),
      |bits AS (
      |  SELECT doc_id, bp.i,
      |         sum(CASE WHEN (th >> bp.i) & 1 = 1 THEN 1 ELSE -1 END) AS c
      |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) bp
      |  GROUP BY doc_id, bp.i)
      |SELECT doc_id,
      |       CAST(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // Incremental dedup: the corpus is represented only by its stored
  // MinHash signature index (computed once); a planted increment
  // (near-dup copies of doc_id < 40, shifted to +3000000) is mined
  // against the index without re-shingling the corpus — the daily-
  // increment shape a 100 TB dedup job uses. The oracle mines the
  // full combined corpus and restricts to increment-involving pairs
  // (the definitionally identical set).
  val dd7Incremental: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val existing = Dedup.minhashSignatures(d, "doc_id", "text",
      shingleWidth = 3, numHashes = 32, portable = true)
    val inc = d.filter(col("doc_id") < 40).select(
      (col("doc_id") + 3000000).as("doc_id"),
      concat(lit("qqq "), expr("substring(text, instr(text, ' ') + 1)"))
        .as("text"))
    Dedup.minhashNearDupPairsIncremental(inc, "doc_id", "text", existing,
      portable = true).orderBy("id1", "id2")
  }

  val dd7Sql: String =
    s"""WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, 'qqq ' || substr(text, strpos(text, ' ') + 1)
      |  FROM documents WHERE doc_id < 40),
      |${minhashPairsCtes()}
      |SELECT id1, id2, CAST(m AS DOUBLE) / 32 AS est_jaccard
      |FROM agree
      |WHERE CAST(m AS DOUBLE) / 32 >= 0.5
      |  AND (id1 >= 3000000 OR id2 >= 3000000)
      |ORDER BY id1, id2""".stripMargin

  // Near-dup clustering: connected components (min-label propagation)
  // over the portable MinHash candidate pairs — the transitive closure
  // a dedup pass keeps one document per cluster from. The oracle
  // recomputes the closure with a recursive CTE.
  val dd6Cluster: Q = (s, dir) =>
    pipeline.Cluster.connectedComponents(plantedMinhashPairs(s, dir))
      .orderBy("id")

  val dd6Sql: String =
    s"""WITH RECURSIVE base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, 'zzz ' || substr(text, strpos(text, ' ') + 1)
      |  FROM documents WHERE doc_id < 50),
      |${minhashPairsCtes()},
      |pairs AS (
      |  SELECT id1, id2 FROM agree WHERE CAST(m AS DOUBLE) / 32 >= 0.5),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM pairs
      |  UNION SELECT id2, id1 FROM pairs),
      |closure(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src)
      |SELECT a AS id, least(a, min(b)) AS cluster_id
      |FROM closure GROUP BY a ORDER BY id""".stripMargin

  // Quality-based keeper per near-dup cluster over the dd2/dd6 pair
  // set: highest length(text) wins, ties to the smallest id,
  // singletons keep themselves. The oracle reuses the recursive
  // closure and ranks members with a window.
  val dd8Keepers: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val planted = d.filter(col("doc_id") < 50).select(
      (col("doc_id") + 2000000).as("doc_id"),
      concat(lit("zzz "), expr("substring(text, instr(text, ' ') + 1)"))
        .as("text"))
    val corpus = d.unionByName(planted)
      .withColumn("quality", length(col("text")).cast("long"))
    pipeline.Curation.selectKeepers(corpus,
      plantedMinhashPairs(s, dir).select("id1", "id2"),
      "doc_id", "quality")
      .orderBy("cluster_id")
  }

  val dd8Sql: String =
    s"""WITH RECURSIVE base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, 'zzz ' || substr(text, strpos(text, ' ') + 1)
      |  FROM documents WHERE doc_id < 50),
      |${minhashPairsCtes()},
      |pairs AS (
      |  SELECT id1, id2 FROM agree WHERE CAST(m AS DOUBLE) / 32 >= 0.5),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM pairs
      |  UNION SELECT id2, id1 FROM pairs),
      |closure(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src)
      |, labels AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |  FROM closure GROUP BY a),
      |corpus AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS quality FROM base),
      |labeled AS (
      |  SELECT c.doc_id, coalesce(l.cluster_id, c.doc_id) AS cluster_id,
      |         c.quality
      |  FROM corpus c LEFT JOIN labels l USING (doc_id)),
      |ranked AS (
      |  SELECT cluster_id, doc_id, quality,
      |         row_number() OVER (PARTITION BY cluster_id
      |                            ORDER BY quality DESC, doc_id) AS rn,
      |         count(*) OVER (PARTITION BY cluster_id) AS n_members
      |  FROM labeled)
      |SELECT cluster_id, doc_id AS keep_id, quality AS keep_quality,
      |       CAST(n_members AS BIGINT) AS n_members
      |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  // Exact-substring (duplicate-passage) dedup with planted shared
  // boilerplate: a 12-token header on every doc_id % 5 == 0 and a
  // 9-token footer on every doc_id % 7 == 0. All header/footer
  // 8-gram windows are cross-doc duplicates, so the spans are
  // removed; boundary windows (7 boilerplate tokens + the doc's
  // first/last word) also match wherever two planted docs share
  // that word — genuine duplicated 8-grams on this vocabulary. The
  // oracle replays plant, window hashing, span cover, and rebuild.
  // C4-style cross-corpus line dedup. The fixture text is single-line,
  // so the entry first folds each document into 3-token lines (the
  // 31-word vocabulary makes verbatim 3-token lines collide across
  // documents by the thousands) and then keeps only each distinct
  // line's corpus-wide first occurrence.
  val dd11LineDedup: Q = (s, dir) => {
    val t = docs(s, dir).select(col("doc_id"),
      split(col("text"), " +").as("tk"))
    val lined = t.select(col("doc_id"),
      array_join(transform(
          sequence(lit(1), greatest(size(col("tk")), lit(1)), lit(3)),
          i => array_join(slice(col("tk"), i, lit(3)), " ")),
        "\n").as("text"))
    Dedup.lineDedup(lined, "doc_id", "text", delim = "\n")
      .orderBy("doc_id")
  }

  val dd11Sql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      |           FROM documents),
      |lines AS (
      |  SELECT doc_id, (i - 1) // 3 AS pos,
      |         array_to_string(w[i:i+2], ' ') AS line
      |  FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, greatest(len(w), 1), 3)) AS i
      |        FROM t) p),
      |r AS (SELECT doc_id, pos, line, row_number() OVER (
      |        PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
      |      FROM lines WHERE length(line) >= 1),
      |kept AS (
      |  SELECT doc_id, pos, line FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT doc_id, pos, line FROM lines WHERE length(line) < 1),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |         string_agg(line, chr(10) ORDER BY pos) AS clean_text
      |  FROM kept GROUP BY doc_id),
      |nl AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
      |SELECT nl.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
      |  CAST(n_lines - coalesce(n_kept, 0) AS BIGINT) AS n_dropped,
      |  coalesce(clean_text, '') AS clean_text
      |FROM nl LEFT JOIN agg USING (doc_id) ORDER BY nl.doc_id""".stripMargin

  val dd9SubstrDedup: Q = (s, dir) => {
    val hdr = "begin shared corpus header boilerplate marker alpha " +
      "beta gamma delta epsilon zeta "
    val ftr = " end shared footer boilerplate marker omega psi chi phi"
    val planted = docs(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 5 === 0, lit(hdr)).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 7 === 0, lit(ftr)).otherwise(lit("")))
        .as("text"))
    Dedup.exactSubstringDedup(planted, "doc_id", "text", n = 8)
      .orderBy("doc_id")
  }

  val dd9Sql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0
      |      THEN 'begin shared corpus header boilerplate marker alpha beta gamma delta epsilon zeta ' || text
      |      ELSE text END ||
      |    CASE WHEN doc_id % 7 = 0
      |      THEN ' end shared footer boilerplate marker omega psi chi phi'
      |      ELSE '' END AS text
      |  FROM documents),
      |t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM planted),
      |wins AS (
      |  SELECT doc_id, i - 1 AS start, md5(array_to_string(w[i:i+7], ' ')) AS g
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
      |        FROM t WHERE len(w) >= 8) p),
      |dup AS (SELECT g FROM wins GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
      |m AS (SELECT doc_id, start FROM wins JOIN dup USING (g)),
      |cov AS (SELECT DISTINCT doc_id, start + d AS p
      |        FROM (SELECT doc_id, start, unnest(generate_series(0, 7)) AS d
      |              FROM m)),
      |tok AS (SELECT doc_id, unnest(w) AS tk,
      |               unnest(generate_series(1, len(w))) - 1 AS p FROM t),
      |clean AS (
      |  SELECT tok.doc_id,
      |         coalesce(string_agg(tk, ' ' ORDER BY tok.p)
      |                  FILTER (WHERE cov.p IS NULL), '') AS clean_text
      |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
      |  GROUP BY tok.doc_id),
      |nw AS (SELECT doc_id, greatest(len(w) - 7, 0) AS n_windows FROM t),
      |dw AS (SELECT doc_id, count(*) AS dup_windows FROM m GROUP BY doc_id)
      |SELECT nw.doc_id, CAST(n_windows AS BIGINT) AS n_windows,
      |  CAST(coalesce(dup_windows, 0) AS BIGINT) AS dup_windows,
      |  clean.clean_text
      |FROM nw LEFT JOIN dw USING (doc_id) JOIN clean USING (doc_id)
      |ORDER BY nw.doc_id""".stripMargin

  // Embedding near-dup PAIR mining (SemDeDup candidate step) via
  // sign-LSH banding, with planted near-duplicates: float-scaled
  // copies of vecs 0..19 (scaling preserves direction, so the copies
  // land in the same sign buckets and rerank at cosine ~1). The
  // oracle re-derives the md5-Rademacher hyperplanes, buckets, the
  // hot-bucket guard, and the double-precision cosine rerank.
  val dd10CosinePairs: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val planted = e.filter(col("vec_id") < 20).select(
      (col("vec_id") + 5000000).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.05f)).as("embedding"))
    Similarity.cosineNearDupPairs(e.unionByName(planted),
      "vec_id", "embedding", minCosine = 0.99, bands = 4,
      bitsPerBand = 8, dims = 64)
      .orderBy("id1", "id2")
  }

  val dd10Sql: String =
    """WITH planted AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 5000000,
      |         list_transform(embedding, x -> x * CAST(1.05 AS FLOAT))
      |  FROM embeddings WHERE vec_id < 20),
      |pl AS (
      |  SELECT bj.b, bj.j,
      |         list(CASE WHEN CAST('0x' || substr(md5(
      |                 'lsh:' || CAST(42 + bj.b AS VARCHAR) || ':' ||
      |                 CAST(bj.j AS VARCHAR) || ':' || CAST(dd.d AS VARCHAR)
      |               ), 1, 1) AS INT) % 2 = 0
      |              THEN 1.0 ELSE -1.0 END ORDER BY dd.d) AS plane
      |  FROM (SELECT b.b, j.j
      |        FROM (SELECT unnest(generate_series(0, 3)) AS b) b
      |        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j) bj
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) dd
      |  GROUP BY bj.b, bj.j),
      |bux AS (
      |  SELECT e.vec_id, p.b AS band,
      |         CAST(sum(CASE WHEN list_dot_product(
      |                 CAST(e.embedding AS DOUBLE[]), p.plane) > 0
      |              THEN (1 << p.j) ELSE 0 END) AS INT) AS bucket
      |  FROM planted e CROSS JOIN pl p
      |  GROUP BY e.vec_id, p.b),
      |ok AS (SELECT band, bucket FROM (
      |         SELECT band, bucket, count(*) AS c FROM bux GROUP BY 1, 2)
      |       WHERE c <= 1000),
      |bok AS (SELECT bux.* FROM bux JOIN ok USING (band, bucket)),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
      |  FROM bok a JOIN bok c ON a.band = c.band AND a.bucket = c.bucket
      |  WHERE a.vec_id < c.vec_id),
      |scored AS (
      |  SELECT id1, id2,
      |         list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
      |                                CAST(e2.embedding AS DOUBLE[])) AS cosine
      |  FROM cand JOIN planted e1 ON e1.vec_id = id1
      |            JOIN planted e2 ON e2.vec_id = id2)
      |SELECT id1, id2, cosine FROM scored WHERE cosine >= 0.99
      |ORDER BY id1, id2""".stripMargin

  // SemDeDup end to end over embeddings with TWO direction-preserving
  // planted copies of vecs 0..9 (triangle components): sign-LSH pair
  // mining -> transitive clustering -> keep the highest-l2-norm
  // member (the 1.1025x copy; the corpus is unit-norm, so keeper
  // quality is exactly the scale factor). Singletons keep themselves.
  // The oracle replays planes, buckets, guard, cosine rerank, the
  // recursive closure, and the quality-ranked keeper choice.
  val cp2SemanticDedup: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    def scaled(off: Long, f: Float) = e.filter(col("vec_id") < 10).select(
      (col("vec_id") + off).as("vec_id"),
      transform(col("embedding"), x => x * lit(f)).as("embedding"))
    val corpus = e.unionByName(scaled(5000000L, 1.05f))
      .unionByName(scaled(6000000L, 1.1025f))
    val withQ = corpus.withColumn("quality",
      sqrt(aggregate(
        transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0d), (a, v) => a + v)))
    pipeline.Curation.semanticDedup(withQ, "vec_id", "embedding", "quality",
      minCosine = 0.99, bands = 4, bitsPerBand = 8, dims = 64)
      .orderBy("cluster_id")
  }

  val cp2Sql: String =
    """WITH RECURSIVE planted AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 5000000,
      |         list_transform(embedding, x -> x * CAST(1.05 AS FLOAT))
      |  FROM embeddings WHERE vec_id < 10
      |  UNION ALL
      |  SELECT vec_id + 6000000,
      |         list_transform(embedding, x -> x * CAST(1.1025 AS FLOAT))
      |  FROM embeddings WHERE vec_id < 10),
      |pl AS (
      |  SELECT bj.b, bj.j,
      |         list(CASE WHEN CAST('0x' || substr(md5(
      |                 'lsh:' || CAST(42 + bj.b AS VARCHAR) || ':' ||
      |                 CAST(bj.j AS VARCHAR) || ':' || CAST(dd.d AS VARCHAR)
      |               ), 1, 1) AS INT) % 2 = 0
      |              THEN 1.0 ELSE -1.0 END ORDER BY dd.d) AS plane
      |  FROM (SELECT b.b, j.j
      |        FROM (SELECT unnest(generate_series(0, 3)) AS b) b
      |        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j) bj
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) dd
      |  GROUP BY bj.b, bj.j),
      |bux AS (
      |  SELECT e.vec_id, p.b AS band,
      |         CAST(sum(CASE WHEN list_dot_product(
      |                 CAST(e.embedding AS DOUBLE[]), p.plane) > 0
      |              THEN (1 << p.j) ELSE 0 END) AS INT) AS bucket
      |  FROM planted e CROSS JOIN pl p
      |  GROUP BY e.vec_id, p.b),
      |ok AS (SELECT band, bucket FROM (
      |         SELECT band, bucket, count(*) AS c FROM bux GROUP BY 1, 2)
      |       WHERE c <= 1000),
      |bok AS (SELECT bux.* FROM bux JOIN ok USING (band, bucket)),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
      |  FROM bok a JOIN bok c ON a.band = c.band AND a.bucket = c.bucket
      |  WHERE a.vec_id < c.vec_id),
      |pairs AS (
      |  SELECT id1, id2 FROM (
      |    SELECT id1, id2,
      |           list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
      |                                  CAST(e2.embedding AS DOUBLE[])) AS cosine
      |    FROM cand JOIN planted e1 ON e1.vec_id = id1
      |              JOIN planted e2 ON e2.vec_id = id2)
      |  WHERE cosine >= 0.99),
      |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
      |          UNION SELECT id2, id1 FROM pairs),
      |closure(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src),
      |labels AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
      |           FROM closure GROUP BY a),
      |corpus AS (SELECT vec_id,
      |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                   CAST(embedding AS DOUBLE[]))) AS quality
      |           FROM planted),
      |labeled AS (
      |  SELECT c.vec_id, coalesce(l.cluster_id, c.vec_id) AS cluster_id,
      |         c.quality
      |  FROM corpus c LEFT JOIN labels l USING (vec_id)),
      |ranked AS (
      |  SELECT cluster_id, vec_id, quality,
      |         row_number() OVER (PARTITION BY cluster_id
      |                            ORDER BY quality DESC, vec_id) AS rn,
      |         count(*) OVER (PARTITION BY cluster_id) AS n_members
      |  FROM labeled)
      |SELECT cluster_id, vec_id AS keep_id, quality AS keep_quality,
      |       CAST(n_members AS BIGINT) AS n_members
      |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  // Exact char-3-gram Jaccard pairs on a bounded slice, with the
  // stop-shingle guard ON in the attested path (shingles in >80 of the
  // 100 docs are dropped before the join — 12 genuinely hot trigrams
  // on this slice; the oracle mirrors the pruning in its `cold` CTE,
  // so the guarded semantics — Jaccard over the surviving shingle
  // sets — are what's hash-checked, over a non-trivial pair set).
  val dd4NgramJaccard: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text").filter(col("doc_id") < 100)
    Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, minJaccard = 0.5,
      maxDocFreq = Some(80))
      .orderBy("id1", "id2")
  }
  val dd4Sql: String =
    """WITH pos AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(1, length(text) - 2)) AS i
      |  FROM documents WHERE doc_id < 100 AND length(text) >= 3),
      |sh0 AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS shingle
      |  FROM pos),
      |cold AS (
      |  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 80),
      |sh AS (
      |  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN cold USING (shingle)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS m
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id1, id2,
      |       CAST(m AS DOUBLE) / (x.n + y.n - m) AS jaccard
      |FROM inter JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
      |WHERE CAST(m AS DOUBLE) / (x.n + y.n - m) >= 0.5
      |ORDER BY id1, id2""".stripMargin

  // Embedding-cosine near-dup sweep over consecutive ids (oracle ✓:
  // both sides fold in double precision left-to-right).
  val dd5EmbedCosine: Q = (s, dir) =>
    Similarity.consecutiveCosine(
      embs(s, dir).select("vec_id", "embedding"), "vec_id", "embedding")
      .orderBy("id1")
  val dd5Sql: String =
    """SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                         CAST(b.embedding AS DOUBLE[])) AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
      |ORDER BY id1""".stripMargin

  // ---------------- similarity search ----------------

  // Brute-force cosine top-k for a fixed query set (oracle ✓).
  val ss1BruteTopK: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
  }
  val ss1Sql: String =
    """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                         CAST(c.embedding AS DOUBLE[])) AS cosine,
      |  CAST(row_number() OVER (
      |    PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |             CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INT) AS rank
      |FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      |WHERE q.vec_id < 5
      |QUALIFY rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // Hard-negative mining (contrastive-training data step): per query,
  // top-10 by cosine INSIDE the band [0.05, 0.95) — harder than
  // random negatives, below the dup/positive threshold. The cosines
  // are the dd5/ss1 bit-exact doubles, so the band comparisons and
  // ranks replay identically in the oracle.
  val ss4HardNegatives: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    Similarity.hardNegatives(e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", lo = 0.05, hi = 0.95, k = 10)
      .orderBy("query_id", "rank")
  }
  val ss4Sql: String =
    """WITH sc AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS cosine
      |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id < 5)
      |SELECT query_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (
      |    PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |FROM sc WHERE cosine >= 0.05 AND cosine < 0.95
      |QUALIFY rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // Banded sign-LSH ANN. The Rademacher planes are md5-parity-derived,
  // so the oracle re-derives the identical planes in SQL and attests
  // bucketing + candidate set + exact cosine rerank end to end.
  val ss2LshTopK: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    // bits pinned (not derived): the oracle below re-derives the
    // identical 4-bit planes in SQL
    Similarity.lshTopK(e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", k = 10, bitsPerBand = 4)
      .orderBy("query_id", "rank")
  }

  val ss2Sql: String =
    """WITH pl AS (
      |  SELECT bj.b, bj.j,
      |         list(CASE WHEN CAST('0x' || substr(md5(
      |                 'lsh:' || CAST(42 + bj.b AS VARCHAR) || ':' ||
      |                 CAST(bj.j AS VARCHAR) || ':' || CAST(dd.d AS VARCHAR)
      |               ), 1, 1) AS INT) % 2 = 0
      |              THEN 1.0 ELSE -1.0 END ORDER BY dd.d) AS plane
      |  FROM (SELECT b.b, j.j
      |        FROM (SELECT unnest(generate_series(0, 3)) AS b) b
      |        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j) bj
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) dd
      |  GROUP BY bj.b, bj.j),
      |bux AS (
      |  SELECT e.vec_id, p.b AS band,
      |         CAST(sum(CASE WHEN list_dot_product(
      |                 CAST(e.embedding AS DOUBLE[]), p.plane) > 0
      |              THEN (1 << p.j) ELSE 0 END) AS INT) AS bucket
      |  FROM embeddings e CROSS JOIN pl p
      |  GROUP BY e.vec_id, p.b),
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      |  FROM bux q JOIN bux c ON q.band = c.band AND q.bucket = c.bucket
      |  WHERE q.vec_id < 5 AND q.vec_id != c.vec_id),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
      |                                CAST(ce.embedding AS DOUBLE[])) AS cosine
      |  FROM cand
      |  JOIN embeddings qe ON qe.vec_id = query_id
      |  JOIN embeddings ce ON ce.vec_id = neighbor_id)
      |SELECT query_id, neighbor_id, cosine,
      |       CAST(row_number() OVER (
      |         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin

  // Hard negatives COMPOSED with IVF candidate generation — ss4's
  // documented billion-scale form, gate-attested: probe 6 of 16 cells
  // per query (cell equi-join, no broadcast NLJ), exact-cosine band
  // [0.05, 0.95) + top-10 rerank inside probed cells. The oracle
  // replays cells, probe order, band comparisons and ranks; ss4 is
  // the exact recall yardstick (PipelineSpec pins recall on this
  // fixture, the ss2-vs-ss1 pattern).
  val ss5HardNegativesIvf: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val centroids = pipeline.Ivf.staticCentroids(e, "vec_id", "embedding",
      nlist = 16)
    pipeline.Ivf.ivfHardNegatives(centroids, e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", lo = 0.05, hi = 0.95, k = 10, nprobe = 6)
      .orderBy("query_id", "rank")
  }

  val ss5Sql: String =
    """WITH st AS (
      |  SELECT greatest(count(*) // 16, 1) AS step FROM embeddings),
      |cent AS (
      |  SELECT CAST(e.vec_id // st.step AS INT) AS j,
      |         CAST(e.embedding AS DOUBLE[]) AS c
      |  FROM embeddings e, st
      |  WHERE e.vec_id % st.step = 0 AND e.vec_id < st.step * 16),
      |dist AS (
      |  SELECT e.vec_id, cent.j,
      |         ((list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                            CAST(e.embedding AS DOUBLE[]))
      |           - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]), cent.c))
      |          + list_dot_product(cent.c, cent.c)) AS d
      |  FROM embeddings e CROSS JOIN cent),
      |cell AS (
      |  SELECT vec_id AS neighbor_id, j AS cell FROM (
      |    SELECT vec_id, j,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
      |    FROM dist) WHERE rn = 1),
      |probe AS (
      |  SELECT vec_id AS query_id, j AS cell FROM (
      |    SELECT vec_id, j,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
      |    FROM dist WHERE vec_id < 5) WHERE rn <= 6),
      |cand AS (
      |  SELECT p.query_id, c.neighbor_id
      |  FROM probe p JOIN cell c USING (cell)
      |  WHERE c.neighbor_id != p.query_id),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
      |                                CAST(ce.embedding AS DOUBLE[])) AS cosine
      |  FROM cand
      |  JOIN embeddings qe ON qe.vec_id = query_id
      |  JOIN embeddings ce ON ce.vec_id = neighbor_id)
      |SELECT query_id, neighbor_id, cosine,
      |       CAST(row_number() OVER (
      |         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |FROM scored WHERE cosine >= 0.05 AND cosine < 0.95
      |QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin

  // IVF ANN with the deterministic evenly-spaced quantizer (the
  // k-means-trained path stays in Ivf.ivfTopK, recall-asserted in
  // PipelineSpec): cell assignment, probing and exact rerank are all
  // recomputed by the oracle.
  val ss3IvfTopK: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val centroids = pipeline.Ivf.staticCentroids(e, "vec_id", "embedding",
      nlist = 16)
    pipeline.Ivf.ivfTopKWith(centroids, e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", k = 10, nprobe = 6)
      .orderBy("query_id", "rank")
  }

  val ss3Sql: String =
    """WITH st AS (
      |  SELECT greatest(count(*) // 16, 1) AS step FROM embeddings),
      |cent AS (
      |  SELECT CAST(e.vec_id // st.step AS INT) AS j,
      |         CAST(e.embedding AS DOUBLE[]) AS c
      |  FROM embeddings e, st
      |  WHERE e.vec_id % st.step = 0 AND e.vec_id < st.step * 16),
      |dist AS (
      |  SELECT e.vec_id, cent.j,
      |         ((list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                            CAST(e.embedding AS DOUBLE[]))
      |           - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]), cent.c))
      |          + list_dot_product(cent.c, cent.c)) AS d
      |  FROM embeddings e CROSS JOIN cent),
      |cell AS (
      |  SELECT vec_id AS neighbor_id, j AS cell FROM (
      |    SELECT vec_id, j,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
      |    FROM dist) WHERE rn = 1),
      |probe AS (
      |  SELECT vec_id AS query_id, j AS cell FROM (
      |    SELECT vec_id, j,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
      |    FROM dist WHERE vec_id < 5) WHERE rn <= 6),
      |cand AS (
      |  SELECT p.query_id, c.neighbor_id
      |  FROM probe p JOIN cell c USING (cell)
      |  WHERE c.neighbor_id != p.query_id),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
      |                                CAST(ce.embedding AS DOUBLE[])) AS cosine
      |  FROM cand
      |  JOIN embeddings qe ON qe.vec_id = query_id
      |  JOIN embeddings ce ON ce.vec_id = neighbor_id)
      |SELECT query_id, neighbor_id, cosine,
      |       CAST(row_number() OVER (
      |         PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin

  // Product-quantization codebook profile: the billion-scale ANN
  // memory layout (m sub-codes per vector instead of dims floats),
  // over the deterministic sliced-pick codebooks. Per-(subspace,
  // code) member counts and exact grid-scaled distortion; the oracle
  // replays every sub-assignment. ADC search over the codes is
  // spec-covered (exact planted-copy top-1 + driver-exact distances).
  val pq1PqProfile: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val cbs = pipeline.Quantize.pqCodebooks(e, "vec_id", "embedding",
      m = 4, k = 16)
    pipeline.Quantize.pqProfile(e, "vec_id", "embedding", cbs)
      .withColumn("sum_d12", checkedLong(col("sum_d12"))) // km1 budget doc
      .orderBy("subspace", "code")
  }

  val pq1Sql: String =
    """WITH st AS (
      |  SELECT greatest(count(*) // 16, 1) AS step FROM embeddings),
      |ed AS (SELECT vec_id,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |                        x -> floor(x * 1000000.0 + 0.5)) AS v
      |       FROM embeddings),
      |cent AS (
      |  SELECT CAST(e.vec_id // st.step AS INT) AS code, e.v AS c
      |  FROM ed e, st
      |  WHERE e.vec_id % st.step = 0 AND e.vec_id < st.step * 16),
      |sub AS (
      |  SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS j),
      |dist AS (
      |  SELECT e.vec_id, sub.j, cent.code,
      |         ((list_dot_product(e.v[sub.j*16+1 : sub.j*16+16],
      |                            e.v[sub.j*16+1 : sub.j*16+16])
      |           - 2.0 * list_dot_product(e.v[sub.j*16+1 : sub.j*16+16],
      |                                    cent.c[sub.j*16+1 : sub.j*16+16]))
      |          + list_dot_product(cent.c[sub.j*16+1 : sub.j*16+16],
      |                             cent.c[sub.j*16+1 : sub.j*16+16])) AS d
      |  FROM ed e CROSS JOIN sub CROSS JOIN cent),
      |assigned AS (
      |  SELECT vec_id, j, code, d FROM (
      |    SELECT vec_id, j, code, d,
      |           row_number() OVER (
      |             PARTITION BY vec_id, j ORDER BY d, code) AS rn
      |    FROM dist) WHERE rn = 1)
      |SELECT j AS subspace, code, count(*) AS n_vecs,
      |       CAST(sum(CAST(d AS DECIMAL(38,0))) AS BIGINT) AS sum_d12
      |FROM assigned GROUP BY j, code ORDER BY subspace, code""".stripMargin

  // IVFADC: the IVF coarse quantizer composed with PQ codes — probe
  // nprobe cells per query, ADC-rerank inside probed cells only (the
  // Jégou-et-al billion-scale layout; kills flat ADC's per-query
  // full-corpus scan). Integer-grid end to end: the oracle replays
  // the coarse cells, probe order, per-subspace codes, ADC sums and
  // ranks bit-for-bit.
  val pq2IvfAdcTopK: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val centroids = pipeline.Ivf.staticCentroids(e, "vec_id", "embedding",
      nlist = 16)
    val cbs = pipeline.Quantize.pqCodebooks(e, "vec_id", "embedding",
      m = 4, k = 16)
    pipeline.Quantize.ivfAdcTopK(e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", centroids, cbs, k = 10, nprobe = 6)
      .orderBy("query_id", "rank")
  }

  val pq2Sql: String =
    """WITH st AS (
      |  SELECT greatest(count(*) // 16, 1) AS step FROM embeddings),
      |eq AS (SELECT vec_id,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |                        x -> floor(x * 1000000.0 + 0.5)) AS v
      |       FROM embeddings),
      |cent AS (
      |  SELECT CAST(e.vec_id // st.step AS INT) AS cid, e.v AS c
      |  FROM eq e, st
      |  WHERE e.vec_id % st.step = 0 AND e.vec_id < st.step * 16),
      |cdist AS (
      |  SELECT e.vec_id, cent.cid,
      |         ((list_dot_product(e.v, e.v)
      |           - 2.0 * list_dot_product(e.v, cent.c))
      |          + list_dot_product(cent.c, cent.c)) AS d
      |  FROM eq e CROSS JOIN cent),
      |cell AS (
      |  SELECT vec_id AS neighbor_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM cdist) WHERE rn = 1),
      |probe AS (
      |  SELECT vec_id AS query_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM cdist WHERE vec_id < 5) WHERE rn <= 6),
      |sub AS (
      |  SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS j),
      |sdist AS (
      |  SELECT e.vec_id, sub.j, cent.cid AS code,
      |         ((list_dot_product(e.v[sub.j*16+1 : sub.j*16+16],
      |                            e.v[sub.j*16+1 : sub.j*16+16])
      |           - 2.0 * list_dot_product(e.v[sub.j*16+1 : sub.j*16+16],
      |                                    cent.c[sub.j*16+1 : sub.j*16+16]))
      |          + list_dot_product(cent.c[sub.j*16+1 : sub.j*16+16],
      |                             cent.c[sub.j*16+1 : sub.j*16+16])) AS d
      |  FROM eq e CROSS JOIN sub CROSS JOIN cent),
      |codes AS (
      |  SELECT vec_id, j, code FROM (
      |    SELECT vec_id, j, code,
      |           row_number() OVER (
      |             PARTITION BY vec_id, j ORDER BY d, code) AS rn
      |    FROM sdist) WHERE rn = 1),
      |cand AS (
      |  SELECT p.query_id, c.neighbor_id
      |  FROM probe p JOIN cell c ON c.cell = p.cell
      |  WHERE c.neighbor_id <> p.query_id),
      |adc AS (
      |  SELECT cand.query_id, cand.neighbor_id,
      |         CAST(sum(sd.d) AS BIGINT) AS adc_d12
      |  FROM cand
      |  JOIN codes k2 ON k2.vec_id = cand.neighbor_id
      |  JOIN sdist sd ON sd.vec_id = cand.query_id
      |              AND sd.j = k2.j AND sd.code = k2.code
      |  GROUP BY cand.query_id, cand.neighbor_id)
      |SELECT query_id, neighbor_id, adc_d12,
      |       CAST(row_number() OVER (
      |         PARTITION BY query_id
      |         ORDER BY adc_d12, neighbor_id) AS INT) AS rank
      |FROM adc QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin

  // k-means cluster diagnostics over the same deterministic
  // quantizer: per-cell member count, representative id, and the
  // exact within-cluster scatter on the x1e6-per-coordinate integer
  // grid (distances are integer-valued, so argmin AND sum replay
  // bit-for-bit cross-engine — the r9 fix for the final-double-round
  // hash drift). One map-side assignment + one partial agg.
  val km1ClusterProfile: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val centroids = pipeline.Ivf.staticCentroids(e, "vec_id", "embedding",
      nlist = 16)
    // the operator carries sum_d12 as DECIMAL(38,0) (exact at any
    // corpus size); the gate entry casts to BIGINT for the driver's
    // pandas harness, which renders DECIMAL as float64. Budget: max
    // |sum_d12| at sf0.01 is 6.8e13 — 1e5x int64 headroom.
    pipeline.Ivf.clusterProfile(e, "vec_id", "embedding", centroids)
      .withColumn("sum_d12", checkedLong(col("sum_d12")))
      .orderBy("cell")
  }

  val km1Sql: String =
    """WITH st AS (
      |  SELECT greatest(count(*) // 16, 1) AS step FROM embeddings),
      |eq AS (SELECT vec_id,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |                        x -> floor(x * 1000000.0 + 0.5)) AS v
      |       FROM embeddings),
      |cent AS (
      |  SELECT CAST(e.vec_id // st.step AS INT) AS j, e.v AS c
      |  FROM eq e, st
      |  WHERE e.vec_id % st.step = 0 AND e.vec_id < st.step * 16),
      |dist AS (
      |  SELECT e.vec_id, cent.j,
      |         ((list_dot_product(e.v, e.v)
      |           - 2.0 * list_dot_product(e.v, cent.c))
      |          + list_dot_product(cent.c, cent.c)) AS d
      |  FROM eq e CROSS JOIN cent),
      |assigned AS (
      |  SELECT vec_id, j AS cell, d FROM (
      |    SELECT vec_id, j, d,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
      |    FROM dist) WHERE rn = 1)
      |SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_id,
      |       CAST(sum(CAST(d AS DECIMAL(38,0))) AS BIGINT) AS sum_d12
      |FROM assigned GROUP BY cell ORDER BY cell""".stripMargin

  // Trained-quantizer profile: the Lloyd path, gate-attested (the r10
  // verdict's last open item — km1/pq1/pq2 all ride the training-free
  // staticCentroids pick). trainCentroidsGrid keeps EVERY training
  // step on the exact integer grid (portable-md5 ppm sample, (md5,id)
  // init pick, integer argmin, floor-div centroid update), so the
  // oracle replays the ENTIRE training loop — sample, init, both
  // Lloyd rounds — then the final full-corpus profile, bit-for-bit.
  val km2TrainedProfile: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val cents = pipeline.Ivf.trainCentroidsGrid(e, "vec_id", "embedding",
      k = 8, iters = 2, seed = 42L, sampleLimit = 256)
    pipeline.Ivf.clusterProfile(e, "vec_id", "embedding",
      cents.map(_.map(_ / 1e6)))
      .withColumn("sum_d12", checkedLong(col("sum_d12"))) // km1 budget doc
      .orderBy("cell")
  }

  private def km2RoundCtes(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""d$r AS (
        |  SELECT s.vec_id, s.v, p.j,
        |         ((list_dot_product(s.v, s.v)
        |           - 2.0 * list_dot_product(s.v, p.c))
        |          + list_dot_product(p.c, p.c)) AS d
        |  FROM smp s CROSS JOIN c${r - 1} p),
        |a$r AS MATERIALIZED (
        |  SELECT vec_id, v, j FROM (
        |    SELECT vec_id, v, j,
        |           row_number() OVER (PARTITION BY vec_id
        |                              ORDER BY d, j) AS rn
        |    FROM d$r) WHERE rn = 1),
        |u$r AS (
        |  SELECT j, i, floor(sum(v[i]) / count(*)) AS m
        |  FROM (SELECT j, v, unnest(generate_series(1, len(v))) AS i
        |        FROM a$r) q
        |  GROUP BY j, i),
        |c$r AS MATERIALIZED (
        |  SELECT p.j, COALESCE(nu.c, p.c) AS c
        |  FROM c${r - 1} p LEFT JOIN (
        |    SELECT j, list(m ORDER BY i) AS c FROM u$r GROUP BY j) nu
        |    ON nu.j = p.j)""".stripMargin
    }.mkString(",\n")

  val km2Sql: String =
    s"""WITH eq AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |                        x -> floor(x * 1000000.0 + 0.5)) AS v
      |  FROM embeddings),
      |nn AS (SELECT count(*) AS n FROM eq),
      |smp AS MATERIALIZED (
      |  SELECT vec_id, v FROM eq, nn
      |  WHERE nn.n <= 256 OR
      |        CAST('0x' || substr(md5('ivfx:42:' ||
      |               CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
      |          % 1000000
      |          < CAST(ceil(256.0 / nn.n * 1000000.0) AS BIGINT)),
      |c0 AS MATERIALIZED (
      |  SELECT CAST(rn AS INT) - 1 AS j, v AS c FROM (
      |    SELECT v, row_number() OVER (ORDER BY
      |             CAST('0x' || substr(md5('ivfxinit:42:' ||
      |                    CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
      |             vec_id) AS rn
      |    FROM smp) WHERE rn <= 8),
      |${km2RoundCtes(2)},
      |fd AS (
      |  SELECT e.vec_id, p.j,
      |         ((list_dot_product(e.v, e.v)
      |           - 2.0 * list_dot_product(e.v, p.c))
      |          + list_dot_product(p.c, p.c)) AS d
      |  FROM eq e CROSS JOIN c2 p),
      |fa AS (
      |  SELECT vec_id, j AS cell, d FROM (
      |    SELECT vec_id, j, d,
      |           row_number() OVER (PARTITION BY vec_id
      |                              ORDER BY d, j) AS rn
      |    FROM fd) WHERE rn = 1)
      |SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_id,
      |       CAST(sum(CAST(d AS DECIMAL(38,0))) AS BIGINT) AS sum_d12
      |FROM fa GROUP BY cell ORDER BY cell""".stripMargin

  // ---------------- text analysis ----------------

  val tx1Quality: Q = (s, dir) =>
    TextAnalysis.quality(docs(s, dir), "doc_id", "text").orderBy("doc_id")
  val tx1Sql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars_calc,
      |  length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1 AS n_words,
      |  CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
      |    / (length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1) AS avg_word_len,
      |  len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS stopword_cnt,
      |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE)
      |    / (length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1) AS stopword_ratio,
      |  len(regexp_extract_all(text, '[.,;:!?]')) AS punct_cnt
      |FROM documents ORDER BY doc_id""".stripMargin

  val tx2Tokens: Q = (s, dir) =>
    TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text").orderBy("doc_id")
  val tx2Sql: String =
    """SELECT doc_id,
      |  length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1 AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // md5 fingerprint is portable; the xxhash64 companion is not → the
  // entry projects only the portable column.
  val tx3Fingerprint: Q = (s, dir) =>
    TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text")
      .select("doc_id", "fingerprint_md5").orderBy("doc_id")
  val tx3Sql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '\s+', '', 'g')) AS fingerprint_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // Language ID heuristic. The stopword profiles and the argmax
  // tie-break (greatest score, ties to the lexicographically larger
  // language code — struct-greatest semantics) are mirrored in SQL.
  val tx4LangId: Q = (s, dir) =>
    TextAnalysis.langId(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  val tx4Sql: String =
    """WITH s AS (SELECT doc_id,
      |  len(regexp_extract_all(text, '\b(der|die|das|und|ist|ein|nicht|mit)\b')) AS de,
      |  len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|it)\b')) AS en,
      |  len(regexp_extract_all(text, '\b(el|la|los|y|es|un|una|que)\b')) AS es,
      |  len(regexp_extract_all(text, '\b(le|la|les|et|est|un|une|dans)\b')) AS fr
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN greatest(de, en, es, fr) = 0 THEN 'unk'
      |       WHEN fr >= greatest(de, en, es) THEN 'fr'
      |       WHEN es >= greatest(de, en) THEN 'es'
      |       WHEN en >= de THEN 'en'
      |       ELSE 'de' END AS predicted_lang,
      |  CAST(greatest(de, en, es, fr) AS BIGINT) AS lang_score
      |FROM s ORDER BY doc_id""".stripMargin

  // Repetition quality metrics (Gopher-rule family): duplicate-word
  // fraction and top-bigram share, bigram mode via (doc, bigram)
  // aggregation. Ratios are single IEEE divisions — bit-identical in
  // the oracle.
  val tx6Repetition: Q = (s, dir) =>
    TextAnalysis.repetition(docs(s, dir).select("doc_id", "text"),
      "doc_id", "text").orderBy("doc_id")

  // Vocabulary profile: top-50 bigrams by total occurrences with
  // document frequency — integer counts, term as the deterministic
  // tie-break, so the top-K set and order hash-match the oracle.
  val tx7Vocab: Q = (s, dir) =>
    TextAnalysis.vocabProfile(docs(s, dir).select("doc_id", "text"),
      "doc_id", "text", n = 2, topK = 50)

  val tx7Sql: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
      |t AS (
      |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS term
      |  FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i
      |        FROM w) p),
      |dt AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2),
      |v AS (
      |  SELECT term, CAST(sum(c) AS BIGINT) AS term_count,
      |         count(*) AS doc_freq
      |  FROM dt GROUP BY term)
      |SELECT term, term_count, doc_freq FROM v
      |ORDER BY term_count DESC, term LIMIT 50""".stripMargin

  // Per-document TF-IDF keywords (top-3 per doc over a 300-doc slice).
  // tf/df/N are exact integers, ln and the multiply are single IEEE
  // double ops — bit-identical in the oracle; ranks tie-break on the
  // term so the window is deterministic.
  val tx8Tfidf: Q = (s, dir) =>
    TextAnalysis.tfidfKeywords(
      docs(s, dir).select("doc_id", "text").filter(col("doc_id") < 300),
      "doc_id", "text", topKPerDoc = 3)
      .orderBy("doc_id", "rank")

  val tx8Sql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 300),
      |t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, ' +')) AS term
      |  FROM base),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM base),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf,
      |         CAST(tf.tf AS DOUBLE) *
      |           ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE))
      |           AS score
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, tf, score,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf, score
      |FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // Canonical text normalization (whitespace collapse, control-char
  // strip, trim, lowercase) with explicit character classes so the
  // RE2-based oracle reproduces it byte-for-byte.
  val tx9Normalize: Q = (s, dir) =>
    TextAnalysis.normalizeText(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val tx9Sql: String =
    """SELECT doc_id,
      |       lower(trim(regexp_replace(
      |         regexp_replace(text, '[ \t\n\r]+', ' ', 'g'),
      |         '[\x00-\x1f\x7f]', '', 'g'))) AS norm_text
      |FROM documents ORDER BY doc_id""".stripMargin

  val tx6Sql: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
      |ws AS (
      |  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct
      |  FROM w),
      |bg AS (
      |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg
      |  FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i
      |        FROM w) p),
      |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
      |bs AS (
      |  SELECT doc_id, max(c) AS top_bg, sum(c) AS total_bg
      |  FROM bc GROUP BY doc_id)
      |SELECT ws.doc_id, CAST(ws.n_words AS BIGINT) AS n_words,
      |  CAST(ws.n_words - ws.n_distinct AS DOUBLE) / ws.n_words AS dup_word_ratio,
      |  CAST(bs.top_bg AS DOUBLE) / bs.total_bg AS top_bigram_ratio
      |FROM ws JOIN bs USING (doc_id) ORDER BY ws.doc_id""".stripMargin

  // Train/eval contamination: eval = docs 0..49, train = docs 50.. plus
  // re-keyed copies of eval docs 0..9 (planted leakage → those ten are
  // 100% contaminated, the rest ~0 on word salad). 8-word shingles.
  val ct1Contamination: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val evalDocs = d.filter(col("doc_id") < 50)
    val train = d.filter(col("doc_id") >= 50).unionByName(
      d.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
    pipeline.Contamination.ngramContamination(evalDocs, train,
      "doc_id", "text", w = 8).orderBy("doc_id")
  }

  // Bloom-prefiltered contamination: same audit, 100 TB path — the
  // benchmark side's shingles become a broadcast Bloom filter applied
  // map-side to the train scan before any shuffle. Results are exact
  // (false positives die in the equi-join), so the oracle is ct1's.
  // A gate entry: its hash match against ct1Sql proves the Bloom path
  // ct1-equivalent, and PipelineSpec pins it to the plain path.
  val ct2BloomContamination: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val evalDocs = d.filter(col("doc_id") < 50)
    val train = d.filter(col("doc_id") >= 50).unionByName(
      d.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
    pipeline.Contamination.ngramContamination(evalDocs, train,
      "doc_id", "text", w = 8, bloomPrefilter = true).orderBy("doc_id")
  }

  val ct1Sql: String =
    """WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
      |tr AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 50
      |  UNION ALL
      |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id < 10),
      |evw AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM ev),
      |evsh AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS shingle
      |  FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, greatest(len(w) - 7, 1))) AS i
      |        FROM evw) p),
      |trw AS (SELECT regexp_split_to_array(text, ' +') AS w FROM tr),
      |trsh AS (
      |  SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS shingle
      |  FROM (SELECT w,
      |               unnest(generate_series(1, greatest(len(w) - 7, 1))) AS i
      |        FROM trw) p),
      |tot AS (SELECT doc_id, count(*) AS n_shingles FROM evsh GROUP BY doc_id),
      |hit AS (
      |  SELECT evsh.doc_id, count(*) AS n_hit
      |  FROM evsh JOIN trsh USING (shingle) GROUP BY evsh.doc_id)
      |SELECT tot.doc_id, CAST(tot.n_shingles AS BIGINT) AS n_shingles,
      |  CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_contaminated,
      |  CAST(coalesce(hit.n_hit, 0) AS DOUBLE) / tot.n_shingles AS contamination
      |FROM tot LEFT JOIN hit USING (doc_id) ORDER BY tot.doc_id""".stripMargin

  // PII redaction over documents with planted emails/phones (the
  // fixture text is clean word salad, so the query plants a contact
  // line per doc and the oracle replays both the plant and the
  // redaction).
  val tx5Redact: Q = (s, dir) => {
    val planted = docs(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" reach me: user"), col("doc_id"),
        lit("@mail.example.org or +1-555-01"), col("doc_id") % 100,
        lit(" thanks")).as("text"))
    TextAnalysis.redactPii(planted, "doc_id", "text")
      .drop("redacted") // the stats attest the rewrite; text is bulky
      .orderBy("doc_id")
  }

  val tx5Sql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |         text || ' reach me: user' || CAST(doc_id AS VARCHAR) ||
      |         '@mail.example.org or +1-555-01' ||
      |         CAST(doc_id % 100 AS VARCHAR) || ' thanks' AS text
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, text,
      |         regexp_replace(text,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |           '<EMAIL>', 'g') AS no_email
      |  FROM planted)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(no_email,
      |    '\+?[0-9][0-9()\-\. ]{6,}[0-9]')) AS BIGINT) AS n_phones,
      |  CAST(length(regexp_replace(no_email,
      |    '\+?[0-9][0-9()\-\. ]{6,}[0-9]', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------- multimodal ----------------

  // Binary payload plumbing with the stubbed batch decoder. The stub's
  // outputs (position-weighted checksum, per-lane byte sums scaled
  // once) are integer sums over the payload bytes — the documents
  // fixture is pure ASCII, so the oracle recomputes them from
  // character codes.
  val mm1MediaFeatures: Q = (s, dir) =>
    Multimodal.mediaFeatureStats(s, docs(s, dir)).orderBy("media_id")

  val mm1Sql: String =
    """WITH b AS (
      |  SELECT doc_id AS media_id, i,
      |         ord(substr(text, CAST(i AS INT), 1)) AS byte
      |  FROM (SELECT doc_id, text,
      |               unnest(generate_series(1, length(text))) AS i
      |        FROM documents) p),
      |agg AS (
      |  SELECT media_id,
      |         CAST(sum(byte * i) AS BIGINT) AS checksum,
      |         CAST(CAST(CAST(sum(CASE WHEN (i - 1) % 8 = 0 THEN byte ELSE 0 END) AS DOUBLE)
      |               / 255.0 AS FLOAT) AS DOUBLE) AS f0
      |  FROM b GROUP BY media_id)
      |SELECT d.doc_id AS media_id,
      |       CAST(length(d.text) AS BIGINT) AS byte_len,
      |       a.checksum, a.f0
      |FROM documents d JOIN agg a ON a.media_id = d.doc_id
      |ORDER BY media_id""".stripMargin

  // REAL image codec round trip (javax.imageio, in the JDK): each
  // doc_id becomes a deterministic RGB test-card, PNG-ENCODED then
  // DECODED by the actual codec inside one mapPartitions batch; the
  // oracle recomputes the decoded per-channel pixel sums from the
  // closed-form pixel function (PNG is lossless, so codec-correct ⇔
  // hash-green). Dimension + EXIF-strip pins live in PipelineSpec.
  val mm3ImageCodec: Q = (s, dir) =>
    Multimodal.imagePixelStats(s, docs(s, dir).select("doc_id"), "doc_id",
      width = 16, height = 16, partitions = 32)
      .orderBy("media_id")

  val mm3Sql: String =
    """WITH px AS (
      |  SELECT d.doc_id, xs.x, ys.y
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs
      |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys)
      |SELECT doc_id AS media_id, 16 AS width, 16 AS height,
      |       CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS r_sum,
      |       CAST(sum((doc_id * 17 + x * 11 + y * 3) % 256) AS BIGINT) AS g_sum,
      |       CAST(sum((doc_id * 29 + x * 5 + y * 19) % 256) AS BIGINT) AS b_sum
      |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin

  // REAL audio codec round trip (javax.sound.sampled, in the JDK):
  // each doc_id becomes a deterministic PCM16 mono test-tone,
  // WAV-ENCODED then DECODED by the actual RIFF codec inside one
  // mapPartitions batch; the oracle recomputes the decoded sample
  // sums from the closed-form sample function (PCM is lossless, so
  // codec-correct ⇔ hash-green — the mm3 attestation pattern).
  // Format/round-trip/robustness pins live in PipelineSpec.
  val mm4AudioCodec: Q = (s, dir) =>
    Multimodal.audioSampleStats(s, docs(s, dir).select("doc_id"), "doc_id",
      sampleRate = 8000, nSamples = 800, partitions = 32)
      .orderBy("media_id")

  val mm4Sql: String =
    """WITH sm AS (
      |  SELECT d.doc_id, ((d.doc_id * 31 + t.t * 7) % 2003) - 1001 AS v
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest(generate_series(0, 799)) AS t) t)
      |SELECT doc_id AS media_id, 8000 AS sample_rate,
      |       count(*) AS n_samples,
      |       CAST(sum(v) AS BIGINT) AS sum_v,
      |       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
      |       CAST(sum(v * v) AS BIGINT) AS sum_sq
      |FROM sm GROUP BY doc_id ORDER BY media_id""".stripMargin

  // REAL raster resize round trip: 16x16 test-cards decoded, nearest-
  // neighbor downscaled to 8x8 through the actual raster (source
  // pixel (x*16/8, y*16/8) = (2x, 2y) — exact integer arithmetic),
  // PNG re-encoded, decoded again; the oracle replays the resized
  // channel sums from the closed-form pixel function at the sampled
  // coordinates. Complements mm2 (whose resize is the byte-level
  // plumbing fake) with the codec-true path.
  val mm6ImageResize: Q = (s, dir) =>
    Multimodal.imageResizeStats(s, docs(s, dir).select("doc_id"), "doc_id",
      srcW = 16, srcH = 16, dstW = 8, dstH = 8, partitions = 32)
      .orderBy("media_id")

  val mm6Sql: String =
    """WITH px AS (
      |  SELECT d.doc_id, xs.x * 2 AS sx, ys.y * 2 AS sy
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) xs
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) ys)
      |SELECT doc_id AS media_id, CAST(8 AS INT) AS width,
      |       CAST(8 AS INT) AS height,
      |       CAST(sum((doc_id * 31 + sx * 7 + sy * 13) % 256) AS BIGINT)
      |         AS r_sum,
      |       CAST(sum((doc_id * 17 + sx * 11 + sy * 3) % 256) AS BIGINT)
      |         AS g_sum,
      |       CAST(sum((doc_id * 29 + sx * 5 + sy * 19) % 256) AS BIGINT)
      |         AS b_sum
      |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin

  // REAL multi-frame (video-container) codec round trip: each doc_id
  // becomes a 6-frame animation over an explicit 8-gray palette,
  // GIF-ENCODED then frame-sampled (every 2nd frame) by the actual
  // JDK container reader — frame count, rasters and sampling all come
  // from the container; indexed palette makes the trip lossless BY
  // CONSTRUCTION, so the oracle replays the decoded gray sums in
  // closed form (the mm3/mm4 attestation pattern, now for the 1→N
  // frame-sampling shape).
  val mm5VideoCodec: Q = (s, dir) =>
    Multimodal.videoFrameStats(s, docs(s, dir).select("doc_id"), "doc_id",
      width = 16, height = 16, nFrames = 6, everyNth = 2, partitions = 32)
      .orderBy("media_id", "frame")

  val mm5Sql: String =
    """WITH px AS (
      |  SELECT d.doc_id, fr.f, xs.x, ys.y
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest(generate_series(0, 5, 2)) AS f) fr
      |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs
      |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys)
      |SELECT doc_id AS media_id, CAST(f AS INT) AS frame,
      |       CAST(6 AS INT) AS n_frames,
      |       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
      |       CAST(sum(((doc_id + 3 * f + x + 2 * y) % 8) * 36) AS BIGINT)
      |         AS gray_sum
      |FROM px GROUP BY doc_id, f ORDER BY media_id, frame""".stripMargin

  // ---------------- skew-salted join ----------------

  // Salted equi-join: result must equal the plain join exactly (the
  // salt only re-routes rows), so the oracle IS the plain join.
  // Hot-key report: the diagnostic run before a join to decide
  // whether it needs the salted path (sj1). Counts, top-k by mass,
  // row share against a lazily cross-joined total.
  val hk1HotKeys: Q = (s, dir) =>
    pipeline.Skew.hotKeys(
      Tables.load(s, dir, "events").select("user_id"), "user_id", k = 20)
      .orderBy(col("n_rows").desc, col("user_id").asc)

  val hk1Sql: String =
    """SELECT user_id, count(*) AS n_rows,
      |  CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS share
      |FROM events GROUP BY user_id
      |ORDER BY n_rows DESC, user_id LIMIT 20""".stripMargin

  // Z-score outliers over exact grid sums: the flagged set is
  // identical on any cluster because mean/std derive from DECIMAL
  // integer sums, not fold-order-dependent double addition.
  val pf4Outliers: Q = (s, dir) =>
    pipeline.Profiling.zOutliers(
      Tables.load(s, dir, "events").select("event_id", "value"),
      "event_id", "value", z = 3.0)
      .orderBy("event_id")

  val pf4Sql: String =
    """WITH st AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CAST(round(value * 100.0, 0) AS HUGEINT)) AS DOUBLE) AS s,
      |    CAST(sum(CAST(round(value * 100.0, 0) AS HUGEINT)
      |             * CAST(round(value * 100.0, 0) AS HUGEINT)) AS DOUBLE) AS ss
      |  FROM events WHERE value IS NOT NULL),
      |c AS (SELECT n, (s / 100) / n AS mean,
      |  sqrt((ss / 10000) / n - ((s / 100) / n) * ((s / 100) / n)) AS std
      |  FROM st)
      |SELECT event_id, value, (value - mean) / std AS z_score
      |FROM events, c
      |WHERE value IS NOT NULL AND abs((value - mean) / std) > 3
      |ORDER BY event_id""".stripMargin

  val sj1SaltedJoin: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    pipeline.Skew.saltedJoin(li, ord, Seq("l_orderkey"), saltFactor = 8)
      .orderBy("l_orderkey", "l_linenumber")
  }

  val sj1Sql: String =
    """SELECT o_orderkey AS l_orderkey, l_linenumber, l_quantity,
      |       o_orderstatus
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------- quantization ----------------

  // int8 embedding quantization fidelity: scale + cosine(original,
  // dequantized). Floor-based rounding keeps it oracle-exact.
  val qz1Quantize: Q = (s, dir) =>
    pipeline.Quantize.fidelity(
      embs(s, dir).select("vec_id", "embedding"), "vec_id", "embedding")
      .orderBy("vec_id")

  val qz1Sql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
      |                                       x -> abs(x)), 'max') AS scale
      |  FROM embeddings),
      |d AS (
      |  SELECT vec_id, v, scale,
      |         list_transform(v, x ->
      |           (floor(x * 127.0 / scale + 0.5) * scale) / 127.0) AS dv
      |  FROM q)
      |SELECT vec_id, scale, list_cosine_similarity(v, dv) AS fidelity
      |FROM d ORDER BY vec_id""".stripMargin

  // ---------------- sampling & packing ----------------

  // Deterministic stratified sampling (training-data mixing): keep a
  // row iff portable-hash u(doc_id) < rate(source).
  val sm1Sample: Q = (s, dir) =>
    pipeline.Sampling.stratifiedSample(
      docs(s, dir).select("doc_id", "source"), "doc_id", "source",
      rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
      seed = 42L, defaultRate = 0.1)
      .orderBy("doc_id")

  val sm1Sql: String =
    """SELECT doc_id, source FROM documents
      |WHERE CAST(CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |        % 1000000 AS DOUBLE) / 1000000.0
      |    < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
      |                  WHEN 'src2' THEN 0.25 ELSE 0.1 END
      |ORDER BY doc_id""".stripMargin

  // Per-source cap: at most 120 docs per source, drawn by portable
  // hash order — the oracle replays the same row_number window over
  // the same hash.
  val sm2Cap: Q = (s, dir) =>
    pipeline.Sampling.capPerSource(
      docs(s, dir).select("doc_id", "source"), "doc_id", "source",
      cap = 120, seed = 7L)
      .orderBy("doc_id")

  val sm2Sql: String =
    """WITH h AS (
      |  SELECT doc_id, source,
      |         CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS u
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
      |  FROM h)
      |SELECT doc_id, source FROM r WHERE rn <= 120 ORDER BY doc_id""".stripMargin

  // Mixture-rate solver: the downsampling rates realizing a target
  // per-source mixture (by n_chars mass) exactly, binding stratum at
  // rate 1.0. The oracle recomputes K = min(actual/target) and the
  // rates in SQL; the expression order (target * K / actual) matches
  // so doubles agree.
  val sm3Mixture: Q = (s, dir) =>
    pipeline.Sampling.mixtureRates(
      docs(s, dir).select("doc_id", "source", "n_chars"),
      "source", "n_chars",
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .orderBy("source")

  val sm3Sql: String =
    """WITH agg AS (
      |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS actual_w
      |  FROM documents WHERE source IN ('src0', 'src1', 'src2')
      |  GROUP BY source),
      |t(source, target_share) AS (
      |  VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
      |j AS (
      |  SELECT agg.source, actual_w, CAST(target_share AS DOUBLE) AS target_share
      |  FROM agg JOIN t USING (source)),
      |k AS (SELECT min(actual_w / target_share) AS kk FROM j)
      |SELECT source, actual_w, target_share,
      |       target_share * kk / actual_w AS rate
      |FROM j CROSS JOIN k ORDER BY source""".stripMargin

  // Temperature-based source reweighting (mT5/XLM-R mixture) at
  // τ = 2: sqrt is IEEE-correctly-rounded in every engine and the one
  // cross-strata float sum runs on an exact ×10^15 decimal grid, so
  // the oracle replays the identical mixture bit-for-bit.
  val sm7Temperature: Q = (s, dir) =>
    pipeline.Sampling.temperatureMix(
      docs(s, dir).select("source", "n_chars"),
      "source", "n_chars", tau = 2.0)
      .orderBy("source")

  val sm7Sql: String =
    """WITH agg AS (
      |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS actual_w
      |  FROM documents GROUP BY source),
      |tot AS (SELECT sum(actual_w) AS tw FROM agg),
      |p AS (SELECT source, actual_w, actual_w / tw AS p_share
      |      FROM agg CROSS JOIN tot),
      |q AS (SELECT source, actual_w, p_share,
      |             CAST(round(sqrt(p_share) * 1e15) AS HUGEINT) AS q_dec
      |      FROM p),
      |qt AS (SELECT sum(q_dec) AS qtot FROM q),
      |w AS (SELECT source, actual_w, p_share,
      |             CAST(q_dec AS DOUBLE) / CAST(qtot AS DOUBLE) AS temp_share
      |      FROM q CROSS JOIN qt),
      |k AS (SELECT min(p_share / temp_share) AS kk FROM w)
      |SELECT source, actual_w, p_share, temp_share,
      |       least(1.0, temp_share * kk / p_share) AS rate
      |FROM w CROSS JOIN k ORDER BY source""".stripMargin

  // Exactly-k uniform sample in portable-hash order — planned as
  // TakeOrderedAndProject (per-partition k-heaps), pinned in PlanSpec.
  val sm4Exact: Q = (s, dir) =>
    pipeline.Sampling.exactSample(
      docs(s, dir).select("doc_id", "source"), "doc_id", k = 100, seed = 7L)
      .orderBy("doc_id")

  val sm4Sql: String =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |         CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS u
      |  FROM documents ORDER BY u, doc_id LIMIT 100)
      |ORDER BY doc_id""".stripMargin

  // Ranked per-source top-k: each source's 30 longest documents —
  // the "best K per source" quality cap, scored rather than
  // hash-drawn (sm2). The oracle replays the naive single window;
  // the operator's salted pre-window must keep the identical set.
  val sm9TopPerSource: Q = (s, dir) =>
    pipeline.Sampling.topKPerGroup(
      docs(s, dir).select("doc_id", "source", "n_chars"),
      "doc_id", "source", "n_chars", k = 30)
      .orderBy("doc_id")

  val sm9Sql: String =
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars, row_number() OVER (
      |    PARTITION BY source ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn
      |  FROM documents) r WHERE rn <= 30 ORDER BY doc_id""".stripMargin

  // Deterministic train/val/test split: membership is a pure function
  // of (seed, doc_id), so the oracle recomputes every assignment and
  // the aggregate attests all 10000 hash-bucket thresholds.
  val sp1Splits: Q = (s, dir) =>
    pipeline.Sampling.assignSplits(
      docs(s, dir).select("doc_id", "source", "n_chars"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 29L)
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"),
        sum("n_chars").as("total_chars"))
      .orderBy("split", "source")

  val sp1Sql: String =
    """WITH a AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST('0x' || substr(md5('29:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS b
      |  FROM documents)
      |SELECT CASE WHEN b < 8000 THEN 'train'
      |            WHEN b < 9000 THEN 'val' ELSE 'test' END AS split,
      |  source, count(*) AS n_docs, min(doc_id) AS min_doc_id,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // Weighted sample (Efraimidis–Spirakis): inclusion probability
  // proportional to document length, realized as a deterministic
  // top-k on ln(u)/w — the oracle replays the identical rank key.
  val sm8Weighted: Q = (s, dir) =>
    pipeline.Sampling.weightedSample(
      docs(s, dir).select("doc_id", "source", "n_chars"),
      "doc_id", "n_chars", k = 120, seed = 13L)
      .orderBy("doc_id")

  val sm8Sql: String =
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    ln((CAST('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 0.5)
      |       / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS rk
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
      |  ORDER BY rk DESC, doc_id LIMIT 120)
      |ORDER BY doc_id""".stripMargin

  // Token-budget selection: each source keeps its hash-ordered prefix
  // of documents within a per-source token budget. The oracle replays
  // the NAIVE single running-total window — attesting that the
  // skew-safe two-level bucketed prefix sum selects exactly the same
  // rows with exactly the same cumulative totals.
  val sm5Budget: Q = (s, dir) => {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " +")).cast("long").as("n_tokens"))
    pipeline.Sampling.tokenBudgetSelect(d, "doc_id", "n_tokens", "source",
      budgets = Map("src0" -> 900L, "src1" -> 700L, "src2" -> 1200L),
      seed = 11L, defaultBudget = 400L)
      .orderBy("doc_id")
  }

  val sm5Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n_tokens,
      |         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS u
      |  FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |             sum(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
      |                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |      FROM t)
      |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c
      |WHERE cum_tokens <= CASE source WHEN 'src0' THEN 900 WHEN 'src1' THEN 700
      |                                WHEN 'src2' THEN 1200 ELSE 400 END
      |ORDER BY doc_id""".stripMargin

  // Typed JSON extraction: one from_json parse per row feeding four
  // aggregates per event type. The oracle re-extracts with DuckDB's
  // json_extract_string and must agree on every group.
  val js1JsonExtract: Q = (s, dir) => {
    val e = Tables.load(s, dir, "events")
      .select("event_id", "event_type", "props")
    pipeline.SemiStructured.jsonExtract(e, "props",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")
  }

  val js1Sql: String =
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(*) AS n,
      |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // Token-window chunking (window 8, stride 4): every token lands in
  // at least one chunk, tail chunks run short. The oracle replays the
  // start grid, the slice, and the short-tail length.
  val tx11Chunk: Q = (s, dir) =>
    TextAnalysis.chunkDocuments(docs(s, dir).select("doc_id", "text"),
      "doc_id", "text", window = 8, stride = 4)
      .orderBy("doc_id", "chunk_id")

  val tx11Sql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      |           FROM documents),
      |c AS (SELECT doc_id, (i - 1) // 4 AS chunk_id,
      |             least(8, len(w) - i + 1) AS n_tokens,
      |             array_to_string(w[i:i+7], ' ') AS chunk_text
      |      FROM (SELECT doc_id, w,
      |                   unnest(generate_series(1, greatest(len(w), 1), 4)) AS i
      |            FROM t))
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |       CAST(n_tokens AS BIGINT) AS n_tokens, chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // Pairwise source-overlap matrix over 3-shingles (the 31-word
  // synthetic vocabulary makes 3-gram collisions across sources
  // plentiful, so the matrix is dense and every branch is exercised).
  val ct3SourceOverlap: Q = (s, dir) =>
    pipeline.Contamination.sourceOverlap(
      docs(s, dir).select("source", "text"), "source", "text", w = 3)
      .orderBy("source_a", "source_b")

  val ct3Sql: String =
    """WITH t AS (SELECT source, regexp_split_to_array(text, ' +') AS w
      |           FROM documents),
      |sh AS (
      |  SELECT DISTINCT source, array_to_string(w[i:i+2], ' ') AS shingle
      |  FROM (SELECT source, w,
      |               unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      |        FROM t) p),
      |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
      |inter AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS overlap
      |  FROM sh a JOIN sh b USING (shingle)
      |  WHERE a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, CAST(overlap AS BIGINT) AS overlap,
      |       CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
      |       CAST(overlap AS DOUBLE) / (na.n + nb.n - overlap) AS jaccard
      |FROM inter
      |JOIN sizes na ON na.source = source_a
      |JOIN sizes nb ON nb.source = source_b
      |ORDER BY source_a, source_b""".stripMargin

  // Cluster-balanced (diversity) sampling: nearest-static-centroid
  // assignment, then the skew-safe per-cluster cap — "at most k rows
  // per semantic cluster". The oracle replays the centroid pick, the
  // argmin assignment, and the capPerSource hash-order window.
  val sm6Diverse: Q = (s, dir) => {
    val e = embs(s, dir).select("vec_id", "embedding")
    val centroids = pipeline.Ivf.staticCentroids(e, "vec_id", "embedding",
      nlist = 16)
    pipeline.Sampling.diverseSample(e, "vec_id", "embedding", centroids,
      perCluster = 40, seed = 13L)
      .select(col("vec_id"), col("cluster"))
      .orderBy("vec_id")
  }

  val sm6Sql: String =
    """WITH st AS (
      |  SELECT greatest(count(*) // 16, 1) AS step FROM embeddings),
      |cent AS (
      |  SELECT CAST(e.vec_id // st.step AS INT) AS j,
      |         CAST(e.embedding AS DOUBLE[]) AS c
      |  FROM embeddings e, st
      |  WHERE e.vec_id % st.step = 0 AND e.vec_id < st.step * 16),
      |dist AS (
      |  SELECT e.vec_id, cent.j,
      |         ((list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                            CAST(e.embedding AS DOUBLE[]))
      |           - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]), cent.c))
      |          + list_dot_product(cent.c, cent.c)) AS d
      |  FROM embeddings e CROSS JOIN cent),
      |cell AS (
      |  SELECT vec_id, j AS cluster FROM (
      |    SELECT vec_id, j,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
      |    FROM dist) WHERE rn = 1),
      |h AS (
      |  SELECT vec_id, cluster,
      |         CAST('0x' || substr(md5('13:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS u
      |  FROM cell),
      |r AS (SELECT vec_id, cluster,
      |             row_number() OVER (PARTITION BY cluster ORDER BY u, vec_id) AS rn
      |      FROM h)
      |SELECT vec_id, CAST(cluster AS INT) AS cluster
      |FROM r WHERE rn <= 40 ORDER BY vec_id""".stripMargin

  // CCNet-style LM quality scoring: an add-0.1-smoothed bigram LM
  // trained on the lang='en' slice scores ALL documents (non-English
  // docs exercise the unseen-bigram / unseen-prefix smoothing path).
  // Scores round to 4 decimals on both sides so double summation
  // order cannot flip the value hash.
  val tx10LmScore: Q = (s, dir) => {
    val d = docs(s, dir)
    TextAnalysis.lmScore(d.select("doc_id", "text"), "doc_id", "text",
      d.filter(col("lang") === "en").select("text"), "text")
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll"), 4).as("nll"), round(col("ppl"), 4).as("ppl"))
      .orderBy("doc_id")
  }

  val tx10Sql: String =
    """WITH train AS (
      |  SELECT regexp_split_to_array(text, ' +') AS w
      |  FROM documents WHERE lang = 'en'),
      |tb AS (SELECT w[i] AS w1, w[i + 1] AS w2
      |       FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
      |             FROM train WHERE len(w) >= 2)),
      |lm AS (SELECT w1, w2, count(*) AS c12 FROM tb GROUP BY 1, 2),
      |pr AS (SELECT w1, count(*) AS c1 FROM tb GROUP BY 1),
      |v AS (SELECT count(DISTINCT tk) AS v
      |      FROM (SELECT unnest(w) AS tk FROM train)),
      |d AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      |      FROM documents),
      |db AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
      |             FROM d WHERE len(w) >= 2)),
      |dn AS (SELECT doc_id, w1, w2, count(*) AS n FROM db GROUP BY 1, 2, 3),
      |sc AS (SELECT doc_id, sum(n) AS nb,
      |              -sum(n * ln((coalesce(c12, 0) + 0.1) /
      |                          (coalesce(c1, 0) + 0.1 * v.v))) / sum(n) AS nll
      |       FROM dn LEFT JOIN lm USING (w1, w2) LEFT JOIN pr USING (w1)
      |       CROSS JOIN v
      |       GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
      |       round(nll, 4) AS nll, round(exp(nll), 4) AS ppl
      |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // Sequence packing: documents concatenated in id order, cut into
  // 512-token shards via the distributed prefix sum.
  val pk1Pack: Q = (s, dir) => {
    val toks = TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("ws_tokens").as("n_tokens"))
    pipeline.Sampling.packSequences(toks, "doc_id", "n_tokens",
      budget = 512)
      .orderBy("doc_id")
  }

  val pk1Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1 AS n_tokens
      |  FROM documents)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |              - n_tokens) // 512 AS BIGINT) AS shard_id
      |FROM t ORDER BY doc_id""".stripMargin

  // Resize → decode: the stubbed downsampler picks every step-th byte
  // (step = len // 16), then the decoder's sums run over the resized
  // payload — both integer-exact, so the oracle replays the stride.
  val mm2ResizeFeatures: Q = (s, dir) => {
    val media = Multimodal.mediaFromDocuments(s, docs(s, dir))
    Multimodal.resizeAndExtract(media, width = 32, height = 32,
      partitions = 32)
      .toDF()
      .select(col("media_id"), col("byte_len"), col("checksum"),
        element_at(col("feature"), 1).cast("double").as("f0"))
      .orderBy("media_id")
  }

  val mm2Sql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, text, length(text) AS len,
      |         least(16, length(text)) AS outlen
      |  FROM documents),
      |b AS (
      |  SELECT media_id, j,
      |         ord(substr(text,
      |           CAST(j * greatest(1, len // greatest(1, outlen)) + 1 AS INT),
      |           1)) AS byte
      |  FROM (SELECT media_id, text, len, outlen,
      |               unnest(generate_series(0, outlen - 1)) AS j
      |        FROM dims) p),
      |agg AS (
      |  SELECT media_id,
      |         CAST(sum(byte * (j + 1)) AS BIGINT) AS checksum,
      |         CAST(CAST(CAST(sum(CASE WHEN j % 8 = 0 THEN byte ELSE 0 END) AS DOUBLE)
      |               / 255.0 AS FLOAT) AS DOUBLE) AS f0
      |  FROM b GROUP BY media_id)
      |SELECT d.media_id AS media_id, CAST(d.outlen AS BIGINT) AS byte_len,
      |       a.checksum, a.f0
      |FROM dims d JOIN agg a ON a.media_id = d.media_id
      |ORDER BY d.media_id""".stripMargin

  // ---------------- bucketed layout ----------------

  // Co-located fact-to-fact join over bucketed catalog tables: the
  // write-once shuffle (ensureBucketed) buys every later join on the
  // bucket key a zero-exchange plan (pinned in PlanSpec). The oracle
  // runs the identical join on the raw parquet — the layout must
  // change the PLAN, never the ANSWER.
  val bk1BucketedJoin: Q = (s, dir) => {
    val (ot, lt) = ensureBucketed(s, dir)
    sources.Bucketed.table(s, lt)
      .join(sources.Bucketed.table(s, ot),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  val bk1Sql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       sum(l_quantity) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // The flagship end-to-end composition — the COMPLETE pass a
  // pretraining-data job runs, every stage one of the attested
  // operators, the whole chain one declarative plan:
  //   quality gate → exact dedup → near-dup drop (shared mined
  //   pairs) → eval-set decontamination → language filter →
  //   per-source token budget → per-source report.
  // The oracle replays ALL SIX stages (including the full portable
  // minhash mining and the budget hash order) in one DuckDB query.
  val cp3FullPass: Q = (s, dir) => {
    val d = docs(s, dir)
    val survivors = pipeline.Curation.curate(d, portable = true,
      precomputedPairs = Some(plantedMinhashPairs(s, dir)))
    val evalDocs = d.select("doc_id", "text").filter(col("doc_id") < 50)
    val leaked = pipeline.Contamination.contaminatedTrainDocs(
      survivors.select("doc_id", "text"), evalDocs, "doc_id", "text",
      w = 8).select("doc_id")
    val clean = survivors.join(leaked, Seq("doc_id"), "left_anti")
    val langKept = clean.filter(col("lang").isin("en", "de", "fr"))
    val withTok = langKept.select(col("doc_id"), col("source"),
      size(split(col("text"), " +")).cast("long").as("n_tokens"))
    pipeline.Sampling.tokenBudgetSelect(withTok, "doc_id", "n_tokens",
      "source",
      budgets = Map("src0" -> 800L, "src1" -> 600L, "src2" -> 1000L),
      seed = 7L, defaultBudget = 500L)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("doc_id").as("min_doc_id"))
      .orderBy("source")
  }

  val cp3Sql: String =
    s"""WITH q AS (
      |  SELECT doc_id, text, lang, source,
      |         length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1 AS n_words
      |  FROM documents),
      |gated AS (
      |  SELECT * FROM q WHERE n_words >= 10 AND n_words <= 100000),
      |keep AS (
      |  SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
      |deduped AS (
      |  SELECT g.doc_id, g.text, g.lang, g.source
      |  FROM gated g JOIN keep USING (doc_id)),
      |base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, 'zzz ' || substr(text, strpos(text, ' ') + 1)
      |  FROM documents WHERE doc_id < 50),
      |${minhashPairsCtes()},
      |losers AS (
      |  SELECT DISTINCT id2 AS doc_id FROM agree
      |  WHERE CAST(m AS DOUBLE) / 32 >= 0.9
      |    AND id1 IN (SELECT doc_id FROM deduped)),
      |survivors AS (
      |  SELECT * FROM deduped
      |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
      |ev AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
      |evw AS (SELECT regexp_split_to_array(text, ' +') AS w FROM ev),
      |evsh AS (
      |  SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS shingle
      |  FROM (SELECT w,
      |               unnest(generate_series(1, greatest(len(w) - 7, 1))) AS i
      |        FROM evw) p),
      |sw AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      |       FROM survivors),
      |ssh AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS shingle
      |  FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, greatest(len(w) - 7, 1))) AS i
      |        FROM sw) p),
      |leaked AS (
      |  SELECT DISTINCT doc_id FROM ssh JOIN evsh USING (shingle)),
      |clean AS (
      |  SELECT * FROM survivors
      |  WHERE doc_id NOT IN (SELECT doc_id FROM leaked)),
      |langed AS (
      |  SELECT * FROM clean WHERE lang IN ('en', 'de', 'fr')),
      |t AS (
      |  SELECT doc_id, source,
      |         CAST(len(regexp_split_to_array(text, ' +')) AS BIGINT) AS n_tokens,
      |         CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS u
      |  FROM langed),
      |c AS (SELECT doc_id, source, n_tokens,
      |             sum(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
      |                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |      FROM t),
      |sel AS (
      |  SELECT doc_id, source, n_tokens FROM c
      |  WHERE cum_tokens <= CASE source WHEN 'src0' THEN 800
      |                                  WHEN 'src1' THEN 600
      |                                  WHEN 'src2' THEN 1000 ELSE 500 END)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |       min(doc_id) AS min_doc_id
      |FROM sel GROUP BY source ORDER BY source""".stripMargin

  // ---------------- ingest formats ----------------

  // Per-fixture landing dirs for the format round trips. Each entry
  // re-WRITES on every call (the round trip — serialize, then
  // schema-enforced read-back — IS the operator being timed and
  // attested; memoizing the write would bench a parquet-only read).
  private def fmtDir(dir: String, kind: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_fmt_${kind}_" +
      java.lang.Integer.toHexString(dir.hashCode)

  // CSV round trip: documents → RFC-4180 CSV → schema-enforced
  // FAILFAST read-back, compared row-for-row against the parquet
  // oracle. Attests quoting/escaping fidelity and that the explicit
  // landing schema reconstructs the exact column types (a bare CSV
  // read would re-infer and widen).
  val fm1CsvRoundtrip: Q = (s, dir) => {
    val d = docs(s, dir)
    val path = fmtDir(dir, "csv")
    sources.TextFormats.writeCsv(d, path)
    sources.TextFormats.readCsv(s, path, d.schema)
      .select(d.columns.map(col): _*)
      .orderBy("doc_id")
  }

  // JSONL round trip — the pretraining-corpus interchange format.
  val fm2JsonlRoundtrip: Q = (s, dir) => {
    val d = docs(s, dir)
    val path = fmtDir(dir, "jsonl")
    sources.TextFormats.writeJsonl(d, path)
    sources.TextFormats.readJsonl(s, path, d.schema)
      .select(d.columns.map(col): _*)
      .orderBy("doc_id")
  }

  // ORC round trip — the other columnar lake format; same pushdown /
  // pruning / stripe-splitting contract as parquet, attested by the
  // identical row-for-row oracle as the text round trips.
  val fm4OrcRoundtrip: Q = (s, dir) => {
    val d = docs(s, dir)
    val path = fmtDir(dir, "orc")
    sources.Columnar.writeOrc(d, path)
    sources.Columnar.readOrc(s, path, d.schema)
      .select(d.columns.map(col): _*)
      .orderBy("doc_id")
  }

  val fmRoundtripSql: String =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // Z-order tiles: the Morton index that drives the writeZordered
  // layout (sources.Zorder), computed over (user_id, floor(value))
  // at 9 bits/dim and folded to 64 curve tiles. The per-tile counts
  // attest every interleaved bit end-to-end (any wrong bit moves
  // events across tiles), and the per-tile bounding boxes ARE the
  // data-skipping property: each tile spans a narrow x/y range, so a
  // z-sorted file covering it serves 2-D box predicates from footer
  // min/max stats alone. The oracle replays the identical bit
  // arithmetic via Zorder.zValueSql.
  val zo1ZorderTiles: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("user_id").cast("long").as("x"),
      floor(col("value")).cast("long").as("y"))
    ev.withColumn("tile",
        shiftright(sources.Zorder.zValue(col("x"), col("y"), 9), 12))
      .groupBy("tile")
      .agg(count(lit(1)).as("n_events"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .orderBy("tile")
  }

  val zo1Sql: String = {
    val z = sources.Zorder.zValueSql("x", "y", 9)
    s"""WITH d AS (
       |  SELECT CAST(user_id AS BIGINT) AS x,
       |         CAST(floor(value) AS BIGINT) AS y
       |  FROM events),
       |t AS (SELECT ($z) >> 12 AS tile, x, y FROM d)
       |SELECT tile, count(*) AS n_events,
       |  min(x) AS min_x, max(x) AS max_x,
       |  min(y) AS min_y, max(y) AS max_y
       |FROM t GROUP BY tile ORDER BY tile""".stripMargin
  }

  // Hive-style partitioned layout: documents written partitioned by
  // source, read back through a partition-pruned scan (only the two
  // selected directories are opened — planning-time pruning, pinned
  // in PlanSpec). The oracle runs the same aggregate on the raw
  // parquet: the layout changes the PLAN, never the ANSWER.
  val fm3PartitionedPrune: Q = (s, dir) => {
    val d = docs(s, dir)
    val path = fmtDir(dir, "part")
    sources.Partitioned.write(d, path, Seq("source"))
    sources.Partitioned.readPruned(s, path,
        col("source").isin("src0", "src2"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"))
      .orderBy("source")
  }

  val fm3Sql: String =
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE source IN ('src0', 'src2')
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------- profiling ----------------

  // Numeric corpus profile: one wide single-scan aggregation unpivoted
  // to a row per column; exact quartiles match DuckDB's quantile_cont
  // bit-for-bit (both interpolate continuously over sorted doubles).
  val pf1Profile: Q = (s, dir) =>
    pipeline.Profiling.numericProfile(
      Tables.load(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount"))
      .orderBy("col_name")

  val pf1Sql: String = {
    def one(c: String): String =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
         |  quantile_cont($c, 0.25) AS p25, quantile_cont($c, 0.5) AS median,
         |  quantile_cont($c, 0.75) AS p75
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // Fixed-domain equi-width histogram: l_extendedprice in 20 bins of
  // [0, 60000), out-of-range clamped into the edge bins — counts sum
  // to the non-null row count by construction. One scan, one
  // partial+final agg of <= 20 groups.
  val pf3Histogram: Q = (s, dir) =>
    pipeline.Profiling.histogram(
      Tables.load(s, dir, "lineitem"), "l_extendedprice",
      bins = 20, lo = 0.0, hi = 60000.0)
      .orderBy("bin")

  val pf3Sql: String =
    """WITH b AS (
      |  SELECT least(greatest(
      |    floor((CAST(l_extendedprice AS DOUBLE) - 0.0) / 3000.0),
      |    0.0), 19.0) AS binf
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
      |SELECT CAST(binf AS BIGINT) AS bin, binf * 3000.0 AS bin_lo,
      |  (binf + 1) * 3000.0 AS bin_hi, count(*) AS n_rows
      |FROM b GROUP BY 1, 2, 3 ORDER BY bin""".stripMargin

  // The 100 TB profiling path: approx sketches (bounded buffers, no
  // Expand) with an in-plan rank-tolerance attestation. The oracle
  // recomputes the exact fields and asserts the quantile verdicts are
  // all TRUE — an external engine cannot reproduce Spark's sketch
  // values bit-for-bit, but it CAN attest that the ranks Spark
  // verified are the ranks the contract promises.
  val pf1aApprox: Q = (s, dir) =>
    pipeline.Profiling.approxProfileChecked(
      Tables.load(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount"))
      .orderBy("col_name")

  val pf1aSql: String = {
    def one(c: String): String =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls,
         |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
         |  TRUE AS p25_rank_ok, TRUE AS median_rank_ok, TRUE AS p75_rank_ok
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // Pairwise Pearson correlation matrix from exact cents-scaled
  // DECIMAL sums; the double formula runs only in the projection, so
  // the oracle replaying the same exact sums through the same IEEE
  // ops matches bit-for-bit.
  private val pf2Cols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val pf2Corr: Q = (s, dir) =>
    pipeline.Profiling.corrProfile(Tables.load(s, dir, "lineitem"), pf2Cols)
      .orderBy("col_x", "col_y")

  val pf2Sql: String = {
    val cleanCols = pf2Cols.zipWithIndex.map { case (c, i) =>
      s"CAST(round($c * 100) AS HUGEINT) AS v$i"
    }.mkString(",\n         ")
    val notNull = pf2Cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val sums =
      (pf2Cols.indices.map(i => s"sum(v$i) AS s$i, sum(v$i*v$i) AS ss$i") ++
        (for { i <- pf2Cols.indices; j <- (i + 1) until pf2Cols.size }
          yield s"sum(v$i*v$j) AS sp${i}_$j")).mkString(",\n         ")
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val pairSelects =
      (for { i <- pf2Cols.indices; j <- (i + 1) until pf2Cols.size } yield
        s"""SELECT '${pf2Cols(i)}' AS col_x, '${pf2Cols(j)}' AS col_y,
           |  n AS n_rows,
           |  (${d("n")}*${d(s"sp${i}_$j")} - ${d(s"s$i")}*${d(s"s$j")})
           |  / (sqrt(${d("n")}*${d(s"ss$i")} - ${d(s"s$i")}*${d(s"s$i")})
           |     * sqrt(${d("n")}*${d(s"ss$j")} - ${d(s"s$j")}*${d(s"s$j")})) AS pearson_r
           |FROM s""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH clean AS (
       |  SELECT $cleanCols
       |  FROM lineitem
       |  WHERE $notNull),
       |s AS (
       |  SELECT count(*) AS n,
       |         $sums
       |  FROM clean)
       |SELECT * FROM (
       |$pairSelects
       |) ORDER BY col_x, col_y""".stripMargin
  }

  // ---------------- composed curation pass ----------------

  // quality gate → exact dedup → near-dup drop → per-source stats.
  // The near-dup pair set is the SAME memoized frame dd2 mines and
  // dd6 clusters — one mining pass serves reporting, clustering and
  // curation, the composition a real job uses (re-shingling the
  // corpus inside the composed pass was cp1's dominant cost at
  // scale). The oracle mirrors this: losers derive from pairs mined
  // over the dd2 corpus (documents ∪ planted near-dups), then drop
  // from the gated/exact-deduped survivors.
  val cp1Curation: Q = (s, dir) =>
    pipeline.Curation.curationStats(docs(s, dir), portable = true,
      precomputedPairs = Some(plantedMinhashPairs(s, dir)))

  val cp1Sql: String =
    s"""WITH q AS (
      |  SELECT doc_id, text, source,
      |         length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1 AS n_words
      |  FROM documents),
      |gated AS (
      |  SELECT * FROM q WHERE n_words >= 10 AND n_words <= 100000),
      |keep AS (
      |  SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
      |deduped AS (
      |  SELECT g.doc_id, g.text, g.source, g.n_words
      |  FROM gated g JOIN keep USING (doc_id)),
      |base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, 'zzz ' || substr(text, strpos(text, ' ') + 1)
      |  FROM documents WHERE doc_id < 50),
      |${minhashPairsCtes()},
      |losers AS (
      |  SELECT DISTINCT id2 AS doc_id FROM agree
      |  WHERE CAST(m AS DOUBLE) / 32 >= 0.9
      |    AND id1 IN (SELECT doc_id FROM deduped)),
      |survivors AS (
      |  SELECT * FROM deduped
      |  WHERE doc_id NOT IN (SELECT doc_id FROM losers))
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_words) AS BIGINT) AS total_words,
      |       min(doc_id) AS min_doc_id
      |FROM survivors GROUP BY source ORDER BY source""".stripMargin

  // Token-distribution entropy: lexical-diversity quality signal.
  // The Σ c·ln c fold runs in sorted-token order on BOTH sides
  // (sort_array+aggregate vs list(ORDER BY)+list_sum) so fold order
  // never diverges; the engines' ln implementations differ by ≤1 ulp
  // on some inputs (measured: 85/500 rows at sf0.01), well inside
  // the gate's 6-decimal rounding.
  val tx12Entropy: Q = (s, dir) =>
    TextAnalysis.tokenEntropy(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val tx12Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
      |  FROM documents),
      |counts AS (
      |  SELECT doc_id, tok, count(*) AS c
      |  FROM toks WHERE tok <> '' GROUP BY doc_id, tok),
      |per AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |         count(*) AS n_distinct,
      |         list(CAST(c AS DOUBLE) ORDER BY tok) AS cs
      |  FROM counts GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_distinct,
      |       ln(CAST(n_tokens AS DOUBLE)) -
      |         list_sum(list_transform(cs, c -> c * ln(c)))
      |           / CAST(n_tokens AS DOUBLE) AS entropy
      |FROM per ORDER BY doc_id""".stripMargin

  // Hashing-trick features: fixed-dim sparse term counts with the
  // portable md5 bucket hash the oracle re-derives per token.
  val fh1HashingTrick: Q = (s, dir) =>
    pipeline.Features.hashingTrick(docs(s, dir), "doc_id", "text",
      dim = 64)
      .orderBy("doc_id", "bucket")

  val fh1Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
      |  FROM documents),
      |nn AS (SELECT doc_id, tok FROM toks WHERE tok <> '')
      |SELECT doc_id,
      |       CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS bucket,
      |       count(*) AS n_hits
      |FROM nn GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin

  // PMI collocations: adjacent-pair mutual information over the
  // corpus; counts are exact integers, the pmi expression runs in
  // identical multiplication order both sides, and the k/k+1 cutoff
  // gap (8e-4 measured at sf0.01) dwarfs the <=1-ulp cross-engine ln.
  val tx13Pmi: Q = (s, dir) =>
    TextAnalysis.pmiCollocations(docs(s, dir), "text",
      minCount = 5L, topK = 50)

  val tx13Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(text, ' +'), w -> w <> '') AS ws
      |  FROM documents),
      |uni AS (SELECT unnest(ws) AS w FROM toks),
      |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
      |nt AS (SELECT count(*) AS n FROM uni),
      |bg AS (
      |  SELECT ws[g] AS w1, ws[g + 1] AS w2
      |  FROM toks, unnest(generate_series(1, len(ws) - 1)) AS t(g)),
      |bc AS (SELECT w1, w2, count(*) AS c_pair FROM bg GROUP BY w1, w2),
      |nb AS (SELECT CAST(sum(c_pair) AS BIGINT) AS m FROM bc)
      |SELECT w1, w2, c_pair,
      |       ln((CAST(c_pair AS DOUBLE) * n * n) /
      |          (CAST(m AS DOUBLE) * u1.c * u2.c)) AS pmi
      |FROM bc
      |JOIN uc u1 ON u1.w = bc.w1
      |JOIN uc u2 ON u2.w = bc.w2
      |CROSS JOIN nt CROSS JOIN nb
      |WHERE c_pair >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin

  // Join-cardinality pre-flight: predicts sj1's output size (60000)
  // from (key,count) frames without running the row-level join — the
  // report a 100 TB join runs first. Cross-validated: out_rows here
  // equals sj1's materialized row count.
  val jc1JoinCardinality: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("k"))
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"))
    pipeline.Skew.joinCardinality(li, ord, Seq("k"))
  }

  val jc1Sql: String =
    """WITH a AS (
      |  SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
      |b AS (SELECT o_orderkey AS k, count(*) AS c2 FROM orders GROUP BY 1),
      |j AS (SELECT count(*) AS n_matched_keys,
      |             COALESCE(CAST(sum(c * c2) AS BIGINT), 0) AS out_rows
      |      FROM a JOIN b USING (k))
      |SELECT (SELECT count(*) FROM lineitem) AS n_left,
      |       (SELECT count(*) FROM orders) AS n_right,
      |       n_matched_keys, out_rows
      |FROM j""".stripMargin

  // Exact percentile rank over events.value: two-level bucketed
  // prefix sums (no window ever sees raw rows), oracle = min-rank
  // percent_rank replay; the one double division runs on the same
  // exact integers both sides.
  val pr1PercentileRank: Q = (s, dir) =>
    pipeline.Profiling.percentileRank(
      Tables.load(s, dir, "events").select("event_id", "value"),
      "event_id", "value")
      .orderBy("event_id")

  val pr1Sql: String =
    """WITH nn AS (
      |  SELECT event_id, value FROM events WHERE value IS NOT NULL),
      |n AS (SELECT count(*) AS n FROM nn)
      |SELECT event_id, value,
      |       CAST(rank() OVER (ORDER BY value) - 1 AS BIGINT) AS rows_below,
      |       CASE WHEN n > 1
      |            THEN CAST(rank() OVER (ORDER BY value) - 1 AS DOUBLE) / (n - 1)
      |            ELSE 0.0 END AS pct_rank
      |FROM nn, n ORDER BY event_id""".stripMargin

  // ---------------- link analysis ----------------

  // Damped PageRank over the customer<->supplier purchase graph
  // (orders x lineitem, both directions so mass circulates). The
  // integer-grid arithmetic (floor divisions, BIGINT sums) makes the
  // five power-iteration rounds exactly replayable as chained CTEs —
  // a double-typed rank could never hash-match across engines because
  // shuffle order changes the fold order of incoming mass.
  val gr1PageRank: Q = (s, dir) => {
    val ord = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val cs = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = cs.unionByName(
      cs.select(col("dst").as("src"), col("src").as("dst")))
    pipeline.Graph.pageRank(edges, iters = 5).orderBy("node")
  }

  private def pageRankIterCtes(iters: Int): String =
    (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
        |  SELECT nd.node AS node,
        |         CAST((SELECT tp FROM t) + COALESCE(c.mass, 0) AS BIGINT) AS rank
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |           SUM((85 * (r.rank // d.outdeg)) // 100) AS mass
        |    FROM edges e
        |    JOIN deg d ON e.src = d.src
        |    JOIN r${k - 1} r ON r.node = e.src
        |    GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")

  val gr1Sql: String =
    // AS MATERIALIZED throughout: DuckDB inlines single-reference
    // CTEs, and inlining the 5-round chain recomputes the base join
    // ~4^5 times (measured: 69 GB of temp spill at the 10x fixture
    // before the fix vs 29 s flat after)
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |edges AS MATERIALIZED (
      |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |nodes AS MATERIALIZED (
      |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |n AS (SELECT count(*) AS cnt FROM nodes),
      |deg AS MATERIALIZED (
      |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |t AS MATERIALIZED (
      |  SELECT ((1000000000000 * 15) // 100) // cnt AS tp FROM n),
      |r0 AS MATERIALIZED (
      |  SELECT node, 1000000000000 // cnt AS rank FROM nodes, n),
      |${pageRankIterCtes(5)}
      |SELECT node, rank FROM r5 ORDER BY node""".stripMargin

  // Dangling-mass redistribution: the DIRECTED customer→supplier
  // graph (no reverse edges) leaves every supplier node dangling;
  // redistributeDangling=true shares each round's damped dangling
  // mass uniformly — the standard PageRank formulation. The oracle
  // replays all 5 rounds including the per-round dangling sum on the
  // same integer grid.
  val gr2PageRankDangling: Q = (s, dir) => {
    val ord = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val edges = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    pipeline.Graph.pageRank(edges, iters = 5, redistributeDangling = true)
      .orderBy("node")
  }

  private def pageRankDanglingIterCtes(iters: Int): String =
    (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (
        |  SELECT COALESCE(SUM(r.rank), 0) AS dm
        |  FROM r${k - 1} r JOIN dang ON dang.node = r.node),
        |r$k AS MATERIALIZED (
        |  SELECT nd.node AS node,
        |         CAST((SELECT tp FROM t) + COALESCE(c.mass, 0)
        |              + (85 * ((SELECT dm FROM d$k) // (SELECT cnt FROM n))) // 100
        |           AS BIGINT) AS rank
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |           SUM((85 * (r.rank // d.outdeg)) // 100) AS mass
        |    FROM edges e
        |    JOIN deg d ON e.src = d.src
        |    JOIN r${k - 1} r ON r.node = e.src
        |    GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")

  val gr2Sql: String =
    s"""WITH edges AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |nodes AS MATERIALIZED (
      |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |n AS (SELECT count(*) AS cnt FROM nodes),
      |deg AS MATERIALIZED (
      |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |dang AS MATERIALIZED (
      |  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM edges)),
      |t AS MATERIALIZED (
      |  SELECT ((1000000000000 * 15) // 100) // cnt AS tp FROM n),
      |r0 AS MATERIALIZED (
      |  SELECT node, 1000000000000 // cnt AS rank FROM nodes, n),
      |${pageRankDanglingIterCtes(5)}
      |SELECT node, rank FROM r5 ORDER BY node""".stripMargin

  // ---------------- snapshot diff ----------------

  // Corpus version regression: v2 is v1 with a deterministic delete
  // (every 19th doc), edit (every 13th doc's text), and insert (every
  // 31st doc re-keyed) — the summary classifies every key via
  // fingerprint equality and counts per (source, status).
  val df1SnapshotDiff: Q = (s, dir) => {
    val v1 = docs(s, dir).select("doc_id", "text", "lang", "source")
    val v2 = v1.filter(pmod(col("doc_id"), lit(19)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"),
        col("lang"), col("source"))
      .unionByName(
        v1.filter(pmod(col("doc_id"), lit(31)) === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            col("text"), col("lang"), col("source")))
    pipeline.Snapshot.snapshotDiffSummary(v1, v2,
      keyCols = Seq("doc_id"), fpCols = Seq("text", "lang"),
      groupCols = Seq("source"))
      .orderBy("source", "status")
  }

  val df1Sql: String =
    """WITH v1 AS (SELECT doc_id, text, lang, source FROM documents),
      |v2 AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text,
      |         lang, source
      |  FROM v1 WHERE doc_id % 19 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang, source
      |  FROM v1 WHERE doc_id % 31 = 0),
      |a AS (SELECT doc_id, source,
      |        md5(coalesce(text, chr(0)) || chr(1) || coalesce(lang, chr(0))) AS fp
      |      FROM v1),
      |b AS (SELECT doc_id, source,
      |        md5(coalesce(text, chr(0)) || chr(1) || coalesce(lang, chr(0))) AS fp
      |      FROM v2),
      |j AS (
      |  SELECT CASE WHEN b.fp IS NOT NULL THEN b.source
      |              ELSE a.source END AS source,
      |         CASE WHEN a.fp IS NULL THEN 'added'
      |              WHEN b.fp IS NULL THEN 'removed'
      |              WHEN a.fp = b.fp THEN 'unchanged'
      |              ELSE 'changed' END AS status
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT source, status, count(*) AS n_rows
      |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin

  // ---------------- retrieval / corpus analysis ----------------

  // BM25 ranked retrieval: five fixed term queries over the corpus,
  // top-10 each. Per-term contributions land on a ×10⁶ integer grid
  // before the per-doc sum, so scores and ranks are fold-order and
  // cross-engine exact (the same discipline as km1/pq1's distances);
  // the oracle replays tf/df/dl/avgdl and the identical IEEE
  // expression tree.
  private val rr1Queries: Seq[(Long, String)] = Seq(
    0L -> "spark join", 1L -> "hash table scan", 2L -> "window agg",
    3L -> "customer query", 4L -> "fast filter")
  val rr1Bm25: Q = (s, dir) =>
    pipeline.Retrieval.bm25TopK(docs(s, dir).select("doc_id", "text"),
      "doc_id", "text", rr1Queries, k1 = 1.2, b = 0.75, topK = 10)
      .orderBy("query_id", "rank")
  val rr1Sql: String =
    """WITH q(query_id, term) AS (VALUES
      |  (0, 'spark'), (0, 'join'),
      |  (1, 'hash'), (1, 'table'), (1, 'scan'),
      |  (2, 'window'), (2, 'agg'),
      |  (3, 'customer'), (3, 'query'),
      |  (4, 'fast'), (4, 'filter')),
      |w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      |      FROM documents),
      |dl AS (SELECT doc_id, len(w) AS dl FROM w),
      |t AS (SELECT doc_id, unnest(w) AS term FROM w),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(floor(
      |      ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5)
      |                / (CAST(dfreq.df AS DOUBLE) + 0.5))
      |      * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
      |      / (CAST(tf.tf AS DOUBLE)
      |         + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE)
      |             / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
      |      * 1000000.0) AS BIGINT) AS c_micro
      |  FROM tf JOIN q USING (term) JOIN dfreq USING (term)
      |       JOIN dl USING (doc_id) CROSS JOIN st),
      |ag AS (
      |  SELECT query_id, doc_id, sum(c_micro) AS score_micro,
      |         count(*) AS n_terms
      |  FROM sc GROUP BY 1, 2),
      |r AS (
      |  SELECT query_id, doc_id, score_micro, n_terms,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY score_micro DESC, doc_id) AS rank
      |  FROM ag)
      |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
      |       CAST(score_micro AS BIGINT) AS score_micro, n_terms
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // Learned-sparse (uniCOIL-style) retrieval over rr1's query set:
  // the per-term impact model is a deterministic md5-derived milli
  // weight table (a REAL deployment broadcasts trained encoder
  // weights; the formulaic stand-in exists so the oracle re-derives
  // the model — the ql1 discipline), and scoring is exact long
  // arithmetic, so tf, weights, sums and ranks all replay.
  val rr5LearnedSparse: Q = (s, dir) => {
    val terms = rr1Queries.flatMap(_._2.split(" ")).distinct
    val weights = s.createDataFrame(
      s.sparkContext.parallelize(terms.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType))))
      .withColumn("w_milli",
        pmod(pipeline.PortableHash.hash60(
          concat(lit("w:"), col("term"))), lit(1000L)))
    pipeline.Retrieval.learnedSparseTopK(
      docs(s, dir).select("doc_id", "text"), "doc_id", "text",
      rr1Queries, weights, topK = 10)
      .orderBy("query_id", "rank")
  }

  val rr5Sql: String =
    """WITH q(query_id, term) AS (VALUES
      |  (0, 'spark'), (0, 'join'),
      |  (1, 'hash'), (1, 'table'), (1, 'scan'),
      |  (2, 'window'), (2, 'agg'),
      |  (3, 'customer'), (3, 'query'),
      |  (4, 'fast'), (4, 'filter')),
      |wt AS (
      |  SELECT term,
      |         CAST('0x' || substr(md5('w:' || term), 1, 15) AS BIGINT)
      |           % 1000 AS w_milli
      |  FROM (SELECT DISTINCT term FROM q)),
      |wd AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      |       FROM documents),
      |t AS (SELECT doc_id, unnest(w) AS term FROM wd),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id,
      |         CAST(sum(tf.tf * wt.w_milli) AS BIGINT) AS score_milli,
      |         count(*) AS n_terms
      |  FROM tf JOIN q USING (term) JOIN wt USING (term)
      |  GROUP BY 1, 2)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |       CAST(row_number() OVER (
      |         PARTITION BY query_id
      |         ORDER BY score_milli DESC, doc_id) AS BIGINT) AS rank,
      |       doc_id, score_milli, n_terms
      |FROM sc QUALIFY rank <= 10 ORDER BY query_id, rank""".stripMargin

  // N-gram novelty of the src5..src9 half of the corpus against the
  // src0..src4 half as the reference — exact integer counts and one
  // IEEE division, fully replayed by the oracle.
  val nv1Novelty: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "source", "text")
    val ref = d.filter(col("source") < "src5")
    val cand = d.filter(col("source") >= "src5")
    TextAnalysis.ngramNovelty(cand.select("doc_id", "text"),
      ref.select("doc_id", "text"), "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }
  val nv1Sql: String =
    """WITH refw AS (
      |  SELECT regexp_split_to_array(text, ' +') AS w FROM documents
      |  WHERE source < 'src5'),
      |refg AS (
      |  SELECT DISTINCT array_to_string(w[i:i+2], ' ') AS shingle
      |  FROM (SELECT w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      |        FROM refw) p),
      |cw AS (
      |  SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents
      |  WHERE source >= 'src5'),
      |cg AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      |  FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      |        FROM cw) p)
      |SELECT cg.doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN refg.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST(sum(CASE WHEN refg.shingle IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS novelty
      |FROM cg LEFT JOIN refg USING (shingle)
      |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin

  // Per-source quality-percentile cut: keep the top stopword-ratio
  // quartile of EACH source. percent_rank over a unique (score, id)
  // ordering is a single exact division — deterministic both sides.
  // A gate entry beside qp2 (the window-free scalable form): both are
  // hash-checked against the same window-form oracle, and PipelineSpec
  // pins their identical keep sets.
  val qp1Percentile: Q = (s, dir) =>
    pipeline.Curation.qualityPercentileFilter(
      docs(s, dir).select("doc_id", "source", "text"),
      "doc_id", "text", "source", minPercentile = 0.75)
      .orderBy("doc_id")
  val qp1Sql: String =
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE)
      |      / (length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1)
      |      AS q_score
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, source, q_score,
      |         percent_rank() OVER (PARTITION BY source
      |                              ORDER BY q_score, doc_id) AS pct_rank
      |  FROM scored)
      |SELECT doc_id, source, q_score, pct_rank FROM ranked
      |WHERE pct_rank >= 0.75 ORDER BY doc_id""".stripMargin

  // Chi-square keyness: top-5 over-represented terms per source. The
  // 2x2 margins are exact longs; chi2 is one fixed expression tree.
  val ca1Keyness: Q = (s, dir) =>
    TextAnalysis.sourceKeyness(docs(s, dir).select("source", "text"),
      "source", "text", topKPerSource = 5)
      .orderBy("source", "rank")
  val ca1Sql: String =
    """WITH t AS (
      |  SELECT source, unnest(regexp_split_to_array(text, ' +')) AS term
      |  FROM documents),
      |st AS (SELECT source, term, count(*) AS a FROM t GROUP BY 1, 2),
      |tt AS (SELECT term, sum(a) AS t_tot FROM st GROUP BY term),
      |srct AS (SELECT source, sum(a) AS s_tot FROM st GROUP BY source),
      |n AS (SELECT sum(a) AS n_tot FROM st),
      |m AS (
      |  SELECT st.source, st.term, st.a,
      |         tt.t_tot - st.a AS b, srct.s_tot - st.a AS c,
      |         n.n_tot - tt.t_tot - srct.s_tot + st.a AS d, n.n_tot
      |  FROM st JOIN tt USING (term) JOIN srct USING (source) CROSS JOIN n),
      |x AS (
      |  SELECT source, term, a,
      |    CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
      |      - CAST(b AS DOUBLE) * CAST(c AS DOUBLE) AS delta,
      |    CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
      |    CAST(c AS DOUBLE) AS cd, CAST(d AS DOUBLE) AS dd,
      |    CAST(n_tot AS DOUBLE) AS nd
      |  FROM m WHERE a * d - b * c > 0),
      |sc AS (
      |  SELECT source, term, a,
      |    (nd * (delta * delta))
      |      / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)) AS chi2
      |  FROM x),
      |r AS (
      |  SELECT source, term, a, chi2,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY chi2 DESC, term) AS rank
      |  FROM sc)
      |SELECT source, rank, term, CAST(a AS BIGINT) AS term_count, chi2
      |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  // Gopher-style quality rules over the corpus with deterministically
  // planted defects so every rule fires: docs ≡0 (mod 7) get a '#'
  // symbol tail (symbol-ratio rule), docs ≡0 (mod 11) get a digit-word
  // tail (alpha-word-ratio rule); word-count and mean-word-length
  // bounds split the natural fixture. All counts exact longs, ratios
  // single IEEE divisions — the oracle replays everything.
  val gq1Gopher: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val planted = d.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 7 === 0,
        expr("repeat(' #', CAST(floor((size(split(text, ' +')) + 7) / 8) AS INT))"))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        expr("repeat(' 123', CAST(floor((size(split(text, ' +')) + 2) / 3) AS INT))"))
        .otherwise(lit(""))).as("text"))
    pipeline.Curation.gopherRules(planted, "doc_id", "text",
      minWords = 40, maxWords = 100000,
      minAvgWordLen = 4.2, maxAvgWordLen = 10.0,
      maxSymbolRatio = 0.1, minAlphaWordRatio = 0.8,
      minStopwordHits = 2)
      .orderBy("doc_id")
  }

  val gq1Sql: String =
    """WITH base AS (
      |  SELECT doc_id, len(regexp_split_to_array(text, ' +')) AS nw0, text
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN repeat(' #', (nw0 + 7) // 8) ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0
      |         THEN repeat(' 123', (nw0 + 2) // 3) ELSE '' END AS text
      |  FROM base),
      |w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w, text FROM p),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(w) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
      |      / CAST(len(w) AS DOUBLE) AS avg_word_len,
      |    CAST(len(regexp_extract_all(text, '[#…]')) AS DOUBLE)
      |      / CAST(len(w) AS DOUBLE) AS symbol_ratio,
      |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
      |      / CAST(len(w) AS DOUBLE) AS alpha_word_ratio,
      |    (CASE WHEN regexp_matches(text, '\bthe\b') THEN 1 ELSE 0 END
      |     + CASE WHEN regexp_matches(text, '\ba\b') THEN 1 ELSE 0 END
      |     + CASE WHEN regexp_matches(text, '\bof\b') THEN 1 ELSE 0 END
      |     + CASE WHEN regexp_matches(text, '\band\b') THEN 1 ELSE 0 END
      |     + CASE WHEN regexp_matches(text, '\bto\b') THEN 1 ELSE 0 END)
      |      AS stop_hits
      |  FROM w),
      |f AS (
      |  SELECT doc_id, n_words, avg_word_len, symbol_ratio,
      |    alpha_word_ratio, CAST(stop_hits AS BIGINT) AS stop_hits,
      |    CASE WHEN n_words >= 40 AND n_words <= 100000 THEN 1 ELSE 0 END AS pass_words,
      |    CASE WHEN avg_word_len >= 4.2 AND avg_word_len <= 10.0 THEN 1 ELSE 0 END AS pass_word_len,
      |    CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS pass_symbols,
      |    CASE WHEN alpha_word_ratio >= 0.8 THEN 1 ELSE 0 END AS pass_alpha,
      |    CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS pass_stopwords
      |  FROM m)
      |SELECT doc_id, n_words, avg_word_len, symbol_ratio,
      |  alpha_word_ratio, stop_hits,
      |  CAST(pass_words AS BIGINT) AS pass_words,
      |  CAST(pass_word_len AS BIGINT) AS pass_word_len,
      |  CAST(pass_symbols AS BIGINT) AS pass_symbols,
      |  CAST(pass_alpha AS BIGINT) AS pass_alpha,
      |  CAST(pass_stopwords AS BIGINT) AS pass_stopwords,
      |  CAST(pass_words * pass_word_len * pass_symbols * pass_alpha
      |       * pass_stopwords AS BIGINT) AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  // C4-style line cleaning over the dd11 synthetic lining (3-token
  // lines) with deterministically planted structure so every rule
  // fires: even-position lines get a terminal '.', docs ≡0 (mod 13)
  // get a '{' on line 0 (the whole-page code rule), and the trailing
  // short chunk of most docs fails the min-word rule.
  val cl1C4Clean: Q = (s, dir) => {
    val t = docs(s, dir).select(col("doc_id"),
      split(col("text"), " +").as("tk"))
    val lined = t.select(col("doc_id"),
      array_join(transform(
          sequence(lit(1), greatest(size(col("tk")), lit(1)), lit(3)),
          i => concat(
            array_join(slice(col("tk"), i, lit(3)), " "),
            when((((i - lit(1)) / lit(3)).cast("long") % 2) === 0,
              lit(".")).otherwise(lit("")),
            when(col("doc_id") % 13 === 0 && i === 1, lit(" {"))
              .otherwise(lit("")))),
        "\n").as("text"))
    TextAnalysis.c4LineClean(lined, "doc_id", "text",
      delim = "\n", minLineWords = 3)
      .orderBy("doc_id")
  }

  val cl1Sql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      |           FROM documents),
      |lines AS (
      |  SELECT doc_id, (i - 1) // 3 AS pos,
      |    array_to_string(w[i:i+2], ' ')
      |      || CASE WHEN ((i - 1) // 3) % 2 = 0 THEN '.' ELSE '' END
      |      || CASE WHEN doc_id % 13 = 0 AND i = 1 THEN ' {' ELSE '' END
      |      AS line
      |  FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, greatest(len(w), 1), 3)) AS i
      |        FROM t) p),
      |k AS (
      |  SELECT doc_id, pos, line,
      |    (len(regexp_split_to_array(line, ' +')) >= 3
      |     AND regexp_matches(line, '[.!?"'']$')
      |     AND position('lorem ipsum' IN lower(line)) = 0
      |     AND position('javascript' IN lower(line)) = 0) AS keep,
      |    CASE WHEN position('{' IN line) > 0
      |           OR position('}' IN line) > 0 THEN 1 ELSE 0 END AS brace
      |  FROM lines)
      |SELECT doc_id, count(*) AS n_lines,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(1 - max(brace) AS BIGINT) AS doc_keep,
      |  coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
      |                      ORDER BY pos), '') AS clean_text
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // DSIR importance weights: target = the src0 slice, raw = the rest.
  // Hashed-bucket counts are exact; each per-bucket contribution lands
  // on the ×10⁶ grid before the per-doc sum (the rr1 discipline).
  val ir1DsirWeights: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "source", "text")
    pipeline.Curation.dsirWeights(
      d.filter(col("source") =!= "src0").select("doc_id", "text"),
      d.filter(col("source") === "src0").select("doc_id", "text"),
      "doc_id", "text", dim = 64)
      .orderBy("doc_id")
  }

  val ir1Sql: String =
    """WITH rt AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
      |    FROM documents WHERE source <> 'src0') WHERE tok <> ''),
      |db AS (
      |  SELECT doc_id,
      |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS bucket,
      |         count(*) AS c
      |  FROM rt GROUP BY 1, 2),
      |cr AS (SELECT bucket, sum(c) AS cr FROM db GROUP BY bucket),
      |tr AS (SELECT sum(cr) AS tr FROM cr),
      |tt0 AS (
      |  SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS bucket,
      |         count(*) AS ct
      |  FROM (SELECT unnest(string_split_regex(text, ' +')) AS tok
      |        FROM documents WHERE source = 'src0') WHERE tok <> ''
      |  GROUP BY 1),
      |tt AS (SELECT sum(ct) AS tt FROM tt0),
      |lam AS (
      |  SELECT cr.bucket,
      |    ln(CAST(coalesce(tt0.ct, 0) + 1 AS DOUBLE)
      |       / CAST(tt.tt + 64 AS DOUBLE))
      |    - ln(CAST(cr.cr + 1 AS DOUBLE) / CAST(tr.tr + 64 AS DOUBLE))
      |      AS lam
      |  FROM cr LEFT JOIN tt0 USING (bucket) CROSS JOIN tr CROSS JOIN tt)
      |SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_tokens,
      |  CAST(sum(CAST(floor((CAST(db.c AS DOUBLE) * lam.lam) * 1000000.0)
      |           AS BIGINT)) AS BIGINT) AS weight_micro
      |FROM db JOIN lam USING (bucket)
      |GROUP BY db.doc_id ORDER BY db.doc_id""".stripMargin

  // Positional phrase search: four fixed phrases (two with a repeated
  // word / longer span) over the corpus via the offset-normalized
  // postings join.
  private val rr2Phrases: Seq[(Long, String)] = Seq(
    0L -> "table table", 1L -> "customer query",
    2L -> "fast table value", 3L -> "the line sort")
  val rr2PhraseSearch: Q = (s, dir) =>
    pipeline.Retrieval.phraseSearch(docs(s, dir).select("doc_id", "text"),
      "doc_id", "text", rr2Phrases)
      .orderBy("phrase_id", "doc_id")

  val rr2Sql: String =
    """WITH p(phrase_id, off, term, plen) AS (VALUES
      |  (0, 0, 'table', 2), (0, 1, 'table', 2),
      |  (1, 0, 'customer', 2), (1, 1, 'query', 2),
      |  (2, 0, 'fast', 3), (2, 1, 'table', 3), (2, 2, 'value', 3),
      |  (3, 0, 'the', 3), (3, 1, 'line', 3), (3, 2, 'sort', 3)),
      |t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      |      FROM documents),
      |pos AS (
      |  SELECT doc_id, i - 1 AS pos, w[i] AS term
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
      |        FROM t) q),
      |j AS (
      |  SELECT p.phrase_id, pos.doc_id, pos.pos - p.off AS start, p.plen
      |  FROM pos JOIN p USING (term) WHERE pos.pos - p.off >= 0),
      |cov AS (
      |  SELECT phrase_id, doc_id, start, count(*) AS n_cov,
      |         max(plen) AS len
      |  FROM j GROUP BY 1, 2, 3),
      |m AS (SELECT phrase_id, doc_id, start FROM cov WHERE n_cov = len)
      |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
      |       count(*) AS n_matches, CAST(min(start) AS BIGINT) AS first_pos
      |FROM m GROUP BY 1, 2 ORDER BY phrase_id, doc_id""".stripMargin

  // Window-free per-source percentile cut: must keep the IDENTICAL
  // document set as qp1's percent_rank window — the oracle IS the
  // window form, so a hash match proves the equivalence on the gate.
  val qp2PercentileScalable: Q = (s, dir) =>
    pipeline.Curation.qualityPercentileFilterScalable(
      docs(s, dir).select("doc_id", "source", "text"),
      "doc_id", "text", "source", minPercentile = 0.75)
      .orderBy("doc_id")

  val qp2Sql: String =
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE)
      |      / (length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1)
      |      AS q_score
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, source, q_score,
      |         percent_rank() OVER (PARTITION BY source
      |                              ORDER BY q_score, doc_id) AS pct_rank
      |  FROM scored)
      |SELECT doc_id, source, q_score FROM ranked
      |WHERE pct_rank >= 0.75 ORDER BY doc_id""".stripMargin

  // Winnowing fingerprints (k=4 word grams, window w=8) over the
  // corpus: the windowed min runs over hash·2²⁰+pos packed longs, so
  // the selection (including equal-hash ties) replays exactly.
  val wn1Winnow: Q = (s, dir) =>
    Dedup.winnowFingerprints(docs(s, dir).select("doc_id", "text"),
      "doc_id", "text", k = 4, w = 8)
      .orderBy("doc_id", "fp_pos")

  val wn1Sql: String =
    s"""WITH ${winnowCteSql("documents", "a")}
      |SELECT doc_id, CAST(fp % 1048576 AS BIGINT) AS fp_pos,
      |       CAST(fp // 1048576 AS BIGINT) AS fp_hash
      |FROM asel ORDER BY doc_id, fp_pos""".stripMargin

  // Winnowing-fingerprint contamination: eval = 30-word truncations of
  // every tenth document (re-keyed), so each eval doc shares a long
  // run with exactly one train doc plus whatever short-gram noise the
  // tiny fixture vocabulary produces; minShared=2 screens the noise.
  val ct4WinnowContamination: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val ev = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(split(col("text"), " +"), 1, 30), " ").as("text"))
    pipeline.Contamination.winnowContamination(d, ev,
      "doc_id", "text", k = 4, w = 8, minShared = 2L)
      .orderBy("train_id", "eval_id")
  }

  /** The wn1 winnowing pipeline as oracle CTE text over an input CTE
    * `src(doc_id, text)`, prefixed so two instances compose in one
    * query. Emits `<p>sel(doc_id, fp)`.
    */
  private def winnowCteSql(src: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      |          FROM $src),
      |${p}g AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+3], ' ') AS gram
      |  FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, greatest(len(w) - 3, 1))) AS i
      |        FROM ${p}t) q),
      |${p}keyed AS (
      |  SELECT doc_id, pos,
      |    CAST('0x' || substr(md5(gram), 1, 10) AS BIGINT) * 1048576 + pos
      |      AS key
      |  FROM ${p}g),
      |${p}win AS (
      |  SELECT doc_id,
      |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
      |                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fp,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
      |    count(*) OVER (PARTITION BY doc_id) AS cnt
      |  FROM ${p}keyed),
      |${p}sel AS (SELECT DISTINCT doc_id, fp FROM ${p}win
      |            WHERE rn >= 8 OR rn = cnt)""".stripMargin

  val ct4Sql: String =
    s"""WITH ev0 AS (
      |  SELECT doc_id + 1000000 AS doc_id,
      |         array_to_string((regexp_split_to_array(text, ' +'))[1:30], ' ')
      |           AS text
      |  FROM documents WHERE doc_id % 10 = 0),
      |${winnowCteSql("documents", "a")},
      |${winnowCteSql("ev0", "b")},
      |tfp AS (SELECT DISTINCT doc_id AS train_id,
      |               CAST(fp // 1048576 AS BIGINT) AS fp_hash FROM asel),
      |efp AS (SELECT DISTINCT doc_id AS eval_id,
      |               CAST(fp // 1048576 AS BIGINT) AS fp_hash FROM bsel),
      |es AS (SELECT eval_id, count(*) AS n_eval_fps FROM efp GROUP BY 1),
      |j AS (SELECT train_id, eval_id, count(*) AS n_shared
      |      FROM tfp JOIN efp USING (fp_hash) GROUP BY 1, 2)
      |SELECT train_id, eval_id, n_shared, n_eval_fps,
      |       CAST(n_shared AS DOUBLE) / CAST(n_eval_fps AS DOUBLE)
      |         AS eval_coverage
      |FROM j JOIN es USING (eval_id) WHERE n_shared >= 2
      |ORDER BY train_id, eval_id""".stripMargin

  // BPE merge-candidate statistics: top-50 adjacent char pairs by
  // corpus-weighted count — everything after the word-frequency agg
  // is vocabulary-bounded.
  val bp1BpePairs: Q = (s, dir) =>
    TextAnalysis.bpePairCounts(docs(s, dir), "text", topK = 50)

  val bp1Sql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(text, ' +')) AS word
      |  FROM documents),
      |v AS (SELECT word, count(*) AS freq FROM toks
      |      WHERE length(word) >= 2 GROUP BY word),
      |wp AS (
      |  SELECT word, max(freq) AS freq, pair, count(*) AS occ
      |  FROM (SELECT word, freq, substr(word, i, 2) AS pair
      |        FROM (SELECT word, freq,
      |                     unnest(generate_series(1, length(word) - 1)) AS i
      |              FROM v) q)
      |  GROUP BY word, pair)
      |SELECT pair, count(*) AS n_words,
      |       CAST(sum(occ * freq) AS BIGINT) AS total_count
      |FROM wp GROUP BY pair
      |ORDER BY total_count DESC, pair LIMIT 50""".stripMargin

  // Iterative BPE merge learning: the oracle replays every round —
  // pair stats over the vocabulary, the (count DESC, pair ASC)
  // winner, and the boundary-guarded merge application — as a chain
  // of MATERIALIZED CTEs (DuckDB inlines single-reference CTEs, and
  // each round references its predecessor twice → exponential text
  // without MATERIALIZED, the gr1 lesson).
  private val bpeRounds = 8

  /** Shared CTE chain: toks → v → s0 → (p_k, b_k, s_k) per round.
    * s`rounds` is the fully merged vocabulary; b_k the round-k merge.
    * Once no pair is left, b_k is empty and its scalar subqueries are
    * NULL; `coalesce` then keeps every sequence as it is, as the
    * engine does (without it `replace` would NULL them all).
    */
  private def bpeCteSql(rounds: Int): String = {
    val head =
      """toks AS MATERIALIZED (
        |  SELECT unnest(string_split_regex(text, ' +')) AS word
        |  FROM documents),
        |v AS MATERIALIZED (
        |  SELECT word, count(*) AS freq FROM toks
        |  WHERE length(word) >= 1 GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, freq,
        |         regexp_replace(word, '(.)', '\1 ', 'g') || '</w>' AS seq
        |  FROM v)""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (
        |  SELECT sy[i] || ' ' || sy[i + 1] AS pair,
        |         sum(freq) AS pair_count
        |  FROM (SELECT freq, sy,
        |               unnest(generate_series(1, len(sy) - 1)) AS i
        |        FROM (SELECT freq, string_split(seq, ' ') AS sy
        |              FROM s${k - 1}) q0
        |        WHERE len(sy) >= 2) q1
        |  GROUP BY 1),
        |b$k AS MATERIALIZED (
        |  SELECT pair, pair_count FROM p$k
        |  ORDER BY pair_count DESC, pair LIMIT 1),
        |s$k AS MATERIALIZED (
        |  SELECT word, freq, coalesce(trim(replace(' ' || seq || ' ',
        |    (SELECT ' ' || pair || ' ' FROM b$k),
        |    (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM b$k))),
        |    seq) AS seq
        |  FROM s${k - 1})""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  val bp2BpeLearn: Q = (s, dir) =>
    TextAnalysis.bpeLearn(docs(s, dir), "text", rounds = bpeRounds)

  val bp2Sql: String = {
    val rows = (1 to bpeRounds).map { k =>
      s"""SELECT $k AS round, split_part(pair, ' ', 1) AS lhs,
        |       split_part(pair, ' ', 2) AS rhs,
        |       replace(pair, ' ', '') AS merged,
        |       CAST(pair_count AS BIGINT) AS pair_count
        |FROM b$k""".stripMargin
    }
    s"""WITH ${bpeCteSql(bpeRounds)}
      |${rows.mkString("\nUNION ALL\n")}
      |ORDER BY round""".stripMargin
  }

  val bp3BpeEncode: Q = (s, dir) =>
    TextAnalysis.bpeEncode(docs(s, dir), "source", "text",
      rounds = bpeRounds)

  val bp3Sql: String =
    s"""WITH ${bpeCteSql(bpeRounds)},
      |sw AS MATERIALIZED (
      |  SELECT source, word, count(*) AS n_occ
      |  FROM (SELECT source,
      |               unnest(string_split_regex(text, ' +')) AS word
      |        FROM documents) q
      |  WHERE length(word) >= 1 GROUP BY 1, 2),
      |tk AS MATERIALIZED (
      |  SELECT word, len(string_split(seq, ' ')) AS n_toks
      |  FROM s$bpeRounds)
      |SELECT source, CAST(sum(n_occ) AS BIGINT) AS n_words,
      |       CAST(sum(n_occ * n_toks) AS BIGINT) AS n_tokens,
      |       CAST((sum(n_occ * n_toks) * 1000000) // sum(n_occ)
      |            AS BIGINT) AS fert_ppm
      |FROM sw JOIN tk USING (word)
      |GROUP BY source ORDER BY source""".stripMargin

  // One-pass PCA moment sums: the corpus is touched once by the Gram
  // Aggregator; the oracle recomputes every (i ≤ j) product sum from
  // the same ×10⁶ coordinate grid, so the sums are exact integers in
  // both engines (the km1/pq1 discipline applied to second moments).
  val pc1GramSums: Q = (s, dir) =>
    graft.pipeline.Pca.gramSums(embs(s, dir), "vec_id", "embedding",
      dim = 64, shards = 8)
      // DECIMAL(38,0) moment sums cast to BIGINT for the driver's
      // pandas harness (km1 budget doc); |s_ij| max ~8e12 at sf0.01
      .select(col("i"), col("j"), col("n").cast("long").as("n"),
        checkedLong(col("s_i")).as("s_i"),
        checkedLong(col("s_j")).as("s_j"),
        checkedLong(col("s_ij")).as("s_ij"))

  val pc1Sql: String =
    """WITH eq AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |                        x -> CAST(floor(x * 1000000.0 + 0.5)
      |                                  AS BIGINT)) AS q
      |  FROM embeddings WHERE len(embedding) = 64),
      |ex AS MATERIALIZED (
      |  SELECT vec_id, i - 1 AS i, q[i] AS qi
      |  FROM (SELECT vec_id, q,
      |               unnest(generate_series(1, len(q))) AS i
      |        FROM eq) t)
      |SELECT a.i AS i, b.i AS j, count(*) AS n,
      |       CAST(sum(a.qi) AS BIGINT) AS s_i,
      |       CAST(sum(b.qi) AS BIGINT) AS s_j,
      |       CAST(sum(a.qi * b.qi) AS BIGINT) AS s_ij
      |FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
      |GROUP BY a.i, b.i ORDER BY i, j""".stripMargin

  // Count-min heavy hitters over the event stream's user key: the
  // sketch (depth 4 × width 32 — 150 distinct users at sf0.01, so
  // collisions are real and overcount > 0 rows attest the estimator,
  // not a degenerate exact copy) is rebuilt by the oracle from the
  // same md5 lane family, so the ESTIMATES hash-match, not just the
  // exact side.
  val hh1CmsHeavyHitters: Q = (s, dir) =>
    graft.pipeline.Sketch.cmsHeavyHitters(
      Tables.load(s, dir, "events"), "user_id",
      depth = 4, width = 32, topK = 20)

  val hh1Sql: String =
    """WITH l AS (
      |  SELECT user_id,
      |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7)
      |              AS BIGINT) AS a,
      |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 8, 7)
      |              AS BIGINT) AS b
      |  FROM events),
      |lb AS (
      |  SELECT user_id, i AS lane,
      |         ((a + (i + 1) * b) % 1000000007) % 32 AS bucket
      |  FROM l, (SELECT unnest(generate_series(0, 3)) AS i) lanes),
      |sk AS (SELECT lane, bucket, count(*) AS cnt
      |       FROM lb GROUP BY 1, 2),
      |ex AS (SELECT user_id, count(*) AS exact_cnt FROM events
      |       GROUP BY user_id ORDER BY exact_cnt DESC, user_id LIMIT 20),
      |pr AS (
      |  SELECT e.user_id, e.exact_cnt, i AS lane,
      |         ((CAST('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 7)
      |                AS BIGINT)
      |           + (i + 1) *
      |           CAST('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 8, 7)
      |                AS BIGINT)) % 1000000007) % 32 AS bucket
      |  FROM ex e, (SELECT unnest(generate_series(0, 3)) AS i) lanes)
      |SELECT pr.user_id, pr.exact_cnt, min(sk.cnt) AS cms_est,
      |       min(sk.cnt) - pr.exact_cnt AS overcount
      |FROM pr JOIN sk USING (lane, bucket)
      |GROUP BY pr.user_id, pr.exact_cnt
      |ORDER BY exact_cnt DESC, user_id""".stripMargin

  // Label-propagation communities over the same customer<->supplier
  // purchase graph gr1 ranks: integer labels, deterministic
  // (count DESC, label ASC) votes with a self-vote, so all 4
  // synchronous rounds replay as chained materialized CTEs.
  val lp1LabelProp: Q = (s, dir) => {
    val ord = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val cs = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    pipeline.Communities.labelPropagation(cs, "src", "dst", iters = 4)
      .orderBy("node")
  }

  private def lpaIterCtes(iters: Int): String =
    (1 to iters).map { k =>
      s"""v$k AS MATERIALIZED (
        |  SELECT node, lbl, count(*) AS c FROM (
        |    SELECT e.dst AS node, l.lbl
        |    FROM edges e JOIN l${k - 1} l ON l.node = e.src
        |    UNION ALL
        |    SELECT node, lbl FROM l${k - 1}) q
        |  GROUP BY node, lbl),
        |l$k AS MATERIALIZED (
        |  SELECT node, lbl FROM (
        |    SELECT node, lbl,
        |           row_number() OVER (PARTITION BY node
        |                              ORDER BY c DESC, lbl) AS rn
        |    FROM v$k) q WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  val lp1Sql: String =
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |edges AS MATERIALIZED (
      |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |l0 AS MATERIALIZED (
      |  SELECT DISTINCT src AS node, src AS lbl FROM edges),
      |${lpaIterCtes(4)}
      |SELECT node, lbl AS community FROM l4 ORDER BY node""".stripMargin

  // Per-node triangle counts / clustering coefficients over the
  // supplier co-purchase kNN graph: each supplier keeps its 10
  // strongest co-purchase partners ((weight DESC, partner ASC) ties),
  // union-symmetrized — the standard similarity-graph construction,
  // and the one that survives SF growth: the raw co-purchase graph
  // DENSIFIES with scale (complete at sf0.01 already), while the
  // kNN graph is ≤ 2k·|V| edges at any SF, so the wedge join's input
  // is degree-bounded by construction. The pair build itself carries
  // a basket guard: the per-order self-join is QUADRATIC in basket
  // size, so baskets above 64 lines are dropped before pairing — a
  // degenerate giant basket (the skew fixture routes 30% of all
  // lineitems to ONE order) is boilerplate, not co-purchase signal,
  // and would otherwise cost |basket|² rows. Same discipline as
  // Dedup's stop-shingle / hot-bucket guards. Orientation, wedge
  // pairing and the ppm coefficient are all integer arithmetic — the
  // oracle replays the guard, the selection and the compact-forward
  // computation.
  /** The supplier co-purchase 10-NN graph shared by tr1 and kc1:
    * basket-guarded pair counts (the >64-line guard is one-sided —
    * the equi-join on l_orderkey excludes the whole basket, and the
    * guard agg runs once, not once per self-join side), then each
    * node keeps its 10 strongest partners.
    */
  private def coPurchaseKnn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li0 = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val bad = li0.groupBy("l_orderkey").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 64).select("l_orderkey")
    val li = li0.join(broadcast(bad), Seq("l_orderkey"), "left_anti")
    val l2 = li0.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val wp = li.join(l2, col("l_orderkey") === col("o2") &&
        col("l_suppkey") < col("s2"))
      .select(col("l_suppkey").as("a"), col("s2").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
    val partners = wp.select(col("a").as("node"), col("b").as("p"), col("w"))
      .unionByName(wp.select(col("b").as("node"), col("a").as("p"), col("w")))
    partners.withColumn("__rn", row_number().over(
        Window.partitionBy("node").orderBy(col("w").desc, col("p"))))
      .filter(col("__rn") <= 10)
      .select("node", "p")
  }

  val tr1TriangleStats: Q = (s, dir) =>
    pipeline.Communities.triangleStats(coPurchaseKnn(s, dir), "node", "p")
      .orderBy("node")

  /** The co-purchase 10-NN CTE chain shared by tr1 and kc1 (the SQL
    * twin of [[coPurchaseKnn]]): basket guard, pair weights, per-node
    * top-10, canonical undirected edges as e0(a, b).
    */
  private val knnCtesSql: String =
    """ok AS MATERIALIZED (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING count(*) <= 64),
      |li AS MATERIALIZED (
      |  SELECT l_orderkey, l_suppkey FROM lineitem
      |  WHERE l_orderkey IN (SELECT l_orderkey FROM ok)),
      |wp AS MATERIALIZED (
      |  SELECT l1.l_suppkey AS a, l2.l_suppkey AS b, count(*) AS w
      |  FROM li l1 JOIN li l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
      |  GROUP BY 1, 2),
      |pt AS MATERIALIZED (
      |  SELECT a AS node, b AS p, w FROM wp
      |  UNION ALL
      |  SELECT b AS node, a AS p, w FROM wp),
      |tk AS MATERIALIZED (
      |  SELECT node, p FROM (
      |    SELECT node, p,
      |           row_number() OVER (PARTITION BY node
      |                              ORDER BY w DESC, p) AS rn
      |    FROM pt) q WHERE rn <= 10),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT least(node, p) AS a, greatest(node, p) AS b
      |  FROM tk)""".stripMargin

  val tr1Sql: String =
    s"""WITH $knnCtesSql,
      |deg AS MATERIALIZED (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) q
      |  GROUP BY node),
      |oe AS MATERIALIZED (
      |  SELECT CASE WHEN da.deg < db.deg
      |                OR (da.deg = db.deg AND a < b) THEN a ELSE b END AS u,
      |         CASE WHEN da.deg < db.deg
      |                OR (da.deg = db.deg AND a < b) THEN b ELSE a END AS v
      |  FROM e0
      |  JOIN deg da ON da.node = a
      |  JOIN deg db ON db.node = b),
      |tri AS MATERIALIZED (
      |  SELECT o1.u AS x, o1.v AS y, o2.v AS z
      |  FROM oe o1
      |  JOIN oe o2 ON o1.u = o2.u
      |  JOIN deg dv ON dv.node = o1.v
      |  JOIN deg dw ON dw.node = o2.v
      |  JOIN oe o3 ON o3.u = o1.v AND o3.v = o2.v
      |  WHERE dv.deg < dw.deg OR (dv.deg = dw.deg AND o1.v < o2.v)),
      |pn AS (
      |  SELECT node, count(*) AS tri FROM (
      |    SELECT x AS node FROM tri UNION ALL
      |    SELECT y FROM tri UNION ALL
      |    SELECT z FROM tri) q
      |  GROUP BY node)
      |SELECT d.node, d.deg, COALESCE(pn.tri, 0) AS tri,
      |       d.deg * (d.deg - 1) // 2 AS wedges,
      |       CASE WHEN d.deg >= 2
      |            THEN (1000000 * COALESCE(pn.tri, 0))
      |                 // (d.deg * (d.deg - 1) // 2)
      |            ELSE 0 END AS lcc_ppm
      |FROM deg d LEFT JOIN pn ON pn.node = d.node
      |ORDER BY d.node""".stripMargin

  // k-core peel trajectory on the same co-purchase 10-NN graph: at
  // k = 11 the fixture cascades 100 -> 77 -> 37 -> 2 -> 0 over four
  // rounds (a REAL iterative peel — each drop lowers neighbors'
  // degrees below k), and the fixed 6-round budget's idempotent 0/0
  // tail is attested in-band. All counts exact integers.
  val kc1KCoreProfile: Q = (s, dir) =>
    pipeline.Communities.kCoreProfile(coPurchaseKnn(s, dir), "node", "p",
      k = 11, rounds = 6).orderBy("round")

  private def kCoreIterCtes(k: Int, rounds: Int): String =
    (1 to rounds).map { r =>
      s"""kp$r AS MATERIALIZED (
        |  SELECT src AS node FROM l${r - 1}
        |  GROUP BY src HAVING count(*) >= $k),
        |l$r AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM l${r - 1} e
        |  JOIN kp$r a ON a.node = e.src
        |  JOIN kp$r b ON b.node = e.dst)""".stripMargin
    }.mkString(",\n")

  val kc1Sql: String = {
    val roundRows = (0 to 6).map { r =>
      s"""SELECT $r AS round,
        |       (SELECT count(DISTINCT src) FROM l$r) AS nodes,
        |       (SELECT count(*) // 2 FROM l$r) AS edges""".stripMargin
    }
    s"""WITH $knnCtesSql,
      |l0 AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM e0 WHERE a <> b
      |  UNION
      |  SELECT b AS src, a AS dst FROM e0 WHERE a <> b),
      |${kCoreIterCtes(11, 6)}
      |${roundRows.mkString("\nUNION ALL\n")}
      |ORDER BY round""".stripMargin
  }

  // HyperLogLog distinct users per event type: registers and the
  // scaled harmonic sum are exact integers rebuilt by the oracle from
  // the same md5 hash bits (the hh1 pattern applied to cardinality);
  // the estimate is a fixed chain of IEEE ops on those integers. At
  // m = 64 and ~150 distinct users the small-range (linear counting)
  // branch is exercised with real zero buckets.
  val hl1HllDistinct: Q = (s, dir) =>
    graft.pipeline.Sketch.hllDistinctReport(
      Tables.load(s, dir, "events"), "user_id", "event_type")
      .orderBy("event_type")

  private def hllRhoCaseSql(w: Int): String = {
    val arms = (1 to w).map { k =>
      s"WHEN s % ${1L << k} = ${1L << (k - 1)} THEN $k"
    }
    (s"CASE WHEN s = 0 THEN ${w + 1}" +: arms).mkString(" ") + " END"
  }

  val hl1Sql: String =
    s"""WITH h AS (
      |  SELECT event_type,
      |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
      |              AS BIGINT) AS h
      |  FROM events),
      |r0 AS (
      |  SELECT event_type, h % 64 AS bucket, (h // 64) % 65536 AS s
      |  FROM h),
      |reg AS MATERIALIZED (
      |  SELECT event_type, bucket, max(${hllRhoCaseSql(16)}) AS mj
      |  FROM r0 GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.event_type, g.bucket
      |  FROM (SELECT DISTINCT event_type FROM events) t,
      |       (SELECT unnest(generate_series(0, 63)) AS bucket) g),
      |fr AS (
      |  SELECT grid.event_type, grid.bucket, COALESCE(reg.mj, 0) AS mj
      |  FROM grid LEFT JOIN reg
      |    ON reg.event_type = grid.event_type
      |   AND reg.bucket = grid.bucket),
      |sums AS (
      |  SELECT event_type,
      |         sum(CAST(1 AS BIGINT) << (17 - mj)) AS harmonic_scaled,
      |         sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS zeros
      |  FROM fr GROUP BY 1),
      |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_cnt
      |       FROM events GROUP BY 1)
      |SELECT s.event_type, ex.exact_cnt,
      |       CAST(s.zeros AS BIGINT) AS zeros,
      |       CAST(s.harmonic_scaled AS BIGINT) AS harmonic_scaled,
      |       CASE WHEN (0.709 * 4096.0 * 131072.0 / harmonic_scaled)
      |                 <= 160.0 AND zeros > 0
      |            THEN 64.0 * ln(64.0 / zeros)
      |            ELSE 0.709 * 4096.0 * 131072.0 / harmonic_scaled
      |       END AS hll_est
      |FROM sums s JOIN ex USING (event_type)
      |ORDER BY event_type""".stripMargin

  // Fractional epoch up-sampling: src0 x2.5, src1 x0.25, src2 x3.0,
  // everything else x1.0 — the per-document extra-copy decision is a
  // ppm hash threshold the oracle replays, and the copies themselves
  // are a generate_series join.
  val up1EpochUpsample: Q = (s, dir) =>
    pipeline.Sampling.epochUpsample(docs(s, dir), "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 3.0), seed = 7L)
      .orderBy("doc_id", "epoch_copy")

  val up1Sql: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |         CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
      |                     WHEN 'src2' THEN 3 ELSE 1 END
      |         + CASE WHEN (CAST('0x' ||
      |               substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15)
      |               AS BIGINT) % 1000000)
      |             < CASE source WHEN 'src0' THEN 500000
      |                           WHEN 'src1' THEN 250000
      |                           ELSE 0 END
      |            THEN 1 ELSE 0 END AS reps
      |  FROM documents)
      |SELECT doc_id, source, u.epoch_copy
      |FROM r, UNNEST(generate_series(1, r.reps)) u(epoch_copy)
      |ORDER BY doc_id, epoch_copy""".stripMargin

  // The full training-order materialization: the up1 mixture (epochs
  // per source) fed through the deterministic global shuffle — every
  // copy lands in a hash shard with a stable within-shard ordinal.
  // The oracle replays the whole composition: repeats, copies, hash,
  // shard, and the (hash, key) row_number.
  val sh1ShuffleShards: Q = (s, dir) => {
    val mixed = pipeline.Sampling.epochUpsample(docs(s, dir), "doc_id",
      "source", Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 3.0),
      seed = 7L)
    pipeline.Sampling.shuffleShards(mixed,
      Seq("doc_id", "epoch_copy"), nShards = 8, seed = 11L)
      .orderBy("shard", "pos")
  }

  val sh1Sql: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |         CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
      |                     WHEN 'src2' THEN 3 ELSE 1 END
      |         + CASE WHEN (CAST('0x' ||
      |               substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15)
      |               AS BIGINT) % 1000000)
      |             < CASE source WHEN 'src0' THEN 500000
      |                           WHEN 'src1' THEN 250000
      |                           ELSE 0 END
      |            THEN 1 ELSE 0 END AS reps
      |  FROM documents),
      |mixed AS (
      |  SELECT doc_id, source, u.epoch_copy
      |  FROM r, UNNEST(generate_series(1, r.reps)) u(epoch_copy)),
      |hashed AS (
      |  SELECT doc_id, source, epoch_copy,
      |         CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)
      |               || ':' || CAST(epoch_copy AS VARCHAR)), 1, 15)
      |              AS BIGINT) AS h
      |  FROM mixed)
      |SELECT doc_id, source, epoch_copy, h % 8 AS shard,
      |       CAST(row_number() OVER (PARTITION BY h % 8
      |                               ORDER BY h, doc_id, epoch_copy)
      |            AS INT) AS pos
      |FROM hashed ORDER BY shard, pos""".stripMargin

  // Term-distribution drift between the df1 snapshot pair: v2 is v1
  // with the same deterministic delete/edit/insert. The edit plants a
  // literal "v2" token (new_terms > 0 guaranteed), the delete drops
  // mass. Exact token/vocab/new/dropped integers; the KL sum is
  // grid-floored per term before summing, so both engines fold
  // integers.
  val dr1TermDrift: Q = (s, dir) => {
    val v1 = docs(s, dir).select("doc_id", "text", "source")
    val v2 = v1.filter(pmod(col("doc_id"), lit(19)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"),
        col("source"))
      .unionByName(
        v1.filter(pmod(col("doc_id"), lit(31)) === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            col("text"), col("source")))
    pipeline.TextAnalysis.termDrift(v1, v2, "source", "text")
      .orderBy("source")
  }

  val dr1Sql: String =
    """WITH v1 AS (SELECT doc_id, text, source FROM documents),
      |v2 AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END
      |           AS text,
      |         source
      |  FROM v1 WHERE doc_id % 19 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, source
      |  FROM v1 WHERE doc_id % 31 = 0),
      |cnt AS MATERIALIZED (
      |  SELECT source, term,
      |         sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS c1,
      |         sum(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS c2
      |  FROM (
      |    SELECT source, unnest(string_split_regex(text, ' +')) AS term,
      |           1 AS v FROM v1
      |    UNION ALL
      |    SELECT source, unnest(string_split_regex(text, ' +')) AS term,
      |           2 AS v FROM v2) q
      |  WHERE length(term) >= 1
      |  GROUP BY source, term),
      |tot AS MATERIALIZED (
      |  SELECT source, sum(c1) AS tokens_v1, sum(c2) AS tokens_v2,
      |         count(*) AS vocab_union,
      |         sum(CASE WHEN c1 = 0 THEN 1 ELSE 0 END) AS new_terms,
      |         sum(CASE WHEN c2 = 0 THEN 1 ELSE 0 END) AS dropped_terms
      |  FROM cnt GROUP BY source),
      |con AS (
      |  SELECT cnt.source,
      |         CAST(floor(((c2 + 1.0) / (tokens_v2 + vocab_union)) *
      |              ln(((c2 + 1.0) / (tokens_v2 + vocab_union)) /
      |                 ((c1 + 1.0) / (tokens_v1 + vocab_union))) *
      |              1000000000.0) AS BIGINT) AS contrib
      |  FROM cnt JOIN tot ON tot.source = cnt.source)
      |SELECT t.source, CAST(t.tokens_v1 AS BIGINT) AS tokens_v1,
      |       CAST(t.tokens_v2 AS BIGINT) AS tokens_v2, t.vocab_union,
      |       CAST(t.new_terms AS BIGINT) AS new_terms,
      |       CAST(t.dropped_terms AS BIGINT) AS dropped_terms,
      |       CAST(c.kl_nnats AS BIGINT) AS kl_nnats
      |FROM tot t JOIN (
      |  SELECT source, sum(contrib) AS kl_nnats FROM con GROUP BY source) c
      |  ON c.source = t.source
      |ORDER BY t.source""".stripMargin

  // ---------------- round-10 wave 3: lake maintenance, privacy,
  // ---------------- index materialization, web + script hygiene

  // Schema evolution across writer versions: two batches with
  // different column sets land under one root; the merged read
  // null-fills each batch's missing columns AT THE SCAN (mergeSchema
  // unions footer schemas at planning time — no post-scan join) and
  // the directory name surfaces as the `batch` partition column. The
  // oracle replays the union with explicit typed NULLs.
  val se1SchemaEvolution: Q = (s, dir) => {
    val d = docs(s, dir)
    val root = fmtDir(dir, "evo")
    // clear stale batches: unlike the single-dir fm* writers, a
    // leftover batch=* dir from an older run would leak into the scan
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    sources.Evolution.writeBatch(
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "text", "lang"),
      root, "v1")
    sources.Evolution.writeBatch(
      d.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "source", "n_chars"),
      root, "v2")
    sources.Evolution.readMerged(s, root)
      .select("doc_id", "text", "lang", "source", "n_chars", "batch")
      .orderBy("doc_id")
  }

  val se1Sql: String =
    """SELECT doc_id, text, lang, CAST(NULL AS VARCHAR) AS source,
      |       CAST(NULL AS BIGINT) AS n_chars, 'v1' AS batch
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id, text, CAST(NULL AS VARCHAR), source, n_chars, 'v2'
      |FROM documents WHERE doc_id % 2 = 1
      |ORDER BY doc_id""".stripMargin

  // Small-file compaction plan: deterministic rank-div file
  // assignment over the (l_orderkey, l_linenumber) unique key — the
  // manifest (row counts + per-file key ranges) a compactor publishes
  // before swapping files in. The key ranges ARE the footer-stats
  // data-skipping property the rewrite buys. sources.Compaction
  // doc-comments the sampled-repartitionByRange trade-off; SourcesSpec
  // attests the physical writer produces exactly one file per id.
  val fc1CompactionPlan: Q = (s, dir) =>
    sources.Compaction.plan(
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Seq("l_orderkey", "l_linenumber"), targetRows = 10000L)
      .orderBy("file_id")

  val fc1Sql: String =
    """WITH r AS (
      |  SELECT l_orderkey,
      |         row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1
      |           AS rn
      |  FROM lineitem)
      |SELECT rn // 10000 AS file_id, count(*) AS n_rows,
      |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
      |FROM r GROUP BY 1 ORDER BY file_id""".stripMargin

  // k-anonymity audit over customer quasi-identifiers (nation ×
  // thousand-bucketed balance), stratified by market segment: class
  // counts, the per-stratum anonymity level (smallest class) and the
  // rows re-identifiable below k=5. Generalization expressions are
  // the caller's knob — the bucket width here is the audit's point.
  val ka1KAnonymity: Q = (s, dir) =>
    pipeline.Privacy.kAnonymityProfile(
      Tables.load(s, dir, "customer"), col("c_mktsegment"),
      Seq(col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long")),
      k = 5L)
      .orderBy("stratum")

  val ka1Sql: String =
    """WITH cls AS (
      |  SELECT c_mktsegment AS stratum, c_nationkey,
      |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
      |         count(*) AS sz
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT stratum, count(*) AS n_classes, min(sz) AS k_anonymity,
      |       CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS risky_classes,
      |       CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
      |         AS risky_rows,
      |       CAST(sum(sz) AS BIGINT) AS n_rows,
      |       CAST((sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 10000)
      |         // sum(sz) AS BIGINT) AS risky_pct_bp
      |FROM cls GROUP BY stratum ORDER BY stratum""".stripMargin

  // Delta-encoded inverted index (df 5..100000 band): posting-list
  // gaps per term plus the Σ-gaps checksum; the artifact rr1/rr2
  // logically rebuild per run and a 100 TB corpus materializes once.
  // The operator returns the gap list as ARRAY<BIGINT> (the layout a
  // consumer wants); the gate entry serializes it to a comma-joined
  // VARCHAR because the driver harness cannot sort/hash list columns
  // (CORRECTNESS_r10: "unhashable type: 'numpy.ndarray'").
  private def joinPostings(df: DataFrame): DataFrame =
    df.withColumn("postings_delta",
      array_join(col("postings_delta").cast("array<string>"), ","))

  val ii1InvertedIndex: Q = (s, dir) =>
    joinPostings(pipeline.Retrieval.invertedIndex(
      docs(s, dir).select("doc_id", "text"), "doc_id", "text",
      minDf = 5L, maxDf = 100000L))
      .orderBy("term")

  val ii1Sql: String =
    """WITH tok AS (
      |  SELECT DISTINCT t.term AS term, d.doc_id AS doc
      |  FROM documents d,
      |       unnest(regexp_split_to_array(lower(d.text), '[^a-z]+'))
      |         AS t(term)
      |  WHERE length(t.term) >= 3),
      |g AS (
      |  SELECT term, doc,
      |         doc - lag(doc, 1, 0) OVER (
      |           PARTITION BY term ORDER BY doc) AS delta
      |  FROM tok)
      |SELECT term, count(*) AS df,
      |       array_to_string(list(delta ORDER BY doc), ',')
      |         AS postings_delta,
      |       CAST(sum(delta) AS BIGINT) AS max_doc
      |FROM g GROUP BY term
      |HAVING count(*) BETWEEN 5 AND 100000
      |ORDER BY term""".stripMargin

  // Character-class (script) distribution per language bucket — the
  // langid-QA / encoding-corruption signal. Map-only length-diff
  // counting (never a per-character explode), one partial agg.
  val tx14ScriptProfile: Q = (s, dir) =>
    pipeline.TextAnalysis.scriptProfile(docs(s, dir), "lang", "text")
      .orderBy("lang")

  val tx14Sql: String = {
    def cc(re: String, as: String): String =
      s"CAST(sum(length(text) - length(regexp_replace(text, '$re', '', 'g'))) AS BIGINT) AS $as"
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |  ${cc("[A-Za-z]", "letters")},
       |  ${cc("[0-9]", "digits")},
       |  ${cc("[ ]", "spaces")},
       |  ${cc("[^ -~]", "non_printable")}
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  // URL canonicalization + per-registered-domain rollup. The
  // documents fixture has no URL column, so the entry derives one
  // DETERMINISTICALLY from (lang, source, doc_id) — mixed-case
  // scheme/host, www prefix, query string, fragment, trailing slash —
  // specifically so every canonicalization rule fires on every row;
  // the OPERATOR under test is Web.canonicalUrl/domainStats, and the
  // oracle replays both the derivation and the cleanup rule-for-rule.
  val ur1DomainStats: Q = (s, dir) => {
    val pages = docs(s, dir).withColumn("url",
      concat(lit("HTTPS://www."), col("lang"), lit("."), col("source"),
        lit("-site.COM/p/"), col("doc_id"), lit("/?utm=x&ref="),
        col("source"), lit("#s"), col("doc_id") % 7))
    pipeline.Web.domainStats(pages, "url", "n_chars")
      .orderBy("domain")
  }

  val ur1Sql: String =
    """WITH u AS (
      |  SELECT concat('HTTPS://www.', lang, '.', source, '-site.COM/p/',
      |                doc_id, '/?utm=x&ref=', source, '#s', doc_id % 7)
      |           AS url, n_chars
      |  FROM documents),
      |c AS (
      |  SELECT regexp_replace(regexp_replace(regexp_replace(
      |           regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://', ''),
      |           '^www\.', ''), '[?#].*$', ''), '/+$', '') AS canon,
      |         n_chars
      |  FROM u),
      |h AS (
      |  SELECT regexp_replace(canon, '/.*$', '') AS host, n_chars FROM c),
      |ph AS (
      |  SELECT regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
      |         host, count(*) AS pages, sum(n_chars) AS chars
      |  FROM h GROUP BY 1, 2)
      |SELECT domain, count(*) AS n_hosts,
      |       CAST(sum(pages) AS BIGINT) AS n_pages,
      |       CAST(sum(chars) AS BIGINT) AS total_chars
      |FROM ph GROUP BY domain ORDER BY domain""".stripMargin

  // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical leg
  // (rr1's five queries) with a semantic cosine leg (query vectors
  // 0..4 over the embeddings table, brute top-10). Contributions are
  // 10⁹ div (60 + rank) — exact integers — so the fused ranking is
  // fold-order and cross-engine exact; the oracle replays BOTH legs
  // end to end and the fusion arithmetic.
  val rr3RrfFusion: Q = (s, dir) => {
    val lex = pipeline.Retrieval.bm25TopK(
      docs(s, dir).select("doc_id", "text"), "doc_id", "text",
      rr1Queries, k1 = 1.2, b = 0.75, topK = 10)
      .select("query_id", "doc_id", "rank")
    val e = embs(s, dir).select("vec_id", "embedding")
    val sem = Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e,
      "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    pipeline.Retrieval.rrfFuse(Seq(lex, sem), "query_id", "doc_id",
      "rank", kRrf = 60, topK = 10)
      .orderBy("query_id", "rank")
  }

  val rr3Sql: String = {
    // the lexical leg is rr1's oracle verbatim, demoted to CTEs
    val lexCtes = rr1Sql
      .replaceFirst("(?s)SELECT CAST\\(query_id AS BIGINT\\).*$", "")
      .trim.stripSuffix(",")
    s"""$lexCtes,
       |lex AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank
       |  FROM r WHERE rank <= 10),
       |sem AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |         row_number() OVER (
       |           PARTITION BY q.vec_id
       |           ORDER BY list_cosine_similarity(
       |             CAST(q.embedding AS DOUBLE[]),
       |             CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id < 5
       |  QUALIFY rank <= 10),
       |u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
       |f AS (
       |  SELECT query_id, doc_id,
       |         CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_nano,
       |         count(*) AS n_lists
       |  FROM u GROUP BY 1, 2)
       |SELECT query_id, doc_id, rrf_nano, n_lists,
       |       CAST(row_number() OVER (
       |         PARTITION BY query_id
       |         ORDER BY rrf_nano DESC, doc_id) AS INT) AS rank
       |FROM f QUALIFY rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  // Incremental index maintenance: the corpus is split append-only at
  // doc_id 400 (old batch / new batch), each side builds its own
  // index, and mergeIndexes stitches the gap lists through ONE
  // |vocab|-row full-outer join — the old corpus is never re-read.
  // The oracle is ii1's batch-rebuild SQL over the FULL corpus:
  // hash equality PROVES incremental merge ≡ full rebuild (the dd7
  // incremental-dedup attestation pattern).
  val ii2IncrementalIndex: Q = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val oldIdx = pipeline.Retrieval.invertedIndex(
      d.filter(col("doc_id") < 400), "doc_id", "text",
      minDf = 1L, maxDf = Long.MaxValue)
    val newIdx = pipeline.Retrieval.invertedIndex(
      d.filter(col("doc_id") >= 400), "doc_id", "text",
      minDf = 1L, maxDf = Long.MaxValue)
    joinPostings(pipeline.Retrieval.mergeIndexes(oldIdx, newIdx)
      .filter(col("df") >= 5 && col("df") <= 100000))
      .orderBy("term")
  }

  // Linear quality-classifier inference over hashing-trick features:
  // 64-bucket features (fh1's portable-hash lane), a deterministic
  // stand-in weight table in integer milli-units (a REAL deployment
  // broadcasts trained weights; the formulaic table below exists so
  // the oracle can re-derive the model — the mm* stub discipline),
  // per-doc logit as an exact long dot product, accept = z > 0,
  // rolled up per source.
  val ql1QualityLogistic: Q = (s, dir) => {
    val d = docs(s, dir)
    val weights = s.range(64).select(col("id").as("bucket"),
      (col("id") * 2654435761L % 1001L - 500L).as("w_milli"))
    val feats = pipeline.Features.hashingTrick(
      d.select("doc_id", "text"), "doc_id", "text", dim = 64)
    val scored = pipeline.Features.logitScore(feats, "doc_id", weights)
    scored.join(d.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("accept"), 1L).otherwise(0L)).as("n_accept"),
        sum("z_milli").as("sum_z_milli"))
      .withColumn("accept_bp", expr("n_accept * 10000 div n_docs"))
      .orderBy("source")
  }

  val ql1Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id,
      |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS bucket,
      |         count(*) AS n_hits
      |  FROM toks WHERE tok <> '' GROUP BY doc_id, bucket),
      |w AS (
      |  SELECT b AS bucket, b * 2654435761 % 1001 - 500 AS w_milli
      |  FROM (SELECT unnest(generate_series(0, 63)) AS b)),
      |z AS (
      |  SELECT doc_id, CAST(sum(n_hits * w_milli) AS BIGINT) AS z_milli
      |  FROM feats JOIN w USING (bucket) GROUP BY doc_id)
      |SELECT d.source, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN z.z_milli > 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_accept,
      |       CAST(sum(z.z_milli) AS BIGINT) AS sum_z_milli,
      |       CAST((sum(CASE WHEN z.z_milli > 0 THEN 1 ELSE 0 END) * 10000)
      |         // count(*) AS BIGINT) AS accept_bp
      |FROM z JOIN documents d USING (doc_id)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // Per-source data card over a corpus with planted exact duplicates
  // (docs 0..49 re-keyed, the dd1 plant) so the dup-rate column is
  // exercised: volumes, language spread, duplicate rate, short-doc
  // share — one scan family, one plan.
  val ca2CorpusCard: Q = (s, dir) => {
    val d = docs(s, dir)
    val planted = d.unionByName(d.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 3000000L))
    pipeline.Profiling.corpusCard(planted, "source", "lang", "text",
      shortChars = 100)
      .orderBy("source")
  }

  val ca2Sql: String =
    """WITH planted AS (
      |  SELECT source, lang, text FROM documents
      |  UNION ALL
      |  SELECT source, lang, text FROM documents WHERE doc_id < 50),
      |base AS (
      |  SELECT source, lang, md5(text) AS h, length(text) AS chars,
      |         len(string_split_regex(text, ' +')) AS toks
      |  FROM planted),
      |bh AS (
      |  SELECT source, h, count(*) AS n, sum(chars) AS c, sum(toks) AS t,
      |         sum(CASE WHEN chars < 100 THEN 1 ELSE 0 END) AS sh
      |  FROM base GROUP BY source, h),
      |s1 AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
      |         count(*) AS n_unique,
      |         CAST(sum(n) - count(*) AS BIGINT) AS dup_docs,
      |         CAST(sum(c) AS BIGINT) AS total_chars,
      |         CAST(sum(t) AS BIGINT) AS total_tokens,
      |         CAST(sum(sh) AS BIGINT) AS short_docs
      |  FROM bh GROUP BY source),
      |s2 AS (
      |  SELECT source, count(*) AS n_langs
      |  FROM (SELECT DISTINCT source, lang FROM base) GROUP BY source)
      |SELECT s1.*, s2.n_langs FROM s1 JOIN s2 USING (source)
      |ORDER BY source""".stripMargin

  // l-diversity audit over orders: QI = (order month, customer
  // hundred-block), sensitive = order status, stratified by priority.
  // A class can be k-anonymous (many orders) yet homogeneous in
  // status — exactly what this catches and ka1 cannot.
  val ka2LDiversity: Q = (s, dir) =>
    pipeline.Privacy.lDiversityProfile(
      Tables.load(s, dir, "orders"), col("o_orderpriority"),
      Seq(month(col("o_orderdate")), expr("o_custkey div 100")),
      col("o_orderstatus"), l = 2L)
      .orderBy("stratum")

  val ka2Sql: String =
    """WITH pv AS (
      |  SELECT o_orderpriority AS stratum, month(o_orderdate) AS m,
      |         o_custkey // 100 AS cb, o_orderstatus AS sv,
      |         count(*) AS rows_v
      |  FROM orders GROUP BY 1, 2, 3, 4),
      |pc AS (
      |  SELECT stratum, m, cb, count(*) AS dvr, sum(rows_v) AS sz
      |  FROM pv GROUP BY 1, 2, 3)
      |SELECT stratum, count(*) AS n_classes, min(dvr) AS l_diversity,
      |       CAST(sum(CASE WHEN dvr < 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS homog_classes,
      |       CAST(sum(CASE WHEN dvr < 2 THEN sz ELSE 0 END) AS BIGINT)
      |         AS homog_rows,
      |       CAST(sum(sz) AS BIGINT) AS n_rows
      |FROM pc GROUP BY stratum ORDER BY stratum""".stripMargin

  // Personalized PageRank from a seed set: the gr1 co-purchase graph,
  // teleport concentrated on every 10th customer node — the
  // "propagate quality from a curated seed set" primitive. The oracle
  // replays all 5 rounds of the seed-teleport integer grid.
  val gr3PersonalizedPr: Q = (s, dir) => {
    val ord = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val cs = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = cs.unionByName(
      cs.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = cs.select(col("src").as("node"))
      .filter(col("node") % 20 === 0).distinct()
    pipeline.Graph.personalizedPageRank(edges, seeds, iters = 5)
      .orderBy("node")
  }

  private def pprIterCtes(iters: Int): String =
    (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
        |  SELECT nd.node AS node,
        |         CAST(nd.tp + COALESCE(c.mass, 0) AS BIGINT) AS rank
        |  FROM ntp nd LEFT JOIN (
        |    SELECT e.dst AS node,
        |           SUM((85 * (r.rank // d.outdeg)) // 100) AS mass
        |    FROM edges e
        |    JOIN deg d ON e.src = d.src
        |    JOIN r${k - 1} r ON r.node = e.src
        |    GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")

  val gr3Sql: String =
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |edges AS MATERIALIZED (
      |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |nodes AS MATERIALIZED (
      |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |deg AS MATERIALIZED (
      |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |seeds AS MATERIALIZED (
      |  SELECT DISTINCT src AS node FROM e0 WHERE src % 20 = 0),
      |ns AS (SELECT count(*) AS cnt FROM seeds),
      |ntp AS MATERIALIZED (
      |  SELECT n.node,
      |         CASE WHEN s.node IS NOT NULL
      |              THEN ((1000000000000 * 15) // 100) // (SELECT cnt FROM ns)
      |              ELSE 0 END AS tp
      |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
      |r0 AS MATERIALIZED (
      |  SELECT node,
      |         CASE WHEN tp > 0
      |              THEN 1000000000000 // (SELECT cnt FROM ns)
      |              ELSE 0 END AS rank
      |  FROM ntp),
      |${pprIterCtes(5)}
      |SELECT node, rank FROM r5 ORDER BY node""".stripMargin

  // HITS hubs & authorities over the DIRECTED customer→supplier
  // bipartite graph (hubs = customers, authorities = suppliers; the
  // 2k/2k+1 id encoding keeps the sides disjoint). Every half-step
  // renormalizes to the ppm grid against that step's max — pure long
  // arithmetic the oracle replays round for round.
  val gr4Hits: Q = (s, dir) => {
    val ord = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val edges = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    pipeline.Graph.hits(edges, iters = 3).orderBy("node")
  }

  private def hitsRoundCtes(iters: Int): String =
    (1 to iters).map { k =>
      s"""h$k AS MATERIALIZED (
        |  SELECT e.src AS node, sum(a.a) AS h
        |  FROM e JOIN an${k - 1} a ON a.node = e.dst GROUP BY e.src),
        |hn$k AS MATERIALIZED (
        |  SELECT node, (h * 1000000) // (SELECT max(h) FROM h$k) AS h
        |  FROM h$k),
        |a$k AS MATERIALIZED (
        |  SELECT e.dst AS node, sum(h.h) AS a
        |  FROM e JOIN hn$k h ON h.node = e.src GROUP BY e.dst),
        |an$k AS MATERIALIZED (
        |  SELECT node, (a * 1000000) // (SELECT max(a) FROM a$k) AS a
        |  FROM a$k)""".stripMargin
    }.mkString(",\n")

  val gr4Sql: String =
    s"""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |an0 AS MATERIALIZED (
      |  SELECT DISTINCT dst AS node, CAST(1000000 AS BIGINT) AS a FROM e),
      |${hitsRoundCtes(3)}
      |SELECT n.node,
      |       CAST(coalesce(h.h, 0) AS BIGINT) AS hub_ppm,
      |       CAST(coalesce(a.a, 0) AS BIGINT) AS auth_ppm
      |FROM (SELECT node FROM hn3 UNION SELECT node FROM an3) n
      |LEFT JOIN hn3 h ON h.node = n.node
      |LEFT JOIN an3 a ON a.node = n.node
      |ORDER BY n.node""".stripMargin

  // DP count release: per-market-segment customer counts through the
  // Laplace mechanism (ε = 0.5), the release-side complement of the
  // ka1/ka2 audits. The seeded-hash noise draw is the whole point of
  // attestability: the oracle replays u and the inverse CDF exactly
  // (ln/mul/floor on identical doubles — the dr1/tx10 discipline).
  val ka3DpRelease: Q = (s, dir) =>
    pipeline.Privacy.dpCountRelease(Tables.load(s, dir, "customer"),
      col("c_mktsegment"), epsMilli = 500L, seed = 7L)
      .orderBy("stratum")

  val ka3Sql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS stratum, count(*) AS n
      |  FROM customer GROUP BY 1),
      |u AS (
      |  SELECT stratum, n,
      |         (CAST(CAST('0x' || substr(md5('dp:7:' || stratum), 1, 15)
      |                    AS BIGINT) % 1000000 AS DOUBLE) + 0.5)
      |           / 1000000.0 AS u
      |  FROM c)
      |SELECT stratum, CAST(500 AS BIGINT) AS eps_milli,
      |       greatest(0, n * 1000 + CAST(
      |         CASE WHEN u < 0.5
      |              THEN floor(1000.0 * ((1000.0 / 500.0) * ln(2.0 * u)))
      |              ELSE floor(1000.0 * ((-(1000.0 / 500.0))
      |                                  * ln(2.0 - 2.0 * u)))
      |         END AS BIGINT)) AS released_milli
      |FROM u ORDER BY stratum""".stripMargin

  // Matryoshka truncation fidelity: cosine over the first 16 dims vs
  // the full vector, probed on the consecutive-pair chain. Both
  // cosines are raw left-to-right double folds — the dd5 bit-exact
  // contract — so the gate hashes the doubles directly.
  val em1TruncationFidelity: Q = (s, dir) =>
    Similarity.truncationFidelity(
      embs(s, dir).select("vec_id", "embedding"), "vec_id", "embedding",
      dims = 16)
      .orderBy("id1")

  val em1Sql: String =
    """SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                         CAST(b.embedding AS DOUBLE[])) AS cos_full,
      |  list_cosine_similarity(CAST(a.embedding[1:16] AS DOUBLE[]),
      |                         CAST(b.embedding[1:16] AS DOUBLE[])) AS cos_trunc
      |FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
      |ORDER BY id1""".stripMargin

  // Fuzzy (edit-distance ≤ 1) join: customer names against a copy
  // with one character deterministically replaced per row — q-gram
  // blocking with the hot-gram guard (the shared "Customer#0…"
  // prefix grams are exactly the boilerplate the guard exists to
  // drop), exact levenshtein verify. The oracle replays grams, guard,
  // candidates and the verify.
  val fz1FuzzyJoin: Q = (s, dir) => {
    val c = Tables.load(s, dir, "customer")
    val l = c.select(col("c_custkey"), col("c_name"))
    val r = c.select(col("c_custkey"),
      expr("concat(substring(c_name, 1, CAST(c_custkey % 18 AS INT))," +
        " 'x', substring(c_name, CAST(c_custkey % 18 AS INT) + 2))")
        .as("t_name"))
    pipeline.Fuzzy.fuzzyJoin(l, "c_custkey", "c_name",
      r, "c_custkey", "t_name", maxDist = 1, q = 4, maxGramFreq = 500L)
      .orderBy("id1", "id2")
  }

  val fz1Sql: String =
    """WITH l AS (SELECT c_custkey AS id1, c_name AS s FROM customer),
      |r AS (
      |  SELECT c_custkey AS id2,
      |         concat(substr(c_name, 1, CAST(c_custkey % 18 AS INT)), 'x',
      |                substr(c_name, CAST(c_custkey % 18 AS INT) + 2)) AS t
      |  FROM customer),
      |lg AS (
      |  SELECT DISTINCT id1, substr(s, CAST(i AS INT), 4) AS gram
      |  FROM l, unnest(generate_series(1, greatest(length(s) - 3, 1))) AS u(i)),
      |rg AS (
      |  SELECT DISTINCT id2, substr(t, CAST(i AS INT), 4) AS gram
      |  FROM r, unnest(generate_series(1, greatest(length(t) - 3, 1))) AS u(i)),
      |hot AS (
      |  SELECT gram FROM lg GROUP BY gram HAVING count(*) > 500
      |  UNION
      |  SELECT gram FROM rg GROUP BY gram HAVING count(*) > 500),
      |lgc AS (
      |  SELECT lg.id1, lg.gram FROM lg LEFT JOIN hot USING (gram)
      |  WHERE hot.gram IS NULL),
      |cand AS (SELECT DISTINCT id1, id2 FROM lgc JOIN rg USING (gram))
      |SELECT id1, id2, CAST(levenshtein(s, t) AS BIGINT) AS dist
      |FROM cand JOIN l USING (id1) JOIN r USING (id2)
      |WHERE abs(length(s) - length(t)) <= 1 AND levenshtein(s, t) <= 1
      |ORDER BY id1, id2""".stripMargin

  // All-pairs sparse TF-IDF cosine over word bigrams (quote-grade
  // pairwise similarity; the inverted-index formulation — documents
  // meet only on shared mid-frequency bigrams). The fixture's planted
  // exact duplicates surface at sim = 1.0; mid-similarity pairs grade
  // down to the 0.2 threshold.
  val rr4SparseCosine: Q = (s, dir) =>
    pipeline.Retrieval.sparseCosinePairs(
      docs(s, dir).select("doc_id", "text"), "doc_id", "text",
      ngram = 2, minDf = 2L, maxDf = 50L, minSim = 0.2)
      .orderBy("id1", "id2")

  val rr4Sql: String =
    """WITH wsp AS (
      |  SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
      |tok AS (
      |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS term
      |  FROM (SELECT doc_id, w,
      |               unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i
      |        FROM wsp) p),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfq AS (
      |  SELECT term, count(*) AS df FROM tf
      |  GROUP BY term HAVING count(*) BETWEEN 2 AND 50),
      |n AS (SELECT count(*) AS nd FROM documents),
      |w AS (
      |  SELECT tf.doc_id, tf.term,
      |         CAST(tf.tf AS DOUBLE) *
      |           ln(CAST(n.nd AS DOUBLE) / CAST(dfq.df AS DOUBLE)) AS w
      |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
      |q2 AS (
      |  SELECT doc_id, term, w,
      |         CAST(floor(w * w * 1000000.0) AS BIGINT) AS q
      |  FROM w),
      |nq AS (SELECT doc_id, CAST(sum(q) AS BIGINT) AS nq FROM q2
      |       GROUP BY doc_id),
      |pr AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2,
      |         CAST(sum(CAST(floor(a.w * b.w * 1000000.0) AS BIGINT))
      |           AS BIGINT) AS dot_micro,
      |         count(*) AS shared_terms
      |  FROM q2 a JOIN q2 b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id1, id2, shared_terms,
      |       CAST(dot_micro AS DOUBLE)
      |         / sqrt(CAST(x.nq AS DOUBLE) * CAST(y.nq AS DOUBLE)) AS sim
      |FROM pr JOIN nq x ON id1 = x.doc_id JOIN nq y ON id2 = y.doc_id
      |WHERE CAST(dot_micro AS DOUBLE)
      |        / sqrt(CAST(x.nq AS DOUBLE) * CAST(y.nq AS DOUBLE)) >= 0.2
      |ORDER BY id1, id2""".stripMargin

  // Hierarchical ROLLUP with grouping flags — the OLAP subtotal
  // surface the reference's dialect lacks entirely (SURVEY §2.5: no
  // grouping sets). Spark's rollup plans through ONE Expand (factor =
  // #grouping sets = 3) feeding a single partial-agged aggregation —
  // the canonical shape; each input row is replicated per level and
  // map-side combined, so the cost is 3× one scan, never 3 scans.
  val an2Rollup: Q = (s, dir) =>
    Tables.load(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      // grouping() is TINYINT in Spark; the gate's output-type lint
      // (Verify.lintSchema) pins entries to the oracle-safe scalar
      // set, so cast to INT like the ranks elsewhere
      .agg(grouping(col("o_orderpriority")).cast("int").as("g_pri"),
        grouping(col("o_orderstatus")).cast("int").as("g_st"),
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100.0, 0).cast("long"))
          .as("price_cents"))
      .orderBy("g_pri", "g_st", "o_orderpriority", "o_orderstatus")

  val an2Sql: String =
    """SELECT o_orderpriority, o_orderstatus,
      |       GROUPING(o_orderpriority) AS g_pri,
      |       GROUPING(o_orderstatus) AS g_st,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
      |         AS BIGINT) AS price_cents
      |FROM orders
      |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""".stripMargin

  // Pivot (long → wide): per-user spend by event type with an
  // EXPLICIT value list — the form that skips pivot's extra
  // distinct-discovery scan (at 100 TB the discovery pass costs a
  // full shuffle before any work starts; production pivots pin their
  // columns). One groupBy, five conditional sums, map-side combined.
  val pv1TypePivot: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .withColumn("__cents", round(col("value") * 100.0, 0).cast("long"))
      .groupBy("user_id")
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum("__cents"))
      .orderBy("user_id")

  val pv1Sql: String =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN c END) AS BIGINT)
      |    AS click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN c END) AS BIGINT)
      |    AS error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN c END) AS BIGINT)
      |    AS purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN c END) AS BIGINT)
      |    AS signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN c END) AS BIGINT)
      |    AS view
      |FROM (SELECT user_id, event_type,
      |             CAST(round(value * 100.0, 0) AS BIGINT) AS c
      |      FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // Water-filling budget allocation: 60% of the corpus's tokens split
  // across sources with src0..src3 asking a ~2.7× share — more than
  // their capacity holds, so they saturate and spill their shortfall
  // into the other sixteen. The one-row total-tokens probe is the
  // documented dim-probe exception; all decisions and fills are long
  // arithmetic on the share-milli grid.
  val sm10Waterfill: Q = (s, dir) => {
    val d = docs(s, dir).select(col("source"),
      size(split(col("text"), " +")).cast("long").as("toks"))
    val budget = d.agg(sum("toks")).head.getLong(0) * 3L / 5L
    val shares: Map[String, Long] =
      (0 to 3).map(i => s"src$i" -> 100L).toMap ++
        (4 to 19).map(i => s"src$i" -> 37L).toMap
    pipeline.Sampling.waterfillBudget(d, "source", "toks", budget, shares)
      .orderBy("source")
  }

  val sm10Sql: String = {
    val vals = ((0 to 3).map(i => s"('src$i', 100)") ++
      (4 to 19).map(i => s"('src$i', 37)")).mkString(", ")
    s"""WITH d AS (
       |  SELECT source, len(string_split_regex(text, ' +')) AS toks
       |  FROM documents),
       |tot AS (SELECT CAST(sum(toks) AS BIGINT) * 3 // 5 AS b FROM d),
       |sh(source, share_milli) AS (VALUES $vals),
       |cap AS (
       |  SELECT c.source, c.cap_tokens, s.share_milli
       |  FROM (SELECT source, CAST(sum(toks) AS BIGINT) AS cap_tokens
       |        FROM d GROUP BY source HAVING sum(toks) > 0) c
       |  JOIN sh s USING (source)),
       |w AS (
       |  SELECT source, cap_tokens, share_milli,
       |    coalesce(sum(cap_tokens) OVER (
       |      ORDER BY CAST(cap_tokens AS DOUBLE) / CAST(share_milli AS DOUBLE),
       |               source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cpre,
       |    sum(share_milli) OVER (
       |      ORDER BY CAST(cap_tokens AS DOUBLE) / CAST(share_milli AS DOUBLE),
       |               source
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ssuf
       |  FROM cap),
       |f AS (
       |  SELECT *, CASE WHEN cap_tokens * ssuf <
       |                   ((SELECT b FROM tot) - cpre) * share_milli
       |                 THEN 1 ELSE 0 END AS rowsat
       |  FROM w),
       |g AS (
       |  SELECT *, min(rowsat) OVER (
       |    ORDER BY CAST(cap_tokens AS DOUBLE) / CAST(share_milli AS DOUBLE),
       |             source
       |    ROWS UNBOUNDED PRECEDING) AS sat
       |  FROM f),
       |t2 AS (
       |  SELECT coalesce(sum(CASE WHEN sat = 1 THEN cap_tokens END), 0)
       |           AS satcap,
       |         coalesce(sum(CASE WHEN sat = 0 THEN share_milli END), 0)
       |           AS unsatshare
       |  FROM g)
       |SELECT source, cap_tokens, share_milli, sat = 1 AS saturated,
       |       CAST(CASE WHEN sat = 1 THEN cap_tokens
       |            ELSE ((SELECT b FROM tot) - (SELECT satcap FROM t2))
       |                 * share_milli // (SELECT unsatshare FROM t2)
       |            END AS BIGINT) AS alloc_tokens
       |FROM g ORDER BY source""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("sm10_waterfill_budget", sm10Waterfill, sm10Sql),
    Entry("an2_priority_rollup", an2Rollup, an2Sql),
    Entry("pv1_type_pivot", pv1TypePivot, pv1Sql),
    Entry("rr4_sparse_cosine", rr4SparseCosine, rr4Sql),
    Entry("fz1_fuzzy_join", fz1FuzzyJoin, fz1Sql),
    Entry("ka2_l_diversity", ka2LDiversity, ka2Sql),
    Entry("gr3_personalized_pr", gr3PersonalizedPr, gr3Sql),
    Entry("gr4_hits", gr4Hits, gr4Sql),
    Entry("ka3_dp_release", ka3DpRelease, ka3Sql),
    Entry("em1_truncation_fidelity", em1TruncationFidelity, em1Sql),
    Entry("ca2_corpus_card", ca2CorpusCard, ca2Sql),
    Entry("se1_schema_evolution", se1SchemaEvolution, se1Sql),
    Entry("fc1_compaction_plan", fc1CompactionPlan, fc1Sql),
    Entry("ka1_k_anonymity", ka1KAnonymity, ka1Sql),
    Entry("ii1_inverted_index", ii1InvertedIndex, ii1Sql),
    // merge ≡ batch rebuild, by design
    Entry("ii2_incremental_index", ii2IncrementalIndex, ii1Sql),
    Entry("rr3_rrf_fusion", rr3RrfFusion, rr3Sql),
    Entry("ql1_quality_logistic", ql1QualityLogistic, ql1Sql),
    Entry("tx14_script_profile", tx14ScriptProfile, tx14Sql),
    Entry("ur1_domain_stats", ur1DomainStats, ur1Sql),
    Entry("dr1_term_drift", dr1TermDrift, dr1Sql),
    Entry("kc1_kcore_profile", kc1KCoreProfile, kc1Sql),
    Entry("sh1_shuffle_shards", sh1ShuffleShards, sh1Sql),
    Entry("lp1_label_propagation", lp1LabelProp, lp1Sql),
    Entry("tr1_triangle_stats", tr1TriangleStats, tr1Sql),
    Entry("hl1_hll_distinct", hl1HllDistinct, hl1Sql),
    Entry("up1_epoch_upsample", up1EpochUpsample, up1Sql),
    Entry("hh1_cms_heavy_hitters", hh1CmsHeavyHitters, hh1Sql),
    Entry("pc1_gram_sums", pc1GramSums, pc1Sql),
    Entry("bp2_bpe_learn", bp2BpeLearn, bp2Sql),
    Entry("bp3_bpe_encode", bp3BpeEncode, bp3Sql),
    Entry("wn1_winnow_fingerprints", wn1Winnow, wn1Sql),
    Entry("bp1_bpe_pairs", bp1BpePairs, bp1Sql),
    Entry("qp2_percentile_scalable", qp2PercentileScalable, qp2Sql),
    Entry("ct4_winnow_contamination", ct4WinnowContamination, ct4Sql),
    Entry("gq1_gopher_rules", gq1Gopher, gq1Sql),
    Entry("cl1_c4_line_clean", cl1C4Clean, cl1Sql),
    Entry("ir1_dsir_weights", ir1DsirWeights, ir1Sql),
    Entry("rr2_phrase_search", rr2PhraseSearch, rr2Sql),
    Entry("rr1_bm25_topk", rr1Bm25, rr1Sql),
    Entry("rr5_learned_sparse", rr5LearnedSparse, rr5Sql),
    Entry("nv1_ngram_novelty", nv1Novelty, nv1Sql),
    Entry("qp1_quality_percentile", qp1Percentile, qp1Sql),
    Entry("ca1_source_keyness", ca1Keyness, ca1Sql),
    Entry("gr1_pagerank", gr1PageRank, gr1Sql),
    Entry("gr2_pagerank_dangling", gr2PageRankDangling, gr2Sql),
    Entry("df1_snapshot_diff", df1SnapshotDiff, df1Sql),
    Entry("tx12_token_entropy", tx12Entropy, tx12Sql),
    Entry("pr1_percentile_rank", pr1PercentileRank, pr1Sql),
    Entry("jc1_join_cardinality", jc1JoinCardinality, jc1Sql),
    Entry("fh1_hashing_trick", fh1HashingTrick, fh1Sql),
    Entry("tx13_pmi_collocations", tx13Pmi, tx13Sql),
    Entry("cp1_curation_pipeline", cp1Curation, cp1Sql),
    Entry("cp3_full_pass", cp3FullPass, cp3Sql),
    Entry("dd1_exact_dedup", dd1ExactDedup, dd1Sql),
    Entry("dd2_minhash_lsh_pairs", dd2MinhashLsh, dd2Sql),
    Entry("dd3_simhash", dd3Simhash, dd3Sql),
    Entry("dd4_ngram_jaccard", dd4NgramJaccard, dd4Sql),
    Entry("dd5_embed_cosine_neardup", dd5EmbedCosine, dd5Sql),
    Entry("dd6_neardup_clusters", dd6Cluster, dd6Sql),
    Entry("dd7_incremental_dedup", dd7Incremental, dd7Sql),
    Entry("dd8_cluster_keepers", dd8Keepers, dd8Sql),
    Entry("dd9_substr_dedup", dd9SubstrDedup, dd9Sql),
    Entry("dd10_embed_neardup_lsh", dd10CosinePairs, dd10Sql),
    Entry("dd11_line_dedup", dd11LineDedup, dd11Sql),
    Entry("cp2_semantic_dedup", cp2SemanticDedup, cp2Sql),
    Entry("sm1_stratified_sample", sm1Sample, sm1Sql),
    Entry("sm2_source_cap", sm2Cap, sm2Sql),
    Entry("sm3_mixture_rates", sm3Mixture, sm3Sql),
    Entry("sm7_temperature_mix", sm7Temperature, sm7Sql),
    Entry("bk1_bucketed_join", bk1BucketedJoin, bk1Sql),
    Entry("fm1_csv_roundtrip", fm1CsvRoundtrip, fmRoundtripSql),
    Entry("fm2_jsonl_roundtrip", fm2JsonlRoundtrip, fmRoundtripSql),
    Entry("fm3_partitioned_prune", fm3PartitionedPrune, fm3Sql),
    Entry("fm4_orc_roundtrip", fm4OrcRoundtrip, fmRoundtripSql),
    Entry("zo1_zorder_tiles", zo1ZorderTiles, zo1Sql),
    Entry("sm4_exact_sample", sm4Exact, sm4Sql),
    Entry("sm5_token_budget", sm5Budget, sm5Sql),
    Entry("sm8_weighted_sample", sm8Weighted, sm8Sql),
    Entry("sm9_top_per_source", sm9TopPerSource, sm9Sql),
    Entry("sp1_split_assign", sp1Splits, sp1Sql),
    Entry("pf3_histogram", pf3Histogram, pf3Sql),
    Entry("sm6_diverse_sample", sm6Diverse, sm6Sql),
    Entry("tx9_normalize", tx9Normalize, tx9Sql),
    Entry("tx10_lm_score", tx10LmScore, tx10Sql),
    Entry("tx11_chunking", tx11Chunk, tx11Sql),
    Entry("js1_json_extract", js1JsonExtract, js1Sql),
    Entry("ct3_source_overlap", ct3SourceOverlap, ct3Sql),
    Entry("pk1_sequence_packing", pk1Pack, pk1Sql),
    Entry("qz1_embed_quantize", qz1Quantize, qz1Sql),
    Entry("mm2_resize_features", mm2ResizeFeatures, mm2Sql),
    Entry("mm3_image_codec", mm3ImageCodec, mm3Sql),
    Entry("mm4_audio_codec", mm4AudioCodec, mm4Sql),
    Entry("mm5_video_codec", mm5VideoCodec, mm5Sql),
    Entry("mm6_image_resize", mm6ImageResize, mm6Sql),
    Entry("sj1_salted_join", sj1SaltedJoin, sj1Sql),
    Entry("hk1_hot_keys", hk1HotKeys, hk1Sql),
    Entry("pf4_z_outliers", pf4Outliers, pf4Sql),
    Entry("ss1_cosine_topk_brute", ss1BruteTopK, ss1Sql),
    Entry("ss4_hard_negatives", ss4HardNegatives, ss4Sql),
    Entry("ss5_hard_negatives_ivf", ss5HardNegativesIvf, ss5Sql),
    Entry("ss2_cosine_topk_lsh", ss2LshTopK, ss2Sql),
    Entry("ss3_cosine_topk_ivf", ss3IvfTopK, ss3Sql),
    Entry("km1_cluster_profile", km1ClusterProfile, km1Sql),
    Entry("km2_trained_profile", km2TrainedProfile, km2Sql),
    Entry("pq1_pq_profile", pq1PqProfile, pq1Sql),
    Entry("pq2_ivfadc_topk", pq2IvfAdcTopK, pq2Sql),
    Entry("tx1_text_quality", tx1Quality, tx1Sql),
    Entry("tx2_token_counts", tx2Tokens, tx2Sql),
    Entry("tx3_fingerprint", tx3Fingerprint, tx3Sql),
    Entry("tx4_langid", tx4LangId, tx4Sql),
    Entry("tx5_pii_redact", tx5Redact, tx5Sql),
    Entry("tx6_repetition", tx6Repetition, tx6Sql),
    Entry("tx7_vocab_topk", tx7Vocab, tx7Sql),
    Entry("tx8_tfidf_keywords", tx8Tfidf, tx8Sql),
    Entry("ct1_contamination", ct1Contamination, ct1Sql),
    // Bloom path ≡ ct1 by construction
    Entry("ct2_contamination_bloom", ct2BloomContamination, ct1Sql),
    Entry("pf1_numeric_profile", pf1Profile, pf1Sql),
    Entry("pf1a_numeric_profile_approx", pf1aApprox, pf1aSql),
    Entry("pf2_corr_matrix", pf2Corr, pf2Sql),
    Entry("mm1_media_features", mm1MediaFeatures, mm1Sql),
  )
}
