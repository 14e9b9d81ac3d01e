package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import graft.pipeline.TextAnalysis

/** Behavior specs for the tokenizer-training operators (BPE learn /
  * encode). Cross-engine value equality is the gate's job
  * (bp2/bp3 oracle entries), except on line-separator words, which
  * the gate fixtures lack: one spec runs those oracles in DuckDB on
  * such a corpus. The rest pin the algorithmic semantics:
  * the driver-side learner agrees merge-for-merge with a reference
  * written in Spark expressions, the classic Sennrich example learns
  * the textbook merges, and the boundary-consuming left-to-right merge
  * application is exactly the documented (and oracle-replayed)
  * semantics.
  */
class TrainingOpsSpec extends SparkTestBase {

  private def docsOf(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  private type Merge = (Int, String, String, String, Long)

  /** Reference BPE learner in Spark expressions, one round at a time:
    * the initial sequence by `regexp_replace`, weighted pair counts by
    * aggregation, the (count DESC, pair ASC) winner by Spark's sort,
    * and the merge as a boundary-guarded `replace` plus `trim`. Stops
    * when no pair is left. Returns the merges and the final
    * (word, seq) vocabulary.
    */
  private def referenceBpe(df: DataFrame, textCol: String,
      rounds: Int): (Seq[Merge], DataFrame) = {
    var cur = df.select(explode(split(col(textCol), " +")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seq",
        concat(regexp_replace(col("word"), "(?s)(.)", "$1 "), lit("</w>")))
      .localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val best = cur
        .select(col("freq"), split(col("seq"), " ").as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))"
        )).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair")).limit(1)
        .collect().headOption
      best match {
        case None => done = true
        case Some(b) =>
          val pair = b.getString(0)
          val Array(lhs, rhs) = pair.split(" ", -1)
          merges += ((r, lhs, rhs, lhs + rhs, b.getLong(1)))
          cur = cur.withColumn("seq", trim(call_function("replace",
            concat(lit(" "), col("seq"), lit(" ")),
            lit(s" $pair "), lit(s" $lhs$rhs ")))).localCheckpoint()
          r += 1
      }
    }
    (merges.result(), cur.select("word", "seq"))
  }

  /** (source, n_words, n_tokens) of a corpus tokenized by `vocab`. */
  private def referenceEncode(df: DataFrame, srcCol: String,
      textCol: String, vocab: DataFrame): Seq[(String, Long, Long)] =
    df.select(col(srcCol), explode(split(col(textCol), " +")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(vocab.select(col("word"),
        size(split(col("seq"), " ")).cast("long").as("n_toks")), "word")
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

  private def learned(df: DataFrame, textCol: String,
      rounds: Int): Seq[Merge] =
    TextAnalysis.bpeLearn(df, textCol, rounds)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  private def encoded(df: DataFrame, srcCol: String, textCol: String,
      rounds: Int): Seq[(String, Long, Long)] =
    TextAnalysis.bpeEncode(df, srcCol, textCol, rounds)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq

  test("bpeLearn reproduces the textbook low/lower merges") {
    val df = docsOf("low low low lower")
    val merges = TextAnalysis.bpeLearn(df, "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(merges.toSeq === Seq(
      (1, "l", "o", "lo", 4L),
      (2, "lo", "w", "low", 4L),
      (3, "low", "</w>", "low</w>", 3L)))
  }

  test("bpeLearn and bpeEncode match the Spark-expression reference") {
    // the adversarial corpora are where a driver loop written with
    // JVM string rules drifts from Spark's: a "\n" symbol at a
    // sequence edge must survive the space-only trim, line separators
    // are symbols like any other character, `.` takes a surrogate
    // pair whole, and ties break in code-point order, where U+FF41
    // sorts before an emoji (UTF-16 puts it after)
    val cases = Seq(
      ("documents", Tables.load(spark, sf, "documents")
        .select(col("source"), col("text")), 8),
      ("newline", docsOf("a\nb a\nb a\nb ab \na \na x\n")
        .select(lit("s").as("source"), col("text")), 4),
      ("line separators", lineSeparatorDocs, 6),
      ("emoji", docsOf("\ud83d\ude00\ud83d\ude00 \ud83d\ude00b",
        "\ud83d\ude00\ud83d\ude00 b\ud83d\ude00")
        .select(col("doc_id").cast("string").as("source"), col("text")), 4),
      ("code-point tie", docsOf("\ud83d\ude00\ud83d\ude00\ud83d\ude00",
        "\uff41\uff41\uff41")
        .select(col("doc_id").cast("string").as("source"), col("text")), 3))
    cases.foreach { case (name, df, rounds) =>
      withClue(s"$name: ") {
        val (refMerges, refVocab) = referenceBpe(df, "text", rounds)
        assert(refMerges.nonEmpty)
        assert(learned(df, "text", rounds) === refMerges)
        assert(encoded(df, "source", "text", rounds) ===
          referenceEncode(df, "source", "text", refVocab))
      }
    }
  }

  /** Words holding the characters Java's `.` skips but RE2's does
    * not (`\r`, U+0085, U+2028, U+2029), plus `\n`, which both skip
    * without `(?s)`.
    */
  private def lineSeparatorDocs: DataFrame =
    docsOf("a\rb a\rb a\rb \ra a\u0085b a\u0085b",
      "x\u2028y x\u2028y x\u2029y a\nb ab\r \u2029\u2029")
      .withColumn("source", col("doc_id").cast("string"))

  test("bp2/bp3 match their DuckDB oracles on line-separator words") {
    import scala.sys.process._
    val hasDuckdb = scala.util.Try(
      Seq("python3", "-c", "import duckdb").! == 0).getOrElse(false)
    assume(hasDuckdb, "python3 with the duckdb package is not installed")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_oracle")
    try {
      val dir = tmp.toString
      lineSeparatorDocs.coalesce(1).write.parquet(Tables.path(dir, "documents"))
      def rows(df: DataFrame): Seq[String] = {
        val cols = df.columns.sorted.toIndexedSeq
        df.select(cols.map(col): _*).collect()
          .map(_.toSeq.map(String.valueOf).mkString("\u001f")).toSeq.sorted
      }
      for (name <- Seq("bp2_bpe_learn", "bp3_bpe_encode")) {
        val sqlFile = tmp.resolve(s"$name.sql")
        java.nio.file.Files.writeString(sqlFile, SparkEntry.oracleSql(name))
        val out = tmp.resolve(s"$name.parquet").toString
        val script =
          """import sys, duckdb
            |docs, sql, out = sys.argv[1:4]
            |c = duckdb.connect()
            |c.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
            |c.execute(f"COPY ({open(sql).read()}) TO '{out}' (FORMAT PARQUET)")
            |""".stripMargin
        val rc = Seq("python3", "-c", script, Tables.path(dir, "documents"),
          sqlFile.toString, out).!
        assert(rc == 0, s"$name: DuckDB exited with $rc")
        val engine = rows(SparkEntry.queries(name)(spark, dir))
        assert(engine.nonEmpty, name)
        assert(engine === rows(spark.read.parquet(out)), name)
      }
    } finally {
      java.nio.file.Files.walk(tmp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))
    }
  }

  test("bpe output columns keep their names and Spark types") {
    val df = docsOf("low lower").withColumn("src", lit("s"))
    def shape(d: DataFrame) = d.schema.map(f => f.name -> f.dataType)
    assert(shape(TextAnalysis.bpeLearn(df, "text", rounds = 2)) === Seq(
      "round" -> IntegerType, "lhs" -> StringType, "rhs" -> StringType,
      "merged" -> StringType, "pair_count" -> LongType))
    assert(shape(TextAnalysis.bpeEncode(df, "src", "text", rounds = 2)) ===
      Seq("src" -> StringType, "n_words" -> LongType,
        "n_tokens" -> LongType, "fert_ppm" -> LongType))
  }

  test("an exhausted vocabulary keeps its sequences") {
    // "ab" → "a b </w>" → "ab </w>" → "ab</w>": round 3 has no pair
    // left, so it adds no merge and every word keeps its last sequence
    val df = docsOf("ab").withColumn("src", lit("s"))
    assert(learned(df, "text", 3).map(_._4) === Seq("ab", "ab</w>"))
    assert(encoded(df, "src", "text", 3) === Seq(("s", 1L, 1L)))
  }

  test("merge application consumes the shared boundary space (run semantics)") {
    // "aaaa" → "a a a a </w>"; round 1 merges (a,a). Left-to-right
    // non-overlapping with boundary consumption yields "aa a a </w>"
    // (4 symbols) — NOT the fixpoint "aa aa </w>" (3 symbols). The
    // encode fertility discriminates the two.
    val df = docsOf("aaaa").withColumn("src", lit("s"))
    val enc = TextAnalysis.bpeEncode(df, "src", "text", rounds = 1)
      .collect()
    assert(enc.length === 1)
    val r = enc.head
    assert(r.getAs[Long]("n_words") === 1L)
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Long]("fert_ppm") === 4000000L)
  }

  test("bpeEncode fertility is non-increasing in merge rounds") {
    val df = Tables.load(spark, sf, "documents")
    def totalTokens(rounds: Int): Long =
      TextAnalysis.bpeEncode(df, "source", "text", rounds = rounds)
        .agg(sum("n_tokens")).collect().head.getLong(0)
    val t1 = totalTokens(1)
    val t8 = totalTokens(8)
    assert(t8 <= t1, s"more merges must not add tokens: $t8 > $t1")
    // every merge round strictly fuses the corpus's most frequent
    // pair, so on a natural fixture the total must actually drop
    assert(t8 < t1)
  }

  test("gramSums matches hand-computed moments and is shard-invariant") {
    import spark.implicits._
    val df = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    def rows(shards: Int) =
      pipeline.Pca.gramSums(df, "vec_id", "embedding", dim = 2,
        shards = shards)
        .collect().map(r => (r.getInt(0), r.getInt(1),
          r.getDecimal(2).longValueExact(), r.getDecimal(3).longValueExact(),
          r.getDecimal(4).longValueExact(), r.getDecimal(5).longValueExact()))
        .toSeq
    val expected = Seq(
      (0, 0, 2L, 4000000L, 4000000L, 10000000000000L),
      (0, 1, 2L, 4000000L, 6000000L, 14000000000000L),
      (1, 1, 2L, 6000000L, 6000000L, 20000000000000L))
    assert(rows(1) === expected)
    assert(rows(7) === expected)
  }

  test("gramSums drops malformed-length vectors instead of crashing") {
    import spark.implicits._
    val df = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(9.0f)))
      .toDF("vec_id", "embedding")
    val out = pipeline.Pca.gramSums(df, "vec_id", "embedding", dim = 2)
      .collect()
    assert(out.length === 3)
    assert(out.forall(_.getDecimal(2).longValueExact() == 1L))
  }

  test("power iteration on the fixture covariance: eigenpair + projection variance") {
    val dim = 64
    val embs = Tables.load(spark, sf, "embeddings")
    val gram = pipeline.Pca.gramSums(embs, "vec_id", "embedding", dim)
      .localCheckpoint(true)
    val cov = pipeline.Pca.covarianceMatrix(gram, dim)
    // symmetric by construction; dominant eigenpair via power iteration
    val (lambda, v) = pipeline.Pca.powerIteration(cov)
    val maxDiag = (0 until dim).map(i => cov(i)(i)).max
    assert(lambda >= maxDiag - 1e-12,
      s"top eigenvalue $lambda below max diagonal $maxDiag")
    val residual = (0 until dim).map { i =>
      val cvi = (0 until dim).map(j => cov(i)(j) * v(j)).sum
      math.abs(cvi - lambda * v(i))
    }.max
    assert(residual <= 1e-6 * math.max(lambda, 1e-12),
      s"Rayleigh residual $residual too large for lambda $lambda")
    // projecting the corpus onto the component reproduces the
    // eigenvalue as the population variance of the scores
    val n = gram.select(max(col("n").cast("long"))).collect().head.getLong(0)
    val mean = new Array[Double](dim)
    gram.filter(col("i") === col("j")).collect().foreach { r =>
      mean(r.getInt(0)) = r.getDecimal(3).doubleValue() / n / 1e6
    }
    val scores = pipeline.Pca.project(embs, "vec_id", "embedding", v, mean)
      .select(col("score")).collect().map(_.getDouble(0))
    val m0 = scores.sum / scores.length
    val varProj = scores.map(x => (x - m0) * (x - m0)).sum / scores.length
    assert(math.abs(varProj - lambda) <= 1e-3 * lambda,
      s"projection variance $varProj != eigenvalue $lambda")
  }

  test("cms sketch lane totals equal the stream size") {
    val events = Tables.load(spark, sf, "events")
    val n = events.count()
    val laneTotals = pipeline.Sketch.cmsSketch(events, "user_id",
      depth = 4, width = 32)
      .groupBy("lane").agg(sum("cnt").as("total"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(laneTotals.keySet === Set(0, 1, 2, 3))
    assert(laneTotals.values.forall(_ == n),
      s"every lane must hold the full stream count $n: $laneTotals")
  }

  test("cms estimates dominate exact counts; narrow sketches overcount more") {
    val events = Tables.load(spark, sf, "events")
    def report(width: Int) =
      pipeline.Sketch.cmsHeavyHitters(events, "user_id",
        depth = 4, width = width, topK = 10)
        .collect().map(r => (r.getAs[Long]("exact_cnt"),
          r.getAs[Long]("cms_est"), r.getAs[Long]("overcount")))
    val narrow = report(8)
    val wide = report(4096)
    assert(narrow.forall { case (ex, est, over) =>
      est >= ex && over == est - ex })
    assert(wide.forall { case (ex, est, over) => est >= ex })
    // 150 keys into 8×4 counters must collide; into 4096×4 they
    // mostly don't — aggregate overcount is ordered accordingly
    assert(narrow.map(_._3).sum > wide.map(_._3).sum)
  }

  test("bpeLearn validates rounds") {
    val df = docsOf("a")
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeLearn(df, "text", rounds = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeLearn(df, "text", rounds = 65)
    }
  }
}
