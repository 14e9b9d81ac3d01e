package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale-soak fixture generator: replicate the driver's parquet
  * fixture k× with disjoint key spaces per replica, so every operator
  * can be exercised at ~10× data volume (sf0.1 → "sf1") with the SAME
  * per-replica structure the correctness gate attests.
  *
  * Semantics per table:
  *   - dimension tables (region, nation) are copied as-is — they stay
  *     broadcast-sized at every scale, like real dims;
  *   - fact/entity keys shift by `replica * (max(key) + 1)`, with
  *     foreign keys shifted by the REFERENCED table's offset, so joins
  *     land exactly as in the base fixture (k disjoint subgraphs);
  *   - document text gets a per-replica token prefix (replica 0 keeps
  *     the original), making replicas shingle-DISJOINT: dedup/
  *     similarity pair structure scales linearly, not quadratically —
  *     scaling a corpus must not manufacture 10× near-duplicates;
  *   - embeddings perturb one component per replica, breaking exact
  *     cosine ties between replicas so top-k stays deterministic.
  *
  * Usage: runMain graft.tools.ScaleFixture <srcDir> <dstDir> <k> [skewPct] [giantDocs]
  *
  * skewPct > 0 adds a ZIPFIAN mode on top of replication: that
  * percentage of lineitem rows is routed to one hot order, of events
  * to one hot user, and of documents to one hot source — the
  * real-corpus shape (one domain dominating) that uniform replication
  * cannot produce, for soaking the skew-focused operators (salted
  * join, per-source cap, sessionization, curation stats).
  *
  * giantDocs > 0 plants ONE giant near-dup cluster in `documents`:
  * a (giantDocs - 150)-doc CHAIN — doc i is the 100-token sliding
  * window gct{i}..gct{i+99}, so only docs within shingle-overlap
  * distance pair up and the cluster's DIAMETER grows linearly — plus
  * a 150-leaf STAR on the chain head (each leaf replaces one rotating
  * token, sized under the default maxBucketSize so the hot-bucket
  * guard keeps its pairs minable). The zipfian mode skews key MASS;
  * this skews cluster TOPOLOGY — the deep-diameter + high-degree
  * component connectedComponents' pointer-doubling must converge on
  * in O(log diameter) rounds. Synthetic tokens share no shingle with
  * the real corpus, so pair structure elsewhere is untouched.
  */
object ScaleFixture {

  /** df replicated k×, shifting `shifts` columns by replica*offset,
    * prefixing every word of `prefixText` columns per replica, and
    * adding replica*step to `jitter` columns (replicated measures
    * would otherwise be EXACT k-way ties, turning order-by-value
    * picks like argMax nondeterministic at scale when they were
    * deterministic at the base SF).
    */
  def replicate(df: DataFrame, k: Int, shifts: Map[String, Long],
      prefixText: Set[String] = Set.empty,
      jitter: Map[String, Double] = Map.empty): DataFrame = {
    // fail fast if a shifted key would overflow its ORIGINAL dtype:
    // the cast back would wrap silently under non-ANSI mode,
    // producing cross-replica key collisions and a quietly wrong
    // scaled fixture at larger k
    shifts.foreach { case (c, offset) =>
      val cap: BigInt = df.schema(c).dataType match {
        case org.apache.spark.sql.types.IntegerType => BigInt(Int.MaxValue)
        case org.apache.spark.sql.types.LongType    => BigInt(Long.MaxValue)
        case t => sys.error(s"unsupported shifted key dtype $t for $c")
      }
      val maxV = df.agg(max(col(c).cast("long"))).head().getLong(0)
      require(BigInt(maxV) + BigInt(k - 1) * BigInt(offset) <= cap,
        s"replicating $c (max $maxV) ${k}x with offset $offset overflows " +
          s"its ${df.schema(c).dataType} — key collisions would corrupt " +
          "the scaled fixture")
    }
    val rep = df.withColumn("__r", explode(sequence(lit(0L), lit(k - 1L))))
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      if (shifts.contains(f.name))
        (col(f.name) + col("__r") * lit(shifts(f.name)))
          .cast(f.dataType).as(f.name)
      else if (jitter.contains(f.name))
        (col(f.name) + col("__r") * lit(jitter(f.name)))
          .cast(f.dataType).as(f.name)
      else if (prefixText.contains(f.name))
        when(col("__r") === 0, col(f.name))
          .otherwise(array_join(
            transform(split(col(f.name), " "),
              w => concat(lit("x"), col("__r").cast("string"), w)),
            " ")).as(f.name)
      else col(f.name)
    }
    rep.select(cols: _*)
  }

  /** One offset per key family = max(key) + 1 over the base fixture —
    * an O(1) driver scalar per table.
    */
  private def off(df: DataFrame, c: String): Long =
    df.agg(max(col(c).cast("long"))).head().getLong(0) + 1L

  /** Route `pct`% of rows (chosen by a deterministic hash of
    * `hashCols`) to a single hot value of column `c` — the zipfian
    * shape real corpora have (one domain/user/order carrying a large
    * share of the mass) that uniform replication cannot produce. The
    * hot value must already exist in the base fixture so foreign keys
    * stay valid.
    */
  def skewKey(df: DataFrame, c: String, hot: Column, pct: Int,
      hashCols: Seq[String]): DataFrame =
    df.withColumn(c,
      when(pmod(xxhash64(hashCols.map(col): _*), lit(100L)) < pct,
        hot.cast(df.schema(c).dataType)).otherwise(col(c)))

  /** One giant near-dup component: a sliding-window token chain of
    * `n - 150` docs plus a 150-leaf star on the chain head. Ids start
    * at `idBase`; every token is synthetic (gct/gcl-prefixed),
    * shingle-disjoint from the real corpus.
    */
  def giantCluster(spark: SparkSession, n: Long, idBase: Long): DataFrame = {
    require(n > 300, s"giantDocs must exceed 300 (150-leaf star + chain), got $n")
    val leaves = 150L
    val chainN = n - leaves
    val chain = spark.range(chainN).select(
      (lit(idBase) + col("id")).as("doc_id"),
      array_join(transform(sequence(col("id"), col("id") + 99),
        j => concat(lit("gct"), j.cast("string"))), " ").as("text"))
    // leaf i = chain doc 0's window with token (i mod 100) replaced
    val star = spark.range(leaves).select(
      (lit(idBase + chainN) + col("id")).as("doc_id"),
      array_join(transform(sequence(lit(0L), lit(99L)),
        j => when(j === pmod(col("id"), lit(100L)),
          concat(lit("gcl"), col("id").cast("string")))
          .otherwise(concat(lit("gct"), j.cast("string")))), " ")
        .as("text"))
    chain.unionByName(star).select(
      col("doc_id"), col("text"), lit("xx").as("lang"),
      lit("giantsrc").as("source"),
      length(col("text")).cast("long").as("n_chars"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 5,
      "usage: ScaleFixture <srcDir> <dstDir> <k> [skewPct] [giantDocs]")
    val Array(src, dst, kStr) = args.take(3)
    val k = kStr.toInt
    // skewPct > 0: after replication, route that share of lineitem
    // rows to ONE order, events to ONE user, documents to ONE source
    val skewPct = if (args.length >= 4) args(3).toInt else 0
    require(skewPct >= 0 && skewPct < 100, s"skewPct out of range: $skewPct")
    val giantDocs = if (args.length == 5) args(4).toLong else 0L
    val spark = Harness.session("WARN")

    def t(n: String): DataFrame = Tables.load(spark, src, n)
    val custOff = off(t("customer"), "c_custkey")
    val ordOff = off(t("orders"), "o_orderkey")
    val partOff = off(t("part"), "p_partkey")
    val suppOff = off(t("supplier"), "s_suppkey")
    val docOff = off(t("documents"), "doc_id")
    val vecOff = off(t("embeddings"), "vec_id")
    val evOff = off(t("events"), "event_id")
    val userOff = off(t("events"), "user_id")

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> t("region"),
      "nation" -> t("nation"),
      "customer" -> replicate(t("customer"), k,
        Map("c_custkey" -> custOff),
        jitter = Map("c_acctbal" -> 0.01)),
      "supplier" -> replicate(t("supplier"), k,
        Map("s_suppkey" -> suppOff)),
      "part" -> replicate(t("part"), k,
        Map("p_partkey" -> partOff)),
      "orders" -> replicate(t("orders"), k,
        Map("o_orderkey" -> ordOff, "o_custkey" -> custOff),
        jitter = Map("o_totalprice" -> 0.01)),
      "lineitem" -> {
        val rep = replicate(t("lineitem"), k,
          Map("l_orderkey" -> ordOff, "l_partkey" -> partOff,
            "l_suppkey" -> suppOff))
        // hot order 0 exists in replica 0 (base keys are kept)
        if (skewPct > 0) skewKey(rep, "l_orderkey", lit(0L), skewPct,
          Seq("l_orderkey", "l_linenumber"))
        else rep
      },
      "events" -> {
        val rep = replicate(t("events"), k,
          Map("event_id" -> evOff, "user_id" -> userOff))
        if (skewPct > 0) skewKey(rep, "user_id", lit(0L), skewPct,
          Seq("event_id"))
        else rep
      },
      "documents" -> {
        val rep = replicate(t("documents"), k,
          Map("doc_id" -> docOff), prefixText = Set("text"))
          // replicas get per-word text prefixes, so recompute the
          // derived length column — metadata must keep matching the
          // text or filters on n_chars see base-fixture selectivity
          // over longer rows (lang stays approximate by design)
          .withColumn("n_chars", length(col("text")).cast("long"))
        val skewed =
          if (skewPct > 0) skewKey(rep, "source", lit("src0"), skewPct,
            Seq("doc_id"))
          else rep
        // replicated ids end at k*docOff - 1; the giant cluster
        // starts at k*docOff
        if (giantDocs > 0)
          skewed.unionByName(giantCluster(spark, giantDocs, k * docOff))
        else skewed
      },
      "embeddings" -> replicate(t("embeddings"), k,
        Map("vec_id" -> vecOff))
        .withColumn("embedding",
          // nudge component 0 per replica (derived from the shifted
          // id) so replicated vectors are not exact cosine ties
          transform(col("embedding"),
            (x, i) => when(i === 0,
              x + (floor(col("vec_id") / lit(vecOff)) * lit(1e-3f))
                .cast("float"))
              .otherwise(x))))

    // single parquet FILE per table (the fixture layout the gate's
    // DuckDB side and Tables.load both read): write a one-part dir,
    // then move the part file to <dst>/<table>.parquet
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dst), conf)
    plans.foreach { case (name, df) =>
      val tmp = new org.apache.hadoop.fs.Path(s"$dst/__tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp)
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val target = new org.apache.hadoop.fs.Path(s"$dst/$name.parquet")
      if (fs.exists(target)) fs.delete(target, false)
      fs.rename(part, target)
      fs.delete(tmp, true)
      println(s"$name: ${spark.read.parquet(target.toString).count()} rows")
    }
    spark.stop()
  }
}
