package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sampling and shard-packing operators for training-data mixing: the
  * step between a curated corpus and a training run (per-source
  * mixture rates, then packing documents into fixed-token shards).
  */
object Sampling {

  /** Deterministic stratified sampling: keep a row iff
    * u(id) < rate(stratum), with u derived from the portable md5 hash
    * of (seed, id). Unlike `df.sample` this is stable across reruns,
    * partitionings and engines (the correctness oracle recomputes it),
    * and it is purely map-side — no shuffle, no state, any scale.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], seed: Long = 42L,
      defaultRate: Double = 0.0): DataFrame = {
    val u = (PortableHash.hash60(
      concat_ws(":", lit(seed), col(idCol))) % 1000000L)
      .cast("double") / 1000000.0
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(u < rate)
  }

  /** Fractional per-source epoch up-sampling: materialize a training
    * mixture where source s is seen `epochs(s)` times per pass — the
    * standard mixture knob published as per-dataset epoch factors
    * (e.g. "books ×2.3/epoch"). Non-integer factors are realized
    * exactly in expectation AND deterministically per document:
    * every row yields ⌊e⌋ copies plus one more iff the portable
    * (seed, id) hash lands below frac(e) — so reruns, engines, and
    * partitionings materialize the IDENTICAL multiset, and a
    * document's extra copy is a stable property of its id, not of
    * visit order. The fractional threshold is snapped to a ppm
    * integer grid driver-side, so the comparison is integer-exact.
    *
    * Scale shape: purely map-side — one md5 per row, a when-chain
    * over the (small, literal) source map, one `sequence` explode.
    * No shuffle, no state, no driver loop; output volume is
    * Σ_s e_s·n_s by construction. Downstream shuffling/packing is
    * the consumer's business ([[packSequences]], [[assignSplits]]).
    *
    * Returns the id/stratum columns plus `epoch_copy` (1-based copy
    * index). Sources missing from `epochs` get `defaultEpochs`;
    * factors must be >= 0 (0 drops the source).
    */
  def epochUpsample(df: DataFrame, idCol: String, strataCol: String,
      epochs: Map[String, Double], seed: Long = 42L,
      defaultEpochs: Double = 1.0): DataFrame = {
    require((epochs.values ++ Seq(defaultEpochs)).forall(_ >= 0.0),
      "epoch factors must be >= 0")
    require((epochs.values ++ Seq(defaultEpochs)).forall(_ <= 1000.0),
      "epoch factors above 1000 are almost certainly a unit mistake")
    def basePart(e: Double): Long = math.floor(e).toLong
    def fracPpm(e: Double): Long = math.round((e - math.floor(e)) * 1e6)
    val sorted = epochs.toSeq.sortBy(_._1)
    val base = sorted.foldLeft(lit(basePart(defaultEpochs))) {
      case (acc, (k, v)) =>
        when(col(strataCol) === k, lit(basePart(v))).otherwise(acc)
    }
    val frac = sorted.foldLeft(lit(fracPpm(defaultEpochs))) {
      case (acc, (k, v)) =>
        when(col(strataCol) === k, lit(fracPpm(v))).otherwise(acc)
    }
    val uPpm = PortableHash.hash60(
      concat_ws(":", lit(seed), col(idCol))) % 1000000L
    df.select(col(idCol), col(strataCol))
      .withColumn("__reps",
        (base + when(uPpm < frac, 1L).otherwise(0L)).cast("int"))
      .filter(col("__reps") > 0)
      .select(col(idCol), col(strataCol),
        explode(sequence(lit(1), col("__reps"))).as("epoch_copy"))
  }

  /** Deterministic global shuffle materialized as (shard, pos): the
    * step between a mixed corpus ([[epochUpsample]]) and a training
    * run's data loader — every row lands in a pseudo-random shard
    * (low bits of the portable (seed, key) hash) and gets a stable
    * ordinal within it (hash order, key tie-break), so shard files
    * can be written sorted and an epoch's read order is reproducible
    * bit-for-bit across reruns and engines. Changing `seed` reshuffles
    * everything; changing nothing re-materializes the identical order
    * — the property random `repartition` + file order can't promise.
    *
    * Scale shape: the shard assignment is map-only; the within-shard
    * ordinal is one window PARTITIONED BY shard — bounded by
    * construction, because `nShards` is chosen to make a shard a
    * file-sized unit (corpus/nShards rows; hash-uniform, so skew is
    * ±O(√(n/nShards)) — there is no hot shard by design, unlike
    * windows over natural keys). At 100 TB you run this with
    * O(100k) shards and each window group is a few hundred MB — the
    * same contract as writing the shard files themselves.
    *
    * `keyCols` must uniquely identify a row (e.g. doc_id, or
    * (doc_id, epoch_copy) over an up-sampled mixture); the ordinal is
    * total because the tie-break closes over them.
    */
  def shuffleShards(df: DataFrame, keyCols: Seq[String], nShards: Int,
      seed: Long = 42L): DataFrame = {
    require(keyCols.nonEmpty, "shuffleShards needs at least one key column")
    require(nShards >= 1, s"shuffleShards needs nShards >= 1, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val h = PortableHash.hash60(concat_ws(":",
      lit(seed) +: keyCols.map(c => col(c).cast("string")): _*))
    val keyed = df.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
    val w = Window.partitionBy("shard")
      .orderBy(col("__h") +: keyCols.map(col): _*)
    keyed.withColumn("pos", row_number().over(w)).drop("__h")
  }

  /** Per-source cap (source balancing): keep at most `cap` rows per
    * stratum, chosen deterministically by portable hash of (seed, id)
    * — "no source may contribute more than M documents", the standard
    * anti-domination guard in corpus mixing. Hash order (not id
    * order) makes the kept subset a uniform random-but-reproducible
    * draw from each source rather than its oldest rows.
    *
    * Scale shape: TWO windows, skew-safe by construction. A single
    * row_number window partitioned by the stratum would funnel a
    * billion-row source into ONE task; instead the first window
    * partitions by (stratum, salt) — `salts` deterministic hash
    * buckets of the id — and keeps each bucket's top `cap` by the
    * same (hash, id) order. Every row of the stratum's global top
    * `cap` ranks within the top `cap` of its own bucket (removing
    * other rows can only lower its rank), so the pre-pass retains
    * exactly the candidate set the final window needs: the second,
    * exact window per stratum then sees at most `salts * cap` rows.
    * The kept set is IDENTICAL to the naive single window — this is
    * a bound, not an approximation — and no stratum ever occupies
    * more than max(n_stratum / salts, salts * cap) rows of one task.
    */
  def capPerSource(df: DataFrame, idCol: String, strataCol: String,
      cap: Int, seed: Long = 42L, salts: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap > 0, s"capPerSource needs cap > 0, got $cap")
    require(salts > 0, s"capPerSource needs salts > 0, got $salts")
    val u = PortableHash.hash60(concat_ws(":", lit(seed), col(idCol)))
    // the salt need not be portable (it never reaches the output),
    // only deterministic in the id
    val salted = df.withColumn("__u", u)
      .withColumn("__salt", pmod(xxhash64(col(idCol)), lit(salts.toLong)))
    val w1 = Window.partitionBy(col(strataCol), col("__salt"))
      .orderBy(col("__u").asc, col(idCol).asc)
    val w2 = Window.partitionBy(col(strataCol))
      .orderBy(col("__u").asc, col(idCol).asc)
    salted
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= cap)
      .withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") <= cap)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Ranked per-group top-k: keep each stratum's `k` BEST rows by an
    * explicit score — quality filtering's "best K documents per
    * source" — where [[capPerSource]] keeps a uniform reproducible
    * draw. Ties (and NULL scores, which sort last and survive only
    * when a stratum has fewer than k scored rows) break by id, so
    * the kept set is deterministic.
    *
    * Same skew-safe two-window shape as [[capPerSource]]: a salted
    * (stratum, bucket) pre-window keeps each bucket's top k, which
    * provably retains every row of the stratum's true top k (removing
    * other rows only improves a row's bucket rank), then the exact
    * per-stratum window ranks at most `salts * k` survivors — a
    * billion-row source never funnels into one task.
    */
  def topKPerGroup(df: DataFrame, idCol: String, strataCol: String,
      scoreCol: String, k: Int, descending: Boolean = true,
      salts: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"topKPerGroup needs k > 0, got $k")
    require(salts > 0, s"topKPerGroup needs salts > 0, got $salts")
    val ord =
      if (descending) col(scoreCol).desc_nulls_last
      else col(scoreCol).asc_nulls_last
    val salted = df.withColumn("__salt",
      pmod(xxhash64(col(idCol)), lit(salts.toLong)))
    val w1 = Window.partitionBy(col(strataCol), col("__salt"))
      .orderBy(ord, col(idCol).asc)
    val w2 = Window.partitionBy(col(strataCol))
      .orderBy(ord, col(idCol).asc)
    salted
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= k)
      .withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") <= k)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Deterministic train/val/test split assignment: each row's split
    * is a pure function of (seed, id) — a 10000-way portable-hash
    * bucket mapped through cumulative fraction thresholds (0.01%
    * granularity, fractions are rounded to basis points). Map-only,
    * zero shuffle, and STABLE UNDER CORPUS GROWTH: a document keeps
    * its split when new data arrives or the job reruns — the property
    * that random assignment lacks and that keeps eval sets
    * uncontaminated across pipeline versions. Fractions summing to
    * less than 1 leave the remainder assigned NULL (held out).
    */
  def assignSplits(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], seed: Long = 42L,
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "assignSplits needs at least one split")
    require(splits.forall(_._2 > 0.0), "split fractions must be positive")
    val denom = 10000L
    val cums = splits.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * denom)
    }.tail
    require(cums.last <= denom,
      s"split fractions sum past 1.0 (${cums.last} bp)")
    val b = PortableHash.hash60(concat_ws(":", lit(seed), col(idCol))) % denom
    val assign = splits.map(_._1).zip(cums).reverse
      .foldLeft(lit(null).cast("string")) { case (acc, (name, hi)) =>
        when(b < hi, lit(name)).otherwise(acc)
      }
    df.withColumn(outCol, assign)
  }

  /** Exactly-k uniform sample: the k rows with the smallest portable
    * hash of (seed, id), ties to the smaller id. Rate-based sampling
    * ([[stratifiedSample]]) returns a BINOMIAL count; audits and
    * eval-set construction often need exactly k. Deterministic across
    * reruns/partitionings/engines, and planned as
    * TakeOrderedAndProject — per-partition k-heaps feeding one
    * k-merge, never a full sort or a single-task funnel.
    *
    * Determinism requires `idCol` to be UNIQUE (the same key contract
    * as [[stratifiedSample]]): duplicate ids produce identical
    * (hash, id) sort keys, and which of the tied rows lands in the
    * top k is then partition-order dependent.
    */
  def exactSample(df: DataFrame, idCol: String, k: Int,
      seed: Long = 42L): DataFrame = {
    require(k > 0, s"exactSample needs k > 0, got $k")
    val u = PortableHash.hash60(concat_ws(":", lit(seed), col(idCol)))
    df.orderBy(u.asc, col(idCol).asc).limit(k)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Weighted sample without replacement (Efraimidis–Spirakis,
    * "Weighted random sampling with a reservoir", IPL 97(5), 2006):
    * each row draws u = hash(seed:id) mapped into (0,1) and is ranked
    * by u^(1/w) — computed as ln(u)/w, monotone-equivalent and
    * overflow-safe — so inclusion probability is proportional to the
    * row's weight. The k largest ranks ARE the sample, which turns
    * weighted reservoir sampling into a deterministic, rerunnable
    * top-k: per-partition k-heaps + one k-merge
    * (TakeOrderedAndProject), never a global sort, no driver-side
    * randomness, reproducible across retries and cluster sizes.
    *
    * Rows with NULL or non-positive weight carry no selection mass
    * and are excluded. `idCol` must be unique (same determinism
    * contract as [[exactSample]]: ties in the rank key fall back to
    * id order).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: Long = 42L): DataFrame = {
    require(k > 0, s"weightedSample needs k > 0, got $k")
    val u01 =
      (PortableHash.hash60(concat_ws(":", lit(seed), col(idCol)))
        .cast("double") + lit(0.5)) / lit(math.pow(2.0, 60))
    val rank = log(u01) / col(weightCol).cast("double")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .orderBy(rank.desc, col(idCol).asc).limit(k)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Mixture-rate solver for corpus composition: given a target
    * mixture (per-stratum weight shares) and the corpus's ACTUAL
    * per-stratum weights, compute the per-stratum sampling rates that
    * realize the target exactly by downsampling only. The binding
    * stratum (smallest actual/target ratio) gets rate 1.0 and sets
    * the total; every other stratum downsamples to match:
    * rate_s = target_s · K / actual_s with K = min_s actual_s/target_s.
    * Feed the rates straight into [[stratifiedSample]].
    *
    * Scale shape: one partial+final aggregation over the corpus, a
    * broadcast join against the (tiny) target table, and a lazily
    * cross-joined one-row frame for K — no driver action, any corpus
    * size. Strata absent from `targets` are excluded (rate would be
    * 0); a target stratum with no positive corpus weight mass —
    * absent entirely, all-NULL weights, or zero/negative total —
    * makes the mixture unreachable and fails the job rather than
    * silently emitting NULL/NaN rates.
    */
  def mixtureRates(df: DataFrame, strataCol: String, weightCol: String,
      targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty, "mixtureRates needs at least one target")
    require(targets.values.forall(_ > 0.0),
      "target shares must be positive")
    val norm = targets.values.sum
    val spark = df.sparkSession
    import spark.implicits._
    val t = targets.toSeq.sortBy(_._1)
      .map { case (s, w) => (s, w / norm) }
      .toDF(strataCol, "target_share")
    val actual = df.groupBy(col(strataCol))
      .agg(sum(col(weightCol).cast("double")).as("actual_w"))
    // a stratum with NULL or non-positive total weight fails the
    // `> 0` filter (NULL rejects), so one left_anti catches absent,
    // all-NULL and zero/negative strata alike
    val unreachable = t.join(actual.filter(col("actual_w") > 0.0),
      Seq(strataCol), "left_anti")
    // t is broadcast only here, where it is the build side; Spark
    // cannot build the left side of the left_anti join above
    val joined = actual.join(broadcast(t), Seq(strataCol))
    val k = joined.agg(
      min(col("actual_w") / col("target_share")).as("__k"))
    // any target stratum with no positive corpus mass makes the
    // mixture unreachable — fail the job rather than return the
    // silent skew of NULL/NaN rates
    val kChecked = k.crossJoin(broadcast(
        unreachable.agg(count(lit(1)).as("__missing"))))
      .select(when(col("__missing") > 0, raise_error(lit(
        "mixtureRates: a target stratum has no positive corpus " +
          "weight mass — the requested mixture is unreachable")))
        .otherwise(col("__k")).as("__k"))
    joined.crossJoin(broadcast(kChecked))
      .select(col(strataCol), col("actual_w"), col("target_share"),
        (col("target_share") * col("__k") / col("actual_w")).as("rate"))
  }

  /** Temperature-based source reweighting — the multilingual /
    * multi-source pretraining mixture (mT5, arXiv:2010.11934 §3.1;
    * XLM-R, arXiv:1911.02116 §3): sample stratum s with share
    * q_s ∝ p_s^(1/τ), where p_s is its corpus weight share. τ = 1
    * keeps the natural distribution; τ > 1 flattens it (upweights
    * rare sources, the standard low-resource-language fix); τ → ∞
    * approaches uniform. Unlike [[mixtureRates]], the target mixture
    * is DERIVED from the corpus, not caller-provided.
    *
    * Downsampling-only, like mixtureRates: K = min_s p_s/q_s scales
    * the q-mixture to the largest subcorpus reachable without
    * upsampling any stratum, and rate_s = q_s·K/p_s feeds
    * [[stratifiedSample]] directly. At τ = 1 every rate is exactly
    * 1.0 (the whole corpus is already at temperature 1).
    *
    * Scale shape: one partial+final aggregation to the per-stratum
    * frame (strata-sized, tiny), all mixture math on that frame, the
    * corpus never re-scanned.
    *
    * Attestability (the pf2 pattern): the one float-sum in the
    * formula — Σ q_s, whose double accumulation order would differ
    * run to run and engine to engine — is quantized to an integer
    * DECIMAL grid (×10¹⁵, exact for shares ≤ 1) and summed exactly,
    * so the result is order-independent and an external oracle
    * replaying the same IEEE projection math matches bit-for-bit.
    * Corpus-weight sums are exact already when the weight column is
    * integral (token/char counts — the intended inputs). τ = 2 and
    * τ = 4 run on sqrt composition (correctly rounded per IEEE 754
    * in every engine); other τ use `pow`, whose last-ulp rounding is
    * libm-dependent (documented; the oracle-gated entry pins τ = 2).
    */
  def temperatureMix(df: DataFrame, strataCol: String, weightCol: String,
      tau: Double): DataFrame = {
    require(tau >= 1.0, s"temperature must be >= 1 (got $tau): " +
      "tau < 1 sharpens the mixture toward the head stratum, which " +
      "is never the curation intent and upsamples nothing anyway")
    val actual = df.groupBy(col(strataCol))
      .agg(sum(col(weightCol).cast("double")).as("actual_w"))
      .filter(col("actual_w") > 0.0)
    // the per-stratum frame is tiny; totals broadcast back as
    // one-row frames — the corpus is never re-scanned
    val totals = actual.agg(sum(col("actual_w")).as("__tw"))
    val withP = actual.crossJoin(broadcast(totals))
      .withColumn("p_share", col("actual_w") / col("__tw"))
    if (tau == 1.0)
      // the corpus IS the τ=1 mixture — exactly, not up to float
      // error: short-circuit instead of computing q = p through the
      // quantized grid and landing at 1 ± 1e-15
      withP.select(col(strataCol), col("actual_w"), col("p_share"),
        col("p_share").as("temp_share"), lit(1.0).as("rate"))
    else {
      def tempered(c: org.apache.spark.sql.Column) =
        if (tau == 2.0) sqrt(c)
        else if (tau == 4.0) sqrt(sqrt(c))
        else pow(c, lit(1.0 / tau))
      val withQ = withP.withColumn("__q_dec",
        round(tempered(col("p_share")) * lit(1e15), 0)
          .cast("decimal(38,0)"))
      val qTot = withQ.agg(sum(col("__q_dec")).as("__qt"))
      val shared = withQ.crossJoin(broadcast(qTot))
        .withColumn("temp_share",
          col("__q_dec").cast("double") / col("__qt").cast("double"))
      val k = shared.agg(min(col("p_share") / col("temp_share")).as("__k"))
      shared.crossJoin(broadcast(k))
        .select(col(strataCol), col("actual_w"), col("p_share"),
          col("temp_share"),
          least(lit(1.0), col("temp_share") * col("__k") / col("p_share"))
            .as("rate"))
    }
  }

  /** Sequence packing: concatenate documents in id order into one
    * token stream and cut it into `budget`-token shards — the
    * GPT-style pretraining packing layout. Returns
    * (id, n_tokens, shard_id) where shard_id is the shard the
    * document starts in.
    *
    * Scale shape: a distributed prefix sum — range-partition by id,
    * per-partition token totals (numPartitions longs) are collected
    * and scanned on the driver, and each partition derives its running
    * totals from its offset. No global single-task window at any
    * corpus size.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long, partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // materialize the range partitioning once so both passes see the
    // same partition boundaries
    val parted = df
      .select(col(idCol).cast("long"), col(tokensCol).cast("long"))
      .as[(Long, Long)]
      .repartitionByRange(partitions, col(idCol))
      .sortWithinPartitions(idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sums = parted.rdd
      .mapPartitionsWithIndex { case (i, it) =>
        var s = 0L
        it.foreach(s += _._2)
        Iterator((i, s))
      }
      .collect().sortBy(_._1).map(_._2)
    // offsets(i) = total tokens before partition i
    val offsets = sums.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val out = parted.rdd
      .mapPartitionsWithIndex { case (i, it) =>
        var running = bc.value(i)
        it.map { case (id, tok) =>
          val start = running
          running += tok
          (id, tok, start / budget)
        }
      }
      .toDF(idCol, tokensCol, "shard_id")
    // truncate lineage off the persisted two-pass frame so it can be
    // freed now
    val cut = Lineage.truncate(out)
    parted.unpersist(false)
    cut
  }

  /** Token-budget selection: within each stratum, keep the maximal
    * hash-ordered prefix of rows whose cumulative token count stays
    * within the stratum's budget — "take N billion tokens from each
    * source", the budgeted dual of [[capPerSource]]'s row cap.
    * Rows are ordered by portable hash of (seed, id) (a uniform,
    * reproducible draw, like every sampler here); a row is kept iff
    * its INCLUSIVE running total is <= the budget, so the kept set is
    * a contiguous prefix (token counts are non-negative, making the
    * running total monotone). Returns the kept rows with their
    * `cum_tokens`. Strata absent from `budgets` get `defaultBudget`.
    *
    * Preconditions (documented, same contracts as the other
    * samplers): `idCol` unique (duplicate ids make the (hash, id)
    * order — and thus the prefix — partition-order dependent) and
    * `tokensCol` non-negative (a negative count would un-overflow the
    * running total mid-stratum, breaking the prefix property).
    *
    * Scale shape: a two-level distributed prefix sum, skew-safe by
    * construction — the naive single running-total window would
    * funnel a billion-row source into ONE task. The hash is bucketed
    * by its high bits (bucketing is monotone in the hash, so buckets
    * are contiguous order ranges); level 1 partial-aggregates
    * per-(stratum, bucket) token sums (<= strata·buckets rows) and a
    * window over BUCKETS yields each bucket's starting offset; level
    * 2 computes running totals only WITHIN a bucket, partitioned by
    * (stratum, bucket). Buckets whose offset already exceeds the
    * budget are pruned before level 2 — the expensive window touches
    * only the ~budget-covering prefix of each stratum, not the whole
    * corpus — and no window partition ever holds more than
    * n_stratum / buckets rows.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, tokensCol: String,
      strataCol: String, budgets: Map[String, Long], seed: Long = 42L,
      defaultBudget: Long = 0L, buckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 1, s"tokenBudgetSelect needs buckets >= 1, got $buckets")
    require(budgets.values.forall(_ >= 0L) && defaultBudget >= 0L,
      "budgets must be non-negative")
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val step = (1L << 60) / buckets // hash60 < 2^60; floor-div is monotone
    val based = df
      .withColumn("__u", PortableHash.hash60(
        concat_ws(":", lit(seed), col(idCol))))
      .withColumn("__bk", (col("__u") / lit(step)).cast("long"))
      .withColumn("__budget", budget)
    val offsets = based.groupBy(col(strataCol), col("__bk"))
      .agg(sum(col(tokensCol).cast("long")).as("__bs"))
      .withColumn("__off", coalesce(sum(col("__bs")).over(
        Window.partitionBy(col(strataCol)).orderBy(col("__bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(strataCol), col("__bk"), col("__off"))
    val w = Window.partitionBy(col(strataCol), col("__bk"))
      .orderBy(col("__u").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    based
      .join(broadcast(offsets), Seq(strataCol, "__bk"))
      // a bucket starting past the budget cannot contribute (<=, not <:
      // zero-token rows sitting exactly AT the budget are still kept)
      .filter(col("__off") <= col("__budget"))
      .withColumn("cum_tokens",
        col("__off") + sum(col(tokensCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= col("__budget"))
      .select((df.columns.map(col) :+ col("cum_tokens")).toIndexedSeq: _*)
  }

  /** Cluster-balanced (diversity) sampling: assign each row to its
    * nearest centroid in embedding space, then keep at most
    * `perCluster` rows per cluster by the deterministic portable-hash
    * draw — "no semantic cluster may dominate the corpus", the
    * diversity pass of SemDeDup-style curation (Abbas et al.,
    * arXiv:2303.09540 §3 keeps a fixed share per cluster the same
    * way). Returns the kept rows with their `cluster` id.
    *
    * Scale shape: assignment is a map-only struct-min over the
    * broadcast centroid literals ([[Ivf.nearestCell]] — no join, no
    * shuffle), and the per-cluster cap is [[capPerSource]]'s salted
    * two-window pass, so one giant cluster cannot funnel into a
    * single task. Centroids come from [[Ivf.trainCentroids]] (quality)
    * or [[Ivf.staticCentroids]] (attestable); k-means cost is the
    * caller's one-off, amortized across every downstream pass.
    */
  def diverseSample(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], perCluster: Int,
      seed: Long = 42L): DataFrame = {
    require(centroids.nonEmpty, "diverseSample needs at least one centroid")
    capPerSource(
      df.withColumn("cluster",
        Ivf.nearestCell(col(vecCol), centroids).cast("int")),
      idCol, "cluster", perCluster, seed)
  }

  /** Water-filling budget allocation: split a global token budget
    * across sources by proportional target shares, redistributing the
    * shortfall of sources too small to absorb their share — the
    * mixture problem [[mixtureRates]] does NOT solve (that one scales
    * the total down to the binding stratum; this one keeps the total
    * fixed at `budgetTokens` and lets capped sources spill their mass
    * into the rest, the standard "books ×2 of a 1T budget, but books
    * only has 300B tokens" planning step).
    *
    * Closed form on the |sources|-row frame: sort by capacity/share
    * ascending; a source SATURATES (takes its full capacity) iff
    * `cap_i · S_i < (B − C_{i−1}) · m_i`, with C the running capacity
    * prefix and S the share suffix — evaluated as a RUNNING-AND so the
    * saturated set is prefix-closed by construction; the rest split
    * the remaining budget in proportion to their shares. Every
    * comparison and allocation is exact long arithmetic: shares are
    * integer millis (the caller's grid), so `cap·suffix < rem·milli`
    * never touches a double and the fill is `(B − satCap)·milli div
    * unsatShare` — floor-exact and engine-identical. Only the SORT
    * key (cap/milli) is a double — one division, bit-identical
    * cross-engine, ties broken on the source name.
    *
    * Scale shape: one corpus aggregation to per-source capacities;
    * everything after runs on |sources| rows (two windows + one
    * one-row agg on a frame of dozens — the documented exception to
    * the no-global-window rule, bounded by construction).
    */
  def waterfillBudget(df: DataFrame, strataCol: String,
      tokensCol: String, budgetTokens: Long,
      shareMilli: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, s"budget must be positive: $budgetTokens")
    require(shareMilli.nonEmpty && shareMilli.values.forall(_ > 0),
      "shares must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val t = broadcast(shareMilli.toSeq.sortBy(_._1)
      .toDF(strataCol, "share_milli"))
    val cap = df.groupBy(col(strataCol))
      .agg(sum(col(tokensCol).cast("long")).as("cap_tokens"))
      .filter(col("cap_tokens") > 0L)
      .join(t, strataCol)
    val ord = Window.orderBy(
      (col("cap_tokens").cast("double") /
        col("share_milli").cast("double")).asc, col(strataCol).asc)
    val flagged = cap
      .withColumn("__cprefix",
        coalesce(sum("cap_tokens").over(
          ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__ssuffix",
        sum("share_milli").over(
          ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("__rowSat",
        col("cap_tokens") * col("__ssuffix") <
          (lit(budgetTokens) - col("__cprefix")) * col("share_milli"))
      // running AND: saturation is a prefix of the sorted order
      .withColumn("saturated",
        min(col("__rowSat").cast("int")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          === 1)
    val totals = flagged.agg(
      coalesce(sum(when(col("saturated"), col("cap_tokens"))), lit(0L))
        .as("__satCap"),
      coalesce(sum(when(!col("saturated"), col("share_milli"))), lit(0L))
        .as("__unsatShare"))
    flagged.crossJoin(broadcast(totals))
      .select(col(strataCol), col("cap_tokens"), col("share_milli"),
        col("saturated"),
        when(col("saturated"), col("cap_tokens"))
          .otherwise(expr(
            s"(${budgetTokens}L - __satCap) * share_milli div __unsatShare"))
          .as("alloc_tokens"))
  }
}
