package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analysis operators: quality scoring, token counting, language
  * identification, document fingerprinting. All built-in expressions
  * (codegen'd, no UDFs); the regex dialect is the RE2-compatible
  * subset so the same patterns run in the DuckDB oracle.
  */
object TextAnalysis {

  /** The quality metric expressions over a text column, exposed so a
    * composed pass can compute them inline (withColumn + filter on the
    * corpus itself — no scored-table self-join, one shuffle saved).
    */
  def qualityExprs(textCol: String): Seq[(String, Column)] = {
    val t = col(textCol)
    val noSpace = length(t) - length(regexp_replace(t, " ", ""))
    val nWords = noSpace + 1
    val stopCnt = size(regexp_extract_all(t,
      lit("\\b(the|a|of|and|to)\\b"), lit(0)))
    val punctCnt = size(regexp_extract_all(t, lit("[.,;:!?]"), lit(0)))
    Seq(
      "n_chars_calc" -> length(t).cast("int"),
      "n_words" -> nWords.cast("long"),
      "avg_word_len" ->
        ((length(t) - noSpace).cast("double") / nWords.cast("double")),
      "stopword_cnt" -> stopCnt.cast("long"),
      "stopword_ratio" -> (stopCnt.cast("double") / nWords.cast("double")),
      "punct_cnt" -> punctCnt.cast("long"))
  }

  /** Quality metrics per document: lengths, word counts, average word
    * length, stopword ratio, punctuation ratio.
    */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.spread(df).select(col(idCol) +:
      qualityExprs(textCol).map { case (n, c) => c.as(n) }: _*)

  /** Canonical text normalization — the first stage of most curation
    * pipelines, so exact dedup keys and shingles agree across
    * formatting variants of the same content: whitespace runs (space,
    * tab, CR, LF) collapse to one space, remaining control characters
    * are stripped, the result is trimmed and lowercased. Built-ins
    * only (codegen'd regexp_replace), map-only at any scale. The
    * character classes are spelled explicitly (not \\s / \\p{Cntrl})
    * so RE2-based engines — including the correctness oracle —
    * reproduce them byte-for-byte.
    */
  def normalizeText(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val collapsed = regexp_replace(col(textCol), "[ \\t\\n\\r]+", " ")
    val stripped = regexp_replace(collapsed, "[\\x00-\\x1f\\x7f]", "")
    Dedup.spread(df).select(col(idCol), lower(trim(stripped)).as("norm_text"))
  }

  /** Token counts: whitespace tokens and regex (BPE-ish word/number
    * pieces) tokens.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = (length(t) - length(regexp_replace(t, " ", "")) + 1)
    val re = size(regexp_extract_all(t, lit("[a-zA-Z]+|[0-9]+"), lit(0)))
    Dedup.spread(df).select(col(idCol),
      ws.cast("long").as("ws_tokens"),
      re.cast("long").as("re_tokens"))
  }

  /** Stable content fingerprint: md5 of the text with whitespace
    * stripped (a cheap normalization), plus a 64-bit rolling-style
    * hash (xxhash64) for compact joins.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val normalized = regexp_replace(lower(col(textCol)), "\\s+", "")
    Dedup.spread(df).select(col(idCol),
      md5(normalized.cast("binary")).as("fingerprint_md5"),
      xxhash64(normalized).as("fingerprint_64"))
  }

  /** PII redaction over a text column: emails then phone-number-ish
    * digit runs are replaced with tags (emails first, so phone
    * matching runs on the email-redacted string — a fixed order makes
    * the operator deterministic). Patterns stay in the RE2-compatible
    * subset (no backrefs/lookahead) so the oracle replays them.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+?[0-9][0-9()\\-\\. ]{6,}[0-9]"

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val noEmail = regexp_replace(t, emailPattern, "<EMAIL>")
    val redacted = regexp_replace(noEmail, phonePattern, "<PHONE>")
    Dedup.spread(df).select(col(idCol),
      size(regexp_extract_all(t, lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(noEmail, lit(phonePattern), lit(0)))
        .cast("long").as("n_phones"),
      length(redacted).cast("long").as("redacted_len"),
      redacted.as("redacted"))
  }

  /** Repetition-based quality metrics (the Gopher-rule family:
    * heavily repetitive documents are low-quality training data):
    * per document, the duplicate-word fraction and the share of word
    * bigrams taken by the single most frequent bigram.
    *
    * Scale shape: the word-level stats are pure map-side expressions;
    * the bigram mode can NOT be a per-row expression without O(len²)
    * work per document, so bigrams explode and aggregate by
    * (doc, bigram) — a partial+final hash aggregation shuffling on the
    * composite key, the same shape shingling uses. No self-joins.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // materialize the split once (re-running the regex per lambda
    // element is a measured 5x slowdown, see wordShingles); spread a
    // single-split input so the bigram explode doesn't run one-core
    val words = col("__words")
    val base = Dedup.spread(df).withColumn("__words", split(col(textCol), " +"))
    val wordStats = base.select(col(idCol),
      size(words).cast("long").as("n_words"),
      size(array_distinct(words)).cast("long").as("n_distinct"))
    // adjacent word bigrams, same slice convention as wordShingles
    // (documents shorter than 2 words contribute their full text once)
    val bigrams = base.select(col(idCol), explode(transform(
      sequence(lit(0), greatest(size(words) - 2, lit(0))),
      i => array_join(slice(words, i + lit(1), lit(2)), " "))).as("bg"))
    val bgStats = bigrams.groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_bg"), sum(col("c")).as("total_bg"))
    wordStats.join(bgStats, Seq(idCol))
      .select(col(idCol), col("n_words"),
        ((col("n_words") - col("n_distinct")).cast("double") /
          col("n_words").cast("double")).as("dup_word_ratio"),
        (col("top_bg").cast("double") / col("total_bg").cast("double"))
          .as("top_bigram_ratio"))
  }

  /** Corpus vocabulary profile: the top-K word n-gram terms by total
    * occurrences, with document frequency — vocabulary building,
    * stopword discovery, and the term-level "know your data" pass a
    * pipeline runs before tokenizer training.
    *
    * Scale shape: explode (occurrences kept, unlike the dedup
    * shinglers' array_distinct) → a (doc, term) partial aggregation
    * (map-side combine bounds the shuffle by per-doc distinct terms)
    * → a term-level aggregation producing total count and document
    * frequency in one pass — never a countDistinct Expand over the
    * raw occurrence stream. The global top-K runs as
    * TakeOrderedAndProject: per-partition K-heaps, not a full sort of
    * the vocabulary. Deterministic under count ties (term is the
    * secondary sort key).
    */
  def vocabProfile(df: DataFrame, idCol: String, textCol: String,
      n: Int = 1, topK: Int = 100): DataFrame = {
    require(n >= 1 && topK >= 1, "vocabProfile needs n >= 1, topK >= 1")
    val words = col("__words")
    val term =
      if (n == 1) explode(words)
      else explode(transform(
        sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => array_join(slice(words, i + lit(1), lit(n)), " ")))
    Dedup.spread(df)
      .withColumn("__words", split(col(textCol), " +"))
      .select(col(idCol), term.as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("__c"))
      .groupBy(col("term"))
      .agg(sum(col("__c")).as("term_count"),
        count(lit(1)).as("doc_freq"))
      .orderBy(col("term_count").desc, col("term"))
      .limit(topK)
  }

  /** Per-document TF-IDF keywords: the top-K terms of each document
    * by tf·idf — keyword extraction / topic tagging, the per-document
    * dual of `vocabProfile`'s corpus-level view.
    *
    * Scale shape: one (doc, term) partial aggregation for term
    * frequencies; document frequencies and the corpus size join back
    * as a term-keyed equi join plus a broadcast one-row frame (both
    * lazy — no driver-side count action); the per-document top-K is a
    * row_number window partitioned by document (state = one doc's
    * terms, shuffled on the doc key), tie-broken by term so ranks are
    * deterministic. idf = ln((N + 1) / (df + 1)) — the smoothed form,
    * never division by zero.
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      topKPerDoc: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = col("__words")
    val tf = Dedup.spread(df)
      .withColumn("__words", split(col(textCol), " +"))
      .select(col(idCol), explode(words).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    // corpus size from the raw frame: a column-pruned scan, no
    // shingle work (tf feeds two consumers already; a third would
    // recompute the explode+agg a third time)
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") *
        log((col("n_docs") + 1).cast("double") /
          (col("df") + 1).cast("double")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topKPerDoc)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("score"))
  }

  /** Overlapping token-window chunking for embedding / indexing
    * pipelines: cut each document into windows of `window` tokens
    * starting every `stride` tokens — the unit RAG indexes and
    * embedding models consume. Window starts are 0, stride, 2·stride,
    * … while they land inside the document, so every token belongs to
    * at least one chunk; tail chunks may run shorter than `window`.
    * Returns one row per chunk: (id, chunk_id, n_tokens, chunk_text).
    *
    * Scale shape: map-only — split once, explode the window starts,
    * slice per window, all inside whole-stage codegen; output rows
    * ≈ corpus tokens / stride, with no shuffle and no state.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"chunkDocuments needs window >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"chunkDocuments needs 1 <= stride <= window, got stride=$stride")
    val toks = col("__toks")
    Dedup.spread(df)
      .withColumn("__toks", split(col(textCol), " +"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride)),
        s => struct(
          least(lit(window), size(toks) - s).cast("long").as("n_tokens"),
          array_join(slice(toks, s + 1, lit(window)), " ").as("chunk_text")))))
      .toDF(idCol, "chunk_id", "__c")
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("__c.n_tokens"), col("__c.chunk_text"))
  }

  /** Per-document language-model quality score, the CCNet recipe
    * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", arXiv:1911.00359): train an
    * n-gram LM on a trusted reference corpus, score every candidate
    * document by its per-token negative log-likelihood, and filter on
    * the score (low nll ≈ fluent text, high nll ≈ boilerplate /
    * gibberish). This is the add-alpha-smoothed bigram form:
    * P(w2|w1) = (c(w1,w2) + alpha) / (c(w1·) + alpha·V), with c(w1·)
    * the count of bigram positions starting at w1 and V the reference
    * vocabulary size, so unseen bigrams and unseen prefixes are both
    * well-defined. Returns one row per document:
    * (id, n_bigrams, nll, ppl = exp(nll)); documents with fewer than
    * two tokens score NULL.
    *
    * Scale shape: the LM build is two partial+final aggregations over
    * the reference corpus (bigram counts, prefix counts — both
    * vocabulary-bounded outputs) plus one lazily cross-joined one-row
    * frame for V. Scoring collapses each document to its DISTINCT
    * bigrams first (a (doc, w1, w2) partial aggregation), then joins
    * the LM with two equi joins — a hot bigram ("of the") meets ONE
    * build-side row however many documents carry it, so skew cannot
    * pairwise-explode — and folds back to one row per document with a
    * final partial aggregation. No driver action anywhere.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      lmCorpus: DataFrame, lmTextCol: String,
      alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0, s"lmScore needs alpha > 0, got $alpha")
    val words = col("__words")
    def bigrams(frame: DataFrame, keep: Seq[Column]): DataFrame = {
      // CaseWhen evaluates only the matched branch: sequence() never
      // sees a negative stop for documents shorter than two tokens
      val pairs = when(size(words) >= 2,
        transform(sequence(lit(0), size(words) - 2),
          i => struct(element_at(words, i + 1).as("w1"),
            element_at(words, i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      frame.select((keep :+ explode(pairs).as("__bg")): _*)
        .select((keep :+ col("__bg.w1") :+ col("__bg.w2")): _*)
    }
    val ref = Dedup.spread(lmCorpus)
      .withColumn("__words", split(col(lmTextCol), " +"))
    val refBg = bigrams(ref, Seq.empty)
    val lm = refBg.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    val prefix = refBg.groupBy("w1").agg(count(lit(1)).as("__c1"))
    val vocab = ref.select(explode(words).as("__tk"))
      .agg(countDistinct(col("__tk")).as("__v"))
    val docBg = bigrams(
      Dedup.spread(df).withColumn("__words", split(col(textCol), " +")),
      Seq(col(idCol)))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("__n"))
    val scored = docBg
      .join(lm, Seq("w1", "w2"), "left")
      .join(prefix, Seq("w1"), "left") // unseen (w1,w2) can still have a seen w1
      .crossJoin(broadcast(vocab))
      .withColumn("__logp", log(
        (coalesce(col("__c12"), lit(0L)) + lit(alpha)) /
          (coalesce(col("__c1"), lit(0L)) + lit(alpha) * col("__v"))))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_bigrams"),
        (-sum(col("__n") * col("__logp")) / sum(col("__n"))).as("nll"))
    // one row per input document, including the too-short ones
    df.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("nll"), exp(col("nll")).as("ppl"))
  }

  /** Tiny built-in stopword profiles for the n-gram/stopword language
    * heuristic. Real pipelines plug in fastText-style models; the
    * operator shape (score per language → argmax) is what matters.
    */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"))

  /** Language ID by stopword-profile hit ratio: score = matches of the
    * language's stopword set; prediction = argmax (ties broken by
    * language code order), 'unk' when nothing matches.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val scores = stopwordProfiles.toSeq.sortBy(_._1).map { case (lg, words) =>
      val pat = "\\b(" + words.mkString("|") + ")\\b"
      struct(size(regexp_extract_all(t, lit(pat), lit(0))).as("score"),
        lit(lg).as("lang"))
    }
    val best = greatest(scores: _*) // struct comparison: score, then lang
    Dedup.spread(df).select(col(idCol),
      when(best.getField("score") > 0, best.getField("lang"))
        .otherwise(lit("unk")).as("predicted_lang"),
      best.getField("score").cast("long").as("lang_score"))
  }

  /** PMI collocations: corpus-level pointwise mutual information of
    * adjacent token pairs — ln(p(w1,w2) / (p(w1)·p(w2))) — the
    * phrase-detection signal (word2vec's word2phrase pass) and a
    * vocabulary-design diagnostic. High-PMI pairs behave as one unit
    * ("new york"); `minCount` drops the unstable rare-pair tail.
    *
    * Scale shape: one bigram (w1,w2) partial aggregation and one
    * unigram aggregation — both bounded by vocabulary², collapsed
    * map-side — then two equi joins on the words and two lazy one-row
    * totals; the top-K is a TakeOrdered, no full sort. The pmi
    * expression runs once per surviving pair on exact integer counts
    * (multiplication order fixed so both engines compute the same
    * doubles; cross-engine ln differs ≤1 ulp — membership at the
    * top-K cutoff is robust as long as the k/k+1 gap exceeds that,
    * which minCount guarantees in practice).
    *
    * Empty tokens are dropped BEFORE pairing (split(" +") only yields
    * them at text edges, so interior adjacency is unaffected).
    */
  def pmiCollocations(df: DataFrame, textCol: String,
      minCount: Long = 5L, topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1,
      s"pmiCollocations needs minCount >= 1, topK >= 1")
    val words = col("__words")
    val base = Dedup.spread(df).withColumn("__words",
      filter(split(col(textCol), " +"), w => length(w) > 0))
    val uni = base.select(explode(words).as("w"))
    val uc = uni.groupBy("w").agg(count(lit(1)).as("__c"))
    val nTotal = uc.agg(sum("__c").as("__n"))
    val pairs = when(size(words) >= 2,
      transform(sequence(lit(0), size(words) - 2),
        i => struct(element_at(words, i + 1).as("w1"),
          element_at(words, i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val bc = base.select(explode(pairs).as("__bg"))
      .select(col("__bg.w1"), col("__bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_pair"))
    val nBigrams = bc.agg(sum("c_pair").as("__m"))
    bc.filter(col("c_pair") >= minCount)
      .join(uc.select(col("w").as("w1"), col("__c").as("__c1")), "w1")
      .join(uc.select(col("w").as("w2"), col("__c").as("__c2")), "w2")
      .crossJoin(broadcast(nTotal)).crossJoin(broadcast(nBigrams))
      .select(col("w1"), col("w2"), col("c_pair"),
        log((col("c_pair").cast("double") * col("__n") * col("__n")) /
          (col("__m").cast("double") * col("__c1") * col("__c2")))
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Token-distribution Shannon entropy per document (nats):
    * H = ln(n) − (Σ c·ln c)/n over token counts c — the
    * lexical-diversity quality signal (near-0 entropy = a document
    * that repeats one token; boilerplate and keyword-stuffed spam
    * score far below natural prose of the same length). Documents
    * with no tokens are absent from the result (H is undefined).
    *
    * Determinism: the Σ c·ln c fold runs over the per-document counts
    * SORTED BY TOKEN (sort_array of (token, count) structs, then a
    * sequential `aggregate` fold) — double addition is
    * order-sensitive in the last ulps, and collect_list order is
    * partition-dependent, so folding unsorted would make the entropy
    * differ between runs. Sorted-sequential makes it bit-identical on
    * any cluster, and replayable by an oracle folding the same order
    * up to the engines' ln implementations (measured ≤1 ulp apart
    * between the JVM and DuckDB — inside the gate's 6-decimal
    * rounding, and irrelevant to the within-Spark determinism).
    *
    * Scale shape: one (doc, token) partial aggregation (a hot
    * token's occurrences collapse map-side), then one per-doc
    * aggregation whose state is the document's DISTINCT token counts
    * — bounded by vocabulary, not document length. Map-only before
    * the first exchange; no window, no join.
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val counts = Dedup.spread(df)
      .withColumn("__words", split(col(textCol), " +"))
      .select(col(idCol), explode(col("__words")).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
    val n = col("n_tokens").cast("double")
    counts.groupBy(col(idCol))
      .agg(sum("__c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sort_array(collect_list(struct(col("__tok"), col("__c"))))
          .as("__arr"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        (log(n) - aggregate(col("__arr"), lit(0.0), (acc, x) =>
          acc + x.getField("__c").cast("double") *
            log(x.getField("__c").cast("double"))) / n).as("entropy"))
  }

  /** Per-document n-gram novelty against a reference corpus: the
    * fraction of a candidate document's distinct word n-grams that do
    * NOT occur anywhere in the reference — the "how much of this is
    * new text" signal used to score fresh crawl snapshots against an
    * already-ingested corpus, to pick documents that add information
    * rather than re-paste it, and (inverted) as a soft contamination
    * measure. Returns (id, n_grams, n_new, novelty) with novelty =
    * n_new / n_grams, a single IEEE division of exact longs.
    *
    * Scale shape: both sides shingle map-only (`Dedup.wordShingles`);
    * the reference collapses to DISTINCT grams with one partial
    * aggregation (hot boilerplate grams combine map-side), and
    * membership is a gram-keyed LEFT equi-join — linear in candidate
    * grams, never candidate × reference. The per-doc rollup is a
    * second partial aggregation. At 100 TB the reference gram set is
    * itself a table to precompute once and reuse across snapshots;
    * a Bloom sketch of it (the `Contamination.bloomContaminated`
    * pattern) prefilters the join when the reference outweighs the
    * candidates.
    */
  def ngramNovelty(candidates: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"ngramNovelty needs n >= 1, got $n")
    val refGrams = Dedup.wordShingles(reference, idCol, textCol, n)
      .select(col("shingle")).distinct()
      .withColumn("__in_ref", lit(1))
    Dedup.wordShingles(candidates, idCol, textCol, n)
      .join(refGrams, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__in_ref").isNull, 1L).otherwise(0L)).as("n_new"))
      .withColumn("novelty",
        col("n_new").cast("double") / col("n_grams").cast("double"))
  }

  /** BPE merge-candidate pair counts (Sennrich, Haddow & Birch,
    * "Neural Machine Translation of Rare Words with Subword Units",
    * ACL 2016 — the byte-pair-encoding tokenizer trainer's inner
    * statistic): the corpus-weighted frequency of every adjacent
    * character pair, ranked — the top pair is the first BPE merge,
    * and iterating this statistic IS tokenizer training. Returns the
    * top `topK` pairs with the number of distinct words containing
    * the pair and the total corpus-weighted occurrence count
    * (ties break on the pair string).
    *
    * Scale shape: the ONLY corpus-linear work is the word-frequency
    * aggregation (one partial agg, map-side combine collapses every
    * repeated token before the shuffle); pair extraction and both
    * downstream aggregations run over DISTINCT words — vocabulary-
    * bounded, millions of rows regardless of corpus token volume.
    * This is exactly why production BPE trainers operate on word
    * count tables, and the top-k is a TakeOrdered heap, not a sort.
    * Like [[bpeVocab]], it reads the scan's own partitions: no
    * [[Dedup.spread]] shuffle of raw text ahead of that partial agg.
    */
  def bpePairCounts(df: DataFrame, textCol: String,
      topK: Int = 50): DataFrame = {
    require(topK >= 1, s"bpePairCounts needs topK >= 1, got $topK")
    val vocab = df.select(explode(split(col(textCol), " +")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val wordPairs = vocab
      .select(col("word"), col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
      )).as("pair"))
      .groupBy(col("word"), col("pair"))
      .agg(max(col("freq")).as("freq"), count(lit(1)).as("occ"))
    wordPairs.groupBy(col("pair"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("occ") * col("freq")).as("total_count"))
      .orderBy(col("total_count").desc, col("pair"))
      .limit(topK)
  }

  /** C4-style line-level cleaning (Raffel et al., "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", JMLR 2020 §2.2 — the C4 heuristics): keep only
    * lines that (a) have at least `minLineWords` words, (b) end in a
    * terminal punctuation mark, and (c) contain none of the
    * `badSubstrings` (lowercased containment — the "lorem ipsum" /
    * boilerplate screen); additionally flag the WHOLE document for
    * drop when any line contains a curly brace (C4's "probably code"
    * page rule). Returns per document: line counts, the kept-line
    * reassembly in original order, and the page-level `doc_keep`
    * flag — the flag is reported rather than applied so a pipeline
    * can audit the rule before enforcing it.
    *
    * Scale shape: split + posexplode is a map-only Generate; every
    * per-line predicate is a codegen'd expression; the reassembly is
    * ONE per-doc partial aggregation whose collect_list is bounded by
    * the document's own line count (same bound as [[Dedup.lineDedup]]).
    * No joins, no second shuffle.
    */
  def c4LineClean(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n", minLineWords: Int = 3,
      badSubstrings: Seq[String] =
        Seq("lorem ipsum", "javascript")): DataFrame = {
    require(minLineWords >= 1,
      s"c4LineClean needs minLineWords >= 1, got $minLineWords")
    val delimRe = java.util.regex.Pattern.quote(delim)
    val lines = Dedup.spread(df)
      .select(col(idCol), posexplode(split(col(textCol), delimRe)))
      .toDF(idCol, "__pos", "__line")
    val line = col("__line")
    val nLineWords = size(split(line, " +"))
    val hasBad =
      if (badSubstrings.isEmpty) lit(false)
      else badSubstrings
        .map(b => instr(lower(line), b.toLowerCase) > 0)
        .reduce(_ || _)
    val keepLine = nLineWords >= minLineWords &&
      line.rlike("[.!?\"']$") && !hasBad
    val hasBrace = instr(line, "{") > 0 || instr(line, "}") > 0
    lines
      .withColumn("__keep", keepLine)
      .withColumn("__brace", when(hasBrace, 1L).otherwise(0L))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        (lit(1L) - max(col("__brace"))).as("doc_keep"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__line"))))),
          s => s.getField("__line")), delim).as("clean_text"))
  }

  /** The word-frequency table BPE training operates on: one
    * corpus-linear partial aggregation (map-side combine collapses
    * repeated tokens before the shuffle). [[bpeState]] collects it
    * once; everything after that is vocabulary-bounded. It reads the
    * scan's own partitions: a [[Dedup.spread]] repartition would put
    * the raw text through one more shuffle (one more eager job) only
    * to feed an aggregation that shrinks it to the vocabulary.
    */
  private def bpeVocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " +")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Initial BPE symbol sequence of a word: space-joined characters
    * plus the Sennrich end-of-word marker ("low" → "l o w </w>").
    * Built with the java.util.regex replace that Spark's
    * `regexp_replace(word, "(?s)(.)", "$1 ")` runs, so `.` takes a
    * surrogate pair whole (an emoji is one symbol). `(?s)` makes every
    * code point a symbol: without it Java's `.` skips `\n`, `\r`,
    * U+0085, U+2028 and U+2029 while RE2's (DuckDB's) skips only
    * `\n`, and a word holding one of them splits differently in the
    * two engines. The marker never collides with a single character,
    * and merged symbols are concatenations of space-free symbols, so
    * token boundaries in the space-joined form are unambiguous.
    */
  private def bpeSeq0(word: String): String =
    word.replaceAll("(?s)(.)", "$1 ") + "</w>"

  /** Spark's (and DuckDB's) string order: unsigned UTF-8 bytes, which
    * is code-point order. `String.compareTo` orders UTF-16 code units
    * and so puts an astral-plane symbol before U+E000..U+FFFF.
    */
  private def codePointCompare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Learned merges plus the final per-word symbol sequences —
    * shared by [[bpeLearn]] (which returns the merge table) and
    * [[bpeEncode]] (which tokenizes the corpus with the final
    * sequences, never re-deriving them).
    */
  private[pipeline] case class BpeState(merges: DataFrame,
      vocab: DataFrame)

  /** The BPE trainer: the word-count table ([[bpeVocab]], the only
    * corpus-linear work) is collected once, then every round runs in
    * driver memory, as in Sennrich's reference trainer. A round counts
    * adjacent symbol pairs weighted by word frequency, takes the
    * (count DESC, pair ASC) winner and applies it to every sequence
    * left to right without overlap: the boundary-guarded replace
    * resumes after each match, so in a run ("a a a a") the shared
    * boundary space is consumed and alternate occurrences merge
    * (" aa a a "), the semantics Spark's and DuckDB's `replace` share.
    * Once no pair is left the sequences stay as they are and no
    * further merge rows are emitted.
    *
    * Returns two local frames: the merge table (round, lhs, rhs,
    * merged, pair_count) and the final (word, seq) vocabulary. Driver
    * memory grows with the number of distinct words, not the corpus.
    */
  private[pipeline] def bpeState(df: DataFrame, textCol: String,
      rounds: Int): BpeState = {
    require(rounds >= 1 && rounds <= 64,
      s"bpe needs 1 <= rounds <= 64, got $rounds")
    val vocab = bpeVocab(df, textCol).collect()
    val words = vocab.map(_.getString(0))
    val freqs = vocab.map(_.getLong(1))
    val seqs = words.map(bpeSeq0)
    val merges = Vector.newBuilder[Row]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for (i <- seqs.indices) {
        val sy = seqs(i).split(" ", -1)
        for (j <- 0 until sy.length - 1) {
          val p = sy(j) + " " + sy(j + 1)
          // Spark's ANSI sum raises on overflow; so does this one
          counts(p) = Math.addExact(counts.getOrElse(p, 0L), freqs(i))
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val (pair, n) = counts.reduce { (a, b) =>
          if (a._2 != b._2) { if (a._2 > b._2) a else b }
          else if (codePointCompare(a._1, b._1) <= 0) a else b
        }
        val Array(lhs, rhs) = pair.split(" ", -1)
        merges += Row(round, lhs, rhs, lhs + rhs, n)
        val (from, to) = (s" $pair ", s" $lhs$rhs ")
        // the padded sequence keeps exactly one space at each end, so
        // dropping them is Spark's space-only `trim` (String.trim
        // would also eat a leading "\n" symbol)
        for (i <- seqs.indices) {
          val s = s" ${seqs(i)} ".replace(from, to)
          seqs(i) = s.substring(1, s.length - 1)
        }
        round += 1
      }
    }
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    BpeState(
      spark.createDataFrame(merges.result().asJava, StructType(Seq(
        StructField("round", IntegerType, nullable = false),
        StructField("lhs", StringType),
        StructField("rhs", StringType),
        StructField("merged", StringType),
        StructField("pair_count", LongType)))),
      spark.createDataFrame(
        words.indices.map(i => Row(words(i), seqs(i))).asJava,
        StructType(Seq(StructField("word", StringType),
          StructField("seq", StringType)))))
  }

  /** Iterative BPE merge learning (Sennrich, Haddow & Birch, ACL
    * 2016): `rounds` merge rules learned by repeatedly taking the
    * corpus-weighted most frequent adjacent symbol pair (ties on the
    * pair string in code-point order) and fusing it across the
    * vocabulary. Returns one row per round, (round, lhs, rhs, merged,
    * pair_count); fewer than `rounds` rows when the vocabulary runs out
    * of pairs.
    *
    * Scale shape: the corpus is touched once (the word-frequency
    * partial agg, collected to the driver); the merge loop is one
    * driver-side loop over the distinct words ([[bpeState]]), so
    * driver memory grows with the vocabulary, not with corpus tokens.
    */
  def bpeLearn(df: DataFrame, textCol: String, rounds: Int = 8): DataFrame =
    bpeState(df, textCol, rounds).merges

  /** BPE corpus tokenization stats with merges learned in the same
    * pass: per `srcCol` the word count, the token count under the
    * learned `rounds`-merge vocabulary, and tokens-per-word fertility
    * on an exact parts-per-million integer grid (the tokenizer-QA
    * number a pipeline tracks per ingest source — a source whose
    * fertility spikes is one the tokenizer serves badly).
    *
    * Scale shape: the corpus is read twice. Training collects the
    * global word counts to the driver and runs the merge loop there
    * ([[bpeState]]; driver memory grows with the number of distinct
    * words). Scoring is one (source, word) partial agg that joins the
    * final per-word token counts back, so each distinct word is
    * tokenized once and no document text is re-scanned per round.
    * That agg reads the scan's own partitions, as [[bpeVocab]] does.
    */
  def bpeEncode(df: DataFrame, srcCol: String, textCol: String,
      rounds: Int = 8): DataFrame = {
    val st = bpeState(df, textCol, rounds)
    val srcWords = df.select(col(srcCol),
        explode(split(col(textCol), " +")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col(srcCol), col("word"))
      .agg(count(lit(1)).as("n_occ"))
    val tokens = st.vocab.select(col("word"),
      size(split(col("seq"), " ")).cast("long").as("n_toks"))
    srcWords.join(tokens, "word")
      .groupBy(col(srcCol))
      .agg(sum(col("n_occ")).as("n_words"),
        sum(col("n_occ") * col("n_toks")).as("n_tokens"))
      .withColumn("fert_ppm", expr("n_tokens * 1000000 div n_words"))
      .orderBy(col(srcCol))
  }

  /** Chi-square keyness per source: for every (source, term) the 2×2
    * contingency test of "is this term over-represented in this
    * source vs the rest of the corpus", keeping the top-k
    * over-represented terms per source — the corpus-linguistics
    * "keyness" profile (Dunning-style association on counts) a
    * pipeline runs to characterize what each ingest source actually
    * contains before setting mixture weights.
    *
    * χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) with a = term count
    * in source, b = term count elsewhere, c = other tokens in source,
    * d = other tokens elsewhere. Over-representation (ad − bc > 0) is
    * tested on exact longs; χ² itself is a fixed double expression
    * tree on exact-integer-valued inputs, so engines agree, and the
    * per-source top-k orders by (χ² DESC, term) — deterministic under
    * ties.
    *
    * Scale shape: one (source, term) partial aggregation over the
    * exploded token stream, then a term-keyed equi-join to term
    * totals, a broadcast join to the |sources|-row source totals and
    * a broadcast one-row N — no window until the per-source top-k,
    * which shuffles only the (source, term) count frame. Never a
    * per-source corpus scan.
    */
  def sourceKeyness(df: DataFrame, srcCol: String, textCol: String,
      topKPerSource: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topKPerSource >= 1,
      s"sourceKeyness needs topKPerSource >= 1, got $topKPerSource")
    val toks = Dedup.spread(df)
      .withColumn("__words", split(col(textCol), " +"))
      .select(col(srcCol), explode(col("__words")).as("term"))
    val st = toks.groupBy(col(srcCol), col("term"))
      .agg(count(lit(1)).as("a"))
    val termTot = st.groupBy(col("term")).agg(sum(col("a")).as("t_tot"))
    val srcTot = st.groupBy(col(srcCol)).agg(sum(col("a")).as("s_tot"))
    val nTot = st.agg(sum(col("a")).as("n_tot"))
    val joined = st
      .join(termTot, "term")
      .join(broadcast(srcTot), srcCol)
      .crossJoin(broadcast(nTot))
      .withColumn("b", col("t_tot") - col("a"))
      .withColumn("c", col("s_tot") - col("a"))
      .withColumn("d",
        col("n_tot") - col("t_tot") - col("s_tot") + col("a"))
    val aD = col("a").cast("double"); val bD = col("b").cast("double")
    val cD = col("c").cast("double"); val dD = col("d").cast("double")
    val delta = aD * dD - bD * cD
    val chi2 = (col("n_tot").cast("double") * (delta * delta)) /
      ((aD + bD) * (cD + dD) * (aD + cD) * (bD + dD))
    val w = Window.partitionBy(col(srcCol))
      .orderBy(col("chi2").desc, col("term"))
    joined
      // over-represented only, decided on exact integer arithmetic —
      // on DECIMAL(38,0): a·d with d ≈ total corpus tokens overflows
      // a long at real corpus scale (ANSI would crash the job; the
      // oracle's HUGEINT would not), decimal keeps both engines exact
      .filter(col("a").cast("decimal(38,0)") * col("d").cast("decimal(38,0)") -
        col("b").cast("decimal(38,0)") * col("c").cast("decimal(38,0)") > 0L)
      .withColumn("chi2", chi2)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topKPerSource)
      .select(col(srcCol), col("rank"), col("term"),
        col("a").as("term_count"), col("chi2"))
  }

  /** Per-source term-distribution drift between two corpus snapshots
    * — the crawl-refresh QA report: when snapshot v2 replaces v1, did
    * a source's CONTENT distribution move, beyond what row-level diff
    * counts ([[Snapshot.snapshotDiffSummary]]) can see? Reports per
    * source: exact token totals, union vocabulary size, terms new in
    * v2 / dropped from v2 (exact integers), and the smoothed KL
    * divergence KL(q‖p) of v2's unigram distribution from v1's over
    * the union vocabulary (add-one smoothing, so absent terms are
    * finite).
    *
    * Determinism: the KL is a sum of per-term doubles — fold-order
    * trouble — so each term's contribution q·ln(q/p) is floored onto
    * a ×10⁹ grid (nats·10⁻⁹ units) BEFORE the per-source sum, making
    * the sum an integer fold: order-independent and cross-engine
    * exact up to ln's ≤1-ulp engine difference against the grid
    * margin (the rr1/ir1 discipline; margins attested in spec). All
    * counts feeding p and q are exact longs.
    *
    * Scale shape: both snapshots explode to tokens map-side and meet
    * in ONE (source, term) partial aggregation (tagged union — no
    * join of the two corpora); everything after is vocabulary-
    * bounded: a |sources|-row broadcast of totals, a map-only
    * contribution, one final partial agg. Never a per-source scan,
    * no window.
    */
  def termDrift(v1: DataFrame, v2: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    def toks(df: DataFrame, tag: Int) = Dedup.spread(df)
      .withColumn("__w", split(col(textCol), " +"))
      .select(col(srcCol), explode(col("__w")).as("term"), lit(tag).as("__v"))
      .filter(length(col("term")) >= 1)
    val counts = toks(v1, 1).unionByName(toks(v2, 2))
      .groupBy(col(srcCol), col("term"))
      .agg(sum(when(col("__v") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("__v") === 2, 1L).otherwise(0L)).as("c2"))
    val tot = counts.groupBy(col(srcCol)).agg(
      sum(col("c1")).as("tokens_v1"), sum(col("c2")).as("tokens_v2"),
      count(lit(1)).as("vocab_union"),
      sum(when(col("c1") === 0, 1L).otherwise(0L)).as("new_terms"),
      sum(when(col("c2") === 0, 1L).otherwise(0L)).as("dropped_terms"))
    // smoothed p (v1) and q (v2) over the union vocab; the ln/×/÷
    // tree below is mirrored token-for-token by the dr1 oracle — do
    // not reassociate
    val j = counts.join(broadcast(tot), srcCol)
      .withColumn("__p",
        (col("c1") + lit(1.0)) / (col("tokens_v1") + col("vocab_union")))
      .withColumn("__q",
        (col("c2") + lit(1.0)) / (col("tokens_v2") + col("vocab_union")))
      .withColumn("__contrib",
        floor(col("__q") * log(col("__q") / col("__p")) *
          lit(1000000000.0)).cast("long"))
    j.groupBy(col(srcCol))
      .agg(max(col("tokens_v1")).as("tokens_v1"),
        max(col("tokens_v2")).as("tokens_v2"),
        max(col("vocab_union")).as("vocab_union"),
        max(col("new_terms")).as("new_terms"),
        max(col("dropped_terms")).as("dropped_terms"),
        sum(col("__contrib")).as("kl_nnats"))
  }

  /** Character-class (script) distribution per stratum: counts of
    * ASCII letters, digits, spaces and everything outside printable
    * ASCII, summed over each group's documents. The non-printable/
    * non-ASCII share is the cheap sanity signal behind language-ID QA
    * (a "lang=en" slice with 30% non-ASCII is mislabeled or
    * mojibake'd) and encoding-corruption triage.
    *
    * Each class count is `length(text) − length(regexp_replace(text,
    * class, ''))` — map-only codegen'd string ops, no explode (the
    * per-CHARACTER explode would multiply the corpus by avg doc
    * length; this stays one row per doc) — then ONE partial-aggregated
    * groupBy on the stratum. The class regexes use explicit ASCII
    * ranges only, so Java and any RE2-class engine agree byte-for-byte
    * — including off the BMP: Spark's `length()` is
    * `UTF8String.numChars` (code points, not UTF-16 units), the same
    * unit DuckDB counts, so supplementary-plane text (emoji) lands in
    * `non_printable` identically in both engines (pinned by the
    * Wave3OpsSpec supplementary-plane test).
    */
  def scriptProfile(df: DataFrame, byCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    def classCount(re: String): Column =
      (length(t) - length(regexp_replace(t, re, ""))).cast("long")
    df.groupBy(col(byCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(t).cast("long")).as("n_chars"),
        sum(classCount("[A-Za-z]")).as("letters"),
        sum(classCount("[0-9]")).as("digits"),
        sum(classCount("[ ]")).as("spaces"),
        sum(classCount("[^ -~]")).as("non_printable"))
  }
}
