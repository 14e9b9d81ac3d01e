package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, to_json, xxhash64}
import graft.tools.Harness

/** Per-query timings: one cold run, then `median`/`min`/`max` over
  * the warm iterations (sorted); `retries` counts contention retry
  * passes (see the retry note in `main`). `firstMedian` is the median
  * of the first warm pass alone, before any retry re-sampled it.
  */
case class BenchTimes(cold: Double, median: Double, min: Double,
    max: Double, firstMedian: Double, retries: Int = 0)

object Bench {

  /** `ref_drift` as a JSON number: formatted in the root locale, since
    * a comma-decimal default locale would make the line invalid JSON.
    */
  private[graft] def refDriftJson(drift: Option[Double]): String =
    drift.map("%.3f".formatLocal(java.util.Locale.ROOT, _)).getOrElse("null")

  /** Contention indicator: the median ratio of each entry's
    * first-warm-pass median to its reference median; None without any
    * referenced entry. The first pass is the one sample the contention
    * retry has not touched. That retry re-samples exactly the entries
    * that read above 2x their reference, so post-retry medians would
    * pull the ratio back towards 1 just when the host is contended.
    */
  private[graft] def refDrift(times: Map[String, BenchTimes],
      ref: Map[String, Double]): Option[Double] = {
    val ratios = times.toSeq.flatMap { case (k, v) =>
      ref.get(k).filter(_ > 0).map(v.firstMedian / _)
    }.sorted
    if (ratios.isEmpty) None else Some(ratios(ratios.length / 2))
  }

  /** Force full evaluation of EVERY output column. A bare `count()`
    * lets Catalyst prune the final projection, so entries whose cost
    * lives in projected expressions (regex redaction, quantized
    * arrays) would be benched as scan+count — a xxhash64 over all
    * columns folded into one sum makes the timed work the operator's
    * actual output. Maps aren't hashable by xxhash64; hash their JSON.
    * The fold is bit_xor, not sum — a long sum overflows under ANSI.
    */
  /** Same contract, exposed for the selective soak tool. */
  private[graft] def materializeForSoak(df: DataFrame): Unit = materialize(df)

  private def materialize(df: DataFrame): Unit = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    df.select(xxhash64(cols: _*).as("__h")).agg(expr("bit_xor(__h)")).head()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ERROR, not WARN: the WindowExec "No Partition Defined" advisory
    // fires once per window-global entry per iteration (~hundreds of
    // lines/run) and the driver parses the compact JSON line out of a
    // ~2000-char stdout tail — a WARN flood between the line and EOF
    // would push it out of the window. Real failures still surface:
    // query exceptions are caught and reported in the `errors` field.
    val spark = Harness.session("ERROR")
    // warm the session once (parquet footers, codegen, shuffle infra)
    // so the first timed query isn't charged for one-time init
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).count() catch { case _: Throwable => }
    }
    // Each query runs 1 cold + N warm (default 3): the reported
    // number is the MEDIAN warm run. Round 8's single-shot warm
    // protocol produced warm > cold on several entries (shared-host
    // contention during the snapshot), making round-over-round deltas
    // unresolvable; a median over ≥3 iterations with min/max variance
    // fields makes one contended iteration visible instead of
    // corrupting the round's number. Harness-level memos (the shared
    // minhash pair set) are reset between runs so warm numbers
    // measure the operators, not a cache read. A query that throws is
    // recorded in `errors` (name -> message) rather than silently
    // benched as near-0s — the bench must not report a breakage as a
    // speedup.
    val warmIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    require(warmIters >= 1,
      s"SPARK_GRAFT_BENCH_ITERS must be >= 1, got $warmIters")
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "1").toInt
    require(maxRetries >= 0,
      s"SPARK_GRAFT_BENCH_RETRIES must be >= 0, got $maxRetries")
    // Prior-round reference medians (bench_ref.json, flat
    // {"entry":sec,...}, committed each round from the previous
    // bench_out.json "queries" object): an entry whose warm median
    // exceeds 2x its OWN prior-round median is re-sampled like a
    // warm_max outlier. The within-run trigger (median > 2x warm min)
    // only fires when one iteration disagrees with its siblings; a
    // contended WINDOW slows all three iterations together (r11's
    // gr2/pf1a/tx10/sj1/dd8 band sat at 1.4-1.9x with agreeing
    // samples), and only a cross-round reference can see that.
    // Missing/unparseable file or entry -> no reference, no retry.
    val refMedians: Map[String, Double] = {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_ref.json"))
      if (!java.nio.file.Files.isReadable(p)) Map.empty
      else try {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r
          .findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def bench(entries: Map[String, (SparkSession, String) => DataFrame])
        : Map[String, BenchTimes] = entries.map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try { materialize(fn(spark, sfDir)) } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.next().take(200)
        }
        (System.nanoTime() - t0) / 1e9
      }
      // reset shared memos BEFORE the cold run as well: without this,
      // a query sharing a harness memo (the minhash pair set) with an
      // earlier-benched entry gets an artificially fast "cold" run —
      // cold then under-reads warm and the median-warm<=cold sanity
      // bound breaks spuriously (observed on dd8 in the first r9 run)
      val cold = { PipelineQueries.resetCaches(); once() }
      def warmPass(): Seq[Double] = Seq.fill(warmIters) {
        PipelineQueries.resetCaches()
        once()
      }
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      // Contention retry (r9 item 5): median-of-3 bounds a contended
      // window but can still REPORT it (r9's cp3: median 13.1 s vs
      // warm_min 4.6 s — a shared-host stall, not a plan change). If
      // the warm median exceeds 2x the entry's own warm min, the
      // samples disagree with themselves, so run up to `maxRetries`
      // extra warm passes and take the median over ALL samples; the
      // per-entry retry count is reported so a persistently noisy
      // entry is visible rather than silently smoothed.
      var warms = warmPass()
      val firstMedian = med(warms)
      var retries = 0
      def contended(ws: Seq[Double]): Boolean =
        med(ws) > 2.0 * ws.min ||
          refMedians.get(name).exists(ref => med(ws) > 2.0 * ref)
      while (retries < maxRetries && contended(warms)) {
        retries += 1
        warms = warms ++ warmPass()
      }
      val sorted = warms.sorted
      name -> BenchTimes(cold, med(warms), sorted.head, sorted.last,
        firstMedian, retries)
    }
    val results = bench(SparkEntry.queries)
    // gate-entry error count, snapshotted BEFORE the extras run: the
    // compact line's n_queries counts gate entries only, so its
    // n_errors must not absorb an extras-only failure
    val gateErrors = errors.size
    // bench-only production-path twins: timed identically but
    // reported under `extras` and excluded from the headline total so
    // round-over-round totals compare gate-to-gate
    val extras = bench(PipelineQueries.benchExtras)
    def objOf(rs: Map[String, BenchTimes])(f: BenchTimes => Double): String =
      rs.map { case (k, v) => Harness.json(k) + ":" + f(v) }
        .mkString("{", ",", "}")
    def obj(f: BenchTimes => Double): String = objOf(results)(f)
    val errObj = errors
      .map { case (k, v) => Harness.json(k) + ":" + Harness.json(v) }
      .mkString("{", ",", "}")
    val total = results.values.map(_.median).sum
    // only entries that actually retried appear in `retries` (keeps
    // the line compact; absent = 0)
    val retryObj = results.filter(_._2.retries > 0)
      .map { case (k, v) => Harness.json(k) + ":" + v.retries }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","warm_iters":$warmIters,"queries":${obj(_.median)},"cold":${obj(_.cold)},"warm_min":${obj(_.min)},"warm_max":${obj(_.max)},"retries":$retryObj,"extras":${objOf(extras)(_.median)},"extras_cold":${objOf(extras)(_.cold)},"errors":$errObj,"sf":"$sfDir"}"""
    // the full per-entry detail goes to a FILE; stdout gets a COMPACT
    // line. The driver captures only a ~2000-char tail of stdout and
    // parses the JSON line out of it — the full 155-entry line is
    // >3 KB, so every prior round's BENCH_r*.json recorded
    // "parsed": null. The compact line carries the headline total,
    // the q1..q10 reference queries, the 5 slowest pipeline entries,
    // and error count — and must stay well under the tail window.
    // Also keep a per-core-count copy: the r12 driver session ran c32
    // then c8 in one directory and the c8 detail overwrote the c32
    // detail, leaving a contended 2x total with no per-entry forensics
    // (r12 verdict item 2). bench_out.json stays the "latest run" file
    // every existing tool reads; bench_out_c<cpus>.json survives a
    // later run at a different core count.
    for (p <- Seq("bench_out.json", s"bench_out_c${Harness.cpus}.json"))
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(p), (json + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => }
    val headline = results.filter(_._1.matches("q[0-9]+_.*"))
    val slowest = (results -- headline.keys).toSeq
      .sortBy(-_._2.median).take(5).toMap
    // Contention indicator (r12 verdict item 2): median ratio of the
    // q1..q10 first-warm-pass medians vs bench_ref.json (prior-round
    // driver medians). These ten relational entries have been untouched since
    // round 1, so ref_drift ~1 means a comparable host window and
    // ref_drift >> 1 (r12's contended c32 run would have read ~2)
    // flags a bad window — letting the driver/judge tell a 2x host
    // stall from a 2x regression without re-running. null when no
    // reference file/entries are available.
    val drift = refDrift(headline, refMedians)
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":$gateErrors,"n_extra_errors":${errors.size - gateErrors},"warm_iters":$warmIters,"ref_drift":${refDriftJson(drift)},"queries":${objOf(headline)(_.median)},"slowest":${objOf(slowest)(_.median)},"detail":"bench_out.json","sf":"$sfDir"}"""
    println(compact)
    if (errors.nonEmpty) System.err.println(
      s"BENCH: ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
