package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.types._

import graft.{Catalog, PipelineQueries, SparkEntry, Tables}
import graft.frontend._

/** One workload op as generated by `workloads.py`. */
final case class Op(seq: Int, key: String, kind: String, stmt: String,
    text: String, params: Map[String, Any])

/** What one executed op left behind: its timings, its result fold and
  * rows (kept for the oracle on the verified pass), or its error.
  */
final case class Done(seq: Int, key: String, kind: String, pass: Int,
    totalMs: Double, compileMs: Double, fold: String,
    rows: Int, error: String, result: Option[(StructType, Array[Row])])

/** The benchmark's harness: runs one workload against the
  * project's public surfaces and writes timings, folds, verified
  * results and (traced) spans and job counters to one JSON file.
  *
  * Usage: Main <workload> <dataDir> <workDir> <opsFile> <outFile>
  *             <timed passes> <trace 0|1> <cpus> <setups>
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, opsFile, outFile, passesS,
      traceS, cpusS, setupsS) = argv
    new Main(workload, dataDir, workDir, opsFile, outFile, passesS.toInt,
      traceS == "1", cpusS.toInt, setupsS.toInt).run()
  }

  /** Order-independent fold over collected rows: doubles are rounded
    * to 6 places (the oracle compare's own tolerance) so that a
    * last-ulp change in summation order does not read as a wrong
    * answer.
    */
  def fold(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null      => "NULL"
      case d: Double => java.math.BigDecimal.valueOf(d)
          .setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
      case f: Float  => cell(f.toDouble)
      case other     => other.toString
    }
    val lines = rows.map(r => r.toSeq.map(cell).mkString("\u001f")).sorted
    val h = MurmurHash3.orderedHash(lines.toSeq)
    s"${rows.length}:${java.lang.Integer.toHexString(h)}"
  }

  /** Executed physical plan: the final adaptive plan when AQE ran. */
  def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other                    => other
  }

  /** (plan nodes, exchanges) of an executed plan, descending into
    * query stages, reused exchanges and subqueries.
    */
  def planCounts(root: SparkPlan): (Int, Int) = {
    var nodes = 0
    var exchanges = 0
    def walk(p: SparkPlan): Unit = {
      nodes += 1
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec        => walk(s.plan)
        case r: ReusedExchangeExec    => walk(r.child)
        case _ =>
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(root)
    (nodes, exchanges)
  }
}

final class Main(workload: String, dataDir: String, workDir: String,
    opsFile: String, outFile: String, timedPasses: Int, trace: Boolean,
    cpus: Int, setups: Int) {
  import Main._

  private val mapper = new ObjectMapper()
  private var spark: SparkSession = _
  private val tap = new Tap
  private val spans = new Spans(spark.sparkContext)
  // true while a traced pass runs
  private var tracing = false
  private def sp[T](name: String)(body: => T): T =
    if (tracing) spans(name)(body) else body

  // ---- workload inputs --------------------------------------------------

  private val input = mapper.readValue(new File(opsFile), classOf[java.util.Map[String, Any]])
  private def jlist(x: Any): Seq[Any] = x.asInstanceOf[java.util.List[Any]].asScala.toSeq
  private def jmap(x: Any): Map[String, Any] =
    x.asInstanceOf[java.util.Map[String, Any]].asScala.toMap

  private def param(v: Any): Any = {
    val m = jmap(v)
    m("t") match {
      case "int"     => m("v").asInstanceOf[Number].longValue
      case "float"   => m("v").asInstanceOf[Number].doubleValue
      case "string"  => m("v").asInstanceOf[String]
      case "ts"      => java.sql.Timestamp.valueOf(m("v").asInstanceOf[String])
      case "variant" => Engine.Variant(m("tag").asInstanceOf[String],
        jlist(m("args")).map(param): _*)
    }
  }

  private val ops: IndexedSeq[Op] = jlist(input.get("ops")).map { o =>
    val m = jmap(o)
    Op(m("seq").asInstanceOf[Number].intValue, m("key").toString,
      m("kind").toString, m.get("stmt").map(_.toString).getOrElse(""),
      m.get("text").map(_.toString).getOrElse(""),
      m.get("params").map(jmap(_).map { case (k, v) => k -> param(v) })
        .getOrElse(Map.empty))
  }.toIndexedSeq
  private val decls: String = Option(input.get("decls")).map(_.toString).getOrElse("")
  private val seedTable: String = Option(input.get("seed_table")).map(_.toString).getOrElse("")
  private val seedSelect: Seq[String] =
    Option(input.get("seed_columns")).map(jlist(_).map(_.toString)).getOrElse(Nil)
  private val tablesUsed: Seq[String] = jlist(input.get("tables")).map(_.toString)

  // ---- set-up -----------------------------------------------------------

  private var engine: Engine = _
  private var managed: ManagedEngine = _
  private var catalog: ManagedCatalog = _
  private val managedRoot = new File(workDir, "managed").getAbsolutePath

  private def newSession(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
    .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
    .getOrCreate()

  /** One full set-up as a user pays it: session start, engine
    * construction, a first read of every table the workload touches,
    * and (for DML) seeding the managed table.
    */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    if (spark != null) spark.stop()
    spark = newSession()
    spark.sparkContext.setLogLevel("ERROR")
    val env = Catalog.env()
    if (decls.nonEmpty) env.addDecls(decls)
    engine = new Engine(spark, env, name => Tables.load(spark, dataDir, name))
    tablesUsed.foreach(t => Tables.load(spark, dataDir, t).count())
    if (seedTable.nonEmpty) {
      catalog = new ManagedCatalog(spark, managedRoot, env)
      managed = new ManagedEngine(catalog, new Engine(spark, env, catalog.load _))
      reseed()
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def reseed(): Unit = catalog.overwrite(seedTable,
    Tables.load(spark, dataDir, seedSelect.head).selectExpr(seedSelect.tail: _*))

  // ---- op execution -----------------------------------------------------

  private val prepared = mutable.HashMap.empty[String, Prepared]
  private var freshCounter = 0
  private val perOp = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]

  /** Collect `df` under spans that split Catalyst planning from
    * execution, recording the final plan's shape when traced.
    */
  private def collect(df: DataFrame, extra: mutable.Map[String, Any]): Array[Row] = {
    if (tracing) {
      val qe = df.queryExecution
      sp("plan") { qe.optimizedPlan; qe.executedPlan }
      val rows = sp("execute") { df.collect() }
      val phases = qe.tracker.phases
      for ((phase, name) <- Seq("analysis" -> "analysis_ms",
          "optimization" -> "optimization_ms", "planning" -> "planning_ms"))
        extra(name) = phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
      val (nodes, exchanges) = planCounts(finalPlan(qe.executedPlan))
      extra("plan_nodes") = nodes
      extra("exchanges") = exchanges
      rows
    } else df.collect()
  }

  private def timedLoad(load: String => DataFrame): String => DataFrame =
    name => sp("load") { load(name) }

  /** Dialect compile through the same calls `Engine.prepare`/`bind`
    * make, one span per layer, so the traced split sums to what the
    * untraced path runs.
    */
  private def compileTraced(text: String, params: Map[String, Any],
      env: Analyzer.Env, load: String => DataFrame,
      extra: mutable.Map[String, Any]): (Analyzer.QueryInfo, DataFrame) = {
    extra("tokens") = sp("lex") { Lexer.tokenize(text).length }
    val q = sp("parse") { Parser.parseQuery(text) }
    val info = sp("analyze") { Analyzer.analyzeQuery(env, q) }
    (info, bindTraced(info, params, env, load))
  }

  private def bindTraced(info: Analyzer.QueryInfo, params: Map[String, Any],
      env: Analyzer.Env, load: String => DataFrame): DataFrame = {
    val (q2, p2) = sp("bind") {
      Binder.validate(info, params)
      Binder.resolve(env, info, params)
    }
    sp("lower") {
      Lowering.lowerQuery(spark, env, info.copy(query = q2), timedLoad(load), p2)
    }
  }

  private def runQuery(op: Op, extra: mutable.Map[String, Any]): (DataFrame, Double) = {
    val t0 = System.nanoTime()
    val df = sp("compile") {
      if (op.kind == "fresh") {
        freshCounter += 1
        val text = op.text.replace("{a}", freshCounter.toString)
        if (tracing) {
          val (info, df) = compileTraced(text, op.params, engine.env,
            engine.load, extra)
          prepared(op.stmt) = Prepared(engine, info)
          df
        } else {
          val p = engine.prepare(text)
          prepared(op.stmt) = p
          p.bind(op.params)
        }
      } else {
        val p = prepared(op.stmt)
        if (tracing) bindTraced(p.info, op.params, engine.env, engine.load)
        else p.bind(op.params)
      }
    }
    (df, (System.nanoTime() - t0) / 1e6)
  }

  private def managedTableStats(extra: mutable.Map[String, Any]): Unit = {
    val live = new File(catalog.tablePath(seedTable))
    val files = Option(live.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet"))
    extra("files_live") = files.length
    extra("live_rows") = sp("stats") {
      spark.read.parquet(live.getAbsolutePath).count()
    }
  }

  private def runDml(op: Op, extra: mutable.Map[String, Any]): (DataFrame, Double) = {
    val t0 = System.nanoTime()
    if (op.kind == "write") {
      if (tracing) {
        // the exec call below parses and analyzes again; these shadow
        // spans give the frontend's share of a write
        extra("tokens") = sp("lex") { Lexer.tokenize(op.text).length }
        val q = sp("parse") { Parser.parseQuery(op.text) }
        sp("analyze") { Analyzer.analyzeQuery(catalog.env, q) }
      }
      val t1 = System.nanoTime()
      val df = sp("managed.exec") { managed.exec(op.text) }
      (df, (System.nanoTime() - t1) / 1e6)
    } else {
      val df = sp("compile") {
        if (tracing) compileTraced(op.text, Map.empty, catalog.env,
          catalog.load _, extra)._2
        else managed.exec(op.text)
      }
      (df, (System.nanoTime() - t0) / 1e6)
    }
  }

  private def runEntry(op: Op): (DataFrame, Double) = {
    PipelineQueries.resetCaches()
    val t0 = System.nanoTime()
    val df = sp("construct") { SparkEntry.queries(op.stmt)(spark, dataDir) }
    (df, (System.nanoTime() - t0) / 1e6)
  }

  private var inst = 0

  private def execute(op: Op, pass: Int, keep: Boolean): Done = {
    inst += 1
    spans.op = inst
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val t0 = System.nanoTime()
    try {
      val rows = sp("op") {
        val (df, compileMs) = workload match {
          case "dialect_serve"      => runQuery(op, extra)
          case "dml_mixed"          => runDml(op, extra)
          case "pipeline_iterative" => runEntry(op)
        }
        extra("compile_ms") = compileMs
        val rows = collect(df, extra)
        extra("schema") = df.schema
        rows
      }
      val total = (System.nanoTime() - t0) / 1e6
      val schema = extra.remove("schema").get.asInstanceOf[StructType]
      if (tracing && workload == "dml_mixed" && op.kind == "write")
        managedTableStats(extra)
      record(op, pass, extra)
      Done(op.seq, op.key, op.kind, pass, total,
        extra("compile_ms").asInstanceOf[Double], fold(rows), rows.length,
        null, if (keep) Some((schema, rows)) else None)
    } catch {
      case e: Throwable =>
        val total = (System.nanoTime() - t0) / 1e6
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.toSeq.headOption.getOrElse("").take(300)
        Done(op.seq, op.key, op.kind, pass, total, 0.0, "", 0,
          s"${e.getClass.getSimpleName}: $msg", None)
    } finally spans.op = -1
  }

  private def record(op: Op, pass: Int, extra: mutable.Map[String, Any]): Unit =
    if (tracing) {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("inst", inst)
      m.put("seq", op.seq)
      m.put("pass", pass)
      m.put("kind", op.kind)
      extra.foreach { case (k, v) => m.put(k, v) }
      perOp += m
    }

  // ---- passes -----------------------------------------------------------

  private val done = mutable.ArrayBuffer.empty[Done]
  private val passes = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
  private var passNo = 0

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One pass over the op cycle; DML passes start from a freshly
    * seeded table so every pass replays the same states. A traced pass
    * records spans and attributes jobs through the listener, which is
    * attached for that pass only.
    */
  private def runPass(keep: Boolean, phase: String): Unit = {
    if (workload == "dml_mixed" && passNo > 0) reseed()
    tracing = phase == "traced"
    if (tracing) spark.sparkContext.addSparkListener(tap)
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    ops.foreach(op => done += execute(op, passNo, keep))
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("pass", passNo)
    m.put("phase", phase)
    m.put("seconds", (System.nanoTime() - t0) / 1e9)
    m.put("cpu_ms", (os.getProcessCpuTime - cpu0) / 1e6)
    if (tracing) {
      tap.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tap)
      tracing = false
    }
    passes += m
    passNo += 1
  }

  /** The timed passes. Their count is fixed before the run, so every
    * run times the same passes at the same point of JIT warm-up, and
    * the sample count and the work behind the end-of-run heap reading
    * do not depend on how fast the host runs a pass. A traced run
    * times untraced and traced passes in ABBA order, whole cycles of
    * four, so both phases see the same host and a warm-up drift that
    * is linear over the cycle weighs on both alike.
    */
  private def timedLoop(): Unit = {
    val phases = if (trace) Seq("timed", "traced", "traced", "timed") else Seq("timed")
    val n = if (trace) 4 * math.ceil(timedPasses / 4.0).toInt else timedPasses
    (0 until n).foreach(i => runPass(keep = false, phases(i % phases.size)))
  }

  /** Heap still used after the measured loop: the lowest of a few
    * readings, each after a full GC and a pause that lets Spark's
    * cleaner drop blocks whose owners the GC just collected.
    */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  // ---- output -----------------------------------------------------------

  private def resultJson(schema: StructType, rows: Array[Row]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("columns", schema.fields.map(_.name).toSeq.asJava)
    m.put("types", schema.fields.map(_.dataType.typeName).toSeq.asJava)
    m.put("rows", rows.map { r =>
      r.toSeq.map {
        case t: java.sql.Timestamp => t.toLocalDateTime.toString
        case t: java.time.LocalDateTime => t.toString
        case t: java.time.Instant => t.toString
        case d: java.sql.Date => d.toString
        case v => v
      }.asJava
    }.toSeq.asJava)
    m
  }

  private def doneJson(d: Done): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("seq", d.seq); m.put("key", d.key); m.put("kind", d.kind)
    m.put("pass", d.pass)
    m.put("total_ms", d.totalMs); m.put("compile_ms", d.compileMs)
    m.put("fold", d.fold); m.put("rows", d.rows); m.put("error", d.error)
    m
  }

  def run(): Unit = {
    new File(workDir).mkdirs()
    val setupTimes = (1 to setups).map(_ => setUp())
    // verified pass: untimed, warms the JIT and the caches the timed
    // passes will see, and keeps every result for the oracle
    runPass(keep = true, "verify")
    // one untimed warm-up pass: after the cold verified pass the next
    // one still ran ~8% slower than the pass after it (JIT, codegen)
    runPass(keep = false, "warmup")
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workload)
    out.put("setup_s", setupTimes.asJava)
    timedLoop()
    out.put("retained_heap_mb", retainedHeapMb())
    out.put("passes", passes.asJava)
    out.put("done", done.map(doneJson).asJava)
    val verified = new java.util.LinkedHashMap[String, Any]()
    done.filter(_.result.isDefined).foreach { d =>
      if (!verified.containsKey(d.key)) {
        val (schema, rows) = d.result.get
        verified.put(d.key, resultJson(schema, rows))
      }
    }
    out.put("verified", verified)
    if (workload == "pipeline_iterative") out.put("oracle_sql",
      ops.map(o => o.stmt -> SparkEntry.oracleSql.getOrElse(o.stmt, null))
        .toMap.asJava)
    out.put("cpus", cpus)
    if (trace) {
      out.put("per_op", perOp.asJava)
      out.put("spans", spans.done.map { s =>
        Seq(s.id, s.name, s.parent, s.op, s.startNs, s.endNs, s.alloc).asJava
      }.asJava)
      out.put("jobs", tap.jobs.values.map { j =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("job", j.jobId); m.put("op", j.op); m.put("layer", j.layer)
        m.put("stages", j.stages); m.put("tasks", j.tasks)
        m.put("failed_tasks", j.failedTasks); m.put("cpu_ms", j.cpuNs / 1e6)
        m.put("run_ms", j.runMs); m.put("gc_ms", j.gcMs)
        m.put("shuffle_read_bytes", j.shuffleRead)
        m.put("shuffle_write_bytes", j.shuffleWrite)
        m.put("spill_bytes", j.spill)
        m.put("records_written", j.recordsWritten)
        m.put("bytes_written", j.bytesWritten)
        m
      }.toSeq.asJava)
    }
    mapper.writeValue(new File(outFile), out)
    spark.stop()
  }
}
