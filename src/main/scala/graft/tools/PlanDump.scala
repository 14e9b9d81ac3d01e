package graft.tools

import graft.Entry

/** Dump `.explain("formatted")` for gate entries to files — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/r<N>/`. Usage:
  *
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [names]
  *
  * `names` = comma-separated entry names (or name prefixes), selected
  * as [[graft.Verify]] selects them: omitted = every gate entry, a
  * name matching no entry is refused. Each entry writes
  * `<outDir>/<name>_<suffix>.txt`.
  * Building a plan does not run the query, but entries whose
  * CONSTRUCTION runs bounded driver actions (centroid training, budget
  * probes) execute those, as in [[PlanAudit]].
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/r12")
    val suffix = args.lift(2).getOrElse("before")
    val wanted: Seq[String] = args.lift(3).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    // "exec" as a 5th arg: materialize the frame first so the dump
    // shows the FINAL adaptive plan (runtime join conversions, AQE
    // shuffle reads) instead of the initial isFinalPlan=false one
    val exec = args.lift(4).contains("exec")
    val entries = graft.Verify.select(wanted).sortBy(_.name)
    val spark = Harness.session("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var failed = 0
    entries.foreach { case Entry(name, build, _) =>
      try {
        val df = build(spark, sfDir)
        // collect() drives THIS Dataset's own query execution (the
        // Bench materializer wraps df in a new plan, which would leave
        // df's AdaptiveSparkPlan un-finalized); entry outputs are
        // bounded, so the driver-side result is small
        if (exec) df.collect()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"PLANDUMP FAIL $name: ${e.getMessage}")
      }
    }
    println(s"""{"dumped":${entries.size - failed},"failed":$failed,"dir":"$outDir","suffix":"$suffix"}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
