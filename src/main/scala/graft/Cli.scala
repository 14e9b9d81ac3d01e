package graft

import org.apache.spark.sql.SparkSession
import graft.frontend.{Analyzer, Engine, ManagedCatalog, ManagedEngine,
  Migrate, Parser, Printer}

/** Manage CLI, mirroring the reference's verbs
  * (reference sqlpp_manage.ml:219-334):
  *
  *   query <sql>          run a query, print JSON rows (sqlpp-query)
  *   analyze <sql>        print the elaborated query + row/param types
  *                        (sqlpp-analyze)
  *   fmt <sql>            parse and pretty-print (sqlpp-fmt)
  *   plan <sql>           print the optimized Spark physical plan —
  *                        the backend artifact, standing in for
  *                        sqlpp-sql
  *   tables               list declared tables
  *   migrate [--verbose]  apply pending migrations to the managed root
  *   migrate-ls           list migrations and their applied status
  *   migrate-show <name>  print a migration's DDL
  *
  * Usage: runMain graft.Cli <verb> <sql...> [-sf <dir>] [-root <dir>]
  */
object Cli {

  /** Run `f` with a session, only stopping it if we created it (the
    * test suite shares one running session via getOrCreate).
    */
  private def withSpark[A](f: SparkSession => A): A = {
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = graft.tools.Harness.session("ERROR")
    try f(spark) finally if (!preExisting) spark.stop()
  }

  private def managedRunner(spark: SparkSession,
      root: String): Migrate.Runner = {
    val env = new Analyzer.Env()
    val catalog = new ManagedCatalog(spark, root, env)
    val engine = new Engine(spark, env, catalog.load _)
    new Migrate.Runner(catalog, new ManagedEngine(catalog, engine))
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val sfIdx = args.indexOf("-sf")
    val sfDir = if (sfIdx >= 0 && sfIdx + 1 < args.length) args(sfIdx + 1)
      else "/root/testdata/sf0.001"
    val rootIdx = args.indexOf("-root")
    val rootDir = if (rootIdx >= 0 && rootIdx + 1 < args.length)
      args(rootIdx + 1) else "/tmp/graft_managed"
    val rest = args.zipWithIndex.filterNot { case (_, i) =>
      i == sfIdx || i == sfIdx + 1 && sfIdx >= 0 ||
        i == rootIdx || i == rootIdx + 1 && rootIdx >= 0
    }.map(_._1)
    val verb = rest(0)
    val sql = rest.drop(1).filterNot(_ == "--verbose").mkString(" ")

    verb match {
      case "fmt" =>
        println(Printer.query(Parser.parseQuery(sql)))
      case "analyze" =>
        val env = Catalog.env()
        val info = Analyzer.analyzeQuery(env, Parser.parseQuery(sql))
        println(Printer.elaboratedQuery(env, info))
        println("-- row: " + info.row.map { case (n, t) =>
          s"$n ${t.show}" }.mkString(", "))
        if (info.params.nonEmpty)
          println("-- params: " + info.params.map { case (n, p) =>
            s"?$n: $p" }.mkString(", "))
      case "query" | "plan" =>
        withSpark { spark =>
          val df = Catalog.engine(spark, sfDir).sql(sql)
          if (verb == "plan") df.explain("formatted")
          else {
            // stream partition-by-partition: toLocalIterator holds at
            // most one partition on the driver, where collect() would
            // OOM on a big result
            val it = df.toJSON.toLocalIterator()
            while (it.hasNext) println(it.next())
          }
        }
      case "migrate" =>
        val verbose = rest.contains("--verbose")
        withSpark { spark =>
          val runner = managedRunner(spark, rootDir)
          val applied = runner.apply(TodoApp.migrations)
          applied.foreach { name =>
            println(s"-- MIGRATE: $name")
            if (verbose)
              TodoApp.migrations.find(_.name == name)
                .foreach(m => println(Migrate.describe(m)))
          }
          if (applied.isEmpty) println("-- up to date")
        }
      case "migrate-ls" =>
        withSpark { spark =>
          val runner = managedRunner(spark, rootDir)
          val done = runner.applied()
          println("status\tname")
          TodoApp.migrations.foreach(m =>
            println(s"${done(m.name)}\t${m.name}"))
        }
      case "migrate-show" =>
        TodoApp.migrations.find(_.name == sql) match {
          case Some(m) => println(Migrate.describe(m))
          case None =>
            System.err.println(s"migration not found: $sql"); sys.exit(1)
        }
      case "tables" =>
        Catalog.env().decls.foreach {
          case (n, Analyzer.TEnv(_, ddl)) =>
            println(s"$n(${ddl.cols.map(c =>
              s"${c.name} ${c.ty.show.toLowerCase}").mkString(", ")})")
          case (n, _) => println(n)
        }
      case other =>
        System.err.println(s"unknown verb: $other"); usage(); sys.exit(2)
    }
  }

  private def usage(): Unit =
    System.err.println(
      "usage: graft.Cli <query|analyze|fmt|plan|tables|migrate|migrate-ls|migrate-show> <sql...> [-sf dir] [-root dir]")
}
