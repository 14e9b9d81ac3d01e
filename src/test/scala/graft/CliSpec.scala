package graft

import java.nio.file.Files

/** Golden transcript for the manage CLI's migration verbs, shaped
  * after the reference's sqlite app transcript
  * (reference test/sqlpp_sqlite/test.t:1-44).
  */
class CliSpec extends SparkTestBase {

  private def run(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Cli.main(args.toArray)
    }
    buf.toString("UTF-8")
  }

  test("migrate applies the chain once, then reports up to date") {
    spark // force the shared session so the CLI joins it via getOrCreate
    val root = Files.createTempDirectory("graft_cli_managed").toString
    val out1 = run("migrate", "-root", root)
    assert(out1.linesIterator.toSeq == TodoApp.migrations.map(m =>
      s"-- MIGRATE: ${m.name}"))
    val out2 = run("migrate", "-root", root)
    assert(out2.trim == "-- up to date")
  }

  test("migrate --verbose prints each migration's DDL") {
    spark
    val root = Files.createTempDirectory("graft_cli_managed").toString
    val out = run("migrate", "--verbose", "-root", root)
    assert(out.contains("-- MIGRATE: create todos"))
    assert(out.contains("create table todos ("))
    assert(out.contains(
      "ALTER TABLE todos RENAME COLUMN done TO completed;"))
    assert(out.contains(
      "ALTER TABLE todos ADD COLUMN project STRING NOT NULL DEFAULT ('default');"))
  }

  test("migrate-ls shows applied status per migration") {
    spark
    val root = Files.createTempDirectory("graft_cli_managed").toString
    val before = run("migrate-ls", "-root", root)
    assert(before.linesIterator.toSeq ==
      "status\tname" +: TodoApp.migrations.map(m => s"false\t${m.name}"))
    run("migrate", "-root", root)
    val after = run("migrate-ls", "-root", root)
    assert(after.linesIterator.toSeq ==
      "status\tname" +: TodoApp.migrations.map(m => s"true\t${m.name}"))
  }

  test("query verb streams a large multi-partition result completely") {
    // ~60k JSON lines: collect() used to materialize all of this on
    // the driver at once; toLocalIterator streams it partition by
    // partition — the transcript must still be complete and ordered
    // within Spark's partition iteration. The fixture's lineitem is one
    // row group, so one partition; a 4-file copy of it gives the result
    // 4 partitions to stream.
    val tmp = Files.createTempDirectory("graft_cli_query")
    try {
      val dir = tmp.toString
      val sf01 = new java.io.File(sf).getParent + "/sf0.01"
      Tables.load(spark, sf01, "lineitem")
        .repartition(4).write.parquet(Tables.path(dir, "lineitem"))
      val src = "select l_orderkey, l_linenumber from lineitem"
      val parts = Catalog.engine(spark, dir).sql(src).rdd.getNumPartitions
      assert(parts >= 2, s"the result has $parts partition(s)")
      val lines = run("query", "-sf", dir, src).linesIterator.toSeq
      val want = Tables.load(spark, sf01, "lineitem").count()
      assert(lines.length == want, s"${lines.length} lines vs $want rows")
      assert(lines.forall(l => l.startsWith("{\"l_orderkey\":") &&
        l.contains("\"l_linenumber\":")))
    } finally {
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(Files.delete(_))
    }
  }

  test("migrate-show prints a migration's DDL") {
    val out = run("migrate-show", "create", "projects")
    val lines = out.trim.linesIterator.toSeq
    assert(lines == Seq(
      "create table projects ( name string not null primary key, created float not null);",
      "insert into projects set name = 'default', created = 0.0;",
      "ALTER TABLE todos ADD COLUMN project STRING NOT NULL DEFAULT ('default');"))
  }
}
