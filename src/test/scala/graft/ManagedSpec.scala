package graft

import java.nio.file.Files
import graft.frontend._
import graft.frontend.Analyzer.Env

/** Managed-table DML + migration tests, shaped after the reference's
  * sqlite todo-app transcript (reference test/sqlpp_sqlite/test.t,
  * db.ml): a migration chain that renames/retypes columns, then CRUD
  * with autoincrement, ON CONFLICT and RETURNING.
  */
class ManagedSpec extends SparkTestBase {

  def freshManaged(): (ManagedCatalog, ManagedEngine, Migrate.Runner) = {
    val dir = Files.createTempDirectory("graft_managed").toString
    val env = new Env()
    val catalog = new ManagedCatalog(spark, dir, env)
    val engine = new Engine(spark, env, catalog.load _)
    val managed = new ManagedEngine(catalog, engine)
    (catalog, managed, new Migrate.Runner(catalog, managed))
  }

  val migrations: List[Migrate.Migration] = TodoApp.migrations

  test("migration chain applies once and is journaled") {
    val (catalog, managed, runner) = freshManaged()
    val applied = runner.apply(migrations)
    assert(applied == migrations.map(_.name))
    // idempotent: second run applies nothing
    assert(runner.apply(migrations).isEmpty)
    assert(runner.applied() == migrations.map(_.name).toSet)
    // final schema: id, created, completed, text, project
    assert(catalog.schemaOf("todos").fieldNames.toSet ==
      Set("id", "created", "completed", "text", "project"))
  }

  test("todo-app CRUD transcript: insert/update/delete with RETURNING") {
    // RETURNING rows are lineage-truncated before the swap; the
    // transcript must read the same under both session policies
    val (local, reliable) = underBothLineagePolicies {
      val (catalog, managed, runner) = freshManaged()
      runner.apply(migrations)

      // autoincrement ids assigned 1, 2
      val ins = managed.exec(
        "insert into todos(text, created, completed) values ('buy milk', 1.0, false), ('walk dog', 2.0, false) returning id, text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(ins == Set((1L, "buy milk"), (2L, "walk dog")))

      // INSERT ... SET sugar
      managed.exec("insert into todos set text = 'pay bills', created = 3.0, completed = false")
      assert(managed.exec("select count(1) as n from todos group by ()")
        .collect()(0).getLong(0) == 3)

      // UPDATE with WHERE + RETURNING post-update values
      val updRows = managed.exec(
        "update todos set completed = true where text = 'buy milk' returning id, completed")
        .collect().toSeq
      assert(updRows.length == 1 && updRows(0).getBoolean(1))

      // DELETE with RETURNING
      val del = managed.exec(
        "delete from todos where completed = true returning id")
        .collect().map(_.getLong(0)).toSeq
      assert(del == Seq(1L))
      assert(managed.exec("select count(1) as n from todos group by ()")
        .collect()(0).getLong(0) == 2)
      (ins, updRows, del, catalog.load("todos").orderBy("id").collect().toSeq)
    }
    assert(reliable == local)
  }

  test("ON CONFLICT IGNORE and REPLACE by primary key") {
    val (catalog, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec("insert into projects(name, created) values ('p1', 1.0)")
    // IGNORE: duplicate pk dropped
    managed.exec(
      "insert into projects(name, created) values ('p1', 99.0) on conflict ignore")
    val created1 = managed.exec(
      "select created from projects where name = 'p1'").collect()(0).getDouble(0)
    assert(created1 == 1.0)
    // REPLACE: row replaced
    managed.exec(
      "insert into projects(name, created) values ('p1', 42.0) on conflict replace")
    val created2 = managed.exec(
      "select created from projects where name = 'p1'").collect()(0).getDouble(0)
    assert(created2 == 42.0)
    // 'default' project from the migration is still there
    assert(managed.exec("select count(1) as n from projects group by ()")
      .collect()(0).getLong(0) == 2)
  }

  test("ON CONFLICT UPDATE SET: partial upsert, excluded.* scope, RETURNING covers both") {
    val (catalog, managed, runner) = freshManaged()
    runner.apply(migrations)
    def created(name: String): Double = managed.exec(
      s"select created from projects where name = '$name'")
      .collect()(0).getDouble(0)
    managed.exec("insert into projects(name, created) values ('p1', 1.0)")
    // p1 conflicts -> SET sees the existing row (projects.created)
    // and the incoming one (excluded.created); p2 inserts fresh
    managed.exec(
      "insert into projects(name, created) values ('p1', 10.0), ('p2', 5.0) " +
        "on conflict update set created = projects.created + excluded.created")
    assert(created("p1") == 11.0)
    assert(created("p2") == 5.0)
    // DO UPDATE spelling; RETURNING reports inserted AND updated rows
    // with post-update values
    val ret = managed.exec(
      "insert into projects(name, created) values ('p2', 0.5), ('p9', 7.0) " +
        "on conflict do update set created = excluded.created " +
        "returning name, created")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ret == Map("p2" -> 0.5, "p9" -> 7.0))
    assert(created("p2") == 0.5)
    // untouched rows survive: default + p1 + p2 + p9
    assert(managed.exec("select count(1) as n from projects group by ()")
      .collect()(0).getLong(0) == 4)
    // SET targeting an unknown column is rejected at analysis
    intercept[Exception] {
      managed.exec("insert into projects(name, created) values ('p1', 1.0) " +
        "on conflict update set nope = 1.0")
    }
    // unqualified table columns are ambiguous in conflict-SET scope
    // (both the table and excluded carry them): qualification
    // required — the dialect's uniform ambiguity rule, documented
    // divergence from PostgreSQL's implicit existing-row binding
    intercept[Exception] {
      managed.exec("insert into projects(name, created) values ('p1', 1.0) " +
        "on conflict update set created = created + 1.0")
    }
  }

  test("INSERT ... SELECT from another managed table") {
    val (catalog, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec("insert into todos(text, created, completed) values ('a', 1.0, false), ('b', 2.0, true)")
    managed.exec(
      "insert into projects(name, created) select text, created from todos where completed = false")
    val names = managed.exec("select name from projects order by name")
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("a", "default"))
  }

  test("UPDATE ... FROM join form") {
    val (catalog, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec("insert into todos(text, created, completed) values ('x', 1.0, false)")
    managed.exec("insert into projects(name, created) values ('boost', 10.0)")
    val ret = managed.exec(
      """update todos set created = p.created
        |from projects as p
        |where p.name = 'boost' and todos.text = 'x'
        |returning id, todos.created, p.name""".stripMargin)
    val r = ret.collect()(0)
    assert(r.getDouble(1) == 10.0 && r.getString(2) == "boost")
  }

  test("UPDATE ... FROM with a LEFT OPTIONAL JOIN (pruned and kept)") {
    val (_, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec("insert into todos(text, created, completed) values ('x', 1.0, false)")
    managed.exec("insert into projects(name, created) values ('boost', 10.0)")
    // pruned: the optional self-join of projects is unreferenced —
    // the update must behave exactly as FROM projects alone
    val ret = managed.exec(
      """update todos set created = p.created
        |from projects as p left optional join projects as q on q.name = p.name
        |where p.name = 'boost' and todos.text = 'x'
        |returning id, todos.created""".stripMargin)
    assert(ret.collect()(0).getDouble(1) == 10.0)
    // kept: the SET references the optional side — which types
    // NULLABLE (the LEFT-joined scope), so a NOT NULL column needs
    // the coalesce; the analyzer enforcing that through an optional
    // join is itself part of what this pins
    val ret2 = managed.exec(
      """update todos set created = coalesce(q.created + 5.0, 0.0)
        |from projects as p left optional join projects as q on q.name = p.name
        |where p.name = 'boost' and todos.text = 'x'
        |returning id, todos.created""".stripMargin)
    assert(ret2.collect()(0).getDouble(1) == 15.0)
  }

  test("DELETE with IN-subquery WHERE and RETURNING") {
    val (_, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec(
      "insert into todos(text, created, completed) values ('a', 1.0, false), ('b', 2.0, true), ('c', 3.0, true)")
    val del = managed.exec(
      "delete from todos where id in (select id from todos where completed = true) returning id, text")
    assert(del.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "b"), (3L, "c")))
    val left = managed.exec("select text from todos order by text")
      .collect().map(_.getString(0)).toSeq
    assert(left == Seq("a"))
  }

  test("UPDATE WHERE combines EXISTS and NOT-IN subqueries") {
    val (_, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec(
      "insert into todos(text, created, completed) values ('a', 1.0, false), ('b', 2.0, true)")
    // EXISTS gate is satisfied (the migration seeds a 'default'
    // project); NOT IN excludes already-completed rows
    managed.exec(
      """update todos set completed = true
        |where exists(select name from projects where name = 'default')
        |  and not (id in (select id from todos where completed = true))""".stripMargin)
    val n = managed.exec(
      "select count(1) as n from todos where completed = true group by ()")
      .collect()(0).getLong(0)
    assert(n == 2)
    // an unsatisfied EXISTS gate updates nothing
    managed.exec(
      """update todos set completed = false
        |where exists(select name from projects where name = 'no_such')""".stripMargin)
    val still = managed.exec(
      "select count(1) as n from todos where completed = true group by ()")
      .collect()(0).getLong(0)
    assert(still == 2)
  }

  test("UPDATE ... FROM with an IN-subquery conjunct in WHERE") {
    val (_, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec(
      "insert into todos(text, created, completed) values ('x', 1.0, false), ('y', 2.0, true)")
    managed.exec("insert into projects(name, created) values ('boost', 10.0)")
    // the equi-conjuncts stay the join condition; the IN conjunct is
    // rewritten to a flag on the joined frame
    val ret = managed.exec(
      """update todos set created = p.created
        |from projects as p
        |where p.name = 'boost'
        |  and todos.id in (select id from todos where completed = false)
        |returning id, todos.created""".stripMargin)
    val rows = ret.collect()
    assert(rows.length == 1 && rows(0).getDouble(1) == 10.0)
    val untouched = managed.exec(
      "select created from todos where text = 'y'").collect()(0).getDouble(0)
    assert(untouched == 2.0)
  }

  test("UPDATE SET with an IN-subquery value") {
    val (_, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec(
      "insert into todos(text, created, completed) values ('a', 1.0, false), ('b', 2.0, false)")
    managed.exec(
      "update todos set completed = (id in (select id from todos where created > 1.5))")
    val rows = managed.exec(
      "select text, completed from todos order by text").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(rows == Seq(("a", false), ("b", true)))
  }

  test("RETURNING with an IN-subquery observes pre-write state") {
    val (_, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec(
      "insert into todos(text, created, completed) values ('a', 1.0, false), ('b', 2.0, true)")
    // the subquery reads todos BEFORE the delete lands: post-write it
    // would find no completed row and yield false
    val ret = managed.exec(
      """delete from todos where completed = true
        |returning id, (id in (select id from todos where completed = true)) as was_completed""".stripMargin)
    val rows = ret.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(rows == Seq((2L, true)))
    assert(managed.exec("select count(1) as n from todos group by ()")
      .collect()(0).getLong(0) == 1)
  }

  test("INSERT VALUES with a subquery expression") {
    val (_, managed, runner) = freshManaged()
    runner.apply(migrations)
    // the migration seeds a 'default' project → true; 'nope' → false
    managed.exec(
      "insert into todos(text, created, completed) values ('z', 9.0, ('default' in (select name from projects)))")
    managed.exec(
      "insert into todos(text, created, completed) values ('w', 9.5, ('nope' in (select name from projects)))")
    val rows = managed.exec(
      "select text, completed from todos order by text").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(rows == Seq(("w", false), ("z", true)))
  }

  test("partitioned managed tables prune directories on partition filters") {
    val (catalog, managed, runner) = freshManaged()
    runner.apply(migrations)
    catalog.partitionBy("todos", "completed")
    managed.exec(
      "insert into todos(text, created, completed) values ('a', 1.0, false), ('b', 2.0, true), ('c', 3.0, true)")
    // hive-style layout on disk
    val dirs = new java.io.File(catalog.tablePath("todos")).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("completed=")), s"dirs: $dirs")
    // partition filter reaches the scan as a PartitionFilter
    val df = managed.exec("select text from todos where completed = true")
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("todos")).get
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s", "").contains("completed"), scan.take(400))
    assert(df.count() == 2)
    // DML still roundtrips on the partitioned layout
    managed.exec("delete from todos where completed = true")
    assert(managed.exec("select count(1) as n from todos group by ()")
      .collect()(0).getLong(0) == 1)
  }

  test("UPDATE of a primary-key column keeps unrelated rows intact") {
    val (_, managed, runner) = freshManaged()
    runner.apply(migrations)
    managed.exec(
      "insert into todos(text, created, completed) values ('buy milk', 1.0, false), ('walk dog', 2.0, false)")
    // ids 1, 2 assigned; moving id 1 -> 2 must not drop the innocent
    // pre-existing id=2 row ('walk dog'), and id=1 must be gone
    managed.exec("update todos set id = 2 where id = 1")
    val rows = managed.exec("select id, text from todos order by text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((2L, "buy milk"), (2L, "walk dog")))
  }

  test("missing required columns still enforced on managed inserts") {
    val (_, managed, runner) = freshManaged()
    runner.apply(migrations)
    val e = intercept[Syntax.SqlppError](
      managed.exec("insert into todos(text) values ('nope')"))
    assert(e.msg.contains("missing required columns"))
  }
}
