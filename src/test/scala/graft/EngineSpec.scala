package graft

import graft.frontend.Engine
import org.apache.spark.sql.Row

/** End-to-end dialect execution against the sf0.001 parquet fixtures:
  * parse → analyze → bind → lower → run.
  */
class EngineSpec extends SparkTestBase {

  lazy val engine: Engine = Catalog.engine(spark, sf)

  test("milestone slice: join + param + group + order + limit (SURVEY §7.6)") {
    val q = engine.prepare(
      """select n_name, count(1) as n
        |from nation join region on n_regionkey = r_regionkey
        |where r_name = ?r
        |group by n_name
        |order by n_name
        |limit 5""".stripMargin)
    val rows = q.bind(Map("r" -> "ASIA")).collect()
    assert(rows.length == 5)
    val expected = spark.sql(
      s"""SELECT n_name, count(1) AS n
         |FROM parquet.`$sf/nation.parquet` n
         |JOIN parquet.`$sf/region.parquet` r ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name LIMIT 5""".stripMargin)
      .collect()
    assert(rows.toSeq == expected.toSeq)
  }

  test("plain select with scalar functions") {
    val df = engine.sql(
      "select o_orderkey, coalesce(nullif(o_orderstatus, 'O'), 'open') as s " +
        "from orders order by o_orderkey limit 3")
    val rows = df.collect()
    assert(rows.length == 3)
    assert(df.columns.toSeq == Seq("o_orderkey", "s"))
  }

  test("left join nullability at runtime") {
    val df = engine.sql(
      """select n_name, c_name
        |from nation left join customer on c_nationkey = n_nationkey
        |order by n_name limit 5""".stripMargin)
    assert(df.columns.toSeq == Seq("n_name", "c_name"))
    assert(df.count() == 5)
  }

  test("scan pruning: only used columns reach the parquet read") {
    val df = engine.sql("select l_orderkey from lineitem where l_quantity > 49.0")
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val scan = scans.find(_.contains("lineitem")).get
    assert(scan.contains("l_orderkey") && scan.contains("l_quantity"))
    assert(!scan.contains("l_extendedprice") && !scan.contains("l_shipdate"))
    // the filter must be pushed to the scan
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity"))
  }

  test("nav pushdown into open grouped subquery (remote aggregation)") {
    val df = engine.sql(
      """select c.c_custkey, stats.count(1), stats.sum(o_totalprice)
        |from customer as c
        |join (select o_custkey as k, ... from orders group by o_custkey) as stats
        |on c.c_custkey = stats.k
        |order by c.c_custkey
        |limit 10""".stripMargin)
    assert(df.count() == 10)
    assert(df.columns.length == 3)
  }

  test("IN subquery lowers to left-semi join") {
    val df = engine.sql(
      """select c_custkey from customer
        |where c_custkey in (select o_custkey from orders where o_totalprice > 400000.0)
        |order by c_custkey""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"))
    val viaSql = spark.sql(
      s"""SELECT c_custkey FROM parquet.`$sf/customer.parquet`
         |WHERE c_custkey IN (SELECT o_custkey FROM parquet.`$sf/orders.parquet`
         |                    WHERE o_totalprice > 400000.0)
         |ORDER BY c_custkey""".stripMargin).collect()
    assert(df.collect().toSeq == viaSql.toSeq)
  }

  test("NOT IN lowers to left-anti join") {
    val df = engine.sql(
      """select c_custkey from customer
        |where not (c_custkey in (select o_custkey from orders where o_totalprice > 400000.0))
        |order by c_custkey""".stripMargin)
    assert(df.queryExecution.executedPlan.toString.contains("LeftAnti"))
    val inCount = engine.sql(
      """select c_custkey from customer
        |where c_custkey in (select o_custkey from orders where o_totalprice > 400000.0)""".stripMargin)
      .count()
    val total = engine.sql("select c_custkey from customer").count()
    assert(df.count() == total - inCount && df.count() > 0)
  }

  test("IN under OR uses a flag join (still no collect)") {
    val df = engine.sql(
      """select c_custkey from customer
        |where c_custkey in (select o_custkey from orders where o_totalprice > 400000.0)
        |   or c_acctbal < 0.0
        |order by c_custkey""".stripMargin)
    val viaSql = spark.sql(
      s"""SELECT c_custkey FROM parquet.`$sf/customer.parquet`
         |WHERE c_custkey IN (SELECT o_custkey FROM parquet.`$sf/orders.parquet`
         |                    WHERE o_totalprice > 400000.0)
         |   OR c_acctbal < 0.0
         |ORDER BY c_custkey""".stripMargin).collect()
    assert(df.collect().toSeq == viaSql.toSeq)
  }

  test("EXISTS evaluates uncorrelated to a constant gate") {
    val yes = engine.sql(
      "select r_name from region where exists(select o_orderkey from orders) order by r_name")
    assert(yes.count() == 5)
    val no = engine.sql(
      "select r_name from region where exists(select o_orderkey from orders where o_totalprice < 0.0)")
    assert(no.count() == 0)
  }

  test("MATCH variant param compiles only the chosen branch") {
    val q = engine.prepare(
      """select c_custkey from customer
        |where match ?q with
        |  | all -> true
        |  | rich ?min -> c_acctbal >= ?min: float
        |  end
        |order by c_custkey""".stripMargin)
    val all = q.bind(Map("q" -> Engine.Variant("all"))).count()
    val rich = q.bind(Map("q" -> Engine.Variant("rich", 9000.0))).count()
    assert(all > rich && rich > 0)
  }

  test("expression-typed params splice analyzed expressions (sqlpp.ml:360-367)") {
    val q = engine.prepare(
      "select c_custkey from customer where ?cond: bool expr order by c_custkey")
    val n1 = q.bind(Map("cond" -> Engine.ExprParam("c_acctbal > 9000.0"))).count()
    val n2 = q.bind(Map("cond" -> Engine.ExprParam("true"))).count()
    assert(n2 > n1 && n1 > 0)
  }

  test("fetchList typed API decodes case classes with Option for nullable") {
    import spark.implicits._
    case class N(n_name: String, n: Long)
    // local case classes can't get implicit encoders; use a tuple encoder
    val rows = engine.fetchList[(String, Long)](
      """select n_name, count(1) as n from nation
        |join customer on c_nationkey = n_nationkey
        |group by n_name order by n_name limit 3""".stripMargin)
    assert(rows.length == 3 && rows.forall(_._2 > 0))
  }

  test("generated static-query rows decode through fetchList") {
    import spark.implicits._
    // top-level generated case classes (unlike the local ones above)
    // derive product encoders — the registry query fetches straight
    // into its build-time-generated row type
    val top = engine.fetchList[graft.generated.TopOrdersRow](
      StaticQueries.registry("top_orders"))
    assert(top.length == 10)
    assert(top.map(_.o_totalprice).toSeq ==
      top.map(_.o_totalprice).sortBy(-_).toSeq)
    val spenders = engine.fetchList[graft.generated.BigSpendersRow](
      StaticQueries.registry("big_spenders"),
      Map("floor" -> 400000.0))
    assert(spenders.nonEmpty && spenders.forall(_.c_custkey >= 0))
    assert(spenders.map(_.c_custkey) == spenders.map(_.c_custkey).sorted)
  }

  test("limit/offset with params") {
    val q = engine.prepare(
      "select o_orderkey from orders order by o_orderkey limit ?n offset ?o")
    val rows = q.bind(Map("n" -> 5, "o" -> 10)).collect().map(_.getLong(0))
    val base = engine.sql(
      "select o_orderkey from orders order by o_orderkey limit 15")
      .collect().map(_.getLong(0))
    assert(rows.toSeq == base.drop(10).toSeq)
  }

  test("lazy WITH fields are pruned from execution") {
    val df = engine.sql(
      """select q.o_orderkey
        |from (select o_orderkey, with o_totalprice * 2.0 as heavy, ... from orders) as q
        |order by q.o_orderkey limit 3""".stripMargin)
    assert(df.columns.toSeq == Seq("o_orderkey"))
    // o_totalprice must not be read at all
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("orders")).get
    assert(!scan.contains("o_totalprice"))
  }

  test("nullability soundness: runtime nulls only in nullable-typed columns") {
    // battery spanning joins, aggregation, scalar functions
    val battery = Seq(
      "select n_name, c_name from nation left join customer on c_nationkey = n_nationkey",
      "select nullif(o_orderstatus, 'O') as s, o_orderkey from orders limit 50",
      "select coalesce(nullif(c_name, ''), 'x') as nm from customer limit 50",
      "select n_name, count(1) as n from nation group by n_name",
      "select c_custkey, c_acctbal + 1.0 as b from customer limit 50")
    battery.foreach { src =>
      val prep = engine.prepare(src)
      val df = prep.bind()
      val rows = df.collect()
      prep.row.zipWithIndex.foreach { case ((name, ty), i) =>
        if (!ty.nullable)
          assert(rows.forall(!_.isNullAt(i)),
            s"non-null column $name of `$src` contained nulls")
      }
    }
  }

  test("bind validates params up front with clear messages") {
    import graft.frontend.Syntax.SqlppError
    val q = engine.prepare("select c_custkey from customer where c_acctbal > ?min: float")
    assert(intercept[SqlppError](q.bind(Map.empty)).msg
      == "missing value for param ?min")
    assert(intercept[SqlppError](q.bind(Map("min" -> "oops"))).msg
      .contains("expects FLOAT"))
    assert(q.bind(Map("min" -> 5000.0)).count() > 0)

    val v = engine.prepare(
      "select c_custkey from customer where match ?f with | all -> true | rich ?m -> c_acctbal > ?m: float end")
    assert(intercept[SqlppError](
      v.bind(Map("f" -> Engine.Variant("nope")))).msg
      .contains("no MATCH case for tag `nope`"))
    assert(intercept[SqlppError](
      v.bind(Map("f" -> Engine.Variant("rich")))).msg
      .contains("expects 1 args but got 0"))
    assert(intercept[SqlppError](v.bind(Map("f" -> 42))).msg
      .contains("pass Engine.Variant"))
  }

  test("execJson dynamic API") {
    val js = engine.execJson("select r_regionkey, r_name from region order by r_regionkey limit 1")
    assert(js.length == 1 && js.head.contains("\"r_name\""))
  }

  test("global aggregation over joined tables") {
    val df = engine.sql(
      """select count(1), sum(l_quantity), max(l_extendedprice)
        |from lineitem join orders on l_orderkey = o_orderkey
        |where o_orderstatus = 'F'
        |group by ()""".stripMargin)
    val r = df.collect()(0)
    assert(r.getLong(0) > 0)
  }

  test("having over aggregates") {
    val df = engine.sql(
      """select l_orderkey, sum(l_quantity) as q
        |from lineitem group by l_orderkey
        |having sum(l_quantity) > 150.0
        |order by l_orderkey""".stripMargin)
    val viaSql = spark.sql(
      s"""SELECT l_orderkey, sum(l_quantity) AS q
         |FROM parquet.`$sf/lineitem.parquet`
         |GROUP BY l_orderkey HAVING sum(l_quantity) > 150.0
         |ORDER BY l_orderkey""".stripMargin).collect()
    assert(df.collect().toSeq == viaSql.toSeq)
  }

  test("fold streams a large typed result partition-at-a-time") {
    import spark.implicits._
    // the reference's core runtime contract is a row-at-a-time fold
    // that never materializes the result (sqlpp.ml:332). The fixture's
    // lineitem is one row group, so one partition; a 4-file copy of it
    // gives the ~60k-row result 4 partitions to stream.
    val tmp = java.nio.file.Files.createTempDirectory("graft_fold")
    try {
      val dir = tmp.toString
      val sf01 = new java.io.File(sf).getParent + "/sf0.01"
      Tables.load(spark, sf01, "lineitem")
        .repartition(4).write.parquet(Tables.path(dir, "lineitem"))
      val big = Catalog.engine(spark, dir)
      val want = Tables.load(spark, dir, "lineitem")
        .selectExpr("count(*)", "sum(l_linenumber)").collect()(0)
      val src = "select l_orderkey, l_linenumber from lineitem"
      val parts = big.sql(src).rdd.getNumPartitions
      assert(parts >= 2, s"the result has $parts partition(s)")
      @volatile var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val (n, s) = big.fold[(Long, Int), (Long, Long)](src)((0L, 0L)) {
          case ((c, acc), (_, ln)) => (c + 1, acc + ln)
        }
        assert(n == want.getLong(0))
        assert(s == want.getLong(1))
        // toLocalIterator runs ONE JOB PER PARTITION as the fold
        // consumes — peak driver memory is a single partition. A
        // collect would be one job over all partitions. The listener
        // bus is async: poll until the per-partition jobs surface.
        val deadline = System.currentTimeMillis + 3000
        while (jobs < 2 && System.currentTimeMillis < deadline)
          Thread.sleep(50)
        assert(jobs >= 2, s"fold ran $jobs job(s) — looks like a collect")
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally {
      java.nio.file.Files.walk(tmp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))
    }
  }
}
