package graft

import java.nio.file.Files
import java.util.Comparator
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` under both lineage policies of [[graft.pipeline.Lineage]]:
    * first with no checkpoint dir (localCheckpoint), then with a fresh
    * temp dir set (reliable checkpoint). Asserts that only the second
    * run wrote files under the dir, then restores the session's
    * previous dir — in local mode `setCheckpointDir(null)` clears it,
    * so the reliable path never leaks into later suites. Returns the
    * (local, reliable) results; `body` must force its frames.
    */
  def underBothLineagePolicies[A](body: => A): (A, A) = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = Files.createTempDirectory("graft_ckpt")
    def written(): Long = Files.walk(dir).filter(Files.isRegularFile(_)).count()
    try {
      sc.setCheckpointDir(null)
      val local = body
      assert(written() == 0, s"localCheckpoint run wrote under $dir")
      sc.setCheckpointDir(dir.toString)
      val reliable = body
      assert(written() > 0, s"no reliable checkpoint written under $dir")
      (local, reliable)
    } finally {
      sc.setCheckpointDir(prev.orNull)
      Files.walk(dir).sorted(Comparator.reverseOrder()).forEach(Files.delete(_))
    }
  }

  /** The number of Spark jobs `body` starts on this thread, counted by
    * job group; a marker job run last in the group proves the
    * (asynchronous) listener bus has delivered them all.
    */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = "graft-test-jobs"
    @volatile var jobs = 0
    @volatile var markerSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (props.exists(_.getProperty("graft.test.marker") != null))
            markerSeen = true
          else jobs += 1
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted by a spec")
      body
      sc.setLocalProperty("graft.test.marker", "1")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis + 10000
      while (!markerSeen && System.currentTimeMillis < deadline)
        Thread.sleep(20)
      assert(markerSeen, "marker job never reached the listener")
      jobs
    } finally {
      sc.setLocalProperty("graft.test.marker", null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

class RelQueriesSpec extends SparkTestBase {
  test("all declared queries run and return rows at sf0.001") {
    RelQueries.entries.foreach { case Entry(name, build, _) =>
      val df = build(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name returned negative count")
      withClue(s"query $name: ") { assert(n > 0) }
    }
  }

  test("q1_agg groups are the 3x2 returnflag/linestatus combinations") {
    val rows = RelQueries.q1Agg(spark, sf).collect()
    assert(rows.length > 0 && rows.length <= 6)
    val flags = rows.map(_.getString(0)).toSet
    assert(flags.subsetOf(Set("A", "N", "R")))
  }

  test("q4 limit/offset returns exactly 10 rows") {
    assert(RelQueries.q4SortLimitOffset(spark, sf).count() == 10)
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

/** The gate registry: each entry defined once, and the tools that
  * select from it refuse what it does not hold.
  */
class RegistrySpec extends SparkTestBase {
  private val lists = Seq(RelQueries.entries, DialectQueries.entries,
    PipelineQueries.entries, DmlQueries.entries, StreamQueries.entries)
  private val names = SparkEntry.entries.map(_.name)

  test("entry names are unique across all five lists") {
    val all = lists.flatten.map(_.name)
    assert(all.size == SparkEntry.entries.size)
    assert(all.diff(all.distinct).isEmpty, "names defined twice")
  }

  test("queries and oracleSql have the same key set") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == names.size)
    // a list declared above a builder it references captures null
    val unset = SparkEntry.entries.filter(e =>
      e.build == null || e.oracleSql == null || e.oracleSql.trim.isEmpty)
    assert(unset.isEmpty, s"entries without builder or oracle: ${unset.map(_.name)}")
  }

  test("no entry name is a prefix of another, so a name selects exactly") {
    val clashes = for (a <- names; b <- names if a != b && b.startsWith(a))
      yield s"$a < $b"
    assert(clashes.isEmpty, clashes.mkString(", "))
    assert(Verify.select(Seq("q1_agg")).map(_.name) == Seq("q1_agg"))
  }

  test("every PlanAudit BNLJ allowlist key is a gate entry") {
    val stale = graft.tools.PlanAudit.bnljAllowlist.keySet -- names
    assert(stale.isEmpty, s"allowlisted but not in the gate: $stale")
  }

  test("Verify refuses an unknown selector before any work starts") {
    val out = Files.createTempDirectory("graft_verify")
    try {
      val e = intercept[IllegalArgumentException] {
        Verify.main(Array(sf, out.toString, "q1_agg,q1_agx"))
      }
      assert(e.getMessage.contains("q1_agx"))
      assert(!e.getMessage.contains("q1_agg,"))
      assert(!Files.exists(out.resolve("oracle_sql.json")))
      intercept[IllegalArgumentException] {
        Verify.main(Array(sf, out.toString, " , "))
      }
    } finally deleteTree(out)
  }

  test("Verify removes a stale dump when its entry fails") {
    val out = Files.createTempDirectory("graft_verify")
    try {
      val stale = Files.createDirectories(out.resolve("q1_agg"))
      Files.writeString(stale.resolve("part-0.parquet"), "from an earlier run")
      val missingSf = out.resolve("no_such_sf").toString
      val refused = Verify.dump(spark, missingSf, out.toString,
        Verify.select(Seq("q1_agg")))
      assert(refused.isEmpty)
      assert(!Files.exists(stale), "stale dump left for check.py to PASS")
    } finally deleteTree(out)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder()).forEach(Files.delete(_))
}
