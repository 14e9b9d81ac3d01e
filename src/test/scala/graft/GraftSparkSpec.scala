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
    RelQueries.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name returned negative count")
      withClue(s"query $name: ") { assert(n > 0) }
    }
  }

  test("every query has an oracle or is documented as rows-only") {
    val missing = RelQueries.queries.keySet -- RelQueries.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
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
