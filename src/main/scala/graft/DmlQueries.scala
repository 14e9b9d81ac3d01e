package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.frontend.{Analyzer, Engine, ManagedCatalog, ManagedEngine}

/** Driver-gate entry exercising the managed-table DML path end-to-end:
  * seed a managed table from the fixture, run DELETE and UPDATE
  * through the dialect, and return the final state. The oracle
  * reproduces the same final state declaratively over the read-only
  * fixture.
  */
object DmlQueries {

  type Q = (SparkSession, String) => DataFrame

  // One managed-table root per entry, reused across invocations (the
  // seeding overwrite resets state each run, so reuse is safe) and
  // deleted on JVM exit — Bench's cold+warm double execution must not
  // leak a directory per run.
  private val roots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def tempRoot(tag: String): String =
    roots.computeIfAbsent(tag, { _ =>
      val p = Files.createTempDirectory(s"graft_$tag")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(p.toFile)
      }
      p.toString
    })

  val dm1Roundtrip: Q = (s, dir) => {
    val root = tempRoot("dml1")
    val env = new Analyzer.Env().addDecls(
      """create table mdocs (
        |  doc_id int not null primary key,
        |  lang string not null,
        |  n_chars int not null)""".stripMargin)
    val catalog = new ManagedCatalog(s, root, env)
    val managed = new ManagedEngine(catalog,
      new Engine(s, env, catalog.load _))
    // seed from the fixture (DataFrame write, then dialect DML)
    catalog.overwrite("mdocs",
      Tables.load(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .filter(org.apache.spark.sql.functions.col("doc_id") < 100))
    managed.exec("delete from mdocs where doc_id < 10")
    managed.exec("update mdocs set lang = 'xx' where n_chars > 300")
    // ON CONFLICT IGNORE: clashing pk rows must be dropped;
    // ON CONFLICT REPLACE: pk 10..11 rows replaced wholesale
    managed.exec(
      "insert into mdocs(doc_id, lang, n_chars) values (10, 'dup', 1), (20, 'dup', 1) on conflict ignore")
    managed.exec(
      "insert into mdocs(doc_id, lang, n_chars) values (11, 'rep', 7) on conflict replace")
    managed.exec("select doc_id, lang, n_chars from mdocs order by doc_id")
  }
  val dm1Sql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id = 11 THEN 'rep'
      |       WHEN n_chars > 300 THEN 'xx' ELSE lang END AS lang,
      |  CASE WHEN doc_id = 11 THEN 7 ELSE n_chars END AS n_chars
      |FROM documents
      |WHERE doc_id < 100 AND doc_id >= 10
      |ORDER BY doc_id""".stripMargin

  /** DML WHERE with IN subqueries (self-referential: the subselect
    * reads the managed table's pre-statement state, exactly SQL
    * semantics — the swap-in write happens after the plan over the
    * old files is staged).
    */
  val dm2Subquery: Q = (s, dir) => {
    val root = tempRoot("dml2")
    val env = new Analyzer.Env().addDecls(
      """create table mdocs (
        |  doc_id int not null primary key,
        |  lang string not null,
        |  n_chars int not null)""".stripMargin)
    val catalog = new ManagedCatalog(s, root, env)
    val managed = new ManagedEngine(catalog,
      new Engine(s, env, catalog.load _))
    catalog.overwrite("mdocs",
      Tables.load(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .filter(org.apache.spark.sql.functions.col("doc_id") < 100))
    managed.exec(
      "delete from mdocs where doc_id in (select doc_id from mdocs where n_chars > 300)")
    managed.exec(
      "update mdocs set lang = 'mid' where doc_id in (select doc_id from mdocs where n_chars > 200)")
    managed.exec("select doc_id, lang, n_chars from mdocs order by doc_id")
  }
  val dm2Sql: String =
    """SELECT doc_id,
      |  CASE WHEN n_chars > 200 THEN 'mid' ELSE lang END AS lang,
      |  n_chars
      |FROM documents
      |WHERE doc_id < 100 AND NOT (n_chars > 300)
      |ORDER BY doc_id""".stripMargin

  /** ON CONFLICT UPDATE SET (partial-column upsert): conflicting
    * incoming rows update in place — SET sees the existing row and
    * `excluded.*` — while fresh keys insert; untouched rows survive.
    * The oracle rebuilds the identical final state declaratively.
    */
  val dm3Upsert: Q = (s, dir) => {
    val root = tempRoot("dml3")
    val env = new Analyzer.Env().addDecls(
      """create table mdocs (
        |  doc_id int not null primary key,
        |  lang string not null,
        |  n_chars int not null)""".stripMargin)
    val catalog = new ManagedCatalog(s, root, env)
    val managed = new ManagedEngine(catalog,
      new Engine(s, env, catalog.load _))
    catalog.overwrite("mdocs",
      Tables.load(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .filter(org.apache.spark.sql.functions.col("doc_id") < 100))
    managed.exec(
      "insert into mdocs(doc_id, lang, n_chars) " +
        "values (1, 'up', 1000), (2, 'up', 1000), (150, 'new', 5) " +
        "on conflict update set " +
        "n_chars = mdocs.n_chars + excluded.n_chars, lang = excluded.lang")
    managed.exec("select doc_id, lang, n_chars from mdocs order by doc_id")
  }
  val dm3Sql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id IN (1, 2) THEN 'up' ELSE lang END AS lang,
      |  CASE WHEN doc_id IN (1, 2) THEN n_chars + 1000
      |       ELSE n_chars END AS n_chars
      |FROM documents WHERE doc_id < 100
      |UNION ALL SELECT 150, 'new', 5
      |ORDER BY doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("dm1_dml_roundtrip", dm1Roundtrip, dm1Sql),
    Entry("dm2_dml_subquery_where", dm2Subquery, dm2Sql),
    Entry("dm3_upsert", dm3Upsert, dm3Sql),
  )
}
