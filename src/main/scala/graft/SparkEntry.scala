package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One gate entry: its name, the builder whose result `Verify`
  * dumps, and the equivalent ANSI SQL that DuckDB runs on the same
  * parquet tables for the hash compare.
  */
final case class Entry(name: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelQueries.q1Agg(spark, "/root/testdata/sf0.001")

  /** Every gate entry, each defined once next to its builder. A name
    * defined twice fails here, at initialisation: a map merge would
    * keep one of the two silently.
    */
  val entries: Seq[Entry] = {
    val all = RelQueries.entries ++ DialectQueries.entries ++
      PipelineQueries.entries ++ DmlQueries.entries ++ StreamQueries.entries
    val twice = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty,
      s"gate entry names defined twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  private lazy val builders = entries.map(e => e.name -> e.build).toMap
  private lazy val oracles = entries.map(e => e.name -> e.oracleSql).toMap

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = builders
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = oracles
}
