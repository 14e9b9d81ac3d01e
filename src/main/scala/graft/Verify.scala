package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.tools.Harness
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The only column types an oracle-gated entry may emit. The
    * driver's compare is a lossy pandas round-trip: DECIMAL/HUGEINT
    * render differently per engine (the r10 14-red incident), lists
    * don't hash stably, FLOAT widens nondeterministically. Everything
    * outside this set must be cast in the ENTRY (BIGINT for exact
    * integers, comma-joined VARCHAR for lists) — on BOTH sides,
    * Spark and oracle.
    */
  private[graft] val allowedTypes: Set[DataType] = Set(
    BooleanType, IntegerType, LongType, DoubleType, StringType,
    DateType, TimestampType,
    // parquet-native datetimes read back as NTZ; DuckDB's TIMESTAMP
    // is itself naive, so NTZ is the exact-compare-safe twin of
    // TimestampType here (q9/q10 have been hash-green on it since r1)
    TimestampNTZType)

  /** Offending `name: type` strings for a gate entry's output schema
    * (empty = compliant). Called at registration/dump time so a new
    * entry with a DECIMAL/list/float output column is refused when it
    * is AUTHORED, not three days later when the driver's pandas
    * compare quietly hash-mismatches it (tools/check.py replays that
    * compare at check time; this is the same contract enforced
    * earlier).
    */
  private[graft] def lintSchema(schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if !allowedTypes.contains(f.dataType) =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
  /** The entries a selector list names: all of them for an empty
    * list, else every entry whose name starts with one of the
    * comma-separated selectors. No gate name is a prefix of another,
    * so an exact name selects exactly that entry. A selector that
    * matches nothing is refused before any work starts: a typo would
    * otherwise dump nothing and write an empty `oracle_sql.json`,
    * which check.py reads as "0 pass, 0 fail".
    */
  private[graft] def select(selectors: Seq[String]): Seq[Entry] = {
    val unknown = selectors.filterNot(s =>
      SparkEntry.entries.exists(_.name.startsWith(s)))
    require(unknown.isEmpty,
      s"no gate entry matches: ${unknown.mkString(", ")}")
    SparkEntry.entries.filter(e =>
      selectors.isEmpty || selectors.exists(e.name.startsWith))
  }

  /** Dumps each entry's result to `<outDir>/<name>` and returns the
    * names refused by the output-type lint. An entry that fails or is
    * refused leaves no dump behind: a previous run's parquet there
    * would let check.py PASS code that no longer runs.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      entries: Seq[Entry]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val refused = List.newBuilder[String]
    entries.foreach { e =>
      val ok = try {
        val df = e.build(spark, sfDir)
        val bad = lintSchema(df.schema)
        if (bad.nonEmpty) {
          // refuse the entry: no parquet is written, so the round
          // shows a legible missing file instead of an inscrutable
          // hash mismatch from the lossy pandas compare
          refused += e.name
          System.err.println(s"[verify] REFUSED ${e.name}: output types " +
            s"outside the oracle-safe set {bool,int,bigint,double," +
            s"varchar,date,timestamp}: ${bad.mkString(", ")} — cast " +
            "in the entry (both Spark and oracle sides)")
          false
        } else {
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${e.name}")
          true
        }
      } catch { case t: Throwable =>
        System.err.println(s"[verify] ${e.name} failed: ${t.getMessage}")
        false
      }
      if (!ok) {
        val dir = Paths.get(s"$outDir/${e.name}")
        if (Files.exists(dir))
          Files.walk(dir).iterator().asScala.toList.reverse
            .foreach(Files.deleteIfExists(_))
      }
    }
    refused.result()
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated entry names or name prefixes —
    // local iteration aid (the full gate run passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Seq.empty[String])
      case Array(s, o, f) =>
        val names = f.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(names.nonEmpty, s"no entry names in selector '$f'")
        (s, o, names)
    }
    val entries = select(only)
    val spark = Harness.session("WARN")
    val refused = dump(spark, sfDir, outDir, entries)
    // under a selector, emit only the selected oracles too — so
    // check.py over a partial dump doesn't FAIL the entries that were
    // deliberately not dumped; a selected entry that failed keeps its
    // oracle and shows as a missing-dump FAIL
    val json = entries
      .map(e => s"${Harness.json(e.name)}: ${Harness.json(e.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (refused.nonEmpty) System.err.println(
      s"[verify] ${refused.size} entries REFUSED by the output-type " +
        s"lint: ${refused.mkString(", ")}")
    spark.stop()
  }
}
