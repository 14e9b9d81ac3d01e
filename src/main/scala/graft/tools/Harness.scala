package graft.tools

import org.apache.spark.sql.SparkSession

/** What every runnable tool shares: the one local session builder,
  * the JSON string escaper and locale-pinned number formatting for
  * the single-line JSON the tools print.
  */
object Harness {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with as many shuffle partitions, no UI, and the
    * session time zone pinned to UTC — here, not only in build.sbt's
    * forked-JVM flags: run outside sbt on a non-UTC host, the NTZ→LTZ
    * cast in `Tables.loadEvents` would otherwise shift every event
    * instant by the zone offset (and ScaleFixture would persist the
    * shifted values). Returns the running session if there is one.
    */
  def session(logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `s` as a JSON string literal. Quote, backslash and every control
    * character below U+0020 are escaped: a tab or newline in an error
    * message or in entry-authored SQL would otherwise make the line
    * invalid JSON, and a reader's `json.load` would reject all of it.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `String.format` in the root locale: the default-locale `f""` /
    * `.format` would render 70.2 as "70,2" under a comma-decimal
    * locale and corrupt the JSON line and the per-round traces.
    */
  def fmt(spec: String, v: Double): String =
    String.format(java.util.Locale.ROOT, spec, Double.box(v))
}
