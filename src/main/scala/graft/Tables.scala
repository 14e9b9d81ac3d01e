package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Catalog of the driver-generated parquet test tables (TESTDATA.md).
  *
  * The reference declares its table schemas up-front in an `Env`
  * (reference: sqlpp.ml:87-103), so preparing a query touches no data.
  * Here the parquet footer is the schema of record: [[footerSchema]]
  * reads it on the driver and the table is opened with that schema
  * given, so a load runs no Spark job (Spark's own inference runs one
  * per read). The footer is read with Spark's own footer reader, row
  * groups skipped, under the session's Hadoop conf; parquet-hadoop's
  * `ParquetFileReader.open(InputFile)` is avoided because it builds
  * its read options from a fresh Hadoop `Configuration`, re-parsing
  * `core-default.xml` on every call (7.4 ms a footer at the median
  * against 0.31 ms, warm JVM, sf0.01, 4 cores). The schema is the
  * file's physical one, not the DDL's (`Catalog.ddl`): INT32 columns
  * stay INT, undeclared columns stay, and `events.ts` keeps the shape
  * [[normalizeTs]] dispatches on.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, sfDir)
    else read(spark, path(sfDir, name))

  private def read(spark: SparkSession, p: String): DataFrame =
    spark.read.schema(footerSchema(spark, p)).parquet(p)

  /** The Spark schema of a parquet file, or of a directory's first data
    * file by name (`_*` and `.*` skipped, as Spark's file index skips
    * them), read from its footer on the driver with no Spark job. It
    * is the schema `spark.read.parquet(p)` infers: the same converter
    * under the session's conf (so `nanosAsLong` must be set before the
    * call), and the `org.apache.spark.sql.parquet.row.metadata` schema
    * that Spark-written files carry wins over the converted one. The
    * footer is opened from the `FileStatus` already in hand, so the
    * file is not stat'ed twice (one request less on an object store).
    */
  def footerSchema(spark: SparkSession, p: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(p)
    val fs = path.getFileSystem(conf)
    val status = fs.getFileStatus(path)
    val file =
      if (!status.isDirectory) status
      else fs.listStatus(path).iterator
        .filterNot { f =>
          val n = f.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .minByOption(_.getPath.getName)
        .getOrElse(throw new IllegalArgumentException(
          s"no parquet data file under $p"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The driver's events table has shipped `ts` in three physical
    * shapes across fixture generations, all normalized here to ONE
    * logical type — TIMESTAMP (LTZ; every session pins
    * spark.sql.session.timeZone=UTC) — so downstream instant
    * arithmetic (`unix_micros`, watermarking) never dispatches on the
    * fixture vintage:
    *   - TIMESTAMP(NANOS), which Spark's reader rejects: read nanos
    *     as long (legacy conf) and convert with integer µs division
    *     (exact — a double division would lose precision above
    *     2^53 ns);
    *   - naive TIMESTAMP(MICROS) (isAdjustedToUTC=false), which
    *     Spark 4 infers as TIMESTAMP_NTZ: cast to LTZ — an exact
    *     reinterpretation of the same µs value under the UTC session
    *     zone;
    *   - UTC-adjusted TIMESTAMP(MICROS) (e.g. the scaled soak
    *     fixtures this library writes itself): already the target
    *     type.
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(read(spark, path(sfDir, "events")))
  }

  /** The vintage dispatch itself, shared with the streaming source
    * path (a file stream over the same fixture files sees the same
    * three physical shapes) so batch and stream cannot drift.
    */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
}
