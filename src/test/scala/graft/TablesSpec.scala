package graft

import java.nio.file.Files
import java.util.Comparator
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.load` reads each parquet footer on the driver: it runs no
  * Spark job, and the frame it returns has the schema and rows that
  * letting Spark infer the schema gives, for the fixtures, for a
  * Spark-written directory, for files with several row groups or none,
  * and for every `events.ts` vintage.
  */
class TablesSpec extends SparkTestBase {
  // the sf0.01 fixture, beside the suite's default sf0.001 one
  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"

  /** The table as Spark's schema inference reads it (`loadEvents`
    * sets `nanosAsLong` before its read; so does this). */
  private def inferredRaw(dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(Tables.path(dir, name))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("\u001f")).toSeq.sorted

  /** Tables.load against the inferring read: the same raw schema
    * from the footer, the same loaded schema and, when `withRows`,
    * the same rows. */
  private def assertLoadsAsInferred(dir: String, name: String,
      withRows: Boolean = true): Unit = {
    val raw = inferredRaw(dir, name)
    val p = Tables.path(dir, name)
    assert(spark.read.schema(Tables.footerSchema(spark, p)).parquet(p).schema
      === raw.schema, name)
    val want = if (name == "events") Tables.normalizeTs(raw) else raw
    val got = Tables.load(spark, dir, name)
    assert(got.schema === want.schema, name)
    if (withRows) assert(rows(got) === rows(want), name)
  }

  private def withTempDir[A](body: String => A): A = {
    val tmp = Files.createTempDirectory("graft_tables")
    try body(tmp.toString)
    finally Files.walk(tmp).sorted(Comparator.reverseOrder())
      .forEach(Files.delete(_))
  }

  test("Tables.load runs no Spark job") {
    val n = jobsIn(Tables.names.foreach(t => Tables.load(spark, sf01, t)))
    assert(n == 0, s"loading the ten sf0.01 tables ran $n Spark job(s)")
  }

  test("the ten sf0.01 tables load with Spark's inferred schema") {
    Tables.names.foreach(t => assertLoadsAsInferred(sf01, t, withRows = false))
    // the physical types, not the DDL's
    assert(Tables.load(spark, sf01, "lineitem").schema("l_linenumber")
      .dataType == IntegerType)
    assert(Tables.load(spark, sf01, "embeddings").schema("embedding")
      .dataType == ArrayType(FloatType, containsNull = true))
    assert(Tables.load(spark, sf01, "events").schema("ts")
      .dataType == TimestampType)
  }

  test("a Spark-written directory loads from its first data file's footer") {
    import spark.implicits._
    withTempDir { dir =>
      Seq((1, 10L, "a", 1.5, Seq(1.0f, 2.0f), Map("k" -> 1)),
          (2, 20L, null, 2.5, Seq.empty[Float], Map.empty[String, Int]),
          (3, 30L, "c", -0.5, Seq(3.0f), Map("k" -> 3, "j" -> 4)))
        .toDF("id", "n", "s", "x", "emb", "m")
        .withColumn("price", col("x").cast(DecimalType(12, 2)))
        .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id")))
        .withColumn("nested", struct(col("id").as("a"), col("s").as("b")))
        .repartition(3)
        .write.parquet(Tables.path(dir, "documents"))
      assert(new java.io.File(Tables.path(dir, "documents"), "_SUCCESS").exists)
      assert(jobsIn(Tables.load(spark, dir, "documents")) == 0)
      assertLoadsAsInferred(dir, "documents")
    }
  }

  /** The number of row groups in the footer of `p`'s first data file. */
  private def rowGroups(p: String): Int = {
    val dir = new java.io.File(p)
    val file = dir.listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).min
    val conf = spark.sessionState.newHadoopConf()
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(new Path(p, file), conf),
      ParquetMetadataConverter.NO_FILTER).getBlocks.size
  }

  /** A Spark-written table loads as inferred, with no job, and its
    * footer schema alone equals the inferred one (the columns are
    * nullable, so the reader's nullability widening changes nothing). */
  private def assertSparkWrittenLoads(dir: String, name: String): Unit = {
    val p = Tables.path(dir, name)
    assert(Tables.footerSchema(spark, p) === spark.read.parquet(p).schema)
    assert(jobsIn(Tables.load(spark, dir, name)) == 0)
    assertLoadsAsInferred(dir, name)
  }

  test("a Spark-written file with several row groups loads from its footer") {
    import spark.implicits._
    withTempDir { dir =>
      (1 to 5000).map(i => (Option(i.toLong), Option(s"row-$i"),
          if (i % 7 == 0) None else Some(i * 0.5)))
        .toDF("k", "s", "x")
        .coalesce(1).write.option("parquet.block.size", 4096L)
        .parquet(Tables.path(dir, "orders"))
      val groups = rowGroups(Tables.path(dir, "orders"))
      assert(groups >= 2, s"the file has $groups row group(s)")
      assertSparkWrittenLoads(dir, "orders")
    }
  }

  test("an empty Spark-written table (no row groups) loads from its footer") {
    import spark.implicits._
    withTempDir { dir =>
      Seq.empty[(Option[Long], Option[String])].toDF("k", "s")
        .write.parquet(Tables.path(dir, "orders"))
      assert(rowGroups(Tables.path(dir, "orders")) == 0)
      assertSparkWrittenLoads(dir, "orders")
    }
  }

  test("events written by Spark as TIMESTAMP_NTZ and as TIMESTAMP load as TIMESTAMP") {
    import spark.implicits._
    for (tsType <- Seq(TimestampNTZType, TimestampType)) withTempDir { dir =>
      Seq((1L, "2024-03-01 10:00:00.123456", 7L, "click"),
          (2L, "1969-12-31 23:59:59.999999", 8L, "view"))
        .toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("ts", col("ts").cast(tsType))
        .coalesce(1).write.parquet(Tables.path(dir, "events"))
      assert(inferredRaw(dir, "events").schema("ts").dataType == tsType)
      assert(jobsIn(Tables.load(spark, dir, "events")) == 0, tsType)
      assertLoadsAsInferred(dir, "events")
      assert(Tables.load(spark, dir, "events").schema("ts").dataType ==
        TimestampType)
    }
  }

  test("TIMESTAMP(NANOS) events load with their nanos as exact microseconds") {
    import scala.sys.process._
    val hasPyarrow = scala.util.Try(
      Seq("python3", "-c", "import pyarrow").! == 0).getOrElse(false)
    assume(hasPyarrow, "python3 with the pyarrow package is not installed")
    withTempDir { dir =>
      val script =
        """import sys, pyarrow as pa, pyarrow.parquet as pq
          |pq.write_table(pa.table({
          |  "event_id": pa.array([1, 2], pa.int64()),
          |  "ts": pa.array([1709287200123456789, -2000], pa.timestamp("ns")),
          |  "user_id": pa.array([7, 8], pa.int64())}), sys.argv[1])
          |""".stripMargin
      assert(Seq("python3", "-c", script, Tables.path(dir, "events")).! == 0)
      assert(inferredRaw(dir, "events").schema("ts").dataType == LongType)
      assert(jobsIn(Tables.load(spark, dir, "events")) == 0)
      assertLoadsAsInferred(dir, "events")
      val us = Tables.load(spark, dir, "events").orderBy("event_id")
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(us == Seq(1709287200123456L, -2L))
    }
  }
}
