package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import graft.pipeline.Lineage

/** Small-file compaction — the lake-maintenance operator a 100 TB
  * table needs continuously: streaming and per-task writers leave
  * thousands of KB-scale files whose per-file open/footer/seek costs
  * dominate scans, and the fix is periodically rewriting a partition
  * into ~target-sized, key-sorted files.
  *
  * The planner here is DETERMINISTIC (global rank over a total key
  * order → `file_id = rank div targetRows`), not Spark's sampled
  * repartitionByRange boundaries: a row's rank depends only on the
  * total order of the (unique) sort key, never on where the sampled
  * range boundaries fall, so re-runs of a failed compaction job are
  * idempotent and the oracle gate can replay the assignment. The
  * range-partitioned sort is the honest price of key-clustered output
  * files (it gives each file a tight min/max range for footer-stats
  * skipping — the same property zo1 buys in 2-D); it distributes over
  * the cluster and the driver only ever sees `partitions` longs.
  */
object Compaction {

  /** Assign every row its output file: global rank over `sortCols`
    * (must be a unique key for determinism), integer-divided into
    * files of `targetRows`.
    *
    * Two-pass distributed rank, the pk1 discipline (see
    * [[graft.pipeline.Sampling.packSequences]]): range-repartition +
    * in-partition sort once, count rows per partition (the ONLY thing
    * collected — `partitions` longs), prefix-sum the offsets on the
    * driver, then stream each partition adding offset + local index.
    * Never a global single-partition window: an empty-partition
    * `row_number()` funnels the whole table through one task, which
    * is exactly the shape that dies at 100 TB.
    */
  def assignFiles(df: DataFrame, sortCols: Seq[String],
      targetRows: Long, partitions: Int = 32): DataFrame = {
    require(targetRows > 0 && partitions > 0 && sortCols.nonEmpty,
      s"need targetRows > 0, partitions > 0, non-empty sortCols; " +
        s"got $targetRows, $partitions, $sortCols")
    val spark = df.sparkSession
    // materialize the range partitioning once so the count pass and
    // the rank pass see identical partition contents
    val parted = df
      .repartitionByRange(partitions, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = parted.rdd
      .mapPartitionsWithIndex { case (i, it) =>
        var n = 0L
        it.foreach(_ => n += 1)
        Iterator((i, n))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = df.schema.add("file_id", LongType, nullable = false)
    val ranked = parted.rdd
      .mapPartitionsWithIndex { case (i, it) =>
        var rank = bc.value(i)
        it.map { r =>
          val out = Row.fromSeq(r.toSeq :+ (rank / targetRows))
          rank += 1
          out
        }
      }
    val out = spark.createDataFrame(ranked, schema)
    // truncate lineage off the persisted two-pass frame so it can be
    // freed now
    val cut = Lineage.truncate(out)
    parted.unpersist(false)
    cut
  }

  /** Per-file compaction plan: row counts and key ranges for each
    * planned output file — the manifest a compactor publishes before
    * swapping files in.
    *
    * Projects to the sort key BEFORE the range sort: the plan needs
    * nothing else, and at 100 TB the difference between sorting
    * key-only rows and full-payload rows is the whole job (the
    * payload only moves when [[compact]] executes the rewrite).
    */
  def plan(df: DataFrame, sortCols: Seq[String],
      targetRows: Long): DataFrame = {
    val first = col(sortCols.head)
    assignFiles(df.select(sortCols.map(col): _*), sortCols, targetRows)
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min(first).as("min_key"), max(first).as("max_key"))
  }

  /** Execute the compaction: write one file per planned `file_id`
    * (hash-repartition on file_id so each file's rows land in one
    * task, then `partitionBy` so each file gets its own directory —
    * a task holding several ids still writes one file per id-dir).
    * Returns the number of files planned.
    */
  def compact(df: DataFrame, path: String, sortCols: Seq[String],
      targetRows: Long): Long = {
    val assigned = assignFiles(df, sortCols, targetRows)
    // max over an empty frame is a NULL cell, not a row-less result
    val maxRow = assigned.agg(max("file_id")).head
    val nFiles = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) + 1
    assigned
      .repartition((nFiles max 1L).toInt min 1024, col("file_id"))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").partitionBy("file_id").parquet(path)
    nFiles
  }
}
