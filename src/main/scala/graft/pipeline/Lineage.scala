package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The one lineage-truncation policy, shared by every operator that
  * eagerly materializes an intermediate or result frame (near-dup
  * pair sets, packed-shard assignments, iterative graph rounds,
  * RETURNING rows, streamed micro-batches).
  *
  * The choice follows the session: when the SparkContext has a
  * checkpoint directory (`spark.checkpoint.dir` at startup, or
  * `sparkContext.setCheckpointDir`), the frame is written there with
  * `checkpoint()` and survives the loss of the executor that computed
  * it. Otherwise it is `localCheckpoint(true)`ed: cheap, but the
  * blocks are pinned to their executors and a lost executor makes
  * them unrecoverable. On a real cluster, point `spark.checkpoint.dir`
  * at durable storage (HDFS, object store); no operator takes a flag.
  */
private[graft] object Lineage {
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint(true)
}
