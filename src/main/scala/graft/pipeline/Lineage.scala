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
  *
  * How often a fixed-round loop truncates is decided here too: every
  * [[cadence]] rounds, through [[rounds]].
  */
private[graft] object Lineage {
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint(true)

  /** Rounds an iterative operator runs lazily between two truncations.
    * A round that reads its input frame twice doubles the lazy plan,
    * so the plan grows up to 2^cadence× before a cut; each cut costs
    * one eager materialization (one job per shuffle stage under AQE).
    */
  val cadence: Int = 3

  /** Applies `step` `n` times to `init`, truncating the lineage after
    * every `cadence`-th round except the last: the caller's result
    * stays lazy, and its plan holds at most `cadence` rounds.
    */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame)
      : DataFrame =
    (1 to n).foldLeft(init) { (df, i) =>
      val next = step(df)
      if (i % cadence == 0 && i < n) truncate(next) else next
    }
}
