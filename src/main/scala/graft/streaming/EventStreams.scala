package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}
import graft.pipeline.Lineage

/** Structured Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Every transform below is written against a plain DataFrame so the
  * SAME code path serves batch (driver-gate oracle checks) and
  * streaming (readStream → transform → writeStream); Spark's
  * incrementalization handles the rest. Watermarks bound state for
  * the windowed aggregation; `flatMapGroupsWithState` carries custom
  * per-user session state with an event-time timeout.
  */
object EventStreams {

  /** Tumbling-window aggregate per event type: the canonical
    * watermarked streaming aggregation. On a stream, late data beyond
    * 10 minutes is dropped and window state is evicted — bounded state
    * regardless of stream length.
    */
  def windowedTypeAgg(events: DataFrame,
      withWatermark: Boolean = false): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "10 minutes")
      else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * lit(100.0), 0).cast("long"))
          .as("value_cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))
  }

  // ---------------- sessionization ----------------

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String = "")

  final case class SessionState(
      sessionStart: Long, lastTs: Long, nEvents: Long, totalValue: Double)

  final case class Session(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  val sessionGapMs: Long = 30L * 60 * 1000

  /** Custom stateful streaming: per-user sessions with a 30-minute
    * inactivity gap, emitted when the event-time timeout fires. State
    * per key is four scalars — O(users) memory, not O(events).
    */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId,
              new java.sql.Timestamp(s.sessionStart),
              new java.sql.Timestamp(s.lastTs), s.nEvents, s.totalValue))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = List.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= sessionGapMs =>
                  cur = Some(SessionState(s.sessionStart, t,
                    s.nEvents + 1, s.totalValue + e.value))
                case Some(s) =>
                  closed += Session(userId,
                    new java.sql.Timestamp(s.sessionStart),
                    new java.sql.Timestamp(s.lastTs), s.nEvents, s.totalValue)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + sessionGapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Batch sessionization with identical semantics (gaps-and-islands
    * via lag + running sum) — the oracle-checkable twin of
    * `sessionize`, and the backfill path of a kappa-style pipeline.
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    // prune before the window shuffle: the wide props column would
    // otherwise ride through both sorts
    val slim = events.select("user_id", "ts", "value")
    val starts = slim
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // integer-µs gap: a seconds cast would truncate fractional
      // seconds and flip boundary decisions vs an exact comparison
      .withColumn("is_start",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            lit(sessionGapMs * 1000), 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("is_start")).over(byUser.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
    starts.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * lit(100.0), 0).cast("long"))
          .as("value_cents"))
      .drop("session_seq")
  }

  final case class FillRow(user_id: Long, bucket_ts: java.sql.Timestamp,
      val_filled: Double, n_obs: Long)

  /** (bucket, maxValue, nObs) for a day not yet sealed by the
    * watermark. */
  final case class PendingBucket(bucket: Long, maxV: Double, n: Long)

  final case class FillState(lastClosed: Long, lastVal: Double,
      pending: Seq[PendingBucket])

  private val fillBucketMs: Long = 86400000L

  /** Streaming twin of [[graft.pipeline.Temporal.resampleFill]] (the
    * ts1 gate entry): per-user daily downsample (max value + count)
    * with forward-filled gap days, emitted incrementally as the
    * watermark seals each day.
    *
    * Semantics match the batch spine exactly: gap rows exist only
    * BETWEEN a user's observations, so a gap day is emitted the
    * moment a later observed day seals — carrying the last sealed
    * value with n_obs = 0 — and a user's trailing silence emits
    * nothing (the batch spine ends at the last observation too).
    *
    * State per user is bounded: two scalars (last sealed day + its
    * carried value) plus the days still inside the watermark horizon
    * (horizon/86400 + 1 entries — with a 10-minute watermark, ≤ 2).
    * The scalars persist without a timeout so a user silent for a
    * month still fills the gap when they return; that is O(users)
    * memory, the same class as sessionize's state.
    */
  def gapFillStream(events: Dataset[Event]): Dataset[FillRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FillState, FillRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[FillState]) =>
          val st = state.getOption
            .getOrElse(FillState(Long.MinValue, 0.0, Nil))
          // fold new rows into their day buckets
          val merged = scala.collection.mutable.Map[Long, (Double, Long)]()
          st.pending.foreach(p => merged(p.bucket) = (p.maxV, p.n))
          rows.foreach { e =>
            val b = Math.floorDiv(e.ts.getTime, fillBucketMs)
            merged(b) = merged.get(b) match {
              case Some((m, n)) => (math.max(m, e.value), n + 1)
              case None => (e.value, 1L)
            }
          }
          // seal every bucket whose day has passed the watermark,
          // oldest first, emitting gap rows between sealed days
          val wm = state.getCurrentWatermarkMs()
          val (closing, open) = merged.toSeq.sortBy(_._1)
            .partition { case (b, _) => (b + 1) * fillBucketMs <= wm }
          var lastClosed = st.lastClosed
          var lastVal = st.lastVal
          val out = List.newBuilder[FillRow]
          closing.foreach { case (b, (m, n)) =>
            if (lastClosed != Long.MinValue) {
              var g = lastClosed + 1
              while (g < b) {
                out += FillRow(userId,
                  new java.sql.Timestamp(g * fillBucketMs), lastVal, 0L)
                g += 1
              }
            }
            out += FillRow(userId,
              new java.sql.Timestamp(b * fillBucketMs), m, n)
            lastClosed = b
            lastVal = m
          }
          val pend = open.map { case (b, (m, n)) => PendingBucket(b, m, n) }
          state.update(FillState(lastClosed, lastVal, pend))
          if (pend.nonEmpty)
            state.setTimeoutTimestamp((pend.map(_.bucket).min + 1) *
              fillBucketMs)
          out.result().iterator
      }
  }

  // ---------------- SCD2 version stream ----------------

  /** The streamed dimension payload: the SAME attribute tuple the
    * batch build packs into its struct, in the SAME field order —
    * `Ordering.by` over the tuple is lexicographic by field exactly
    * like Spark's struct comparison (for non-null attributes; the
    * typed feed's fields are non-null by construction), so the
    * stream's LWW winner is the batch's struct-max winner.
    */
  final case class Scd2Val(event_type: String, value: Double, props: String)

  object Scd2Val {
    // Double via TotalOrdering: NaN sorts greatest, matching Spark's
    // ordering for double struct fields
    implicit val ord: Ordering[Scd2Val] = {
      implicit val d: Ordering[Double] = Ordering.Double.TotalOrdering
      Ordering.by((v: Scd2Val) => (v.event_type, v.value, v.props))
    }
  }

  final case class Scd2Row(user_id: Long, event_type: String,
      value: Double, props: String,
      valid_from: java.sql.Timestamp, version: Int)

  final case class PendingChange(ts: Long, v: Scd2Val)

  final case class Scd2State(lastValue: Option[Scd2Val], version: Int,
      pending: List[PendingChange])

  /** Streaming twin of [[graft.pipeline.Temporal.scd2Build]] over the
    * 3-attribute (event_type, value, props) payload: emits one row
    * per SEALED dimension version — same-timestamp collisions
    * collapse to the tuple-greatest payload (the batch struct-max LWW
    * rule; [[Scd2Val.ord]] pins the equivalence), consecutive
    * re-assertions of an unchanged payload are compacted away,
    * versions number 1..n per key in event-time order. A version
    * seals when the watermark passes its timestamp (no earlier event
    * can arrive to reorder it); `valid_to` is deliberately NOT
    * emitted — append mode cannot retro-close an already-emitted row,
    * so interval materialization stays the batch build's job and the
    * stream's contract is the versioned change feed (StreamingSpec
    * proves sealed rows equal the batch twin's (key, attrs...,
    * valid_from, version) columns on a 3-attribute dimension).
    *
    * State per key is bounded: the last sealed payload + version
    * counter, plus only the changes still inside the watermark
    * horizon. The sealed scalars persist without expiry — a key
    * silent for months still compacts correctly on return — O(keys)
    * state, the gapFillStream class.
    */
  def scd2Stream(events: Dataset[Event]): Dataset[Scd2Row] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ord = Scd2Val.ord
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[Scd2State]) =>
          val st = state.getOption.getOrElse(Scd2State(None, 0, Nil))
          // fold new rows into per-ts LWW (tuple-max payload) buckets
          val merged = scala.collection.mutable.Map[Long, Scd2Val]()
          st.pending.foreach(p => merged(p.ts) = p.v)
          rows.foreach { e =>
            val t = e.ts.getTime
            val v = Scd2Val(e.event_type, e.value, e.props)
            merged(t) = merged.get(t) match {
              case Some(prev) if ord.gteq(prev, v) => prev
              case _ => v
            }
          }
          val wm = state.getCurrentWatermarkMs()
          // strict <: an event AT the watermark can still legally
          // arrive; only strictly-older timestamps are final
          val (closing, open) = merged.toSeq.sortBy(_._1)
            .partition { case (t, _) => t < wm }
          var last = st.lastValue
          var version = st.version
          val out = List.newBuilder[Scd2Row]
          closing.foreach { case (t, v) =>
            if (!last.contains(v)) { // payload change → new version
              version += 1
              out += Scd2Row(userId, v.event_type, v.value, v.props,
                new java.sql.Timestamp(t), version)
              last = Some(v)
            }
          }
          val pend = open.map { case (t, v) => PendingChange(t, v) }.toList
          state.update(Scd2State(last, version, pend))
          if (pend.nonEmpty)
            state.setTimeoutTimestamp(pend.map(_.ts).min + 1)
          out.result().iterator
      }
  }

  // ---------------- dedup ----------------

  /** Streaming event dedup by event_id with bounded state: duplicates
    * arriving within the watermark horizon are dropped, and per-key
    * state is evicted once the watermark passes (the
    * dropDuplicatesWithinWatermark contract) — O(keys-in-horizon)
    * state regardless of stream length. At-least-once upstreams
    * (replayed Kafka offsets, retried file loads) become exactly-once
    * per key downstream.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Batch twin of `dedupEvents`: one hash aggregation on event_id.
    * Duplicate deliveries are exact copies, so any-row-per-key equals
    * first-row-per-key.
    */
  def dedupEventsBatch(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  // ---------------- stream-static enrichment ----------------

  /** Enrich an event feed against a slowly-changing dimension table —
    * the standard streaming "profile join" (click feed × user table).
    * The dim side is broadcast: the stream never shuffles, every
    * micro-batch is enriched map-side, and Structured Streaming
    * supports exactly this shape natively (stream-static join, static
    * on the build side). A LEFT join keeps events whose key has no
    * profile yet — dropping them would silently lose feed rows on a
    * dim lag, the classic enrichment bug.
    *
    * At 100 TB feed scale the dim (users, items) is the small side by
    * orders of magnitude; if it outgrows broadcast, pre-bucket both
    * sides on the key (sources.Bucketed) and the same plan downgrades
    * to a zero-exchange sort-merge join — callers pass
    * `broadcastDim = false` for that regime.
    */
  def enrichEvents(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String,
      broadcastDim: Boolean = true): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    events.join(d, events(eventKey) === d(dimKey), "left")
      .drop(d(dimKey))
  }

  // ---------------- stream-stream interval join ----------------

  /** Click→view attribution pairs: every (click, view) of one user
    * where the view happened at or before the click and within
    * `windowMinutes` of it — the canonical stream-stream interval
    * join (enrichment/attribution). The same plan serves batch and
    * streams; on streams BOTH sides must carry watermarks, and the
    * interval condition is what lets Spark evict join state (each
    * side's buffered rows age out once the other side's watermark
    * passes the bound) — state stays O(watermark horizon), not
    * O(stream). Equi-key user_id keeps it a hash join shuffled on
    * user, never a cross product.
    */
  def attributionJoin(clicks: DataFrame, views: DataFrame,
      windowMinutes: Int = 60,
      withWatermark: Boolean = false,
      watermarkDelayMinutes: Option[Int] = None): DataFrame = {
    val l0 = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
    val r0 = views.select(col("event_id").as("view_id"),
      col("user_id").as("view_user_id"), col("ts").as("view_ts"))
    // The watermark bounds BOTH lateness tolerance and join state: it
    // defaults to the attribution window itself so that an event late
    // by less than the window is never dropped while it could still
    // pair (a fixed delay shorter than windowMinutes would silently
    // lose pairs relative to the batch twin). Callers trading
    // completeness for smaller state pass an explicit delay.
    val delay = s"${watermarkDelayMinutes.getOrElse(windowMinutes)} minutes"
    val interval = col("view_ts") <= col("click_ts") &&
      col("view_ts") >= col("click_ts") -
        expr(s"interval $windowMinutes minutes")
    val out =
      if (withWatermark || clicks.isStreaming || views.isStreaming) {
        // streaming shape: the RAW interval condition is what lets
        // Spark's stream-stream join evict state as watermarks
        // advance — keep it undisturbed
        val l = if (withWatermark) l0.withWatermark("click_ts", delay)
          else l0
        val r = if (withWatermark) r0.withWatermark("view_ts", delay)
          else r0
        l.join(r, col("user_id") === col("view_user_id") && interval)
      } else {
        // batch shape: the plain (user, range) join shuffles a hot
        // user's WHOLE history to one task and compares it all-pairs
        // — quadratic in the user's mass (a 30%-hot-user soak measured
        // 250x). Time-bin both sides by the window width and add the
        // bin to the join key: a view can only serve clicks in its
        // own or the next bin, so it is exploded into exactly those
        // two (band join, as Temporal.rangeJoin). Per-task work is
        // then bounded by per-window occupancy, not per-user totals,
        // and the residual interval filter keeps results exact. Each
        // pair meets at most once (a click has ONE bin; only the view
        // copy carrying that bin matches).
        val binUs = windowMinutes.toLong * 60L * 1000000L
        val l = l0.withColumn("__bin",
          floor(unix_micros(col("click_ts")) / binUs))
        val r = r0.withColumn("__bin", explode(array(
            floor(unix_micros(col("view_ts")) / binUs),
            floor(unix_micros(col("view_ts")) / binUs) + 1)))
        l.join(r,
          col("user_id") === col("view_user_id") &&
            l("__bin") === r("__bin") && interval)
      }
    out.select(col("click_id"), col("user_id"), col("click_ts"),
      col("view_id"), col("view_ts"))
  }

  /** File-based streaming source over an events parquet directory —
    * the production shape: readStream → transform → writeStream. The
    * schema comes from the first file's footer on the driver
    * ([[graft.Tables.footerSchema]]), so starting the stream runs no
    * schema-inference job.
    */
  def streamFromDir(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.Tables.footerSchema(spark, dir))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Sink a stream into a managed table: each micro-batch appends
    * through the catalog's swap-in write (exactly-once per batch under
    * the file source's checkpointed offsets; the batch union is
    * idempotent against replays only if the caller keys rows — the
    * same contract as any foreachBatch upsert).
    */
  def streamToManagedTable(df: DataFrame,
      catalog: graft.frontend.ManagedCatalog, table: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val existing = catalog.load(table)
        catalog.overwrite(table,
          existing.unionByName(Lineage.truncate(batch), true))
      }
      .start()

  // ---------------- CDC upsert (last-write-wins) ----------------

  /** Compact a change feed to its latest row per key — the CDC /
    * upsert primitive (Delta-Lake `MERGE` shape without a table
    * format): each key keeps the row with the highest `versionCol`,
    * ties broken deterministically by the remaining payload columns.
    *
    * One partial+final aggregation: the max is taken over a
    * `struct(version, payload...)` whose lexicographic ordering makes
    * version the primary criterion — NO window, NO row_number Expand.
    * (A struct-valued buffer is not hash-aggregable, so Spark plans
    * SortAggregate; the property that matters at 100 TB of change
    * rows survives: the map-side PARTIAL max collapses each
    * partition's duplicates before the single key exchange, where the
    * window-function phrasing would ship every version of every key
    * to one task per key. Pinned in SourcesSpec.)
    *
    * Output columns: keys, then `versionCol`, then the remaining
    * payload columns in input order.
    */
  def upsertLatest(changes: DataFrame, keyCols: Seq[String],
      versionCol: String): DataFrame = {
    require(keyCols.nonEmpty, "upsertLatest needs at least one key column")
    require(changes.columns.contains(versionCol) &&
      keyCols.forall(changes.columns.contains),
      s"changes must carry ${(keyCols :+ versionCol).mkString(", ")}; got " +
        changes.columns.mkString(", "))
    val payload = versionCol +:
      changes.columns.filterNot(c => keyCols.contains(c) || c == versionCol)
    val winner = max(struct(payload.map(col): _*)).as("__w")
    changes.groupBy(keyCols.map(col): _*)
      .agg(winner)
      .select(keyCols.map(col) ++
        payload.map(c => col(s"__w.`$c`").as(c)): _*)
  }

  /** Sink a keyed change stream into a managed table with
    * last-write-wins semantics: each micro-batch is merged into the
    * table by `upsertLatest` over (existing ∪ batch). Because the
    * compaction is deterministic and idempotent (max is), a replayed
    * micro-batch after a sink failure re-merges to the SAME table
    * state — exactly-once table contents under the source's
    * checkpointed offsets, the guarantee a raw append sink can't give.
    */
  def streamUpsertToManagedTable(df: DataFrame,
      catalog: graft.frontend.ManagedCatalog, table: String,
      keyCols: Seq[String], versionCol: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val existing = catalog.load(table)
        catalog.overwrite(table, upsertLatest(
          existing.unionByName(Lineage.truncate(batch), true),
          keyCols, versionCol))
      }
      .start()
}
