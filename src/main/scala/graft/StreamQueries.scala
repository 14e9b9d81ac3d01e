package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.EventStreams

/** Driver-gate entries for the event-stream operators, run in batch
  * mode (the same transforms serve readStream — StreamingSpec proves
  * the incremental path) and oracle-checked in DuckDB.
  */
object StreamQueries {

  type Q = (SparkSession, String) => DataFrame

  // Tumbling-window aggregate per event type.
  val ev1WindowedAgg: Q = (s, dir) =>
    EventStreams.windowedTypeAgg(Tables.load(s, dir, "events"))
      .orderBy("window_start", "event_type")
  val ev1Sql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // Sessionization (30-minute inactivity gap), batch twin of the
  // stateful streaming sessionizer.
  val ev2Sessions: Q = (s, dir) =>
    EventStreams.sessionizeBatch(Tables.load(s, dir, "events"))
      .orderBy("user_id", "session_start")
  val ev2Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |      THEN 1 ELSE 0 END AS is_start
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM marked)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM sess GROUP BY user_id, session_seq
      |ORDER BY user_id, session_start""".stripMargin

  // Event dedup (batch twin of the watermarked streaming dedup) over
  // a feed with replayed deliveries planted.
  val ev3Dedup: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val replayed = ev.filter(org.apache.spark.sql.functions.col("event_id") < 500)
    EventStreams.dedupEventsBatch(ev.unionByName(replayed))
      .orderBy("event_id")
  }
  val ev3Sql: String =
    """WITH feed AS (
      |  SELECT event_id, ts, user_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT event_id, ts, user_id, event_type, value FROM events
      |  WHERE event_id < 500)
      |SELECT DISTINCT event_id, ts, user_id, event_type, value
      |FROM feed ORDER BY event_id""".stripMargin

  // Stream-stream interval join (batch twin): all (click, view) pairs
  // of a user with the view inside the hour before the click.
  val ev4Attribution: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(s, dir, "events")
    EventStreams.attributionJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "view"))
      .orderBy("click_id", "view_id")
  }
  val ev4Sql: String =
    """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
      |       v.event_id AS view_id, v.ts AS view_ts
      |FROM events c JOIN events v
      |  ON v.user_id = c.user_id
      | AND c.event_type = 'click' AND v.event_type = 'view'
      | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 60 MINUTE
      |ORDER BY click_id, view_id""".stripMargin

  // As-of join: every click gets the user's latest view at-or-before
  // it (click-to-view attribution) — union+window formulation, one
  // shuffle on user_id.
  val aj1AsofJoin: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("ts").as("view_ts"))
    graft.pipeline.Temporal.asofJoin(clicks, views, "user_id", "ts",
      "view_ts", "last_view_ts")
      .orderBy("event_id")
  }
  val aj1Sql: String =
    """WITH u AS (
      |  SELECT user_id, ts, 1 AS is_left, event_id,
      |         CAST(NULL AS TIMESTAMP) AS pay
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts, 0, NULL, ts
      |  FROM events WHERE event_type = 'view'),
      |w AS (
      |  SELECT user_id, ts, is_left, event_id,
      |         last_value(pay IGNORE NULLS) OVER (
      |           PARTITION BY user_id ORDER BY ts, is_left, pay
      |           ROWS UNBOUNDED PRECEDING) AS last_view_ts
      |  FROM u)
      |SELECT event_id, user_id, ts, last_view_ts
      |FROM w WHERE is_left = 1 ORDER BY event_id""".stripMargin

  // SCD Type-2 dimension build from the event change log — upgraded
  // r12 to the MULTI-ATTRIBUTE form real dimensions need: per user,
  // the (event_type, value, props) payload history compacted into
  // versioned [valid_from, valid_to) rows. Consecutive re-assertions
  // of the same payload are compacted away (null-SAFE struct compare
  // — `IS DISTINCT FROM` both sides), same-ts changes collapse to the
  // struct-greatest payload (lexicographic LWW, total over the
  // tuple). The oracle replays the dedupe struct-max agg, the
  // change-detection lag and the interval lead; the `value` doubles
  // are raw fixture values (no arithmetic), so the hash gate covers
  // the whole build.
  val sc1Scd2: Q = (s, dir) =>
    graft.pipeline.Temporal.scd2Build(
      Tables.load(s, dir, "events"), "user_id", "ts",
      Seq("event_type", "value", "props"))
      .orderBy("user_id", "valid_from")

  val sc1Sql: String =
    """WITH latest AS (
      |  SELECT user_id, ts,
      |         max(struct_pack(event_type := event_type,
      |                         value := value, props := props)) AS v
      |  FROM events GROUP BY user_id, ts),
      |chg AS (
      |  SELECT user_id, ts, v,
      |         lag(v) OVER (PARTITION BY user_id ORDER BY ts) AS pv
      |  FROM latest),
      |keep AS (
      |  SELECT user_id, ts, v FROM chg WHERE v IS DISTINCT FROM pv)
      |SELECT user_id, v.event_type AS event_type, v.value AS value,
      |       v.props AS props, ts AS valid_from,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |         AS valid_to,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         AS is_current,
      |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts)
      |            AS INT) AS version
      |FROM keep ORDER BY user_id, valid_from""".stripMargin

  // Daily resample + forward fill per user: downsample the event
  // stream to one value per (user, day) — max(value) within the day —
  // generate each user's full day spine between their first and last
  // observation, and carry the last value across gap days (n_obs = 0
  // marks a filled gap). The bucket id is integer-µs division, exact
  // in both engines; fill values are raw fixture doubles (no
  // arithmetic), so the hash gate covers the whole pipeline.
  val ts1Gapfill: Q = (s, dir) =>
    graft.pipeline.Temporal.resampleFill(
      Tables.load(s, dir, "events"), "user_id", "ts", "value",
      bucketSeconds = 86400L)
      .orderBy("user_id", "bucket_ts")
  val ts1Sql: String =
    """WITH b AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS bucket,
      |         max(value) AS v, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |k AS (
      |  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
      |  FROM b GROUP BY 1),
      |spine AS (
      |  SELECT user_id, unnest(generate_series(lo, hi)) AS bucket FROM k),
      |j AS (
      |  SELECT s.user_id, s.bucket, b.v, coalesce(b.n, 0) AS n_obs
      |  FROM spine s LEFT JOIN b
      |    ON b.user_id = s.user_id AND b.bucket = s.bucket)
      |SELECT user_id, make_timestamp(bucket * 86400000000) AS bucket_ts,
      |       last_value(v IGNORE NULLS) OVER (
      |         PARTITION BY user_id ORDER BY bucket
      |         ROWS UNBOUNDED PRECEDING) AS val_filled,
      |       n_obs
      |FROM j ORDER BY user_id, bucket_ts""".stripMargin

  // Binned range join (no equi key): events assigned to value bands.
  val rj1RangeJoin: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val bands = Seq(
      (0.0, 1.5, "b0"), (1.5, 3.7, "b1"), (3.7, 8.0, "b2"),
      (8.0, 20.0, "b3"), (20.0, 100.0, "b4"), (100.0, 500.0, "b5"))
      .toDF("lo", "hi", "band")
    val pts = Tables.load(s, dir, "events").select("event_id", "value")
    graft.pipeline.Temporal.rangeJoinBinned(pts, "value", bands,
      "lo", "hi", binSize = 2.0)
      .select("event_id", "value", "band")
      .orderBy("event_id")
  }
  val rj1Sql: String =
    """WITH bands(lo, hi, band) AS (VALUES
      |  (0.0, 1.5, 'b0'), (1.5, 3.7, 'b1'), (3.7, 8.0, 'b2'),
      |  (8.0, 20.0, 'b3'), (20.0, 100.0, 'b4'), (100.0, 500.0, 'b5'))
      |SELECT event_id, value, band
      |FROM events JOIN bands ON value >= lo AND value < hi
      |ORDER BY event_id""".stripMargin

  // Cohort retention matrix: users cohorted by first active day,
  // counted per (cohort day, day offset) they return on.
  val rt1Retention: Q = (s, dir) =>
    graft.pipeline.Analytics.cohortRetention(Tables.load(s, dir, "events"))
      .orderBy("cohort_day", "day_offset")
  val rt1Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (
      |  SELECT user_id, day,
      |         min(day) OVER (PARTITION BY user_id) AS cohort_day
      |  FROM ud)
      |SELECT cohort_day,
      |  CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
      |  count(*) AS n_active_users
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // Strict-sequence funnel stages (view -> click -> purchase): the
  // per-user conversion timestamps, each the earliest event at-or-
  // after the previous step's conversion — hash-checked row-by-row.
  val fn1Funnel: Q = (s, dir) =>
    graft.pipeline.Analytics.funnelStages(Tables.load(s, dir, "events"),
      Seq("view", "click", "purchase"))
      .orderBy("user_id")
  val fn1Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT s1.user_id, min(s1.t1) AS t1, min(e.ts) AS t2
      |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
      |    AND e.event_type = 'click' AND e.ts >= s1.t1
      |  GROUP BY s1.user_id),
      |s3 AS (
      |  SELECT s2.user_id, min(t1) AS t1, min(t2) AS t2, min(e.ts) AS t3
      |  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
      |    AND e.event_type = 'purchase' AND e.ts >= s2.t2
      |  GROUP BY s2.user_id)
      |SELECT user_id, t1, t2, t3 FROM s3 ORDER BY user_id""".stripMargin

  // CDC last-write-wins upsert (batch twin of the streaming
  // foreachBatch merge sink, StreamingSpec): the events feed plus a
  // planted update wave (every event_id < 500 re-delivered an hour
  // later with doubled value) compacts to the latest row per key.
  // The Spark side is ONE struct-max hash aggregation — no window, no
  // row_number Expand (PlanSpec-pinned); the oracle phrases the same
  // semantics with the window form DuckDB is free to use.
  val ev5Upsert: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val updates = ev.filter(col("event_id") < 500).select(
      col("event_id"),
      (col("ts") + expr("interval 1 hour")).as("ts"),
      col("user_id"),
      lit("update").as("event_type"),
      (col("value") * 2).as("value"))
    EventStreams.upsertLatest(ev.unionByName(updates),
      Seq("event_id"), "ts")
      .orderBy("event_id")
  }
  val ev5Sql: String =
    """WITH feed AS (
      |  SELECT event_id, ts, user_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT event_id, ts + INTERVAL 1 HOUR, user_id, 'update',
      |         value * 2
      |  FROM events WHERE event_id < 500),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY event_id ORDER BY ts DESC) AS rn
      |  FROM feed)
      |SELECT event_id, ts, user_id, event_type, value
      |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin

  // Stream-static enrichment: the event feed left-joined to a
  // broadcast customer-profile dimension (user_id indexes into
  // c_custkey). The stream side never shuffles — each micro-batch is
  // enriched map-side against the broadcast dim; the LEFT join keeps
  // feed rows with no profile.
  val ev6Enrich: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    EventStreams.enrichEvents(ev, dim, "user_id", "c_custkey")
      .orderBy("event_id")
  }
  val ev6Sql: String =
    """SELECT event_id, user_id, event_type, value, c_name, c_mktsegment
      |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
      |ORDER BY event_id""".stripMargin

  // Sliding-window active users (rolling WAU): distinct user-days,
  // a bounded x7 window explode, then the two-level distinct-count
  // trick (groupBy twice, never countDistinct at the widest stage).
  val sw1SlidingActive: Q = (s, dir) =>
    graft.pipeline.Analytics.slidingActiveUsers(
      Tables.load(s, dir, "events"), windowDays = 7)
      .orderBy("window_start")
  val sw1Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |w AS (
      |  SELECT DISTINCT user_id, day - CAST(o AS INTEGER) AS window_start
      |  FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o))
      |SELECT window_start, count(*) AS n_active_users
      |FROM w GROUP BY window_start ORDER BY window_start""".stripMargin

  // One-pass multi-level rollup (type x day / type / grand total),
  // levels tagged by the standard grouping bitmask.
  val an1Rollup: Q = (s, dir) =>
    graft.pipeline.Analytics.dailyRollup(Tables.load(s, dir, "events"))
      .orderBy("gid", "event_type", "day")
  val an1Sql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT)
      |    AS value_cents,
      |  CAST(GROUPING(event_type, CAST(ts AS DATE)) AS BIGINT) AS gid
      |FROM events
      |GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
      |ORDER BY gid, event_type, day""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("an1_daily_rollup", an1Rollup, an1Sql),
    Entry("ev1_windowed_agg", ev1WindowedAgg, ev1Sql),
    Entry("ev5_cdc_upsert", ev5Upsert, ev5Sql),
    Entry("ev6_stream_enrich", ev6Enrich, ev6Sql),
    Entry("sw1_sliding_active_users", sw1SlidingActive, sw1Sql),
    Entry("ev2_sessionize", ev2Sessions, ev2Sql),
    Entry("ev3_dedup", ev3Dedup, ev3Sql),
    Entry("ev4_interval_join", ev4Attribution, ev4Sql),
    Entry("aj1_asof_join", aj1AsofJoin, aj1Sql),
    Entry("sc1_scd2_build", sc1Scd2, sc1Sql),
    Entry("ts1_gapfill", ts1Gapfill, ts1Sql),
    Entry("rj1_range_join", rj1RangeJoin, rj1Sql),
    Entry("rt1_cohort_retention", rt1Retention, rt1Sql),
    Entry("fn1_funnel_stages", fn1Funnel, fn1Sql),
  )
}
