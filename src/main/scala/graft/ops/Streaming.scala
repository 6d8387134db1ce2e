package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Tables => T}
import graft.core.Numeric._

/** Event-time streaming semantics — SURVEY.md §2.2 "Streaming".
  *
  * The reference is a single-threaded REPL (`/root/reference/db.cpp:549-598`)
  * with no notion of time; this module declares the Structured-Streaming
  * surface a 100 TB event pipeline needs. Each transform is written against
  * a plain DataFrame so the SAME definition runs in batch mode (for the
  * DuckDB oracle) and in streaming mode (`spark.readStream` /
  * `MemoryStream` — exercised in StreamingSpec with Trigger.AvailableNow).
  * Watermark handling is applied only on the streaming path: watermarks are
  * a state-eviction bound, not a semantic change, so batch == stream on
  * in-order data.
  */
object Streaming {
  type Q = (SparkSession, String) => DataFrame

  // -------- shared transform definitions (batch and streaming identical)

  /** 1-hour tumbling windows per event_type. Epoch-aligned, so the batch
    * oracle is a date_trunc('hour') GROUP BY. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** 1-hour windows sliding every 15 minutes — each event lands in 4
    * overlapping windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Per-user session windows with a 10-minute inactivity gap. Session
    * end is last-event + gap (Spark session_window semantics). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Event-time interval join: each purchase matched to the same user's
    * view events in the 2 hours leading up to it (attribution lookback).
    * The join is an EQUI-join on user_id with the time range as a
    * post-condition — it hash-shuffles both sides on the user key, never a
    * cartesian; at 100 TB the range bound is also what lets the streaming
    * engine evict state (see [[intervalJoinStream]]). */
  def intervalJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val v = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"))
    p.join(v, col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 2 HOUR") &&
        col("view_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("user_id"), col("view_id"),
        col("purchase_ts"), col("view_ts"))
  }

  // ------------------------------------------------ declared batch queries

  val streamTumbling: Q = (s, d) =>
    tumblingCounts(T.events(s, d)).orderBy(col("ws"), col("event_type"))

  val streamSession: Q = (s, d) =>
    sessionCounts(T.events(s, d)).orderBy(col("user_id"), col("session_start"))

  /** Duplicate suppression keyed on (user_id, event_type), keeping the
    * earliest event. Batch mode uses a deterministic row_number (batch
    * dropDuplicates keeps an arbitrary first-encountered row — declared
    * results must not depend on partition order); the streaming path in
    * [[dedupStream]] uses watermark + dropDuplicates, whose kept row on
    * in-order input is the same earliest event. */
  val streamDedup: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    T.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"), col("ts").as("first_ts"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Per-user running enrichment: each event annotated with its running
    * event count and running value sum for that user (ordered by ts,
    * event_id). Batch mode = window frame; streaming mode =
    * [[statefulStream]] (flatMapGroupsWithState), asserted equal in
    * StreamingSpec. The running sum is a decimal fold in window order —
    * deterministic on both engines. */
  val streamStateful: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    T.events(s, d)
      .withColumn("running_n", count(lit(1)).over(w))
      .withColumn("running_value",
        round(sum(col("value").cast("decimal(20,8)")).over(w), 2)
          .cast("double"))
      .select(col("user_id"), col("event_id"), col("running_n"),
        col("running_value"))
      .orderBy(col("user_id"), col("running_n"))
  }

  val streamJoin: Q = (s, d) =>
    intervalJoin(T.events(s, d)).orderBy(col("purchase_id"), col("view_id"))

  /** Versioned change-log source for [[streamChangelog]]: each order key
    * emits seq 0..(key % 3) price revisions — the Debezium-style keyed
    * update stream. */
  def changeLog(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        explode(expr("sequence(0, CAST(o_orderkey % 3 AS INT))")).as("seq"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("seq").cast("long").as("seq"),
        (col("o_totalprice") + col("seq")).as("price"))

  /** Latest row per key from a change log — the shared batch/stream
    * definition (batch: seq-desc row_number; stream: [[changelogStream]]
    * folds the same max-seq state). */
  def changelogLatestRows(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("seq").desc)
    changes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** STREAMING CHANGELOG materialization — `merge_upsert`'s maintenance
    * loop made continuous (the Kafka-connect → table path): a keyed
    * update stream folds to latest-seq-wins state per key
    * ([[changelogStream]] is the running flatMapGroupsWithState twin,
    * asserted equal to this batch definition in StreamingSpec); the
    * declared observable audits the materialized table per status. State
    * is one row per key sharded on the key — the same shuffle a batch
    * MERGE pays, amortized over the stream. */
  val streamChangelog: Q = (s, d) =>
    changelogLatestRows(changeLog(s, d))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_keys"), dsum(col("price")).as("sum_latest"))
      .orderBy(col("o_orderstatus"))

  /** Streaming execution of [[streamChangelog]]'s fold: per-key max-seq
    * state, each batch emits the key's current winner (update mode).
    * Production note: state eviction would hook `EventTimeTimeout` after
    * a watermark exactly as documented at [[topkStream]]. */
  def changelogStream(changes: org.apache.spark.sql.Dataset[
      (Long, String, Long, Double)]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import changes.sparkSession.implicits._
    changes.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String, Double),
        (Long, String, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, evs, state: GroupState[(Long, String, Double)]) =>
          var cur = state.getOption.getOrElse((-1L, "", 0.0))
          evs.foreach { e => if (e._3 > cur._1) cur = (e._3, e._2, e._4) }
          state.update(cur)
          Iterator((key, cur._2, cur._1, cur._3))
      }
      .toDF("o_orderkey", "o_orderstatus", "seq", "price")
  }

  /** LATE-DATA audit — the watermark accounting every production stream
    * needs (what share of events would a 2-hour watermark DROP, and how
    * late do they arrive?): arrival order is event_id, the watermark is
    * the running max event time per type stream, and an event is late
    * when its time trails the watermark by more than the 2-hour
    * allowance. The harness events arrive perfectly ordered, so lateness
    * is PLANTED deterministically (every 17th event's time shifts back
    * 1–7 hours — a buffered device flushing), the same planted-variant
    * discipline as the dedup corpus. Lateness sums in exact MICROSECONDS
    * (second-truncation differs between engines on µs timestamps).
    *
    * 100 TB shape: one shuffle on the stream key (event_type) for the
    * running-max window — the same partitioning the streaming engine's
    * watermark tracker uses; the audit aggregate rides the window pass.
    * In streaming mode this is exactly what `withWatermark("ts", "2
    * hours")` + the dropped-rows metric report; batch mode makes the
    * drop set a queryable fact. */
  val streamLateAudit: Q = (s, d) => {
    val shifted = T.events(s, d)
      .withColumn("ts2", when(col("event_id") % 17 === 0,
        col("ts") - expr("(event_id % 7 + 1) * INTERVAL '1' HOUR"))
        .otherwise(col("ts")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val audited = shifted
      .withColumn("wm", max(col("ts2")).over(w))
      .withColumn("late",
        col("ts2") < col("wm") - expr("INTERVAL '2' HOUR"))
      .withColumn("lag_us",
        when(col("late"), unix_micros(col("wm")) - unix_micros(col("ts2")))
          .otherwise(lit(0L)))
    audited.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        round(sum(when(col("late"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double"), 6).as("late_share"),
        round(sum(col("lag_us")).cast("double")
          / greatest(sum(when(col("late"), 1L).otherwise(0L)), lit(1L))
            .cast("double") / 60000000.0, 6).as("avg_late_minutes"))
      .orderBy(col("event_type"))
  }

  /** STREAMING TOP-K — per tumbling hour, the 3 busiest event types (count
    * desc, type asc tie-break). Batch mode ranks [[tumblingCounts]] with a
    * per-window row_number — bounded state per window (WindowGroupLimit
    * keeps a 3-row heap per map task). Streaming mode is [[topkStream]]:
    * a per-window count map folded via mapGroupsWithState, top-3 emitted
    * per update — the leaderboard every live dashboard keeps, with state
    * sharded on the window key exactly like the batch shuffle. */
  val streamTopk: Q = (s, d) => {
    val w = Window.partitionBy(col("ws"))
      .orderBy(col("n_events").desc, col("event_type"))
    tumblingCounts(T.events(s, d))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("ws"), col("rnk").cast("long").as("rnk"),
        col("event_type"), col("n_events"))
      .orderBy(col("ws"), col("rnk"))
  }

  // --------------------------------------------------- streaming builders

  /** Streaming flavor of [[tumblingCounts]] with a watermark for state
    * eviction — append-mode-ready at scale. */
  def tumblingStream(events: DataFrame): DataFrame =
    tumblingCounts(events.withWatermark("ts", "1 hour"))

  def sessionStream(events: DataFrame): DataFrame =
    sessionCounts(events.withWatermark("ts", "1 hour"))

  /** Streaming dedup: watermark bounds the key-set state; duplicates
    * arriving later than the watermark are dropped by construction. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")

  /** Stream-stream flavor of [[intervalJoin]]: both sides watermarked; the
    * interval condition bounds how long each view row must be retained
    * (watermark + 2 h lookback), so the join state is evicted instead of
    * growing with the stream — the only way a stream-stream join survives
    * at scale. Semantics on in-order data equal the batch join
    * (StreamingSpec asserts row-for-row equality). */
  def intervalJoinStream(purchases: DataFrame, views: DataFrame): DataFrame = {
    val p = purchases.withWatermark("purchase_ts", "1 hour")
    val v = views.withWatermark("view_ts", "1 hour")
    p.join(v, col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 2 HOUR") &&
        col("view_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("user_id"), col("view_id"),
        col("purchase_ts"), col("view_ts"))
  }

  /** Custom per-key state via flatMapGroupsWithState — the streaming
    * execution of [[streamStateful]]: state = (running count, running
    * decimal sum) per user; each batch's events fold in (ts, event_id)
    * order and emit one enriched row per event. At scale the state store
    * shards by the grouping key — same hash shuffle as the batch window. */
  def statefulStream(events: org.apache.spark.sql.Dataset[
      (Long, Long, java.sql.Timestamp, Double)]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, java.math.BigDecimal),
        (Long, Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[(Long, java.math.BigDecimal)]) =>
          var (n, acc) = state.getOption.getOrElse(
            (0L, java.math.BigDecimal.ZERO))
          val out = evs.toSeq.sortBy(e => (e._3.getTime, e._2)).map { e =>
            n += 1
            // mirror Spark's double→DECIMAL(20,8) cast: exact binary value
            // rounded HALF_UP to scale 8, then an exact decimal sum
            acc = acc.add(new java.math.BigDecimal(e._4)
              .setScale(8, java.math.RoundingMode.HALF_UP))
            (uid, e._2, n,
              acc.setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
          }
          state.update((n, acc))
          out.iterator
      }
      .toDF("user_id", "event_id", "running_n", "running_value")
  }

  /** Streaming execution of [[streamTopk]]: state = (event_type → count)
    * map per tumbling-hour key, folded with mapGroupsWithState; each
    * update emits the window's current top-3 as (ws, rnk, event_type,
    * n_events) rows. Update-mode semantics — the LAST emission per window
    * is the leaderboard (StreamingSpec takes the final snapshot and
    * asserts equality with the batch ranking). State is one small map per
    * open window, sharded on the window key — the same hash shuffle the
    * batch plan uses. PRODUCTION NOTE (ADVICE r7): `NoTimeout` here means
    * per-window state is never evicted — a deployment over an unbounded
    * stream must either switch to `EventTimeTimeout` with
    * `state.setTimeoutTimestamp(windowEnd + allowedLateness)` after a
    * `withWatermark` on the source, or close windows on
    * `state.hasTimedOut`; the fold logic is unchanged by either. The
    * harness keeps NoTimeout because MemoryStream carries no watermark. */
  def topkStream(events: org.apache.spark.sql.Dataset[
      (java.sql.Timestamp, String)]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val hourMs = 3600L * 1000L
    events.groupByKey(e => e._1.getTime / hourMs * hourMs)
      .flatMapGroupsWithState[Map[String, Long],
        (java.sql.Timestamp, Long, String, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (wsMs, evs, state: GroupState[Map[String, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[String, Long])
          evs.foreach { e => m = m.updated(e._2, m.getOrElse(e._2, 0L) + 1L) }
          state.update(m)
          val top = m.toSeq.sortBy { case (t, n) => (-n, t) }.take(3)
          top.zipWithIndex.iterator.map { case ((t, n), i) =>
            (new java.sql.Timestamp(wsMs), (i + 1).toLong, t, n)
          }
      }
      .toDF("ws", "rnk", "event_type", "n_events")
  }

  val oracles: Map[String, String] = Map(
    // changelog materialization: latest seq per key is key % 3 by
    // construction, so the audit derives declaratively from orders
    "stream_changelog" ->
      """SELECT o_orderstatus, COUNT(*) AS n_keys,
        |  CAST(round(SUM(CAST(o_totalprice + o_orderkey % 3 AS DECIMAL(20,8))),
        |    2) AS DOUBLE) AS sum_latest
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // hourly leaderboard: rank the tumbling counts, keep 3 per window
    "stream_topk" ->
      """WITH c AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT ws, event_type, n_events,
        |    ROW_NUMBER() OVER (PARTITION BY ws
        |      ORDER BY n_events DESC, event_type) AS rnk
        |  FROM c)
        |SELECT ws, CAST(rnk AS BIGINT) AS rnk, event_type, n_events
        |FROM r WHERE rnk <= 3 ORDER BY ws, rnk""".stripMargin,
    // watermark audit: planted 1-7h backshifts on every 17th event; the
    // running max per type stream is the watermark; lateness is summed
    // in exact microseconds, divided once in double, then rounded
    "stream_late_audit" ->
      """WITH shifted AS (
        |  SELECT event_type, event_id,
        |    CASE WHEN event_id % 17 = 0
        |      THEN ts - (event_id % 7 + 1) * INTERVAL 1 HOUR
        |      ELSE ts END AS ts2
        |  FROM events),
        |aud AS (
        |  SELECT event_type, ts2,
        |    MAX(ts2) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS UNBOUNDED PRECEDING) AS wm
        |  FROM shifted),
        |flagged AS (
        |  SELECT event_type,
        |    CASE WHEN ts2 < wm - INTERVAL 2 HOUR THEN 1 ELSE 0 END AS late,
        |    CASE WHEN ts2 < wm - INTERVAL 2 HOUR
        |      THEN epoch_us(wm) - epoch_us(ts2) ELSE 0 END AS lag_us
        |  FROM aud)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(late) AS BIGINT) AS n_late,
        |  CAST(round(CAST(SUM(late) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS DOUBLE) AS late_share,
        |  CAST(round(CAST(SUM(lag_us) AS DOUBLE)
        |    / CAST(greatest(SUM(late), 1) AS DOUBLE) / 60000000.0, 6)
        |    AS DOUBLE) AS avg_late_minutes
        |FROM flagged GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_tumbling" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
         |  COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "stream_sliding" ->
      s"""SELECT ws, event_type, COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS sum_value
         |FROM (
         |  SELECT CAST(time_bucket(INTERVAL 15 MINUTE, ts)
         |           - k.k * INTERVAL 15 MINUTE AS TIMESTAMP) AS ws,
         |         event_type, value
         |  FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) k(k))
         |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,

    "stream_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 10 MINUTE AS session_end,
        |  user_id, COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "stream_stateful" ->
      """SELECT user_id, event_id, running_n, running_value
        |FROM (
        |  SELECT user_id, event_id,
        |    COUNT(*) OVER w AS running_n,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(20,8))) OVER w, 2) AS DOUBLE)
        |      AS running_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING))
        |ORDER BY user_id, running_n""".stripMargin,

    // dual-dialect ANSI: runs unchanged under DuckDB (oracle) and
    // spark.sql (SqlCatalog front door)
    "stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id,
        |  p.ts AS purchase_ts, v.ts AS view_ts
        |FROM events p JOIN events v
        |  ON p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND p.user_id = v.user_id
        |  AND v.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
        |ORDER BY purchase_id, view_id""".stripMargin,

    "stream_dedup_watermark" ->
      """SELECT user_id, event_type, event_id AS first_event_id,
        |  ts AS first_ts
        |FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
  )
}
