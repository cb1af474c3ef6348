package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event operators in
  * `graft.catalog.EventsCatalog` (SURVEY §2.12 — the reference has no
  * streaming; this is the north-star extension over the `events` fixture).
  *
  * Inputs are any streaming DataFrame with the events schema
  * (`event_id long, ts timestamp, user_id long, event_type string,
  * value double, props string`) — `spark.readStream.schema(...).parquet(dir)`
  * in production, `MemoryStream` in tests. All operators are incremental:
  * watermarks bound state, `mapGroupsWithState` sessions time out via the
  * event-time watermark, never wall-clock.
  */
object EventStreams {

  /** 100 TB streaming posture: the state store configuration long-running
    * production queries should run under. The default HDFS-backed provider
    * keeps EVERY key's state as JVM objects on-heap — for this module that
    * is O(open windows × groups) for the windowed aggregates, O(active
    * sessions) for `sessionize`, and O(events inside the lag window) for
    * the stream-stream join; at pipeline scale that is GBs per executor of
    * GC-visible heap and full-state checkpoint uploads. RocksDB keeps state
    * off-heap with incremental (changelog) checkpoints, bounding heap use
    * regardless of key cardinality. Apply at session build time
    * (`configs.foldLeft(builder)(...)`) — the provider cannot change
    * across a checkpointed restart.
    */
  val rocksDbStateStoreConfigs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // changelog checkpointing ships per-batch deltas instead of full
    // RocksDB snapshots — the upload cost scales with churn, not state size
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Streaming twin of e1: 1-hour tumbling window count/sum per event_type,
    * 2-hour watermark. Partial aggregation happens map-side per micro-batch;
    * state size is O(open windows × event types). */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(sessionId: Long, lastTs: Long, count: Long)
  final case class SessionAssignment(event_id: Long, user_id: Long,
      ts: Timestamp, session_id: Long)

  /** Streaming twin of e3: 30-minute-gap sessionization via
    * `flatMapGroupsWithState` — the stateful-operator shape the batch
    * catalog emulates with lag + running sum. State per user is one
    * (sessionId, lastTs) pair and is KEPT on event-time timeout: removing
    * it would restart session numbering at 1 when the user returns,
    * aliasing distinct sessions under one (user_id, session_id). State is
    * therefore O(distinct users) — the standard keyed-state bound — not
    * O(active users). */
  def sessionize(
      events: Dataset[Event],
      gapSeconds: Long = 1800,
      watermark: String = "2 hours"): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAssignment](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // keep the counter; push the timeout out so it doesn't re-fire
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 365L * 86400 * 1000)
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
            val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
              val t = e.ts.getTime / 1000
              st =
                if (st.lastTs == Long.MinValue || t - st.lastTs > gapSeconds)
                  SessionState(st.sessionId + 1, t, st.count + 1)
                else st.copy(lastTs = t, count = st.count + 1)
              SessionAssignment(e.event_id, userId, e.ts, st.sessionId)
            }
            state.update(st)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gapSeconds * 1000)
            out.iterator
          }
      }
  }

  /** Stream-static enrichment join: attach dimension attributes to every
    * event as it arrives — the standard "enrich the stream with the
    * customer table" shape. STATELESS: the static side is broadcast into
    * each micro-batch (no watermark, no join state to evict), and for a
    * file-backed dimension Spark re-plans the static side per batch, so a
    * refreshed dimension snapshot is picked up without restarting the
    * query. Left-outer: an event with no matching dimension row flows
    * through with a null segment rather than being dropped. Batch twin:
    * `e5_stream_static_enrich`. */
  def enrichWithCustomers(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
        org.apache.spark.sql.functions.broadcast(
          customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left_outer")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment").as("segment"))

  /** Watermarked stream-stream interval join: each click matched to the
    * same user's purchases within the preceding `maxLagSeconds` (the
    * streaming analog of the batch as-of/range lookup in
    * `x1_asof_join`/`x2_range_band_join`). The event-time range condition
    * is what lets Structured Streaming EVICT join state: purchase rows age
    * out once the click-side watermark passes `p_ts + maxLag`, so state is
    * O(events in the lag window), not O(stream history). Both sides may be
    * filters of one source stream — Spark plans them as two branches of the
    * same scan. */
  def clickPurchaseJoin(
      events: DataFrame,
      maxLagSeconds: Long = 3600,
      watermark: String = "2 hours"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"),
        col("value").as("purchase_value"))
      .withWatermark("p_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    clicks.join(purchases,
      col("user_id") === col("p_user_id")
        && col("p_ts") <= col("c_ts")
        && col("p_ts") >= col("c_ts") - expr(s"INTERVAL $maxLagSeconds SECONDS"))
      .select(col("event_id"), col("user_id"), col("c_ts"), col("p_ts"),
        col("purchase_value"))
  }

  /** Per-user lifetime running stats via Spark 4's `transformWithState` —
    * the successor API to `mapGroupsWithState` (SPARK-46815, "arbitrary
    * stateful processing v2") and the modern statement of the custom-state
    * operator family: typed composable state handles (value/list/map) with
    * per-state TTL, timers, and schema evolution, instead of one opaque
    * GroupState blob. Here: a `ValueState[UserStats]` accumulates each
    * user's event count / value total / last-seen micros across
    * micro-batches and emits the updated row per key per batch — the
    * online feature-store shape (w12's decayed score is the batch twin of
    * exactly this accumulator). State is one fixed-size row per user,
    * RocksDB-backed (transformWithState REQUIRES the RocksDB provider —
    * [[rocksDbStateStoreConfigs]]), so memory is off-heap and checkpoint
    * uploads are changelog-sized. */
  def userLifetimeStats(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val outEnc: Encoder[UserStatsRow] = Encoders.product[UserStatsRow]
    implicit val inEnc: Encoder[UserEventIn] = Encoders.product[UserEventIn]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    val typed: Dataset[UserEventIn] = events
      .select(col("user_id"), col("value"),
        // NTZ fixtures pass through the session-UTC timestamp cast; a long
        // can't be cast from NTZ directly
        col("ts").cast("timestamp").cast("long").as("ts_s"))
      .as[UserEventIn]
    typed.groupByKey(_.user_id)
      .transformWithState(new UserLifetimeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF()
  }
}

final case class UserEventIn(user_id: Long, value: Double, ts_s: Long)

/** Lifetime accumulator. `totalMicro` is the value sum in MICRO-UNITS
  * (round-half-even of value·1e6, the repo's bround posture) — an INTEGER,
  * deliberately: integer addition is associative/commutative, so the
  * lifetime total is independent of how the input multiset is partitioned
  * into micro-batches. That is load-bearing for kill-restart recovery: a
  * kill that lands between the file source's metadata-log append and the
  * offset WAL write makes the restarted query legitimately RE-PLAN the
  * in-flight batch (Spark merges the un-WAL'd source-log entries into one
  * batch — observed in `graft.Bench stream events`: 8 files in the replayed batch, 7 total
  * batches vs the reference's 8), and a double fold then differs in the
  * last ulps purely from summation order while exactly-once still holds.
  * With integer micro-units the recovered result is bit-exact under ANY
  * replay boundary. Bound: per-user lifetime micro-total < 2^63 → ~9e8
  * events/user at value ~1e4 — far past any per-user stream. */
final case class UserStats(n: Long, totalMicro: Long, lastSeenS: Long)
final case class UserStatsRow(user_id: Long, n_events: Long, total_value: Double,
    last_seen_s: Long)

/** The stateful core of [[EventStreams.userLifetimeStats]]: one
  * `ValueState` handle per user holding the running accumulator. TTL is
  * `NONE` (lifetime stats; with `TimeMode.ProcessingTime` the same handle
  * takes a `TTLConfig(Duration)` and idle users age out — the state-eviction
  * knob `mapGroupsWithState` never had per-state). */
class UserLifetimeProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEventIn, UserStatsRow] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var state: ValueState[UserStats] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserStats](
      "userStats", Encoders.product[UserStats], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[UserEventIn],
      timerValues: TimerValues): Iterator[UserStatsRow] = {
    var acc = Option(state.get()).getOrElse(UserStats(0L, 0L, Long.MinValue))
    rows.foreach { r =>
      acc = UserStats(acc.n + 1,
        acc.totalMicro + math.rint(r.value * 1e6).toLong,
        math.max(acc.lastSeenS, r.ts_s))
    }
    state.update(acc)
    Iterator.single(UserStatsRow(key, acc.n, acc.totalMicro / 1e6, acc.lastSeenS))
  }
}
