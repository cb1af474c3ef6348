package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables

/** Event-stream operators in their batch form over the `events` table:
  * tumbling-window aggregation, JSON property extraction, gap-based
  * sessionization. The Structured Streaming twins live in
  * `graft.streaming.EventStreams` (same transforms over `readStream`);
  * these batch versions are the oracle-checkable surface.
  */
object EventsCatalog {
  private val D = "decimal(18,2)"

  val all: Seq[QueryDef] = Seq(

    // ---- E1: tumbling-window aggregation ----------------------------------
    QueryDef(
      "e1_tumbling_window",
      "Streaming analog (SURVEY §2.12): 1-hour tumbling window count/sum per event_type; watermarked twin in graft.streaming",
      Some("""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
      """)) { (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy(
          date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(D)).cast("double").as("total_value"))
    },

    // ---- E2: JSON property extraction -------------------------------------
    QueryDef(
      "e2_json_extract",
      "SURVEY §2.9 JSONB read-back analog: extract typed field from a JSON string column (model_registry.metrics JSONB)",
      Some("""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
               event_type
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
      """)) { (spark, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("int")
      Tables.events(spark, dir)
        .select(col("event_id"), k.as("k"), col("event_type"))
        .filter(col("k") >= 50)
    },

    // ---- E4: batch twin of the stream-stream interval join ----------------
    QueryDef(
      "e4_interval_join",
      "Batch twin of streaming clickPurchaseJoin (EventStreams): each click matched to same-user purchases within the preceding day — the event-time range condition that lets the streaming form evict join state",
      Some("""
        SELECT c.event_id, c.user_id, c.ts AS c_ts, p.ts AS p_ts, p.value AS purchase_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts <= c.ts
         AND p.ts >= c.ts - INTERVAL 24 HOURS
      """)) { (spark, dir) =>
      val events = Tables.events(spark, dir)
      val clicks = events.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts").as("c_ts"))
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"),
          col("value").as("purchase_value"))
      clicks.join(purchases,
          col("user_id") === col("p_user_id")
            && col("p_ts") <= col("c_ts")
            && col("p_ts") >= col("c_ts") - expr("INTERVAL 24 HOURS"))
        .select(col("event_id"), col("user_id"), col("c_ts"), col("p_ts"),
          col("purchase_value"))
    },

    // ---- E3: gap-based sessionization --------------------------------------
    QueryDef(
      "e3_sessionize",
      "Streaming-state analog (mapGroupsWithState twin): 30-min-gap sessions via lag + running sum of session starts",
      Some("""
        SELECT event_id, user_id, ts, session_id
        FROM (
          SELECT event_id, user_id, ts,
                 -- BIGINT cast: DuckDB SUM(int) yields HUGEINT, which lands
                 -- in pandas as float64 ('1.0' vs Spark's long '1')
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
            FROM (
              SELECT event_id, user_id, ts,
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events)))
      """)) { (spark, dir) =>
      // One shuffle on user_id; both windows share the same partitioning +
      // ordering so Catalyst plans a single exchange + sort.
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull
            || col("ts") - col("prev_ts") > expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(running))
        .select(col("event_id"), col("user_id"), col("ts"), col("session_id"))
    },

    // ---- E6: sliding-window aggregation ------------------------------------
    // Spark's window(ts, '1 hour', '15 minutes') is epoch-aligned, so each
    // event belongs to exactly the 4 windows whose starts are
    // floor15(ts) − k·15min, k = 0..3. The oracle reproduces those starts
    // tz-independently: epoch_us of the NTZ timestamp, integer-floored to
    // the slide, back through make_timestamp (micros, tz-free — the
    // round-2 lesson: to_timestamp would yield TIMESTAMPTZ).
    QueryDef(
      "e6_sliding_window",
      "Sliding-window aggregation (Spark's window(ts, '1 hour', '15 minutes')): 1-hour windows sliding every 15 min — each event in 4 overlapping windows; batch form of the watermarked sliding aggregate",
      Some("""
        SELECT make_timestamp(epoch_us(ts) // 900000000 * 900000000
                              - k * 900000000) AS window_start,
               event_type,
               COUNT(*) AS n_events
        FROM events, unnest(range(0, 4)) AS t(k)
        GROUP BY 1, 2
      """)) { (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"))
    },

    // ---- E5: stream-static enrichment join ---------------------------------
    QueryDef(
      "e5_stream_static_enrich",
      "Streaming analog (EventStreams.enrichWithCustomers): enrich every event with the customer dimension via a broadcast stream-static left join — stateless, no watermark, dimension refresh picked up per micro-batch",
      Some("""
        SELECT e.event_id, e.user_id, e.event_type,
               c.c_mktsegment AS segment
        FROM events e
        LEFT JOIN customer c ON e.user_id = c.c_custkey
      """)) { (spark, dir) =>
      graft.streaming.EventStreams.enrichWithCustomers(
        Tables.events(spark, dir), Tables.customer(spark, dir))
    },

    // ---- E7: ordered funnel -------------------------------------------------
    // The product-analytics staple: users who did view THEN click THEN
    // purchase, each stage strictly after the previous one — an ORDERED
    // sequence, not three independent existence checks (a user who clicked
    // before ever viewing does not convert). Each stage is a filtered MIN
    // aggregate joined to the previous stage's first-passage time; every
    // aggregate and join keys on user_id, so the whole funnel rides ONE
    // key's partitioning — at 100 TB the event scan dominates and the
    // per-stage state is one timestamp per surviving user.
    QueryDef(
      "e7_funnel",
      "Ordered view→click→purchase funnel: per-stage first-passage times (each strictly after the prior stage), per-stage surviving-user counts",
      Some("""
        WITH v AS (SELECT user_id, MIN(ts) AS t_view
                   FROM events WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, MIN(e.ts) AS t_click
              FROM events e JOIN v ON v.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
        p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
              FROM events e JOIN c ON c.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
        SELECT '1_view' AS stage, (SELECT COUNT(*) FROM v) AS users
        UNION ALL
        SELECT '2_click' AS stage, (SELECT COUNT(*) FROM c) AS users
        UNION ALL
        SELECT '3_purchase' AS stage, (SELECT COUNT(*) FROM p) AS users
      """)) { (spark, dir) =>
      val e = Tables.events(spark, dir)
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      def stage(df: org.apache.spark.sql.DataFrame, name: String) =
        df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
      stage(v, "1_view")
        .unionByName(stage(c, "2_click"))
        .unionByName(stage(p, "3_purchase"))
    },

    // ---- E8: retention cohorts ---------------------------------------------
    // The other product-analytics staple: group users by first-seen day
    // (their cohort), then count how many are active again N days later —
    // the retention matrix behind every growth dashboard. Two aggregates
    // and one join, all keyed on user_id, then a (cohort, offset) count
    // whose cardinality is days × window — tiny whatever the event volume.
    // DISTINCT before the count is per (user, cohort, offset), bounded by
    // users × window, and partial-aggregates map-side.
    QueryDef(
      "e8_retention_cohorts",
      "Daily retention cohorts: users bucketed by first-seen day, active-user counts per (cohort_day, day_offset ≤ 7) — the growth-dashboard matrix as two keyed aggregates",
      Some("""
        WITH first_seen AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
          FROM events GROUP BY 1),
        activity AS (
          SELECT DISTINCT e.user_id, f.cohort_day,
                 CAST(e.ts AS DATE) - f.cohort_day AS day_offset
          FROM events e JOIN first_seen f ON e.user_id = f.user_id)
        SELECT cohort_day, day_offset, COUNT(*) AS active_users
        FROM activity
        WHERE day_offset <= 7
        GROUP BY 1, 2
      """)) { (spark, dir) =>
      val e = Tables.events(spark, dir)
      val firstSeen = e.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort_day"))
      e.join(firstSeen, Seq("user_id"))
        .select(col("user_id"), col("cohort_day"),
          datediff(to_date(col("ts")), col("cohort_day")).as("day_offset"))
        .distinct()
        .filter(col("day_offset") <= 7)
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("active_users"))
    },

    // ---- E9: stream dedup (dropDuplicatesWithinWatermark twin) -------------
    // The batch twin of a streaming dedup: keep the FIRST
    // arrival per dedup key, drop later repeats. The streaming form
    // (`dropDuplicatesWithinWatermark`) keeps whichever row arrives first
    // and evicts key state past the watermark; the deterministic batch
    // statement of the same contract is "minimum (ts, event_id) per key
    // wins" — one window pass whose rn=1 filter pushes map-side as
    // WindowGroupLimit. Key = (user_id, event_type, day): the fixture's
    // event_ids are unique, so the composite key is what makes the dedup
    // REAL (10k events → ~8k survivors), the shape of at-least-once
    // delivery collapsing retried sends of the same logical action.
    QueryDef(
      "e9_stream_dedup",
      "Stream-dedup twin (dropDuplicatesWithinWatermark): first arrival per (user_id, event_type, day) wins under the deterministic (ts, event_id) order — one window pass, rn=1 pushed map-side",
      Some("""
        WITH keyed AS (
          SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS day, ts, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
                                    ORDER BY ts, event_id) AS rn
          FROM events)
        SELECT event_id, user_id, event_type, day, ts, value
        FROM keyed WHERE rn = 1
      """)) { (spark, dir) =>
      val first = Window.partitionBy(
          col("user_id"), col("event_type"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          to_date(col("ts")).as("day"), col("ts"), col("value"),
          row_number().over(first).as("rn"))
        .filter(col("rn") === 1)
        .drop("rn")
    },

    // ---- E10: event-transition matrix --------------------------------------
    // First-order Markov behavior model: how often does event type A lead
    // to event type B within a user's stream, and with what conditional
    // probability. Two window shapes the catalog hadn't combined: lead()
    // sequencing per user (one partitioning, deterministic (ts, event_id)
    // order), then percent-of-total over an UNORDERED partition frame
    // (the share-of-group window — every row sees its group's full sum,
    // no ORDER BY). The matrix is |types|² rows whatever the event volume;
    // probabilities are exact-int divisions, so the doubles can't drift.
    QueryDef(
      "e10_transition_matrix",
      "First-order event-transition matrix: per-user lead() sequencing, (from, to) counts, conditional probability via a share-of-group window — 25 rows out at any event volume, exact-integer division",
      Some("""
        WITH seq AS (
          SELECT event_type,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS next_type
          FROM events)
        SELECT event_type AS from_type, next_type AS to_type,
               COUNT(*) AS n,
               CAST(COUNT(*) AS DOUBLE)
                 / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS BIGINT)
                 AS prob
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
      """)) { (spark, dir) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val share = Window.partitionBy(col("from_type"))
      Tables.events(spark, dir)
        .select(col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(byUser).as("to_type"))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / sum(col("n")).over(share)).as("prob"))
    },

    // ---- E11: batch twin of the LEFT-OUTER stream-stream interval join -----
    // e4's inner join answers "which purchases preceded this click"; the
    // left-outer form answers the attribution question warehouses actually
    // ask — "which clicks CONVERTED, and which did not" — unmatched clicks
    // survive with null purchase columns. In a streaming left-outer join
    // the null row can only be emitted once the click-side watermark
    // proves no matching purchase can still arrive — the
    // outer-join-needs-watermark rule — making this the canonical "late
    // data vs completeness" operator. Batch
    // shape: the identical range condition, one user-keyed exchange; the
    // null fraction is the unconverted-click rate at any scale.
    QueryDef(
      "e11_interval_left_outer",
      "Left-outer stream-stream interval join, batch twin: every click kept, same-user purchases within the preceding day attached, unconverted clicks emit null purchase columns (the watermark-gated null emission of the streaming form)",
      Some("""
        SELECT c.event_id, c.user_id, c.ts AS c_ts, p.ts AS p_ts,
               p.value AS purchase_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts <= c.ts
         AND p.ts >= c.ts - INTERVAL 24 HOURS
      """)) { (spark, dir) =>
      val events = Tables.events(spark, dir)
      val clicks = events.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts").as("c_ts"))
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"),
          col("value").as("purchase_value"))
      clicks.join(purchases,
          col("user_id") === col("p_user_id")
            && col("p_ts") <= col("c_ts")
            && col("p_ts") >= col("c_ts") - expr("INTERVAL 24 HOURS"),
          "left_outer")
        .select(col("event_id"), col("user_id"), col("c_ts"), col("p_ts"),
          col("purchase_value"))
    },

    // ---- E12: native session_window ----------------------------------------
    // e3 states 30-min-gap sessions portably (lag + running sum of session
    // starts — two window passes); this is the ENGINE-NATIVE statement:
    // Spark's `session_window(ts, gap)` computes dynamic-width sessions in
    // ONE aggregate (MergingSessionsExec — sessions merge as rows arrive,
    // no windowed prepass), and it is the exact operator the streaming
    // sessionizer uses with a watermark. The oracle IS the portable
    // islands formulation, so the hash match proves the native operator's
    // semantics: a session spans [first event, last event + gap), two
    // events share a session iff chained by gaps < 30 min. One shuffle on
    // user_id either way — but the native form aggregates in a single
    // pass, which at 100 TB replaces two full window sorts.
    QueryDef(
      "e12_session_window_native",
      "Native session_window sessions (one-pass MergingSessions aggregate) hash-proven equal to the portable lag/cumsum islands form: per (user, session) start, end = last event + 30 min gap, event count",
      Some("""
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        <= INTERVAL 30 MINUTES THEN 0 ELSE 1 END AS new_session
          FROM events),
        islands AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked)
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTES AS session_end,
               COUNT(*) AS n_events
        FROM islands
        GROUP BY user_id, sid
      """)) { (spark, dir) =>
      Tables.events(spark, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
    })
}
