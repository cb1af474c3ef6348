package graft.catalog

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.operators.AsOfJoin

/** Engine extensions past the reference's own surface: the operator
  * families a 100 TB pipeline needs that Spark lacks as builtins (as-of
  * join, banded range join) plus the multidimensional-aggregate and
  * moment-statistics surface (ROLLUP/CUBE, exact-accumulator stddev/corr).
  *
  * Oracle notes: DuckDB runs a native `ASOF LEFT JOIN` against our
  * union+window formulation — two entirely different algorithms agreeing
  * bit-for-bit. Moment statistics deliberately avoid both engines'
  * built-in stddev/corr (Welford vs power-sum internals differ in the
  * last ulp) and instead compute from exact DECIMAL power sums with the
  * IDENTICAL final double arithmetic on both sides.
  */
object ExtensionCatalog {
  private val D = "decimal(18,2)"

  /** Shared x1/x1b/x1c input shape: clicks + per-(user, ts)-unique purchase
    * frames (the rn=1 dedup makes every as-of match deterministic, so all
    * three directions are oracle-checkable bit-for-bit). */
  private def clicksAndPurchases(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val events = Tables.events(spark, dir)
    val purchaseRank = Window.partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    val purchases = events.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(purchaseRank))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    (clicks, purchases)
  }

  // g1's merge count — declared BEFORE `all` (which eagerly evaluates
  // pagerankOracle(PrIters)): the BpeMerges init-order trap; final-val
  // constant folding is the only reason declaring it after happened to work
  private final val PrIters = 5
  private final val HitsIters = 4
  // private[catalog]: d15 (SimilarityCatalog) composes the g3 cells with
  // the banded near-dup machinery — same constants, same unrolled oracle
  private[catalog] final val KmK = 4
  private[catalog] final val KmIters = 3
  private final val LpaIters = 3
  // k-core threshold sits just above the trade graph's p90 degree so the
  // sweep exercises BOTH regimes: at sf0.01 the peel cascades to full
  // dissolution (removal rounds 1-4 all populated), at sf0.1-replicated
  // scales a dense core survives round 1. Any k is hash-exact; this one
  // makes the round machinery observable.
  private final val KcK = 48
  private final val KcRounds = 4

  // k5's Count-Min geometry, shared verbatim between the aggregator's update
  // path, the DataFrame probe arithmetic, and the unrolled SQL oracle
  // (declared before `all` — same init-order rule as PrIters)
  private final val CmW = 8
  private val CmA = graft.functions.CountMinSketch.A
  private val CmB = graft.functions.CountMinSketch.B
  private val CmP = graft.functions.CountMinSketch.P

  // Centrality vectors are deterministic corpus ARTIFACTS (the learnedMerges
  // posture): train once per (session, dir), hand back the materialized
  // result — its files stay alive because the iteration loops release
  // only superseded rounds, never the returned vector. Keyed by
  // session too: a DataFrame is unusable from a different SparkSession.
  // Envelope: no eviction — entries are k-row score vectors pinned for the
  // session's lifetime, and a harness that builds a fresh session per run
  // simply never hits (it pays cold training each time, nothing breaks).
  private val graphScores =
    new Memo[(org.apache.spark.sql.SparkSession, String, String), org.apache.spark.sql.DataFrame]

  /** The shared SQL prologue (declared before `all` — same init-order rule) deriving the same graph as [[tradeGraphEdges]]. */
  private val TradeGraphSql: String = """
      WITH joined AS MATERIALIZED (
        SELECT l_suppkey, o_custkey + 1000000 AS cust_node, o_orderstatus
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS src, cust_node AS dst FROM joined
        UNION
        SELECT DISTINCT cust_node AS src, l_suppkey AS dst FROM joined
        WHERE o_orderstatus = 'F'),
      nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)"""

  val all: Seq[QueryDef] = Seq(

    // ---- X1: backward as-of join ------------------------------------------
    QueryDef(
      "x1_asof_join",
      "Point-in-time lookup (pandas merge_asof / DuckDB ASOF JOIN): each click joined to the user's latest purchase at-or-before it; union+window formulation, no pair blowup",
      Some("""
        WITH purchases AS (
          SELECT user_id, ts, value, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
          FROM events WHERE event_type = 'purchase'),
        uniq_purchases AS (SELECT user_id, ts, value FROM purchases WHERE rn = 1),
        clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        SELECT c.event_id, c.user_id, c.ts,
               p.ts AS purchase_ts, p.value AS purchase_value
        FROM clicks c
        ASOF LEFT JOIN uniq_purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts
      """)) { (spark, dir) =>
      val (clicks, purchases) = clicksAndPurchases(spark, dir)
      AsOfJoin.backward(
        clicks, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "purchase_ts",
        payload = Seq("purchase_ts", "purchase_value"))
    },

    // ---- J12: SCD2 point-in-time lookup ≡ as-of join -----------------------
    // The warehouse consumption pattern for i3's SCD2 intervals: attach to
    // each fact the dimension state VALID AT its timestamp. The textbook
    // formulation is an inequality join (fact.ts BETWEEN valid_from AND
    // valid_to) — an interval join whose cost explodes with history depth.
    // But on a type-2 dimension the intervals per key are disjoint and
    // contiguous by construction, so "the interval containing ts" IS "the
    // latest version starting at-or-before ts": the whole lookup collapses
    // to AsOfJoin.backward — one tagged-union window shuffle, no
    // inequality join, no pair expansion, whatever the history depth. The
    // oracle deliberately states the INTERVAL form (build valid_from/
    // valid_to with lead(), BETWEEN-join it) so the hash match proves the
    // equivalence cross-engine rather than assuming it.
    QueryDef(
      "j12_scd2_lookup",
      "SCD2 point-in-time lookup: each click joined to the purchase-state version valid at its timestamp — as-of join on the Spark side, explicit interval BETWEEN-join in the oracle, hash-equal by the disjoint-contiguous-intervals argument",
      Some("""
        WITH p AS (
          SELECT user_id, ts, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                    ORDER BY event_id DESC) AS rn
          FROM events WHERE event_type = 'purchase'),
        dim AS (
          SELECT user_id, value, ts AS valid_from,
                 LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
          FROM p WHERE rn = 1),
        facts AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        SELECT f.event_id, f.user_id, f.ts, d.value AS state_value
        FROM facts f LEFT JOIN dim d
          ON d.user_id = f.user_id AND f.ts >= d.valid_from
         AND (d.valid_to IS NULL OR f.ts < d.valid_to)
      """)) { (spark, dir) =>
      val (clicks, purchases) = clicksAndPurchases(spark, dir)
      AsOfJoin.backward(
        clicks, purchases.withColumnRenamed("purchase_value", "state_value"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "purchase_ts",
        payload = Seq("state_value"))
    },

    // ---- X1b: forward as-of join ------------------------------------------
    QueryDef(
      "x1b_asof_forward",
      "Forward as-of join (pandas merge_asof direction='forward'): each click joined to the user's EARLIEST purchase at-or-after it — the backward window over reversed time; oracle is DuckDB's native ASOF over negated epoch micros",
      Some("""
        WITH purchases AS (
          SELECT user_id, ts, value, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
          FROM events WHERE event_type = 'purchase'),
        uniq_purchases AS (SELECT user_id, ts, value FROM purchases WHERE rn = 1),
        clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        negp AS (SELECT user_id, -epoch_us(ts) AS nts, ts, value FROM uniq_purchases)
        SELECT c.event_id, c.user_id, c.ts,
               p.ts AS purchase_ts, p.value AS purchase_value
        FROM clicks c
        ASOF LEFT JOIN negp p
          ON c.user_id = p.user_id AND -epoch_us(c.ts) >= p.nts
      """)) { (spark, dir) =>
      val (clicks, purchases) = clicksAndPurchases(spark, dir)
      AsOfJoin.forward(
        clicks, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "purchase_ts",
        payload = Seq("purchase_ts", "purchase_value"))
    },

    // ---- X1c: nearest as-of join ------------------------------------------
    QueryDef(
      "x1c_asof_nearest",
      "Nearest as-of join (pandas merge_asof direction='nearest', ties to backward): both directions over ONE shuffle, per-row pick by temporal distance; oracle composes two DuckDB ASOF joins + the identical double-seconds distance CASE",
      Some("""
        WITH purchases AS (
          SELECT user_id, ts, value, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
          FROM events WHERE event_type = 'purchase'),
        uniq_purchases AS (SELECT user_id, ts, value FROM purchases WHERE rn = 1),
        clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        negp AS (SELECT user_id, -epoch_us(ts) AS nts, ts, value FROM uniq_purchases),
        joined AS (
          SELECT c.event_id, c.user_id, c.ts,
                 b.ts AS b_ts, b.value AS b_value,
                 f.ts AS f_ts, f.value AS f_value,
                 CAST(epoch_us(c.ts) AS DOUBLE) / 1000000.0
                   - CAST(epoch_us(b.ts) AS DOUBLE) / 1000000.0 AS db,
                 CAST(epoch_us(f.ts) AS DOUBLE) / 1000000.0
                   - CAST(epoch_us(c.ts) AS DOUBLE) / 1000000.0 AS df
          FROM clicks c
          ASOF LEFT JOIN uniq_purchases b
            ON c.user_id = b.user_id AND c.ts >= b.ts
          ASOF LEFT JOIN negp f
            ON c.user_id = f.user_id AND -epoch_us(c.ts) >= f.nts)
        SELECT event_id, user_id, ts,
               CASE WHEN b_ts IS NULL THEN f_ts
                    WHEN f_ts IS NULL THEN b_ts
                    WHEN db <= df THEN b_ts ELSE f_ts END AS purchase_ts,
               CASE WHEN b_ts IS NULL THEN f_value
                    WHEN f_ts IS NULL THEN b_value
                    WHEN db <= df THEN b_value ELSE f_value END AS purchase_value
        FROM joined
      """)) { (spark, dir) =>
      // Distance parity with the oracle: Spark's timestamp→double cast is
      // micros/1e6 in ONE double division, exactly DuckDB's
      // CAST(epoch_us(x) AS DOUBLE)/1000000.0 — identical doubles, so the
      // db<=df tie decision can never diverge between the engines.
      val (clicks, purchases) = clicksAndPurchases(spark, dir)
      AsOfJoin.nearest(
        clicks, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "purchase_ts",
        payload = Seq("purchase_ts", "purchase_value"))
    },

    // ---- X2: banded range join --------------------------------------------
    QueryDef(
      "x2_range_band_join",
      "Range (theta) join against a tiny band dimension: value BETWEEN lo AND hi via broadcast — map-side at any fact scale, no shuffle of the big side",
      Some("""
        SELECT e.event_id, b.band, e.value
        FROM events e
        JOIN (VALUES ('micro', 0.0, 10.0), ('small', 10.0, 100.0),
                     ('large', 100.0, 1000.0)) AS b(band, lo, hi)
          ON e.value >= b.lo AND e.value < b.hi
      """)) { (spark, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val bands = spark.createDataFrame(
        java.util.Arrays.asList(
          Row("micro", 0.0, 10.0), Row("small", 10.0, 100.0),
          Row("large", 100.0, 1000.0)),
        StructType(Seq(StructField("band", StringType),
          StructField("lo", DoubleType), StructField("hi", DoubleType))))
      // BroadcastNestedLoopJoin against 3 rows = a codegen'd per-row band
      // scan; the correct plan for small-dim range joins at 100 TB (the
      // large-large case would bucketize both sides on floor(value/step)).
      Tables.events(spark, dir)
        .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
        .select(col("event_id"), col("band"), col("value"))
    },

    // ---- X4/X5: skew-mitigation operators through the oracle gate ---------
    QueryDef(
      "x4_salted_join",
      "Salted equi-join (operators/Skew.saltedJoin): hot fact keys spread over 16 salted reducers, dimension replicated per bucket — result equals the unsalted join exactly, which is precisely what the oracle checks",
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, s_name
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      """)) { (spark, dir) =>
      graft.operators.Skew.saltedJoin(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_suppkey").as("s_suppkey")),
        Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")),
        keys = Seq("s_suppkey"),
        saltBy = col("l_orderkey") * 8 + col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("s_name"))
    },

    QueryDef(
      "x4b_hotkey_salted_join",
      "Hot-key-targeted salted join (operators/Skew.saltedJoinHot): exact per-key counts pick the heavy suppliers, ONLY those salt (dim replicated for the hot slice alone), cold keys join plain — the union equals the unsalted join exactly, which is what the oracle checks. The 600-row threshold sits at the per-supplier mean so BOTH arms carry real rows at every sweep scale",
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, s_name
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      """)) { (spark, dir) =>
      graft.operators.Skew.saltedJoinHot(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_suppkey").as("s_suppkey")),
        Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")),
        keys = Seq("s_suppkey"),
        saltBy = col("l_orderkey") * 8 + col("l_linenumber"),
        hotRowThreshold = 600L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("s_name"))
    },

    QueryDef(
      "x5_twophase_distinct",
      "Two-phase distinct aggregation (operators/Skew.distinctCountSkewAware): groupBy(key, value) then groupBy(key) — countDistinct without funneling a hot key through one reducer",
      Some("""
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct
        FROM lineitem
        GROUP BY l_returnflag
      """)) { (spark, dir) =>
      graft.operators.Skew.distinctCountSkewAware(
        Tables.lineitem(spark, dir), keys = Seq("l_returnflag"), value = "l_partkey")
    },

    // ---- X6: bounded-heap top-k per group ---------------------------------
    QueryDef(
      "x6_topk_per_key",
      "Exact top-3 per supplier via the bounded-heap Aggregator (operators/TopK): ~600 candidates funnel into a 3-slot map-side heap per group, so only k x partitions rows cross the wire — oracle IS the full window formulation. (Keyed on the FEW-groups-MANY-candidates side: per-order grouping would mean 150k four-row groups, where the heap's per-group buffer overhead exceeds the shuffle it saves.)",
      Some("""
        SELECT l_suppkey, rank, price, candidate
        FROM (SELECT l_suppkey,
                     ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                        ORDER BY l_extendedprice DESC, l_partkey ASC) AS rank,
                     l_extendedprice AS price,
                     l_partkey AS candidate
              FROM lineitem)
        WHERE rank <= 3
      """)) { (spark, dir) =>
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_partkey"))
        .as[(Long, Double, Long)]
        .groupByKey(_._1)
        .agg(graft.operators.TopK.topK(3).toColumn)
        .flatMap { case (key, top) =>
          top.zipWithIndex.map { case ((score, id), i) => (key, i + 1, score, id) }
        }
        .toDF("l_suppkey", "rank", "price", "candidate")
    },

    // ---- A12/A13: multidimensional aggregates -----------------------------
    QueryDef(
      "a12_rollup",
      "GROUP BY ROLLUP(year, priority): subtotal + grand-total rows with GROUPING() indicators, one pass",
      Some("""
        SELECT year(o_orderdate) AS year,
               o_orderpriority AS priority,
               CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               COUNT(*) AS n
        FROM orders
        GROUP BY ROLLUP(year(o_orderdate), o_orderpriority)
      """)) { (spark, dir) =>
      Tables.orders(spark, dir)
        // pre-project: grouping() must reference a real grouping column,
        // not an alias introduced inside rollup(...)
        .select(year(col("o_orderdate")).as("year"),
          col("o_orderpriority").as("priority"), col("o_totalprice"))
        .rollup(col("year"), col("priority"))
        .agg(
          grouping(col("year")).cast("int").as("g_year"),
          grouping(col("priority")).cast("int").as("g_priority"),
          sum(col("o_totalprice").cast(D)).cast("double").as("total"),
          count(lit(1)).as("n"))
    },

    QueryDef(
      "a13_cube",
      "GROUP BY CUBE(status, priority): every grouping-set combination with GROUPING() indicators",
      Some("""
        SELECT o_orderstatus AS status,
               o_orderpriority AS priority,
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               COUNT(*) AS n
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
      """)) { (spark, dir) =>
      Tables.orders(spark, dir)
        .select(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"), col("o_totalprice"))
        .cube(col("status"), col("priority"))
        .agg(
          grouping(col("status")).cast("int").as("g_status"),
          grouping(col("priority")).cast("int").as("g_priority"),
          sum(col("o_totalprice").cast(D)).cast("double").as("total"),
          count(lit(1)).as("n"))
    },

    // ---- A17: time-weighted average ----------------------------------------
    // Metering/monitoring semantics: a reading holds UNTIL the next one, so
    // the honest mean weights each value by how long it was current —
    // the plain AVG over-counts bursts of samples (billing, utilization,
    // and SLO dashboards all get this wrong with row-mean). One lead()
    // window for interval lengths, then a keyed aggregate; weights are
    // exact DECIMAL × whole seconds so the accumulation is
    // order/partitioning-independent (the f2/s6 posture), and the final
    // ratio is one double division from identical exact inputs on both
    // engines. Last reading per key has no successor and drops out —
    // open-ended tails are a policy choice, not a default.
    QueryDef(
      "a17_time_weighted_avg",
      "Per-user time-weighted mean of value (reading holds until the next): lead() interval weights in whole seconds, exact DECIMAL accumulation, one double ratio at the boundary",
      Some("""
        WITH iv AS (
          SELECT user_id,
                 CAST(value AS DECIMAL(18,6)) AS v,
                 CAST(date_diff('second', ts,
                   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   AS BIGINT) AS dt
          FROM events)
        SELECT user_id,
               CAST(SUM(dt) AS BIGINT) AS total_seconds,
               CAST(SUM(v * dt) AS DOUBLE) AS weighted_sum,
               CAST(SUM(v * dt) AS DOUBLE) / CAST(SUM(dt) AS BIGINT) AS twa
        FROM iv WHERE dt IS NOT NULL
        GROUP BY 1
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val iv = Tables.events(spark, dir)
        .select(col("user_id"),
          col("value").cast("decimal(18,6)").as("v"),
          (unix_timestamp(lead(col("ts"), 1).over(byUser))
            - unix_timestamp(col("ts"))).as("dt"))
      iv.filter(col("dt").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(col("dt")).as("total_seconds"),
          sum(col("v") * col("dt")).cast("double").as("weighted_sum"))
        .withColumn("twa", col("weighted_sum") / col("total_seconds"))
    },

    // ---- A18: linear interpolation over a daily spine ----------------------
    // a15 fills silent periods with zeros (financial convention); sensor/
    // metric series want INTERPOLATION: a missing day carries the value
    // implied by its neighbors. Daily anchor = MIN(value) per (user, day) —
    // min of doubles is order/partitioning-independent, unlike a double
    // mean — then the a15 spine, then prev/next anchors via IGNORE NULLS
    // window frames (two passes over ONE partitioning) and the two-point
    // interpolation formula in pinned double order. Spine edges always have
    // anchors (the span starts/ends at observed days), so no extrapolation
    // branch exists. Scale: the spine is users × days — rows, not state;
    // both window frames are running first/last, O(1) per row, spillable.
    QueryDef(
      "a18_interpolate",
      "Per-user daily spine with linear interpolation: anchor days carry MIN(value), gap days get prev + (next-prev)*(elapsed/gap) from IGNORE NULLS window frames — one partitioning, two running frames, pinned double arithmetic",
      Some("""
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day, MIN(value) AS v
          FROM events GROUP BY 1, 2),
        span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
        spine AS (
          SELECT user_id, CAST(u.d AS DATE) AS day
          FROM span,
               unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)),
        grid AS (
          SELECT s.user_id, s.day, daily.v
          FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.day = daily.day),
        f AS (
          SELECT user_id, day, v,
            LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
            FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
          FROM grid)
        SELECT user_id, day, v IS NOT NULL AS is_actual,
               CASE WHEN v IS NOT NULL THEN v
                    ELSE pv + (nv - pv) * (date_diff('day', pd, day) * 1.0
                                           / date_diff('day', pd, nd)) END AS value_filled
        FROM f
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(spark, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(min(col("value")).as("v"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
      val grid = spine.join(daily, Seq("user_id", "day"), "left")
      val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val before = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val after = byDay.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val anchorDay = when(col("v").isNotNull, col("day"))
      val f = grid.select(col("user_id"), col("day"), col("v"),
        last(col("v"), ignoreNulls = true).over(before).as("pv"),
        last(anchorDay, ignoreNulls = true).over(before).as("pd"),
        first(col("v"), ignoreNulls = true).over(after).as("nv"),
        first(anchorDay, ignoreNulls = true).over(after).as("nd"))
      // exact int day-diffs → one double division, multiply, add: the same
      // pinned order as the oracle, so gap values are bit-identical
      f.select(col("user_id"), col("day"), col("v").isNotNull.as("is_actual"),
        when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv"))
            * (datediff(col("day"), col("pd")) * lit(1.0)
               / datediff(col("nd"), col("pd"))))
          .as("value_filled"))
    },

    // ---- F6: pivot → unpivot round trip ------------------------------------
    // The relational MELT: wide per-status money columns back to tidy
    // (priority, status, total) rows. Spark's unpivot plans as one Expand
    // (each input row fans out once per value column — no shuffle, no
    // join); the oracle states the same thing as the portable UNION ALL.
    // Null cells are coalesced to DECIMAL zero BEFORE unpivoting on both
    // sides: engines disagree on whether unpivot drops null cells, so the
    // contract pins "absent combination = explicit zero row" (the a15
    // convention).
    QueryDef(
      "f6_unpivot",
      "Pivot → unpivot round trip: per-priority status money columns melted back to tidy rows via Spark's Expand-planned unpivot; absent combinations pinned to explicit DECIMAL zeros; oracle is the portable UNION ALL form",
      Some("""
        WITH w AS (
          SELECT o_orderpriority,
                 SUM(CASE WHEN o_orderstatus = 'F'
                          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS f_total,
                 SUM(CASE WHEN o_orderstatus = 'O'
                          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS o_total,
                 SUM(CASE WHEN o_orderstatus = 'P'
                          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS p_total
          FROM orders GROUP BY 1)
        SELECT o_orderpriority, 'F' AS status, CAST(COALESCE(f_total, 0) AS DOUBLE) AS total FROM w
        UNION ALL
        SELECT o_orderpriority, 'O' AS status, CAST(COALESCE(o_total, 0) AS DOUBLE) AS total FROM w
        UNION ALL
        SELECT o_orderpriority, 'P' AS status, CAST(COALESCE(p_total, 0) AS DOUBLE) AS total FROM w
      """)) { (spark, dir) =>
      val wide = Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast(D)))
      val filled = wide.select(col("o_orderpriority") +:
        Seq("F", "O", "P").map(s =>
          coalesce(col(s), lit(0).cast(D)).as(s)): _*)
      filled.unpivot(
          Array(col("o_orderpriority")), Array(col("F"), col("O"), col("P")),
          "status", "total")
        .select(col("o_orderpriority"), col("status"),
          col("total").cast("double").as("total"))
    },

    // ---- F4: arbitrary GROUPING SETS ---------------------------------------
    // rollup (a12) and cube (a13) are the fixed hierarchies; real report
    // suites ask for ARBITRARY set lists — "by priority, by status, and the
    // grand total, but NOT the cross" — which GROUP BY GROUPING SETS
    // computes in ONE pass instead of one query per set + union. Spark
    // plans it as a single Expand + aggregate: each input row fans out once
    // per set before the same single shuffle the plain groupBy pays.
    QueryDef(
      "f4_grouping_sets",
      "GROUP BY GROUPING SETS ((priority), (status), ()): the two single-dim reports + grand total in one pass, without cube's unwanted cross combination; GROUPING() indicators disambiguate the null-keyed rows",
      Some("""
        SELECT o_orderpriority AS priority,
               o_orderstatus AS status,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      """)) { (spark, dir) =>
      Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status"), col("o_totalprice"))
        .groupingSets(
          Seq(Seq(col("priority")), Seq(col("status")), Seq.empty),
          col("priority"), col("status"))
        .agg(
          grouping(col("priority")).cast("int").as("g_pri"),
          grouping(col("status")).cast("int").as("g_status"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(D)).cast("double").as("total"))
    },

    // ---- A14: IQR outlier fence --------------------------------------------
    // Round-6 verdict #2: the original exact `percentile` aggregate
    // buffers every group member in ONE aggregation buffer — the lone
    // scale-killer-shaped plan in the catalog. Rebuilt on the k2
    // technique: quartiles as exact value-at-rank (rank = ceil(p·n) under
    // a shared ordering — value at a rank is unique even across ties, so
    // no tiebreak is needed) computed via a SPILLABLE window sort, and the
    // scale path (`percentile_approx`, bounded sketch buffer) gated
    // through an in-row rank-error-bound boolean (±max(⌈n·1e-3⌉,1) ranks,
    // 10× the sketch's documented worst case at accuracy 10000). The
    // fence count then rides a broadcast of the 5-row per-group stats.
    QueryDef(
      "a14_outlier_fence",
      "Per-group quartiles + Tukey outlier count: exact value-at-rank quartiles over a spillable per-group sort (no whole-group aggregation buffer), percentile_approx as the gated scale path, outliers counted against the exact fence via a broadcast stats join",
      Some("""
        WITH r AS (
          SELECT o_orderpriority,
                 CAST(o_totalprice AS DOUBLE) AS price,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY CAST(o_totalprice AS DOUBLE)) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM orders),
        q AS (
          SELECT o_orderpriority,
                 MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN price END) AS p25,
                 MAX(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN price END) AS p50,
                 MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN price END) AS p75
          FROM r GROUP BY 1)
        SELECT q.o_orderpriority, p25, p50, p75,
               CAST(SUM(CASE WHEN CAST(o_totalprice AS DOUBLE) > p75 + 1.5 * (p75 - p25)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               TRUE AS approx_in_bounds
        FROM orders o JOIN q USING (o_orderpriority)
        GROUP BY 1, 2, 3, 4
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.orders(spark, dir)
        .select(col("o_orderpriority"), col("o_totalprice").cast("double").as("price"))
      // group sizes as a broadcast 5-row aggregate, not a second window
      // pass (the k2 rationale: count() over a partition-only window
      // re-buffers the whole partition to stamp a constant)
      val counts = base.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val r = base
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("o_orderpriority")).orderBy(col("price"))))
        .join(broadcast(counts), Seq("o_orderpriority"))
      val d = greatest(ceil(col("n") * lit(0.001)), lit(1L))
      def atRank(rank: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        max(when(col("rn") === rank, col("price")))
      def target(p: Double): org.apache.spark.sql.Column = ceil(col("n") * lit(p))
      val agg = r.groupBy(col("o_orderpriority")).agg(
        atRank(target(0.25)).as("p25"),
        atRank(target(0.50)).as("p50"),
        atRank(target(0.75)).as("p75"),
        atRank(greatest(target(0.25) - d, lit(1L))).as("lo25"),
        atRank(least(target(0.25) + d, col("n").cast("long"))).as("hi25"),
        atRank(greatest(target(0.50) - d, lit(1L))).as("lo50"),
        atRank(least(target(0.50) + d, col("n").cast("long"))).as("hi50"),
        atRank(greatest(target(0.75) - d, lit(1L))).as("lo75"),
        atRank(least(target(0.75) + d, col("n").cast("long"))).as("hi75"),
        percentile_approx(col("price"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("qs"))
      val stats = agg.select(col("o_orderpriority"),
        col("p25"), col("p50"), col("p75"),
        (element_at(col("qs"), 1).between(col("lo25"), col("hi25")) &&
          element_at(col("qs"), 2).between(col("lo50"), col("hi50")) &&
          element_at(col("qs"), 3).between(col("lo75"), col("hi75")))
          .as("approx_in_bounds"))
      base.join(broadcast(stats), Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"), col("p25"), col("p50"), col("p75"),
          col("approx_in_bounds"))
        .agg(sum(when(col("price") > col("p75") + (col("p75") - col("p25")) * 1.5, 1)
          .otherwise(0)).as("n_outliers"))
        .select(col("o_orderpriority"), col("p25"), col("p50"), col("p75"),
          col("n_outliers"), col("approx_in_bounds"))
    },

    // ---- A15: calendar-spine gap fill --------------------------------------
    // Time-series marts must emit a row for EVERY (group, period) cell —
    // a month with no orders is a zero, not a missing row (dashboards,
    // forecasting inputs, and SLA monitors all break on gaps). The spine
    // is derived, not hand-written: the min/max month is one tiny global
    // aggregate (two values to the driver — the b1 bloom posture: a
    // fixed-size reduction, never data rows), exploded per group
    // map-side, then left-joined to the actuals. No cartesian product in
    // the Spark plan — the group×month fanout rides an explode of a
    // 25-element literal array, and the join stays a broadcast hash join
    // on the (group, month) key.
    QueryDef(
      "a15_gapfill_spine",
      "Calendar-spine gap fill: monthly revenue per priority with explicit DECIMAL zero rows for silent months — spine from a min/max reduction, exploded per group, left join to actuals",
      Some("""
        WITH actual AS (
          SELECT o_orderpriority AS pri,
                 date_trunc('month', o_orderdate) AS month,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue
          FROM orders GROUP BY 1, 2),
        bounds AS (SELECT min(month) AS lo, max(month) AS hi FROM actual),
        spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
                  FROM bounds),
        pris AS (SELECT DISTINCT o_orderpriority AS pri FROM orders)
        SELECT p.pri, s.month,
               CAST(COALESCE(a.revenue, CAST(0.00 AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM pris p CROSS JOIN spine s
        LEFT JOIN actual a ON a.pri = p.pri AND a.month = s.month
      """)) { (spark, dir) =>
      val actual = Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority").as("pri"),
          date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("revenue"))
      // fixed-size reduction to the driver: two timestamps, not data rows.
      // Month arithmetic runs in the SESSION timezone (UTC here), never the
      // JVM default — Timestamp.toLocalDateTime would re-interpret the
      // instants in user.timezone and land the spine off every month
      // boundary on a non-UTC host.
      val sessionZone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
      val b = actual.agg(min(col("month")), max(col("month"))).head
      if (b.isNullAt(0)) {
        // empty input: an empty report with the right schema, not an NPE
        actual.select(col("pri"), col("month"),
          col("revenue").cast("double")).limit(0)
      } else {
        val lo = b.getTimestamp(0).toInstant.atZone(sessionZone).toLocalDateTime
        val hi = b.getTimestamp(1).toInstant.atZone(sessionZone).toLocalDateTime
        val months = Iterator.iterate(lo)(_.plusMonths(1)).takeWhile(!_.isAfter(hi))
          .map(m => lit(java.sql.Timestamp.from(m.atZone(sessionZone).toInstant))
            .cast("timestamp")).toSeq
        val spine = explode(array(months: _*)).as("month")
        val cells = Tables.orders(spark, dir).select(col("o_orderpriority").as("pri"))
          .distinct()
          .select(col("pri"), spine)
        cells.join(actual, Seq("pri", "month"), "left")
          .select(col("pri"), col("month"),
            coalesce(col("revenue"),
              lit(BigDecimal("0.00")).cast("decimal(18,2)"))
              .cast("double").as("revenue"))
      }
    },

    // ---- A16: equi-width histogram -----------------------------------------
    // The profiling twin of a14's quantiles: fixed equi-width bins over a
    // measure, per group, with GLOBAL bin edges so groups are comparable.
    // The edges come from one min/max reduction (two doubles to the
    // driver — the b1 posture), the binning is a pure expression, and the
    // histogram is one partial-aggregated groupBy: at 100 TB this is a
    // scan + one shuffle of (groups × 20) rows. The top edge folds into
    // the last bin (LEAST(..., 19)) so max-valued rows are counted, not
    // dropped.
    QueryDef(
      "a16_equiwidth_histogram",
      "Per-priority 20-bin equi-width histogram of order totals with global edges from one min/max reduction — count and DECIMAL-exact sum per cell",
      Some("""
        WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
        SELECT o_orderpriority,
               CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                    ELSE LEAST(CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 20)) AS BIGINT), 19)
               END AS bin,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount
        FROM orders, b
        GROUP BY 1, 2
      """)) { (spark, dir) =>
      val o = Tables.orders(spark, dir)
      val b = o.agg(min(col("o_totalprice")), max(col("o_totalprice"))).head
      if (b.isNullAt(0)) {
        // empty input: an empty histogram with the right schema, not an NPE
        // (the a15 posture — the eager min/max reduction must handle zero rows)
        o.select(col("o_orderpriority"), lit(0L).as("bin"),
          lit(0L).as("n"), lit(0.0).as("sum_amount")).limit(0)
      } else {
        val (lo, hi) = (b.getDouble(0), b.getDouble(1))
        // same expression tree as the oracle: (v - lo) / ((hi - lo) / 20).
        // Degenerate hi == lo would divide 0/0 → NaN, where the engines
        // diverge (DuckDB raises on CAST(FLOOR(NaN)), Spark folds to 0) —
        // a single-valued measure is one bin by definition.
        val bin =
          if (hi == lo) lit(0L)
          else least(
            floor((col("o_totalprice") - lit(lo)) / lit((hi - lo) / 20)), lit(19L))
        o.groupBy(col("o_orderpriority"), bin.as("bin"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("sum_amount"))
      }
    },

    // ---- X3: large-large interval overlap join ----------------------------
    QueryDef(
      "x3_interval_overlap_join",
      "Bucketized interval overlap join (operators/RangeJoin): order activity windows x shipment windows, exactly-once via canonical bucket — an equi-shuffle join where naive overlap is a quadratic nested loop",
      Some("""
        SELECT o_orderkey, l_orderkey, l_linenumber,
               least(o_hi, l_hi) - greatest(o_lo, l_lo) + 1 AS overlap_days
        FROM (SELECT o_orderkey,
                     CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS o_lo,
                     CAST(o_orderdate AS DATE) - DATE '1970-01-01' + 14 AS o_hi
              FROM orders WHERE o_orderkey % 97 = 0) o
        JOIN (SELECT l_orderkey, l_linenumber,
                     CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS l_lo,
                     CAST(l_shipdate AS DATE) - DATE '1970-01-01' + 3 AS l_hi
              FROM lineitem WHERE l_orderkey % 89 = 0) l
          ON o_lo <= l_hi AND l_lo <= o_hi
      """)) { (spark, dir) =>
      import graft.operators.RangeJoin
      val epoch = lit("1970-01-01").cast("date")
      val o = Tables.orders(spark, dir)
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), epoch).as("o_lo"),
          (datediff(col("o_orderdate").cast("date"), epoch) + 14).as("o_hi"))
      val li = Tables.lineitem(spark, dir)
        .filter(col("l_orderkey") % 89 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate").cast("date"), epoch).as("l_lo"),
          (datediff(col("l_shipdate").cast("date"), epoch) + 3).as("l_hi"))
      RangeJoin.overlapJoin(o, li, "o_lo", "o_hi", "l_lo", "l_hi", width = 16)
        .select(col("o_orderkey"), col("l_orderkey"), col("l_linenumber"),
          (least(col("o_hi"), col("l_hi")) - greatest(col("o_lo"), col("l_lo")) + 1)
            .as("overlap_days"))
    },

    // ---- O4: keyset (seek) pagination -------------------------------------
    QueryDef(
      "o4_keyset_page",
      "Keyset pagination (SURVEY §7.4.6 scale path): resume strictly after a (sortValue, id) cursor — the predicate pushes into the scan, so page cost is O(page), not O(offset+page)",
      Some("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 50000.0
           OR (o_totalprice = 50000.0 AND o_orderkey > 100)
        ORDER BY o_totalprice, o_orderkey
        LIMIT 100
      """)) { (spark, dir) =>
      graft.finance.Serving.keysetPage(
        Tables.orders(spark, dir),
        sortBy = "o_totalprice", idCol = "o_orderkey",
        after = Some((Some(lit(50000.0)), lit(100L))),
        limit = 100)
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    // ---- O4b: keyset pagination, DESC NULLS LAST over a nullable key ------
    QueryDef(
      "o4b_keyset_page_desc",
      "Keyset pagination in the O1 page shape (DESC NULLS LAST, nullable sort key): resume strictly after a (value, id) cursor in the descending region — the null tail sorts after every non-null cursor",
      Some("""
        WITH e AS (
          SELECT event_id,
                 CASE WHEN value < 10 THEN NULL ELSE value END AS v
          FROM events)
        SELECT event_id, v
        FROM e
        WHERE (v IS NOT NULL AND (v < 500.0 OR (v = 500.0 AND event_id > 100)))
           OR v IS NULL
        ORDER BY v DESC NULLS LAST, event_id
        LIMIT 100
      """)) { (spark, dir) =>
      val e = Tables.events(spark, dir)
        .select(col("event_id"),
          when(col("value") < 10, lit(null)).otherwise(col("value")).as("v"))
      graft.finance.Serving.keysetPage(
        e, sortBy = "v", idCol = "event_id",
        after = Some((Some(lit(500.0)), lit(100L))),
        limit = 100, ascending = false)
    },

    // ---- I3: SCD2 interval build -------------------------------------------
    QueryDef(
      "i3_scd2_intervals",
      "Slowly-changing-dimension (type 2) interval build from a change stream: each purchase value valid from its timestamp until the user's next one (open-ended tail) — one window pass, the warehouse-history twin of the reference's historic mapping join (J2)",
      Some("""
        SELECT user_id,
               value,
               ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        FROM events
        WHERE event_type = 'purchase'
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"), col("ts").as("valid_from"),
          lead(col("ts"), 1).over(byUser).as("valid_to"))
    },

    // ---- I5: snapshot diff (CDC) -------------------------------------------
    // The other half of the incremental family: i1/i2 APPLY deltas, this
    // COMPUTES one — given yesterday's and today's snapshot of a keyed
    // table, emit the insert/update/delete stream between them. One
    // full-outer sort-merge join on the key and a change predicate;
    // unchanged rows (the overwhelming majority at 100 TB) are filtered
    // before anything else is computed. With both snapshots bucketed by
    // key (`bucketBy`) the join is exchange-free — the nightly-diff
    // shape warehouses feed into downstream CDC consumers. The two
    // "snapshots" here are deterministic slices of orders: keys mod 7
    // missing from OLD (→ inserts), keys mod 5 missing from NEW
    // (→ deletes), every key mod 3 repriced (→ updates).
    QueryDef(
      "i5_snapshot_diff",
      "Snapshot-diff CDC: full-outer key join of two table states → insert/update/delete actions with old/new values, unchanged rows dropped",
      Some("""
        WITH old_snap AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price
          FROM orders WHERE o_orderkey % 7 <> 0),
        new_snap AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 3 = 0
                      THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST(1.00 AS DECIMAL(18,2))
                      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
          FROM orders WHERE o_orderkey % 5 <> 0)
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    ELSE 'update' END AS action,
               CAST(o.price AS DOUBLE) AS old_price,
               CAST(n.price AS DOUBLE) AS new_price
        FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
        WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR o.price <> n.price OR o.o_orderstatus <> n.o_orderstatus
      """)) { (spark, dir) =>
      val base = Tables.orders(spark, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val oldSnap = base.filter(col("o_orderkey") % 7 =!= 0)
      val newSnap = base.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0,
            col("price") + lit(BigDecimal("1.00")).cast("decimal(18,2)"))
            .otherwise(col("price")))
      val o = oldSnap.as("o"); val n = newSnap.as("n")
      o.join(n, col("o.o_orderkey") === col("n.o_orderkey"), "full_outer")
        .filter(col("o.o_orderkey").isNull || col("n.o_orderkey").isNull
          || col("o.price") =!= col("n.price")
          || col("o.o_orderstatus") =!= col("n.o_orderstatus"))
        .select(
          coalesce(col("o.o_orderkey"), col("n.o_orderkey")).as("o_orderkey"),
          when(col("o.o_orderkey").isNull, "insert")
            .when(col("n.o_orderkey").isNull, "delete")
            .otherwise("update").as("action"),
          col("o.price").cast("double").as("old_price"),
          col("n.price").cast("double").as("new_price"))
    },

    // ---- I6: change-feed fold (log compaction) ----------------------------
    // The missing member of the incremental family (append / upsert / SCD2 /
    // fieldwise merge / snapshot diff): collapse an ORDERED stream of
    // upserts and delete TOMBSTONES to final state — Kafka log-compaction /
    // CDC-apply semantics, where i5 derives changes by diffing states and
    // this applies a change log TO a state. Feed derived deterministically
    // from events: 'error' rows are tombstones, everything else upserts the
    // key's value. Last-writer-wins per key under the (ts, event_id) total
    // order; a key whose final entry is a tombstone vanishes from the
    // output entirely — the property a plain latest-per-key dedup (w1)
    // cannot express. One hash exchange on the key + in-partition sort;
    // per-key state is one row whatever the feed length, so the fold
    // scales with distinct keys, not feed size.
    QueryDef(
      "i6_cdc_apply",
      "Change-feed fold with delete tombstones (CDC apply / log compaction): last-writer-wins per key under a total order, tombstoned keys dropped from the final state",
      Some("""
        WITH feed AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
          FROM events),
        latest AS (
          SELECT user_id, op, value, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM feed)
        SELECT user_id, CAST(value AS DOUBLE) AS value, ts AS updated_at
        FROM latest WHERE rn = 1 AND op = 'U'
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") === "U")
        .select(col("user_id"), col("value").cast("double").as("value"),
          col("ts").as("updated_at"))
    },

    // ---- I7: incremental aggregate maintenance ------------------------------
    // Materialized-view maintenance: a stored per-key aggregate table
    // absorbs a new batch by merging PARTIAL aggregates (count/sum are
    // self-maintainable — no base-table rescan), the pattern every
    // warehouse rollup at 100 TB lives by: the state table is keys-sized,
    // the delta is batch-sized, and the merge is one full-outer join +
    // coalesced addition. The ORACLE is the full recompute over the whole
    // base table — so the hash match IS the theorem: incremental
    // maintenance ≡ recompute, exactly (DECIMAL addition is associative;
    // a double sum would make the split point observable).
    QueryDef(
      "i7_incremental_agg_merge",
      "Incremental aggregate maintenance: stored per-customer count/sum state merged with a new batch's partial aggregates via one full-outer join — oracle is the FULL recompute, so the hash match proves incremental ≡ recompute (exact DECIMAL, associative)",
      Some("""
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 1
      """)) { (spark, dir) =>
      val cut = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      def partials(df: org.apache.spark.sql.DataFrame, n: String, t: String) =
        df.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as(n), sum(col("o_totalprice").cast(D)).as(t))
      val orders = Tables.orders(spark, dir)
      // the "stored" state and the incoming batch: disjoint date ranges of
      // the same base table, each pre-aggregated to keys-sized partials
      val state = partials(orders.filter(col("o_orderdate") < cut), "sn", "st")
      val delta = partials(orders.filter(col("o_orderdate") >= cut), "dn", "dt")
      val zero = lit(0).cast("decimal(28,2)")
      state.join(delta, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("sn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
          (coalesce(col("st"), zero) + coalesce(col("dt"), zero))
            .cast("double").as("total"))
    },

    // ---- I8: full ANSI MERGE matrix ----------------------------------------
    // The nightly warehouse statement (Delta/Iceberg MERGE INTO incl. the
    // SQL:2023 NOT MATCHED BY SOURCE arm) as one operator
    // (operators/MergeInto): matched+cancel → DELETE, matched → UPDATE,
    // source-only → INSERT, target-only+stale → DELETE, target-only → keep
    // byte-unchanged. Completes the incremental family: i2 is the matrix
    // with update+insert only, i4 fixes the update rule per-field, i6 is
    // tombstone-driven deletes; here all five arms carry caller conditions.
    // Target/source are deterministic slices of orders so every arm is
    // populated (mod-4 existing state, mod-3 change batch, mod-5 cancels,
    // mod-7 stale evictions). The oracle states the matrix as the full-outer
    // CASE calculus — the portable form — so the hash match proves the
    // operator IS that calculus. One key exchange end-to-end; bucketed
    // tables make it exchange-free (the i5 posture).
    QueryDef(
      "i8_merge_matrix",
      "Full ANSI MERGE action matrix in one full-outer pass: matched-and-condition DELETE, matched UPDATE, not-matched INSERT, not-matched-by-source-and-condition DELETE, else keep — oracle is the equivalent CASE calculus",
      Some("""
        WITH tgt AS (
          SELECT o_orderkey, o_orderstatus AS status,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price
          FROM orders WHERE o_orderkey % 4 <> 0),
        src AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 5 = 0 THEN 'C' ELSE 'U' END AS status,
                 CAST(o_totalprice AS DECIMAL(18,2))
                   + CAST(50.00 AS DECIMAL(18,2)) AS price
          FROM orders WHERE o_orderkey % 3 = 0)
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                      THEN s.status
                    WHEN t.o_orderkey IS NULL THEN s.status
                    ELSE t.status END AS status,
               CAST(CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                           THEN s.price
                         WHEN t.o_orderkey IS NULL THEN s.price
                         ELSE t.price END AS DOUBLE) AS price
        FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
        WHERE (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                 AND s.status <> 'C')
           OR t.o_orderkey IS NULL
           OR (s.o_orderkey IS NULL AND t.o_orderkey % 7 <> 0)
      """)) { (spark, dir) =>
      val base = Tables.orders(spark, dir).select(
        col("o_orderkey"), col("o_orderstatus").as("status"),
        col("o_totalprice").cast(D).as("price"))
      val target = base.filter(col("o_orderkey") % 4 =!= 0)
      val source = base.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, "C").otherwise("U").as("status"),
          (col("price") + lit(BigDecimal("50.00")).cast(D)).cast(D).as("price"))
      graft.operators.MergeInto(
        target, source, keys = Seq("o_orderkey"),
        matchedDelete = col("s_status") === "C",
        matchedUpdate = Map(
          "status" -> col("s_status"),
          "price" -> col("s_price")),
        staleDelete = col("o_orderkey") % 7 === 0)
        .withColumn("price", col("price").cast("double"))
    },

    // ---- I9: dynamic partition overwrite (date-partitioned backfill) ------
    // The mutation protocol the i-family still lacked: a restatement
    // batch replaces EXACTLY the day-partitions it touches, wholesale —
    // a touched day's rows absent from the batch VANISH (what separates
    // this from i2's key-level upsert), untouched days are never read or
    // rewritten. At 100 TB this is how a late-arriving day is restated:
    // one directory, not the table. The finance warehouse publishes only
    // whole tables (`TableStore.overwrite`); this entry pins the
    // protocol's read-side algebra: anti-join on the batch's distinct
    // partition set (tiny → broadcast) ∪ the batch.
    QueryDef(
      "i9_partition_overwrite",
      "Dynamic partition overwrite protocol: base days not touched by the restatement batch survive untouched; touched days are replaced wholesale (dropped rows vanish) — anti-join on the batch's distinct day set ∪ batch",
      Some("""
        WITH base AS (
          SELECT event_id, user_id, event_type,
                 CAST(value AS DOUBLE) AS value,
                 CAST(date_trunc('day', ts) AS DATE) AS part_day
          FROM events),
        batch AS (
          SELECT event_id, user_id, 'restated' AS event_type, value, part_day
          FROM base
          WHERE part_day BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'
            AND event_id % 2 = 0)
        SELECT event_id, user_id, event_type, value, part_day FROM base
        WHERE part_day NOT IN (SELECT DISTINCT part_day FROM batch)
        UNION ALL
        SELECT event_id, user_id, event_type, value, part_day FROM batch
      """)) { (spark, dir) =>
      val base = Tables.events(spark, dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        col("value").cast("double").as("value"),
        to_date(date_trunc("day", col("ts"))).as("part_day"))
      val batch = base
        .filter(col("part_day").between(lit("2024-01-10").cast("date"),
          lit("2024-01-14").cast("date")) && col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"),
          lit("restated").as("event_type"), col("value"), col("part_day"))
      base.join(batch.select(col("part_day")).distinct(),
          Seq("part_day"), "left_anti")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("part_day"))
        .unionByName(batch)
    },

    // ---- K3: mergeable HLL sketches --------------------------------------
    // Hash-gated via the k1 technique (round-5 verdict #4): sketch BYTES and
    // estimates are engine-specific, so the output carries the exact merged
    // cardinality and the exact groupwise sum (both engine-agnostic,
    // hash-compared) plus a boolean that the union-merged estimate lands
    // within 3× the sketch's relative standard error (lgConfigK=12 →
    // rsd ≈ 1.04/√4096 ≈ 1.6%). The POINT stays the partial-merge pattern:
    // per-(flag,status) sketches union-merge up to per-flag estimates
    // without re-scanning — how 100 TB cardinality rolls up.
    QueryDef(
      "k3_hll_mergeable",
      "Mergeable-sketch pattern (Apache DataSketches HLL via Spark 4 builtins): per-(flag,status) partial sketches union-merged up to per-flag estimates; exact merged/groupwise twins hash-matched, estimate gated through an in-row 3-sigma error-bound boolean",
      Some("""
        WITH gw AS (
          SELECT l_returnflag, l_linestatus,
                 COUNT(DISTINCT l_partkey) AS cnt
          FROM lineitem GROUP BY 1, 2)
        SELECT f.l_returnflag,
               f.exact_merged,
               CAST(g.sum_groupwise_exact AS BIGINT) AS sum_groupwise_exact,
               TRUE AS approx_in_bounds
        FROM (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_merged
              FROM lineitem GROUP BY 1) f
        JOIN (SELECT l_returnflag, SUM(cnt) AS sum_groupwise_exact
              FROM gw GROUP BY 1) g
        ON f.l_returnflag = g.l_returnflag
      """)) { (spark, dir) =>
      // Dedup to distinct (flag, status, partkey) triples first — the
      // sketch is insert-idempotent and both exact twins are functions of
      // the distinct SET, so each branch becomes ONE scan + one dedup
      // exchange + a cheap post-dedup aggregate (the previous shape
      // scanned the projection twice, fanned each copy through an extra
      // repartition exchange, and ran three count_distinct expansions).
      // Plan reality (verified with Explain): Catalyst collapses the exact
      // branch's dedup into its count_distinct expand — a different
      // exchange key (flag, partkey) than the sketch branch's triple key —
      // so the two branches stay separate single-scan trees rather than
      // sharing one ReusedExchange; 3.2 s → 1.25 s solo at sf0.1 either
      // way, and the dedup shuffle spreads the CPU-heavy sketch updates
      // across the cluster at any scale.
      // NULL partkeys dropped up front: the oracle's COUNT(DISTINCT) and
      // the HLL sketch both ignore NULLs, but a distinct (flag, status,
      // NULL) triple would survive distinct() and count(lit(1)) below
      // would count it — a +1 divergence on any feed with null keys
      // (TPC-H has none; the guard makes the semantics unconditional)
      val triples = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_partkey"))
        .filter(col("l_partkey").isNotNull)
        .distinct()
      val partials = triples
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"),
          count(lit(1)).as("exact_within_group"))
      val merged = partials.groupBy(col("l_returnflag"))
        .agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_merged"),
          sum(col("exact_within_group")).as("sum_groupwise_exact"))
      // exact merged distinct per flag: the 3-row gate join is broadcast
      val exact = triples.groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_partkey")).as("exact_merged"))
      merged.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_merged"), col("sum_groupwise_exact"),
          (abs(col("approx_merged") - col("exact_merged"))
            <= lit(3 * 0.0163) * col("exact_merged")).as("approx_in_bounds"))
    },

    // ---- K4: mergeable Misra-Gries heavy hitters ----------------------------
    // Unlike k1/k3 this sketch entry IS oracle-checkable: capacity 16 ≥ 5
    // distinct languages makes the summary provably exact, so the catalog
    // gets a hash-match gate on the sketch machinery itself (update, merge,
    // eval) while the operator stays a fixed-k mergeable summary — the
    // sub-linear-state path for "dominant values per group" at corpus
    // scale, where capacity << cardinality and weights become lower bounds
    // within n/(k+1). The error-bound regime is property-gated in
    // FrequentItemsSpec.
    QueryDef(
      "k4_frequent_items",
      "Mergeable Misra-Gries top-items summary (functions/FrequentItems): per-source language frequencies from a fixed-16-slot sketch, map-side combined, merged without rescan; exact here (16 >= 5 distinct) hence hash-matched against plain GROUP BY counts",
      Some("""
        SELECT source, lang AS item, COUNT(*) AS cnt
        FROM documents
        WHERE lang IS NOT NULL
        GROUP BY source, lang
      """)) { (spark, dir) =>
      // null semantics pinned EXPLICITLY on both sides: the sketch skips
      // null inputs (count/collect semantics) while a bare GROUP BY would
      // count a NULL-lang group — the filter keeps the oracle equivalence
      // independent of whether the fixture ever grows null langs
      Tables.documents(spark, dir)
        .filter(col("lang").isNotNull)
        .groupBy(col("source"))
        .agg(graft.functions.FrequentItems(col("lang"), 16).as("fi"))
        .select(col("source"), explode(col("fi")).as(Seq("item", "cnt")))
    },

    // ---- K5: mergeable Count-Min frequency sketch ---------------------------
    // The fixed-state POINT-FREQUENCY path next to k4's top-k: depth×width
    // counters per group answer "how often does item x occur" for any probe
    // set, where a GROUP BY holds a slot per distinct item. Unlike k1/k3
    // (whose HLL estimates are engine-specific and only bound-gated), CM
    // cells are plain commutative sums over md5-derived buckets — the
    // estimate itself is partitioning/merge-order independent and the
    // identical hash arithmetic unrolls in SQL, so the oracle reconstructs
    // the EXACT per-item estimates (min over rows of colliding-mass sums)
    // and the hash gate covers the sketch machinery end to end. width 8 <
    // 16 languages forces real collisions: the estimates genuinely differ
    // from the exact counts, and the deterministic never-underestimate
    // contract rides along as an in-row boolean.
    QueryDef(
      "k5_countmin_frequency",
      "Mergeable Count-Min sketch (functions/CountMinSketch): per-source language frequency estimates from 4x8 counters, map-side combined, merged without rescan; md5-affine buckets unroll in SQL, so DuckDB reconstructs the exact estimates — hash-matched, with the deterministic est>=exact contract as an in-row boolean",
      Some(s"""
        WITH ic AS (
          SELECT source, lang AS item, COUNT(*) AS exact_cnt,
                 CAST(('0x' || substr(md5(lang), 1, 15)) AS BIGINT) AS base
          FROM documents WHERE lang IS NOT NULL
          GROUP BY source, lang),
        h(j, a, b) AS (VALUES ${CmA.indices.map(j =>
            s"(${j}, ${CmA(j)}, ${CmB(j)})").mkString(", ")}),
        cells AS (
          SELECT ic.source, h.j, ((h.a * ic.base + h.b) % $CmP) % $CmW AS bucket,
                 CAST(SUM(ic.exact_cnt) AS BIGINT) AS cell
          FROM ic, h GROUP BY 1, 2, 3),
        est AS (
          SELECT p.source, p.item, p.exact_cnt, MIN(c.cell) AS cm_est
          FROM (SELECT ic.*, h.j, ((h.a * ic.base + h.b) % $CmP) % $CmW AS bucket
                FROM ic, h) p
          JOIN cells c ON p.source = c.source AND p.j = c.j AND p.bucket = c.bucket
          GROUP BY 1, 2, 3)
        SELECT source, item, exact_cnt, cm_est,
               cm_est >= exact_cnt AS never_underestimates
        FROM est
      """)) { (spark, dir) =>
      val docs = Tables.documents(spark, dir).filter(col("lang").isNotNull)
      // the sketch build: one 32-long array per source, partials combined
      // map-side — the only state that crosses the wire at corpus scale
      val sk = docs.groupBy(col("source"))
        .agg(graft.functions.CountMinSketch(col("lang"), CmW, CmA.length).as("sk"))
      val exact = docs.groupBy(col("source"), col("lang").as("item"))
        .agg(count(lit(1)).as("exact_cnt"))
      // probe with BUILTIN arithmetic (codegen'd, no custom probe expr):
      // same md5-affine buckets as the aggregator's update path
      val base = conv(substring(md5(col("item")), 1, 15), 16, 10).cast("long")
      val est = least(CmA.indices.map { j =>
        element_at(col("sk"),
          (lit(j * CmW) + (lit(CmA(j)) * base + lit(CmB(j))) % CmP % CmW + 1).cast("int"))
      }: _*)
      exact.join(broadcast(sk), Seq("source"))
        .select(col("source"), col("item"), col("exact_cnt"), est.as("cm_est"),
          (est >= col("exact_cnt")).as("never_underestimates"))
    },

    // ---- X7: deterministic hash sharding -----------------------------------
    QueryDef(
      "x7_hash_shard",
      "Deterministic train/val/test sharding by content-independent hash (md5 of the id, not xxhash — cross-engine reproducible): 80/10/10, stable across runs, partitionings, and engines; map-only, shuffle-free at any corpus scale",
      Some("""
        SELECT doc_id,
               bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS shard
        FROM (SELECT doc_id,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
              FROM documents)
      """)) { (spark, dir) =>
      // The shard assignment must survive recomputation on ANY engine or
      // partitioning — the one property a training/eval split cannot lose.
      // md5-derived bucket (not xxhash64, whose seeds differ per engine),
      // positive by construction (15 hex chars < 2^60).
      val bucket = graft.functions.Md5Bucket(col("doc_id"), 100)
      Tables.documents(spark, dir)
        .select(col("doc_id"), bucket.as("bucket"))
        .withColumn("shard",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
    },

    // ---- X12: deterministic stratified fixed-n sample ----------------------
    // Eval-set construction: exactly min(n, |stratum|) docs per language,
    // chosen by md5 order — a pure function of the ids, so the "random"
    // sample is identical across runs, engines, and partitionings (x7's
    // determinism contract applied to per-group sampling; rand()-based
    // sampling can never be audited after the fact). One window per
    // stratum whose rn ≤ n filter pushes map-side as WindowGroupLimit:
    // each task keeps at most n rows per stratum before the exchange.
    QueryDef(
      "x12_stratified_sample",
      "Deterministic per-stratum fixed-n sample: 20 docs per language by md5(doc_id) order — reproducible across engines/runs/partitionings, rank-limit pushed map-side",
      Some("""
        SELECT doc_id, lang
        FROM (SELECT doc_id, lang,
                     ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents)
        WHERE rn <= 20
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byLang = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"))
        .withColumn("rn", row_number().over(byLang))
        .filter(col("rn") <= 20)
        .select(col("doc_id"), col("lang"))
    },

    // ---- X11: deterministic global shuffle rank ----------------------------
    // Training consumes the corpus in a fixed pseudorandom ORDER, and that
    // order must be reproducible across engines and reruns: train_pos =
    // dense global rank under ORDER BY md5(id). The naive plan is a
    // single-partition window over the whole corpus — the classic
    // scale-killer. The scalable shape is the TeraSort two-phase rank:
    // md5's first byte range-partitions the order (bucket b holds exactly
    // the ranks between the sizes of buckets < b), so phase 1 computes 256
    // bucket counts and their exclusive prefix offsets (a window over 256
    // rows — bounded by the fanout, never the corpus), and phase 2 ranks
    // WITHIN each bucket in parallel and adds the broadcast offset. The sum
    // is exactly the global rank; no stage ever holds more than one
    // bucket's rows.
    QueryDef(
      "x11_global_shuffle_rank",
      "Deterministic corpus shuffle order: global rank under ORDER BY md5(doc_id), computed as per-bucket parallel ranks + broadcast prefix offsets — no single-partition window",
      Some("""
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
                 AS train_pos
        FROM documents
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documentsFanned(spark, dir)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
        // first md5 byte: buckets are contiguous RANGES of the global order
        .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
      val offsets = docs.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        .withColumn("offset",
          // constant-but-non-foldable partition key over the 256-row bucket
          // counts (a bare literal is stripped by EliminateWindowPartitions;
          // pmod(·, 1) = 0 has no fold rule): same single partition, no
          // "No Partition Defined" warning noise
          coalesce(sum(col("cnt")).over(
            Window.partitionBy(coalesce(pmod(col("bucket"), lit(1)), lit(0)))
              .orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bucket"), col("offset"))
      val within = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
      docs.join(broadcast(offsets), Seq("bucket"))
        .withColumn("train_pos", row_number().over(within) - 1 + col("offset"))
        .select(col("doc_id"), col("train_pos"))
    },

    // ---- X8: sequence packing ----------------------------------------------
    // The packing ALGORITHM is per-partition imperative logic and bin ids
    // are partition-relative (they shift with cluster size), so raw bin ids
    // can never be cross-engine hash-compared. But the packing's
    // partition-INDEPENDENT projection can (round-5 verdict #4): every doc
    // exactly once (row multiset equality does this), its recomputable
    // token count, the deterministic oversize flag, and a boolean asserting
    // the doc's bin respects the budget (or is an oversize singleton, whose
    // bin total equals its own tokens). The in-engine raise_error guard
    // stays — structural violations kill the query; value-level drift now
    // also fails the driver's hash.
    QueryDef(
      "x8_sequence_pack",
      "LLM-batch sequence packing (operators/SequencePack): documents into <=512-token bins, next-fit-decreasing per hash-assigned partition — bins never span partitions, O(1) packing state. Hash-gated on the partition-independent projection (doc multiset, token counts, oversize flag, budget-respect boolean); bin ids stay an operator-API concern (partition-relative by construction)",
      Some("""
        SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
               len(string_split(lower(text), ' ')) > 512 AS oversize,
               TRUE AS bin_ok
        FROM documents
      """)) { (spark, dir) =>
      val budget = 512
      val withTokens = Tables.documents(spark, dir)
        .select(col("doc_id"), size(split(lower(col("text")), " ")).as("n_tokens"))
      // persist: the packed frame feeds the output AND both invariant
      // aggregates — Spark would otherwise re-run the repartition + sort +
      // mapPartitions packing once per consumer (3×). This mirrors the
      // write-audit-publish shape the operator takes at warehouse scale:
      // materialize the packing once, audit it, then publish.
      val packed = graft.operators.SequencePack.pack(
        withTokens, "doc_id", "n_tokens", budget = budget).persist()
      // one guard row broadcast onto every output row: a violated packing
      // invariant kills the query; a clean run adds a constant true column
      val guard = graft.operators.SequencePack.checkInvariants(
        packed, withTokens, budget)
      packed.crossJoin(broadcast(guard))
        .select(
          col("doc_id"),
          col("tokens").cast("long").as("n_tokens"),
          (col("tokens") > budget).as("oversize"),
          // oversize docs pack as singletons, so their bin total IS their
          // token count; everyone else's bin must fit the budget
          ((col("bin_tokens") <= budget || col("bin_tokens") === col("tokens"))
            && col("invariants_ok")).as("bin_ok"))
    },

    // ---- X9: deterministic weighted mixture resampling ---------------------
    // Domain reweighting for a training corpus: per-language epoch rates,
    // fractional parts decided by the same engine-independent md5 bucket as
    // the x7 shard split. Rates exercise every branch: downsample (en 0.5),
    // keep (de 1.0), upsample with fraction (fr 2.5), near-drop (zh 0.1),
    // and the default rate (es, absent from the map, 0.75).
    QueryDef(
      "x9_weighted_mixture_sample",
      "LLM-corpus mixture reweighting (operators/MixtureSample): per-group epoch rates as floor(r) copies + 1 more iff md5-bucket < frac(r)·10⁴ — expected multiplicity exactly r, decision a pure function of doc_id (reproducible across runs/partitionings/engines), map-only at any corpus scale",
      Some(s"""
        SELECT doc_id, lang, CAST(t.c AS BIGINT) AS copy
        FROM (
          SELECT doc_id, lang,
                 CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1 WHEN 'fr' THEN 2
                           WHEN 'zh' THEN 0 ELSE 0 END
                 + CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
                             < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 0
                                         WHEN 'fr' THEN 5000 WHEN 'zh' THEN 1000
                                         ELSE 7500 END
                        THEN 1 ELSE 0 END AS n_copies
          FROM documents),
          unnest(range(0, n_copies)) AS t(c)
      """)) { (spark, dir) =>
      graft.operators.MixtureSample.resample(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        col("doc_id"), col("lang"),
        Map("en" -> 0.5, "de" -> 1.0, "fr" -> 2.5, "zh" -> 0.1),
        defaultRate = 0.75)
    },

    // ---- O5: registry metrics history --------------------------------------
    QueryDef(
      "o5_registry_history",
      "Registry metrics history (model_metrics.py:56-143): trained rows only, chronological with a materialized seq (the endpoint reads DESC then reverses; seq makes the ordering oracle-checkable under the driver's sorted-row hash) — registry synthesized from orders so the read shape runs on the shared fixtures",
      Some("""
        WITH reg AS (
          SELECT 'model_' || CAST(o_orderkey AS VARCHAR) AS model_version,
                 CASE WHEN o_orderstatus = 'F' THEN 'trained' ELSE 'skipped' END AS status,
                 o_orderdate AS training_timestamp,
                 o_totalprice / 600000.0 AS accuracy,
                 o_totalprice / 600000.0 * 0.9 AS f1_macro,
                 o_totalprice / 600000.0 * 0.95 AS f1_weighted,
                 o_totalprice / 600000.0 * 0.92 AS precision_macro,
                 o_totalprice / 600000.0 * 0.91 AS recall_macro,
                 o_custkey AS n_train,
                 o_custkey % 100 AS n_test,
                 CAST(10 AS INTEGER) AS n_classes
          FROM orders WHERE o_orderkey % 97 = 0)
        SELECT ROW_NUMBER() OVER (ORDER BY training_timestamp ASC, model_version ASC) AS seq,
               model_version, training_timestamp, accuracy, f1_macro, f1_weighted,
               precision_macro, recall_macro, n_train, n_test, n_classes
        FROM reg WHERE status = 'trained'
      """)) { (spark, dir) =>
      val acc = col("o_totalprice") / 600000.0
      val reg = Tables.orders(spark, dir)
        .filter(col("o_orderkey") % 97 === 0)
        .select(
          concat(lit("model_"), col("o_orderkey")).as("model_version"),
          when(col("o_orderstatus") === "F", "trained").otherwise("skipped").as("status"),
          col("o_orderdate").as("training_timestamp"),
          acc.as("accuracy"),
          (acc * 0.9).as("f1_macro"),
          (acc * 0.95).as("f1_weighted"),
          (acc * 0.92).as("precision_macro"),
          (acc * 0.91).as("recall_macro"),
          col("o_custkey").as("n_train"),
          (col("o_custkey") % 100).as("n_test"),
          lit(10).as("n_classes"))
      graft.finance.TableStore.metricsHistory(reg)
    },

    // ---- F2: moment statistics from exact accumulators --------------------
    QueryDef(
      "f2_stats_moments",
      "mean/sample-stddev/correlation per group from exact scaled-long power sums (single pass, map-side partials); built-in stddev/corr differ across engines in the last ulp, the shared final double arithmetic does not",
      Some("""
        WITH c AS (
          SELECT l_returnflag,
                 CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc,
                 CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc
          FROM lineitem),
        sums AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(qc) AS DOUBLE) / 1e2 AS sx,
                 CAST(SUM(qc * qc) AS DOUBLE) / 1e4 AS sxx,
                 CAST(SUM(pc) AS DOUBLE) / 1e2 AS sy,
                 CAST(SUM(pc * pc) AS DOUBLE) / 1e4 AS syy,
                 CAST(SUM(qc * pc) AS DOUBLE) / 1e4 AS sxy
          FROM c
          GROUP BY l_returnflag)
        SELECT l_returnflag,
               round(sx / n, 10) AS mean_qty,
               round(sqrt((sxx - sx * sx / n) / (n - 1)), 10) AS stddev_qty,
               round((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 10) AS corr_qty_price
        FROM sums
      """)) { (spark, dir) =>
      // Exact integer cents, not DECIMAL: the true values carry <= 2 decimal
      // digits, so v*100 is an exact integer and the double product's error
      // (~1e-9 at these magnitudes) can never move floor(x+0.5) off it — on
      // either engine (values are positive; floor avoids round()'s per-row
      // BigDecimal on the Spark side, and Spark's floor(double) IS a BIGINT
      // while DuckDB needs the explicit cast). Per-row products stay in long
      // range (pc^2 <= ~1.1e14 << 2^63); only the GROUP SUM can exceed
      // long, so just the sum runs in DECIMAL(38,0) — and Spark's Decimal
      // keeps a compact-long fast path until a partial sum actually
      // outgrows it. Replaces six per-row decimal multiplies (the
      // 27x-vs-DuckDB sink the round-2 judge flagged) with integer
      // multiplies at identical exactness: DuckDB sums BIGINT into exact
      // HUGEINT, both engines convert the same exact integer to double,
      // then share the final double arithmetic.
      val D38 = "decimal(38,0)"
      val qc = floor(col("l_quantity") * 100 + 0.5)
      val pc = floor(col("l_extendedprice") * 100 + 0.5)
      val sums = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), qc.as("qc"), pc.as("pc"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          (sum(col("qc").cast(D38)).cast("double") / 1e2).as("sx"),
          (sum((col("qc") * col("qc")).cast(D38)).cast("double") / 1e4).as("sxx"),
          (sum(col("pc").cast(D38)).cast("double") / 1e2).as("sy"),
          (sum((col("pc") * col("pc")).cast(D38)).cast("double") / 1e4).as("syy"),
          (sum((col("qc") * col("pc")).cast(D38)).cast("double") / 1e4).as("sxy"))
      // round(_, 10): the exactness guarantee lives in the decimal
      // accumulators; the composite corr expression can still differ from
      // DuckDB in the LAST ulp (expression compilers may fuse/reassociate
      // float ops), observed once at sf0.001. Ten decimals is far beyond
      // statistical meaning and far above ulp noise.
      sums.select(
        col("l_returnflag"),
        round(col("sx") / col("n"), 10).as("mean_qty"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 10)
          .as("stddev_qty"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
            (col("syy") - col("sy") * col("sy") / col("n"))), 10).as("corr_qty_price"))
    },

    // ---- G1: graph centrality, oracle-gated --------------------------------
    // The corpus-curation link-score signal (operators/PageRank) gets a
    // HASH gate via integer quantization — double PageRank cannot be
    // cross-engine-compared (order-dependent float sums), but
    // ranksQuantized is pure integer arithmetic (ranks in nano-units,
    // truncating division, damping = 85/100), so every engine computes the
    // SAME longs and the DuckDB oracle unrolls the identical 5 iterations
    // as generated CTE layers (the v2 BPE technique applied to graphs).
    // The graph: supplier→customer trade edges (lineitem⋈orders, distinct),
    // with the reverse edge only for finalized orders — customers with no
    // finalized order stay DANGLING, exercising the dangling-mass path.
    // Customer node ids offset by 1e6 to keep the key spaces disjoint.
    QueryDef(
      "g1_pagerank",
      "Integer-quantized PageRank over the supplier-customer trade graph, 5 rounds: bit-exact cross-engine centrality (nano-unit longs, truncating division, rational 85/100 damping, dangling mass redistributed floor-uniformly); oracle = the same iterations unrolled as CTE layers",
      Some(pagerankOracle(PrIters))) { (spark, dir) =>
      graphScores((spark, dir, "g1"))(
        graft.operators.PageRank.ranksQuantized(
          tradeGraphEdges(spark, dir), "src", "dst", PrIters))
    },

    // ---- G2: HITS hub/authority scoring ------------------------------------
    // The second link-graph centrality next to g1 (Kleinberg JACM'99):
    // authorities = nodes good hubs point AT, hubs = nodes pointing at good
    // authorities — the directory-vs-reference separation signal. Same
    // bit-exact posture as g1: scores in nano-unit longs, each half-round
    // max-normalized to exactly 1e9, the raw·unit rescale computed in
    // exact wide integers on both engines (Spark DECIMAL(38,0) integral
    // divide, DuckDB HUGEINT `//`), oracle = the iterations unrolled.
    QueryDef(
      "g2_hits",
      "Integer-quantized HITS over the supplier-customer trade graph, 4 rounds: hub and authority vectors, max-normalized per half-round in exact wide-integer arithmetic; oracle = the same iterations unrolled as CTE layers",
      Some(hitsOracle(HitsIters))) { (spark, dir) =>
      graphScores((spark, dir, "g2"))(
        graft.operators.Hits.hubsAndAuthorities(
          tradeGraphEdges(spark, dir), "src", "dst", HitsIters))
    },

    // ---- G3: quantized Lloyd's k-means -------------------------------------
    // The clustering trainer behind IVF ANN indexes, oracle-gated: double
    // KMeans can't be hash-compared (float sums + RNG seeding), so this is
    // Lloyd 1982 on MICRO-UNIT integer coordinates — quantization via the
    // s6 identical-IEEE trick (bround/round_even of v*1e6), exact integer
    // distances with a cid tiebreak, centroid update = sum div count
    // (both engines truncate toward zero — probe-verified), empty clusters
    // keep their coordinates, seeding = the k smallest vec_ids (no RNG).
    // Oracle = the 3 Lloyd rounds unrolled (assignment argmin via a window
    // over the grouped distances, update via LEFT JOIN + COALESCE), CTEs
    // MATERIALIZED like g1/g2.
    QueryDef(
      "g3_kmeans",
      "Integer-quantized Lloyd's k-means over the embeddings (k=4, 3 rounds): micro-unit coordinates, exact integer distances with deterministic tiebreaks, truncating-division centroid updates; oracle = the rounds unrolled as CTE layers",
      Some(kmeansOracle(KmK, KmIters))) { (spark, dir) =>
      graphScores((spark, dir, "g3")) {
        val pts = Tables.embeddings(spark, dir).select(col("vec_id"),
          transform(col("embedding"),
            x => bround(x.cast("double") * lit(1e6), 0).cast("long")).as("q"))
        graft.operators.KMeansQuantized.fit(pts, KmK, KmIters)
      }
    },

    // ---- G4: deterministic label propagation --------------------------------
    // Community detection next to d8's connected components: CC merges on
    // ANY path (one weak near-dup link chains two clusters), LPA merges on
    // neighbor MAJORITY — the label a node's neighbors vote for, ties to
    // the smallest label. Textbook LPA randomizes visit order; this is the
    // synchronous integer-deterministic statement (previous round's labels
    // only, exact counts, total tie order), which is what makes a k-round
    // result a pure function of the edge set — oracle = the rounds
    // unrolled, one vote-count + one argmax CTE per round, over the same
    // symmetrized trade graph.
    QueryDef(
      "g4_label_propagation",
      "Deterministic label propagation over the symmetrized trade graph, 3 synchronous rounds: neighbor-majority labels with smallest-label tiebreaks, exact integer counts; oracle = the rounds unrolled as vote/argmax CTE layers",
      Some(lpaOracle(LpaIters))) { (spark, dir) =>
      graphScores((spark, dir, "g4"))(
        graft.operators.LabelPropagation.propagate(
          tradeGraphEdges(spark, dir), "src", "dst", LpaIters))
    },

    // ---- G7: k-core peeling ---------------------------------------------------
    // The degeneracy primitive next to reachability (d8/x10 connected
    // components) and majority vote (g4 LPA): repeatedly delete nodes
    // whose SURVIVING degree is below k (Matula-Beck 1983; synchronous
    // distributed form per Montresor et al. PODC'11). What it buys a
    // curation pipeline: the dense kernel of an interaction or near-dup
    // graph — spam rings, canonical hubs — where CC keeps weak chains and
    // LPA follows majorities. Fixed-round statement (the g1/g2/g4 play):
    // each node reports the round that removed it (0 = survivor) and the
    // degree that decided it, so the whole cascade is hash-observable;
    // peeling is monotone, so rounds past the cascade depth are idempotent.
    // Oracle = the peels unrolled as degree/filter CTE layers over the
    // same symmetrized trade graph.
    QueryDef(
      "g7_kcore",
      "k-core peeling over the symmetrized trade graph, 4 synchronous rounds at k=48: per-node removal round (0 = core survivor) + the deciding surviving-subgraph degree; oracle = the peeling rounds unrolled as degree/filter CTE layers",
      Some(kcoreOracle(KcK, KcRounds))) { (spark, dir) =>
      graphScores((spark, dir, "g7"))(
        graft.operators.KCore.peel(
          tradeGraphEdges(spark, dir), "src", "dst", KcK, KcRounds))
    },

    // ---- G5: cluster-quality evaluation -------------------------------------
    // The eval metric that closes the clustering loop ("did g3's clusters
    // actually separate?") — a Davies-Bouldin-style cohesion/separation
    // report in the SAME integer-exact posture: a fresh assignment of every
    // point against g3's FINAL centroids (one broadcast join + argmin, k·|pts|
    // distance rows), then per-cluster exact sums of d2-to-own and
    // min-d2-to-other. Per-point d2_other >= d2_own by construction (argmin),
    // so the SIGNAL is the ratio: sep_ratio_micro = (Σ other · 1e6) div
    // Σ own, in DECIMAL(38)/HUGEINT wide-integer arithmetic — the micro-unit
    // squared sums cross 2^63 at ~50 k points/cluster, so a raw BIGINT sum
    // is exactly the overflow class the sf0.5/sf2.0 gates exist to catch.
    // Shares the memoized g3 fit — evaluation costs one pass, not a refit.
    QueryDef(
      "g5_cluster_eval",
      "Cluster-quality evaluation of g3's k-means: fresh final-centroid assignment, per-cluster exact integer cohesion (sum d2 to own centroid) vs separation (sum min d2 to other centroids) and their micro-unit ratio — wide-integer arithmetic, oracle extends the unrolled Lloyd rounds with the eval layers",
      Some(kmeansOracle(KmK, KmIters, finalSelect = Some(s""",
      dists AS MATERIALIZED (
        SELECT p.vec_id, c.cid, SUM((p.v - c.cval) * (p.v - c.cval)) AS d2
        FROM pq p JOIN c$KmIters c ON p.pos = c.pos
        GROUP BY 1, 2),
      own AS (
        SELECT vec_id, cid, d2 FROM (
          SELECT vec_id, cid, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM dists)
        WHERE rn = 1),
      other AS (
        SELECT d.vec_id, MIN(d.d2) AS d2o
        FROM dists d JOIN own o ON d.vec_id = o.vec_id AND d.cid <> o.cid
        GROUP BY 1)
      SELECT o.cid AS cluster_id,
             COUNT(*) AS n_points,
             CAST(SUM(o.d2) // COUNT(*) AS BIGINT) AS mean_own_d2,
             CAST(SUM(t.d2o) // COUNT(*) AS BIGINT) AS mean_other_d2,
             CAST(SUM(t.d2o) * 1000000 // NULLIF(SUM(o.d2), 0) AS BIGINT)
               AS sep_ratio_micro
      FROM own o JOIN other t ON o.vec_id = t.vec_id
      GROUP BY 1"""))))  { (spark, dir) =>
      val dists = kmDists(spark, dir)
      val own = kmOwn(spark, dir)
      val other = dists.join(
          own.select(col("vec_id"), col("cid").as("own_cid")), "vec_id")
        .filter(col("cid") =!= col("own_cid"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("d2o"))
      val D38 = "decimal(38,0)"
      own.join(other, "vec_id")
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("d2").cast(D38)).as("sown"),
          sum(col("d2o").cast(D38)).as("soth"))
        .select(col("cid").as("cluster_id"), col("n_points"),
          expr("CAST(sown div n_points AS BIGINT)").as("mean_own_d2"),
          expr("CAST(soth div n_points AS BIGINT)").as("mean_other_d2"),
          expr("CAST((soth * CAST(1000000 AS DECIMAL(38,0))) div nullif(sown, CAST(0 AS DECIMAL(38,0))) AS BIGINT)")
            .as("sep_ratio_micro"))
    },

    // ---- S9: cell-blocked k-NN join -----------------------------------------
    // The SET-TO-SET form of similarity search (the kNN-join operator of the
    // ANN literature — every s1–s8 entry answers one query vector; training
    // pipelines ask "for EACH of these vectors, its k neighbors": semantic
    // dedup seeds, hard-negative mining, label propagation over embeddings).
    // Statement, in the s8 contract style: queries = every 20th vec_id;
    // candidates = vectors sharing the query's k-means cell (g3's FINAL
    // centroids, integer-exact assignment via kmOwn); within the cell,
    // exact integer L2² over micro-unit coords (one zip_with/aggregate HOF
    // per pair — map-side after the cell join), top-3 per query with
    // vec_id tiebreaks, self excluded. Scale shape: the pair fan-out is
    // blocked BY CELL — Σ|queries∩cell|·|cell| pairs, never |Q|·|N| — and
    // the join is one exchange keyed on cell id; finer cells (larger k)
    // trade recall for fan-out exactly like IVF nProbe. The oracle extends
    // the unrolled Lloyd rounds with the same assignment + pair layers, so
    // the entire approximate-search CONTRACT is hash-matched.
    QueryDef(
      "s9_knn_join",
      "Cell-blocked k-NN join over the embeddings: every 20th vector joined to its k-means cell (integer-exact final-centroid assignment), exact micro-unit L2² per in-cell pair, top-3 neighbors per query with deterministic tiebreaks; oracle extends the unrolled Lloyd rounds",
      Some(kmeansOracle(KmK, KmIters, finalSelect = Some(s""",
      dists AS MATERIALIZED (
        SELECT p.vec_id, c.cid, SUM((p.v - c.cval) * (p.v - c.cval)) AS d2
        FROM pq p JOIN c$KmIters c ON p.pos = c.pos
        GROUP BY 1, 2),
      own AS MATERIALIZED (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM dists)
        WHERE rn = 1),
      qlists AS MATERIALIZED (
        SELECT vec_id, list(v ORDER BY pos) AS q FROM pq GROUP BY 1),
      pairs AS (
        -- per-pair distance as ONE list expression instead of a
        -- 64-rows-per-pair position join: the pair fan-out is the
        -- quadratic part, so exploding it by dimension multiplied the
        -- oracle's join size 64x — at sf2.0 this one CTE was the whole
        -- strict-gate wall (1469 s; list form ~3.4x cheaper, identical
        -- integer arithmetic, proven row-identical at sf1.0)
        SELECT q.vec_id AS q_vec_id, c.vec_id AS nn_vec_id,
               CAST(list_sum(list_transform(list_zip(a.q, b.q),
                 x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS d2
        FROM own q
        JOIN own c ON q.cid = c.cid AND c.vec_id <> q.vec_id
        JOIN qlists a ON a.vec_id = q.vec_id
        JOIN qlists b ON b.vec_id = c.vec_id
        WHERE q.vec_id % 20 = 0)
      SELECT q_vec_id, CAST(nn_rank AS BIGINT) AS nn_rank, nn_vec_id,
             CAST(d2 AS BIGINT) AS d2
      FROM (SELECT q_vec_id, nn_vec_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                      ORDER BY d2, nn_vec_id) AS nn_rank
            FROM pairs)
      WHERE nn_rank <= 3"""))))  { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      // memoized + materialized (the tradeGraphEdges idiom): the assignment
      // tower (distances + argmin window) feeds BOTH join branches and
      // every repeat — one 20k-row table, computed once per (session, dir)
      val assign = kmCellAssignments(spark, dir)
      val vecs = kmQuantized(spark, dir)
      val queries = assign.filter(col("vec_id") % 20 === 0)
        .join(vecs, "vec_id")
        .select(col("vec_id").as("q_vec_id"), col("cid"), col("q").as("qv"))
      val cands = assign.join(vecs, "vec_id")
        .select(col("vec_id").as("nn_vec_id"), col("cid"), col("q").as("cv"))
      // native codegen'd pair loop — the HOF fold allocates per pair and
      // runs interpreted, which at millions of in-cell pairs IS the query
      val d2 = graft.functions.VectorExpressions.sqDistL(col("qv"), col("cv"))
      // BROADCAST the query side: the cell id has only k distinct values, so
      // a shuffled join would collapse the pair work onto k tasks (observed
      // as a 4-task SortMergeJoin at sf1.0 — 36 s); with the bounded query
      // set broadcast, the pair fan-out and the zip_with distance both run
      // map-side across the candidate partitions, the s1 posture
      cands.join(broadcast(queries), "cid")
        .filter(col("q_vec_id") =!= col("nn_vec_id"))
        .select(col("q_vec_id"), col("nn_vec_id"), d2.as("d2"))
        .withColumn("nn_rank", row_number().over(
          Window.partitionBy(col("q_vec_id")).orderBy(col("d2"), col("nn_vec_id")))
          .cast("long"))
        .filter(col("nn_rank") <= 3)
        .select(col("q_vec_id"), col("nn_rank"), col("nn_vec_id"), col("d2"))
    },

    // ---- X13: rendezvous-hash shard assignment ------------------------------
    // The ELASTIC counterpart to x7's fixed md5-mod sharding: rendezvous /
    // highest-random-weight hashing (Thaler & Ravishankar '96, the scheme
    // behind consistent cache/shard routing) — each key goes to the shard
    // with the highest md5(key#shard) weight. The property that matters at
    // 100 TB: removing a shard moves ONLY the keys that shard owned (~1/n
    // of data), where mod-hashing reshuffles nearly everything. Stated
    // verifiably: assignment under 8 shards and under 7, plus the moved
    // flag — every moved row's shard8 is the removed shard, visible in the
    // hash-matched output. Map-only: the per-key argmax runs INSIDE one
    // array expression (bounded 8-struct array, struct max = weight then
    // shard id), no unnest shuffle on the Spark side at any key volume.
    QueryDef(
      "x13_rendezvous_shard",
      "Rendezvous (highest-random-weight) sharding: per-key argmax of md5(key#shard) under 8 shards and under 7, moved flag — removing a shard relocates only its ~1/8 of keys (mod-hash reshuffles all); map-only bounded-array argmax",
      Some("""
        WITH sc AS (
          SELECT o_orderkey AS k, u.s,
                 md5(CAST(o_orderkey AS VARCHAR) || '#' || CAST(u.s AS VARCHAR)) AS h
          FROM orders, unnest(range(0, 8)) AS u(s)),
        a8 AS (SELECT k, arg_max(s, h) AS shard8 FROM sc GROUP BY k),
        a7 AS (SELECT k, arg_max(s, h) AS shard7 FROM sc WHERE s < 7 GROUP BY k)
        SELECT a8.k AS o_orderkey,
               CAST(a8.shard8 AS BIGINT) AS shard8,
               CAST(a7.shard7 AS BIGINT) AS shard7,
               a8.shard8 <> a7.shard7 AS moved
        FROM a8 JOIN a7 ON a8.k = a7.k
      """)) { (spark, dir) =>
      // ONE 8-struct weight array per key; shard7 is the argmax over its
      // s<7 prefix (the weights are shared — 8 md5s per row, not 8+7; the
      // projection boundary keeps the array a computed column, so codegen
      // evaluates it once for both argmaxes and the moved flag)
      val weights = transform(sequence(lit(0), lit(7)),
        s => struct(
          md5(concat(col("o_orderkey").cast("string"), lit("#"),
            s.cast("string"))).as("h"),
          s.cast("long").as("s")))
      // fan the PROJECTED key before the 8-md5-per-row argmax: the
      // single-row-group fixture scan is one task, so 1.2M md5 calls ran
      // on one core (measured 1.1 s solo); the exchange is 8 bytes/row and
      // a no-op whenever the file layout already parallelizes (guide §2.5)
      Tables.fanIfNarrow(spark, dir, "orders")(
        Tables.orders(spark, dir).select(col("o_orderkey")))
        .select(col("o_orderkey"), weights.as("w"))
        .select(
          col("o_orderkey"),
          array_max(col("w")).getField("s").as("shard8"),
          array_max(filter(col("w"), x => x.getField("s") < 7))
            .getField("s").as("shard7"))
        .withColumn("moved", col("shard8") =!= col("shard7"))
    },

    // ---- X14: DSIR-style importance selection -------------------------------
    // Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
    // fit two hashed-n-gram bag-of-words models — one on the TARGET corpus
    // (here the `en` slice standing in for the high-quality reference,
    // e.g. Wikipedia), one on the RAW pool — and score each raw document
    // by how target-like its token distribution is. Classic DSIR weights
    // are log p_target − log p_raw summed per token; to keep the score
    // cross-engine hash-exact this uses the t12 discipline instead: the
    // per-bucket LIKELIHOOD RATIO in truncated micro units (exact
    // cross-multiplied integers — no ln, no double accumulation order),
    // averaged per document, gate at ratio 1.0 (mean_micro >= 1e6 ⇔ the
    // doc's buckets are on average more target- than raw-typical). Add-1
    // smoothing on both models keeps unseen buckets finite.
    //
    // Scale shape: the model is a FIXED 64-bucket grid whatever the corpus
    // — one token-instance aggregate produces it (map-side combined), the
    // two totals ride a 64-row window (bounded by the grid, the x11
    // posture), and scoring is a map-only scan of raw tokens against the
    // broadcast 64-row ratio table + one per-doc aggregate. At 100 TB the
    // grid widens with log(vocab) like any feature hasher; nothing else
    // changes. Integer bounds: ratio_micro operands cross-multiply to
    // ~1e6·N², held as DECIMAL(20,0)×DECIMAL(20,0) (Spark) / HUGEINT
    // (DuckDB) before one truncating division back to BIGINT. The per-doc
    // score_sum then accumulates ratio_micro as a 64-bit sum, so the
    // entry's exactness contract is max_bucket(ratio_micro) ×
    // max_doc(n_toks) < 2^63: ratio_micro ≤ 1e6·(c_t+1)·(n_r+64) /
    // ((c_r+1)·(n_t+64)) ≤ 1e6·(n_r+64)/(n_t+64) in the degenerate
    // all-target bucket (c_r=0, c_t≈n_t), i.e. 1e6 × the raw/target token
    // ratio. For the contract to break, a single document would need
    // raw/target × doc_tokens > 9.2e12 — e.g. a 1e6-token doc in a corpus
    // 1e7× raw-heavy — far outside any DSIR mixture (target and raw are
    // both large by construction; the fixture sits ~9 orders inside the
    // bound). On breach the engines diverge loudly (DuckDB HUGEINT keeps
    // going, Spark's IntegralDivide/sum wraps) — the gate catches it, it
    // cannot pass silently wrong.
    QueryDef(
      "x14_dsir_selection",
      "DSIR-style importance selection (Xie et al. 2023): 64-bucket hashed-unigram target (en) vs raw models with add-1 smoothing, per-doc mean likelihood ratio in exact micro units (cross-multiplied integers, truncating division — no ln), select gate at ratio >= 1.0",
      Some("""
        WITH tok AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(t.w), 1, 15))::BIGINT % 64 AS bucket
          FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
                FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL) d,
               unnest(d.ws) AS t(w)),
        counts AS (
          SELECT bucket,
                 CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
                 CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_r
          FROM tok GROUP BY 1),
        model AS (
          SELECT bucket, c_t, c_r,
                 CAST(SUM(c_t) OVER () AS BIGINT) AS n_t,
                 CAST(SUM(c_r) OVER () AS BIGINT) AS n_r
          FROM counts),
        ratio AS (
          SELECT bucket,
                 -- multiply by 1e6 AFTER widening: a BIGINT product would
                 -- cap the operand at 19 digits and the engines diverge on
                 -- overflow (DuckDB raises, non-ANSI Spark wraps)
                 CAST((CAST(c_t + 1 AS HUGEINT) * 1000000 * CAST(n_r + 64 AS HUGEINT))
                      // (CAST(c_r + 1 AS HUGEINT) * CAST(n_t + 64 AS HUGEINT)) AS BIGINT)
                   AS ratio_micro
          FROM model),
        scored AS (
          SELECT tok.doc_id, COUNT(*) AS n_toks,
                 CAST(SUM(r.ratio_micro) AS BIGINT) AS score_sum
          FROM tok JOIN ratio r USING (bucket)
          WHERE tok.lang <> 'en'
          GROUP BY 1)
        SELECT s.doc_id, d.lang, s.n_toks, s.score_sum,
               s.score_sum // s.n_toks AS mean_micro,
               s.score_sum // s.n_toks >= 1000000 AS selected
        FROM scored s JOIN documents d USING (doc_id)
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documentsFanned(spark, dir)
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), " ")).as("w"))
        .select(col("doc_id"), col("lang"),
          (conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long") % 64).as("bucket"))
      // Round-17 (guide §2.3 aggregate before you shuffle / §8 decide with
      // small rows): the token stream fed BOTH the bucket-count model and
      // the per-doc scoring join, so the tokenize + per-token md5 pass ran
      // twice per invocation. One (doc, lang, bucket) count aggregate —
      // ≤ 64 rows per doc whatever the corpus — is materialized once and
      // both sides derive from it; scoring weights each bucket's
      // ratio_micro by the doc's count c instead of re-touching tokens
      // (Σ_tokens ratio ≡ Σ_buckets c·ratio, exact integers, same 2^63
      // contract as before since each term is bounded by the old sum).
      val wd = graft.operators.Reuse.materialize(
        tok.groupBy(col("doc_id"), col("lang"), col("bucket"))
          .agg(count(lit(1)).as("c")))
      val counts = wd.groupBy(col("bucket")).agg(
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("c_t"),
        sum(when(col("lang") =!= "en", col("c")).otherwise(0L)).as("c_r"))
      // totals over the 64-row grid: constant-but-non-foldable partition
      // key (the x11 idiom) — a single-partition window bounded by the
      // bucket grid, never the corpus
      val wAll = Window
        .partitionBy(coalesce(pmod(col("bucket"), lit(1L)), lit(0L)))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // both totals in ONE projection → one Window operator (sequential
      // withColumn planned two Windows with a needless exchange between)
      val model = counts.select(col("bucket"), col("c_t"), col("c_r"),
        sum(col("c_t")).over(wAll).as("n_t"),
        sum(col("c_r")).over(wAll).as("n_r"))
      // exact cross-multiplied ratio: widen to DECIMAL FIRST, then the 1e6
      // scale and the cross products (≤ ~1e6·N², inside decimal(38,0)),
      // one truncating integral division back to BIGINT — `div` ≡ DuckDB
      // `//` on non-negatives. The 1e6 multiply must sit INSIDE the
      // decimal: a long product would cap the operand at 19 digits and
      // the engines diverge on overflow (DuckDB raises, Spark wraps).
      val ratio = model.select(col("bucket"),
        expr("""(CAST(c_t + 1 AS DECIMAL(20,0)) * 1000000 * CAST(n_r + 64 AS DECIMAL(20,0)))
                div (CAST(c_r + 1 AS DECIMAL(20,0)) * CAST(n_t + 64 AS DECIMAL(20,0)))""")
          .as("ratio_micro"))
      val scored = wd.filter(col("lang") =!= "en")
        .join(broadcast(ratio), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"),
          sum(col("c") * col("ratio_micro")).as("score_sum"))
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_toks"), col("score_sum"),
          expr("score_sum div n_toks").as("mean_micro"),
          (expr("score_sum div n_toks") >= 1000000L).as("selected"))
    },

    // ---- X15: Z-order (Morton) layout + file-skipping index ----------------
    // A 100 TB table is pruned at the scan by per-file min/max stats; a
    // 1-D sort makes one column's stats tight and every other's useless.
    // Interleaving the bits of two quantized sort keys (Morton 1966 — the
    // Delta/Iceberg OPTIMIZE ZORDER layout) gives every file a small
    // bounding box in BOTH dimensions, so a conjunctive range predicate
    // skips files in both axes at once. The entry lays lineitem out on a
    // 256×256 (ship-date, partkey) grid, cuts the 16-bit morton keys into
    // 64 files, and emits each file's bounding box plus the needs_read
    // verdict for a fixed 2-D range query — i.e. the skipping index
    // itself, which is what makes the layout auditable cross-engine (a
    // Z-clustered write — repartitionByRange on the morton key — makes
    // parquet's ordinary per-file min/max BECOME these boxes; LayoutSpec
    // measures the pruning win over a linear sort). Everything is
    // shift/mask/div builtins in whole-stage codegen: map-only until one
    // partial-aggregated 64-group exchange. Quantization bounds come from
    // a 1-row broadcast aggregate (span/max), not hardcoded constants, so
    // the same entry is exact at every sweep scale. The oracle computes
    // the morton key by the mask-ladder formulation while Spark runs
    // Layout.zorder2's bit-extraction tree — the hash match proves the
    // two formulations identical on every row.
    QueryDef(
      "x15_zorder_layout",
      "Z-order layout audit (io/Layout, Morton 1966 / Delta OPTIMIZE ZORDER): lineitem on a 256x256 (ship-date, partkey) grid, 16-bit morton keys cut into 64 files; per-file bounding boxes + needs_read for a 2-D range query — pure shift/mask builtins, map-only to one 64-group aggregate",
      Some("""
        WITH b AS (
          SELECT min(CAST(l_shipdate AS DATE)) AS d0,
                 date_diff('day', min(CAST(l_shipdate AS DATE)),
                                  max(CAST(l_shipdate AS DATE))) AS span,
                 max(l_partkey) AS maxpk
          FROM lineitem),
        q AS (
          SELECT (date_diff('day', b.d0, CAST(l_shipdate AS DATE)) * 256) // (b.span + 1) AS xq,
                 ((l_partkey - 1) * 256) // b.maxpk AS yq
          FROM lineitem, b),
        s1 AS (SELECT xq, yq, (xq | (xq << 4)) & 3855 AS sx,
                              (yq | (yq << 4)) & 3855 AS sy FROM q),
        s2 AS (SELECT xq, yq, (sx | (sx << 2)) & 13107 AS sx,
                              (sy | (sy << 2)) & 13107 AS sy FROM s1),
        s3 AS (SELECT xq, yq, (sx | (sx << 1)) & 21845 AS sx,
                              (sy | (sy << 1)) & 21845 AS sy FROM s2),
        f AS (SELECT (sx | (sy << 1)) >> 10 AS file_id, xq, yq FROM s3)
        SELECT CAST(file_id AS BIGINT) AS file_id,
               COUNT(*) AS n_rows,
               CAST(MIN(xq) AS BIGINT) AS min_x, CAST(MAX(xq) AS BIGINT) AS max_x,
               CAST(MIN(yq) AS BIGINT) AS min_y, CAST(MAX(yq) AS BIGINT) AS max_y,
               NOT (MAX(xq) < 64 OR MIN(xq) > 127 OR
                    MAX(yq) < 32 OR MIN(yq) > 63) AS needs_read
        FROM f GROUP BY 1
      """)) { (spark, dir) =>
      val li = Tables.lineitem(spark, dir)
      // data-driven quantization bounds: one row, broadcast onto the scan
      val bounds = li.agg(
        min(to_date(col("l_shipdate"))).as("d0"),
        datediff(max(to_date(col("l_shipdate"))),
          min(to_date(col("l_shipdate")))).as("span"),
        max(col("l_partkey")).as("maxpk"))
      val q = li.crossJoin(broadcast(bounds)).select(
        expr("(datediff(to_date(l_shipdate), d0) * 256) div (span + 1)").as("xq"),
        expr("((l_partkey - 1) * 256) div maxpk").as("yq"))
      graft.io.Layout.fileStats(q, col("xq"), col("yq"), fileBits = 6)
        .withColumn("needs_read", graft.io.Layout.needsRead(64, 127, 32, 63))
    },

    // ---- X16: distributed small-file compaction planner --------------------
    // Incremental ingestion leaves a table as KB-sized files; every scan
    // then pays a task + an open per file. Compaction groups small files
    // into rewrite bins near a target size WITHOUT crossing table
    // partitions (a cross-partition output file would break partition
    // pruning). THIS entry gates the distributed planner
    // `Compaction.planBins` — for when the file listing is itself big
    // data (a lake catalog's metadata table lists millions of files) and
    // driver-side planning is the collect() anti-pattern.
    // Two windows bounded by files-per-partition, never the listing.
    // Files here are synthesized from events as one per (event_type
    // partition, ingest day); the 24 KB target is sized so the sweep
    // scales exercise every regime: multi-file bins at sf0.01/0.1,
    // oversize singleton bins (file > target, sparse bin ids) from sf1.0
    // up — sorted-fill may overflow a bin by at most one file, the
    // standard planner approximation (exact bin packing is NP-hard).
    QueryDef(
      "x16_compaction_bins",
      "Distributed small-file compaction planner (io/Compaction.planBins, the Iceberg/Delta OPTIMIZE bin-pack planned in-engine): per-(type,day) ingest files sorted-fill into 24 KB rewrite bins within each event_type partition — deterministic (size DESC, file_id) order, bins never span partitions, windows bounded by files-per-partition",
      Some("""
        WITH f AS (
          SELECT event_type AS part_key,
                 event_type || '_' || strftime(ts, '%Y-%m-%d') AS file_id,
                 CAST(SUM(len(props) + 16) AS BIGINT) AS size_bytes
          FROM events GROUP BY 1, 2),
        o AS (
          SELECT part_key, file_id, size_bytes,
                 COALESCE(SUM(size_bytes) OVER (PARTITION BY part_key
                     ORDER BY size_bytes DESC, file_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
          FROM f),
        b AS (SELECT part_key, file_id, size_bytes,
                     cum_before // 24000 AS bin FROM o)
        SELECT part_key, file_id, size_bytes, CAST(bin AS BIGINT) AS bin,
               CAST(SUM(size_bytes) OVER (PARTITION BY part_key, bin) AS BIGINT)
                 AS bin_bytes,
               COUNT(*) OVER (PARTITION BY part_key, bin) AS n_files_in_bin
        FROM b
      """)) { (spark, dir) =>
      val files = Tables.events(spark, dir)
        .groupBy(
          col("event_type").as("part_key"),
          concat(col("event_type"), lit("_"),
            date_format(col("ts"), "yyyy-MM-dd")).as("file_id"))
        .agg(sum(length(col("props")) + lit(16)).cast("long").as("size_bytes"))
      graft.io.Compaction.planBins(
          files, col("part_key"), col("file_id"), col("size_bytes"),
          target = 24000L)
        .select(col("part_key"), col("file_id"), col("size_bytes"), col("bin"),
          col("bin_bytes"), col("n_files_in_bin"))
    })


  /** The g1/g2 graph: directed supplier→customer trade edges from
    * lineitem⋈orders (distinct), the reverse edge only for finalized
    * orders — customers without one stay dangling. Customer ids offset by
    * 1e6 to keep the key spaces disjoint. Memoized as ONE materialized
    * list per (session, dir) so g1 and g2 don't each pay the join+distinct
    * (the operators' prepGraph then canonicalizes from its files). */
  private def tradeGraphEdges(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graphScores((spark, dir, "edges")) {
      graft.operators.Reuse.materialize(tradeGraphEdgesUncached(spark, dir))
    }

  private def tradeGraphEdgesUncached(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val j = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"))
    val fwd = j.select(col("l_suppkey").as("src"),
      (col("o_custkey") + lit(1000000L)).as("dst"))
    val back = j.filter(col("o_orderstatus") === "F")
      .select((col("o_custkey") + lit(1000000L)).as("src"), col("l_suppkey").as("dst"))
    fwd.union(back).distinct()
  }


  /** g1's oracle: the quantized iterations unrolled. Layer i: dangling mass
    * `d_i` (nodes with no out-edges), per-destination contributions `c_i`
    * (s div deg per edge), rank update `r_i`. All sums cast back to BIGINT
    * immediately (DuckDB SUM(BIGINT) is HUGEINT — the a17 lesson); `//` on
    * nonneg integers truncates exactly like Spark's `div`. */
  private def pagerankOracle(k: Int): String = {
    val layers = (1 to k).map { i =>
      s"""d$i AS MATERIALIZED (
        SELECT CAST(COALESCE(SUM(s), 0) AS BIGINT) AS dm
        FROM r${i - 1} r LEFT JOIN deg ON r.node = deg.src
        WHERE deg.src IS NULL),
      c$i AS MATERIALIZED (
        SELECT e.dst AS node, CAST(SUM(r.s // g.deg) AS BIGINT) AS contrib
        FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN deg g ON e.src = g.src
        GROUP BY 1),
      r$i AS MATERIALIZED (
        SELECT n0.node,
               CAST((15 * CAST(1000000000 AS BIGINT)
                     + 85 * (COALESCE(c.contrib, 0)
                             + (SELECT dm FROM d$i) // (SELECT n FROM nn))) // 100
                    AS BIGINT) AS s
        FROM nodes n0 LEFT JOIN c$i c ON n0.node = c.node)"""
    }.mkString(",\n      ")
    s"""$TradeGraphSql,
      deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
      nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
      r0 AS MATERIALIZED (SELECT node, CAST(1000000000 AS BIGINT) AS s FROM nodes),
      $layers
      SELECT node, s FROM r$k
    """
  }

  /** g4's oracle: the synchronous LPA rounds unrolled. Layer i: per-node
    * neighbor-label vote counts `c_i` over the symmetrized edge set, then
    * the argmax pick `l_i` (count desc, label asc — the same total order
    * as the operator's window). Every node appears as a `dst` in `sym`,
    * so no left-join fallback layer is needed. */
  private def lpaOracle(k: Int): String = {
    val layers = (1 to k).map { i =>
      s"""c$i AS MATERIALIZED (
        SELECT s.dst AS node, l.lbl, COUNT(*) AS c
        FROM sym s JOIN l${i - 1} l ON s.src = l.node
        GROUP BY 1, 2),
      l$i AS MATERIALIZED (
        SELECT node, lbl FROM (
          SELECT node, lbl,
                 ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
          FROM c$i) WHERE rn = 1)"""
    }.mkString(",\n      ")
    s"""$TradeGraphSql,
      sym AS MATERIALIZED (
        SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
      l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
      $layers
      SELECT node, lbl AS label FROM l$k
    """
  }

  /** g7's oracle: the synchronous peels unrolled. Layer i: `d_i` degrees
    * within the surviving subgraph (both endpoints alive), `ann_i` the
    * alive set annotated with COALESCE(d, 0) — a node isolated by earlier
    * peels has no degree row — `a_i` the survivors. The report unions each
    * round's removed slice (round number + deciding degree) with the final
    * survivors at round 0. */
  private def kcoreOracle(kk: Int, rounds: Int): String = {
    val layers = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
        SELECT s.src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym s JOIN a${i - 1} x ON s.src = x.node
                   JOIN a${i - 1} y ON s.dst = y.node
        GROUP BY 1),
      ann$i AS MATERIALIZED (
        SELECT a.node, COALESCE(d.d, 0) AS d
        FROM a${i - 1} a LEFT JOIN d$i d ON a.node = d.node),
      a$i AS MATERIALIZED (SELECT node FROM ann$i WHERE d >= $kk)"""
    }.mkString(",\n      ")
    val removed = (1 to rounds).map { i =>
      s"SELECT node, CAST($i AS BIGINT) AS removed_round, d AS last_deg FROM ann$i WHERE d < $kk"
    }.mkString("\n      UNION ALL\n      ")
    s"""$TradeGraphSql,
      sym AS MATERIALIZED (
        SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
      a0 AS MATERIALIZED (SELECT node FROM nodes),
      $layers
      $removed
      UNION ALL
      SELECT node, CAST(0 AS BIGINT), d FROM ann$rounds WHERE d >= $kk
    """
  }

  /** g2's oracle: the quantized HITS iterations unrolled. Layer i:
    * authority half (raw pull of hub mass, max scalar, wide-integer
    * rescale), then hub half symmetric. HUGEINT keeps the raw·1e9 product
    * exact — the same wide-integer space as Spark's DECIMAL(38,0). */
  private def hitsOracle(k: Int): String = {
    val layers = (1 to k).map { i =>
      s"""ra$i AS MATERIALIZED (
        SELECT e.dst AS node, SUM(h.hub) AS raw
        FROM edges e JOIN s${i - 1} h ON e.src = h.node GROUP BY 1),
      ma$i AS MATERIALIZED (SELECT MAX(raw) AS m FROM ra$i),
      sa$i AS MATERIALIZED (
        SELECT n0.node, s.hub,
               CAST(COALESCE(ra.raw, 0) * 1000000000 // (SELECT m FROM ma$i)
                    AS BIGINT) AS auth
        FROM nodes n0 JOIN s${i - 1} s ON n0.node = s.node
        LEFT JOIN ra$i ra ON n0.node = ra.node),
      rh$i AS MATERIALIZED (
        SELECT e.src AS node, SUM(a.auth) AS raw
        FROM edges e JOIN sa$i a ON e.dst = a.node GROUP BY 1),
      mh$i AS MATERIALIZED (SELECT MAX(raw) AS m FROM rh$i),
      s$i AS MATERIALIZED (
        SELECT n0.node,
               CAST(COALESCE(rh.raw, 0) * 1000000000 // (SELECT m FROM mh$i)
                    AS BIGINT) AS hub,
               sa.auth
        FROM nodes n0 JOIN sa$i sa ON n0.node = sa.node
        LEFT JOIN rh$i rh ON n0.node = rh.node)"""
    }.mkString(",\n      ")
    s"""$TradeGraphSql,
      s0 AS MATERIALIZED (SELECT node, CAST(1000000000 AS BIGINT) AS hub,
                    CAST(1000000000 AS BIGINT) AS auth FROM nodes),
      $layers
      SELECT node, hub, auth FROM s$k
    """
  }

  /** g3's oracle: quantized Lloyd rounds unrolled. `pq` is the micro-unit
    * long table (identical IEEE quantization — see s6); layer i: `a_i`
    * assignment (window argmin over grouped exact distances, cid
    * tiebreak), `g_i` per-(cid,pos) sums/counts, `c_i` update with
    * LEFT JOIN + COALESCE so empty clusters keep coordinates. `//` and
    * Spark's `div` both truncate toward zero, so negative coordinate
    * means agree. MATERIALIZED per the g1/g2 inlining lesson. */
  /** The g3/g5/s9 shared layers: micro-unit quantized embeddings, the
    * memoized k-means fit, per-(point, centroid) exact distances against
    * the FINAL centroids, and the argmin assignment. All plans (cheap to
    * rebuild); only the fit itself — the iterative part — is memoized. */
  private def kmQuantized(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => bround(x.cast("double") * lit(1e6), 0).cast("long")).as("q"))

  private def kmCentroids(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graphScores((spark, dir, "g3"))(
      graft.operators.KMeansQuantized.fit(kmQuantized(spark, dir), KmK, KmIters))

  private def kmDists(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val pe = kmQuantized(spark, dir)
      .select(col("vec_id"), posexplode(col("q")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("v"))
    pe.join(
        broadcast(kmCentroids(spark, dir).select(col("cluster_id").as("cid"),
          col("pos"), col("centroid_q").as("cval"))), "pos")
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("v") - col("cval")) * (col("v") - col("cval"))).as("d2"))
  }

  /** The memoized, materialized final-centroid cell assignment `(vec_id,
    * cid, d2)` — one table per (session, dir), shared by s9's kNN join and
    * d15/d16's SemDeDup compositions (the tradeGraphEdges idiom: the
    * assignment tower feeds several branches). `d2` is the own-cell
    * squared distance — one extra long per row, and it is d16's
    * centroid-distance keep rank, so carrying it here avoids a second
    * write of the same tower. */
  private[catalog] def kmCellAssignments(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graphScores((spark, dir, "s9assign")) {
      graft.operators.Reuse.materialize(kmOwn(spark, dir))
    }

  private def kmOwn(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import org.apache.spark.sql.expressions.Window
    kmDists(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("d2"))
  }

  private[catalog] def kmeansOracle(k: Int, iters: Int,
      finalSelect: Option[String] = None): String = {
    val layers = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (
        SELECT vec_id, cid FROM (
          SELECT p.vec_id, c.cid,
                 ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY SUM((p.v - c.cval) * (p.v - c.cval)), c.cid) AS rn
          FROM pq p JOIN c${i - 1} c ON p.pos = c.pos
          GROUP BY p.vec_id, c.cid)
        WHERE rn = 1),
      g$i AS MATERIALIZED (
        SELECT a.cid, p.pos,
               CAST(SUM(p.v) AS BIGINT) AS s, COUNT(*) AS cnt
        FROM pq p JOIN a$i a USING (vec_id)
        GROUP BY 1, 2),
      c$i AS MATERIALIZED (
        SELECT c.cid, c.pos, CAST(COALESCE(g.s // g.cnt, c.cval) AS BIGINT) AS cval
        FROM c${i - 1} c LEFT JOIN g$i g ON c.cid = g.cid AND c.pos = g.pos)"""
    }.mkString(",\n      ")
    s"""
      WITH pq AS MATERIALIZED (
        SELECT vec_id, CAST(t.j - 1 AS BIGINT) AS pos,
               CAST(round_even(CAST(embedding[t.j] AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(j)),
      init_ids AS MATERIALIZED (
        SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
      c0 AS MATERIALIZED (
        SELECT i.cid, p.pos, p.v AS cval FROM pq p JOIN init_ids i USING (vec_id)),
      $layers,
      sizes AS (SELECT cid, COUNT(*) AS n_points FROM a$iters GROUP BY 1)
      ${finalSelect.getOrElse(s"""
      SELECT c.cid AS cluster_id, c.pos, c.cval AS centroid_q,
             CAST(COALESCE(z.n_points, 0) AS BIGINT) AS n_points
      FROM c$iters c LEFT JOIN sizes z ON c.cid = z.cid""")}
    """
  }
}
