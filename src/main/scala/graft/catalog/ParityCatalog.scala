package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Catalog entries for the SURVEY §2 operator ids not already exercised by
  * the other catalogs, so every row of the §2 inventory has an
  * oracle-checked query (see COVERAGE.md for the full id → entry map).
  *
  * The TPC-H-ish fixtures have no nullable columns, so null-handling
  * operators derive their nulls deterministically (nullif / CASE) — the
  * same expression on both engines.
  */
object ParityCatalog {

  /** Nullable "predicted category" stand-in over events: rows with JSON
    * k < 50 have no prediction. Confidence = k/100. */
  private val predCol = "CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50 THEN event_type END"
  private val confCol = "CAST(json_extract_string(props, '$.k') AS INTEGER) / 100.0"

  /** dq3's profiled columns — one list drives BOTH the Spark call and the
    * generated oracle UNION ALL. Declared before `all` (object init order). */
  private final val Dq3Cols =
    Seq("event_id", "user_id", "event_type", "value_c", "props")

  private def dq3ColSql(c: String): String =
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
               COUNT(*) - COUNT($c) AS n_nulls,
               ((COUNT(*) - COUNT($c)) * 1000000) // COUNT(*) AS null_frac_micro,
               COUNT(DISTINCT $c) AS n_distinct,
               MIN(CAST($c AS VARCHAR)) AS min_str,
               MAX(CAST($c AS VARCHAR)) AS max_str
        FROM src"""

  /** dq5's per-column oracle arm: dq3's exact battery plus the literal
    * TRUE the in-row HLL error-bound boolean must evaluate to (k1
    * posture — the estimate is engine-specific, its accuracy contract
    * is not). */
  private def dq5ColSql(c: String): String =
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
               COUNT(*) - COUNT($c) AS n_nulls,
               ((COUNT(*) - COUNT($c)) * 1000000) // COUNT(*) AS null_frac_micro,
               approx_count_distinct($c) >= 1 AS approx_positive,
               MIN(CAST($c AS VARCHAR)) AS min_str,
               MAX(CAST($c AS VARCHAR)) AS max_str
        FROM src"""

  val all: Seq[QueryDef] = Seq(

    // ---- P3: coalesce fallback chain --------------------------------------
    QueryDef(
      "p3_coalesce_fallback",
      "P3 account-name fallback (stg_simplefin.sql:23-27): coalesce(mapped, source, literal)",
      Some("""
        SELECT c_custkey,
               coalesce(nullif(c_mktsegment, 'BUILDING'), c_name, 'Missing mapping!') AS resolved_name
        FROM customer
      """)) { (spark, dir) =>
      Tables.customer(spark, dir).select(
        col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), col("c_name"),
          lit("Missing mapping!")).as("resolved_name"))
    },

    // ---- P8: categorized split --------------------------------------------
    QueryDef(
      "p8_categorized_split",
      "P8 (fct_trxns_categorized.sql): WHERE derived category IS NOT NULL",
      Some(s"""
        SELECT event_id, $predCol AS category
        FROM events
        WHERE $predCol IS NOT NULL
      """)) { (spark, dir) =>
      Tables.events(spark, dir)
        .withColumn("category",
          when(get_json_object(col("props"), "$.k").cast("int") >= 50, col("event_type")))
        .filter(col("category").isNotNull)
        .select("event_id", "category")
    },

    // ---- P9: uncategorized split with NOT-IN guard ------------------------
    QueryDef(
      "p9_uncategorized_split",
      "P9 (fct_trxns_uncategorized.sql): NULL-category rows minus the validated id set (anti-join translation of NOT IN)",
      Some(s"""
        SELECT event_id, event_type
        FROM events
        WHERE $predCol IS NULL
          AND event_id IS NOT NULL
          AND event_id NOT IN (SELECT event_id FROM events WHERE event_id % 7 = 0 AND event_id IS NOT NULL)
      """)) { (spark, dir) =>
      val e = Tables.events(spark, dir)
      val validated = e.filter(col("event_id") % 7 === 0).select("event_id")
      // the explicit isNotNull matches NOT IN's null-key semantics (a NULL
      // probe row is dropped by NOT IN but kept by a left-anti join)
      e.withColumn("category",
          when(get_json_object(col("props"), "$.k").cast("int") >= 50, col("event_type")))
        .filter(col("category").isNull && col("event_id").isNotNull)
        .join(validated, Seq("event_id"), "left_anti")
        .select("event_id", "event_type")
    },

    // ---- P12: the raw-layer cast block ------------------------------------
    QueryDef(
      "p12_raw_casts",
      "P12 (stg_simplefin.sql:30-38): ::numeric, epoch→timestamp, ::date, string-format date parse",
      Some("""
        SELECT event_id,
               CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS amount,
               make_timestamp((CAST(json_extract_string(props, '$.k') AS BIGINT) + 1700000000) * 1000000) AS posted,
               CAST(ts AS DATE) AS posted_date,
               CAST(strptime(strftime(ts, '%m/%d/%Y'), '%m/%d/%Y') AS DATE) AS import_date
        FROM events
      """)) { (spark, dir) =>
      Tables.events(spark, dir).select(
        col("event_id"),
        col("value").cast("decimal(18,2)").cast("double").as("amount"),
        timestamp_seconds(get_json_object(col("props"), "$.k").cast("long") + 1700000000L)
          .cast("timestamp_ntz").as("posted"),
        col("ts").cast("date").as("posted_date"),
        to_date(date_format(col("ts"), "MM/dd/yyyy"), "MM/dd/yyyy").as("import_date"))
    },

    // ---- P16: confidence-gated view mode ----------------------------------
    QueryDef(
      "p16_confidence_gate",
      "P16 (transaction_service.py:167-192): unvalidated_predicted view mode with low-confidence exclusion",
      Some(s"""
        SELECT event_id, $predCol AS predicted, $confCol AS confidence
        FROM events
        WHERE NOT (event_id % 7 = 0)
          AND $predCol IS NOT NULL
          AND $predCol != 'click'
          AND ($confCol IS NULL OR $confCol >= 0.60)
      """)) { (spark, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("int")
      val pred = when(k >= 50, col("event_type"))
      val conf = k / 100.0
      Tables.events(spark, dir)
        .filter(!(col("event_id") % 7 === 0)
          && pred.isNotNull && pred =!= "click"
          && (conf.isNull || conf >= 0.60))
        .select(col("event_id"), pred.as("predicted"), conf.as("confidence"))
    },

    // ---- A1: monthly net by category --------------------------------------
    QueryDef(
      "a1_monthly_by_category",
      "A1 (00_getting_started.ipynb cell 6): GROUP BY date_trunc('month'), category SUM(amount)",
      Some("""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_orderpriority AS category,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS net_amount
        FROM orders
        GROUP BY 1, 2
      """)) { (spark, dir) =>
      Tables.orders(spark, dir)
        .groupBy(
          date_trunc("month", col("o_orderdate")).cast("date").as("month"),
          col("o_orderpriority").as("category"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("net_amount"))
    },

    // ---- A7: per-account data-range check ---------------------------------
    QueryDef(
      "a7_data_range_check",
      "A7 (3_TEST_COMMANDS.md §5): MIN/MAX date, COUNT, day span per account",
      Some("""
        SELECT o_custkey,
               MIN(CAST(o_orderdate AS DATE)) AS earliest,
               MAX(CAST(o_orderdate AS DATE)) AS latest,
               COUNT(*) AS n_orders,
               datediff('day', MIN(CAST(o_orderdate AS DATE)), MAX(CAST(o_orderdate AS DATE))) AS span_days
        FROM orders
        GROUP BY 1
      """)) { (spark, dir) =>
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(
          min(col("o_orderdate").cast("date")).as("earliest"),
          max(col("o_orderdate").cast("date")).as("latest"),
          count(lit(1)).as("n_orders"),
          datediff(max(col("o_orderdate").cast("date")),
            min(col("o_orderdate").cast("date"))).as("span_days"))
    },

    // ---- A11: initialization existence check ------------------------------
    QueryDef(
      "a11_needs_init",
      "A11 (control_center.py:348-371): COUNT(*)-based needs-initialization flags",
      Some("""
        SELECT (SELECT COUNT(*) FROM region) AS region_rows,
               (SELECT COUNT(*) FROM region) = 0 AS needs_init
      """)) { (spark, dir) =>
      Tables.region(spark, dir)
        .agg(count(lit(1)).as("region_rows"))
        .select(col("region_rows"), (col("region_rows") === 0).as("needs_init"))
    },

    // ---- Q3: multi-join flagship (TPC-H Q3 shape) -------------------------
    QueryDef(
      "q3_shipping_priority",
      "Flagship 3-table join (customer ⋈ orders ⋈ lineitem) + decimal revenue agg + deterministic top-10 — the classic join-order/AQE showcase",
      Some("""
        SELECT l_orderkey, CAST(revenue AS DOUBLE) AS revenue, orderdate, o_orderpriority
        FROM (
          SELECT l_orderkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS revenue,
                 CAST(o_orderdate AS DATE) AS orderdate,
                 o_orderpriority
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
            AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
          GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
          ORDER BY revenue DESC, l_orderkey
          LIMIT 10)
      """)) { (spark, dir) =>
      // Top-10 selection orders on the exact decimal revenue; the double
      // cast happens on the already-selected page only.
      val cutoff = lit("1995-03-15 00:00:00").cast("timestamp_ntz")
      val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
      val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast("date").as("orderdate"),
          col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(18,2)")).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue").cast("double").as("revenue"),
          col("orderdate"), col("o_orderpriority"))
    },

    // ---- Q5: local-supplier volume (TPC-H Q5 shape) ------------------------
    QueryDef(
      "q5_local_supplier",
      "TPC-H Q5 shape: six-table star join (region→nation→customer/supplier→orders→lineitem) with the local-supplier condition — Catalyst picks the join order and broadcasts every dimension; the fact table shuffles once, for the final aggregate",
      Some("""
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
      """)) { (spark, dir) =>
      val D = "decimal(18,2)"
      Tables.customer(spark, dir)
        .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(spark, dir),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey")) // local supplier
        .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA"
          && col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast(D)
            * (lit(1) - col("l_discount").cast(D))).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },

    // ---- J10: EXISTS semi-join (TPC-H Q4 shape) ----------------------------
    QueryDef(
      "j10_exists_semi",
      "TPC-H Q4 shape: orders with at least one heavy lineitem, counted per priority — EXISTS compiles to a LEFT SEMI join, which stops probing a key at its first match and never duplicates the left side (the correctness trap a plain inner join + distinct would re-fix at shuffle cost)",
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        GROUP BY o_orderpriority
      """)) { (spark, dir) =>
      val heavy = Tables.lineitem(spark, dir)
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"))
      Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },

    // ---- J11: null-aware NOT IN anti-join ----------------------------------
    // The NOT IN correctness trap: `k NOT IN (subquery)` is NOT a plain
    // anti-join — one NULL in the subquery makes the predicate UNKNOWN for
    // every non-matching row, so the result is EMPTY, and a NULL probe key
    // never qualifies. Engines that rewrite NOT IN to LEFT ANTI silently
    // return wrong rows. Spark compiles the single-column form to a
    // null-aware BroadcastHashJoin (spark.sql.optimizeNullAwareAntiJoin,
    // on by default) — broadcast + one flag for "subquery has a NULL", no
    // BNLJ, scan-shaped on the probe side at any scale. Both variants run
    // through SQL so the ENGINE's rewrite is what is being checked: the
    // clean subquery must anti-join normally; the null-poisoned one must
    // yield zero rows.
    QueryDef(
      "j11_null_aware_anti",
      "Null-aware NOT IN semantics: clean subquery anti-joins normally; a single NULL in the subquery empties the result (tri-state logic) — engine-level rewrite checked through SQL on both sides",
      Some("""
        SELECT 'clean' AS variant, COUNT(*) AS n
        FROM orders
        WHERE o_orderkey NOT IN
          (SELECT l_orderkey FROM lineitem WHERE l_orderkey < 500)
        UNION ALL
        SELECT 'null_poisoned' AS variant, COUNT(*) AS n
        FROM orders
        WHERE o_orderkey NOT IN
          (SELECT CASE WHEN l_linenumber = 1 AND l_orderkey < 10
                       THEN NULL ELSE l_orderkey END
           FROM lineitem WHERE l_orderkey < 500)
      """)) { (spark, dir) =>
      // direct-path relations, not temp views — a catalog query must never
      // mutate shared session state (the bench runs 8 entries concurrently
      // over one session)
      val o = s"parquet.`$dir/orders.parquet`"
      val l = s"parquet.`$dir/lineitem.parquet`"
      spark.sql(s"""
        SELECT 'clean' AS variant, COUNT(*) AS n
        FROM $o
        WHERE o_orderkey NOT IN
          (SELECT l_orderkey FROM $l WHERE l_orderkey < 500)
        UNION ALL
        SELECT 'null_poisoned' AS variant, COUNT(*) AS n
        FROM $o
        WHERE o_orderkey NOT IN
          (SELECT CASE WHEN l_linenumber = 1 AND l_orderkey < 10
                       THEN NULL ELSE l_orderkey END
           FROM $l WHERE l_orderkey < 500)
      """)
    },

    // ---- F5: correlated LATERAL join ---------------------------------------
    // The SQL-surface sibling of x6's bounded top-k: "for each group, the
    // top-2 rows" phrased as a correlated LATERAL subquery — the form BI
    // tools and migrated warehouse SQL emit. Spark decorrelates it into a
    // ranked window join rather than re-executing the subquery per row,
    // which is the property worth pinning (a naive nested-loop execution
    // would be O(groups × table)). Same direct-path relations as j11: a
    // catalog query never mutates shared session state.
    QueryDef(
      "f5_lateral_topk",
      "Correlated LATERAL top-2 per priority (the BI/migration SQL form of bounded per-group top-k) — engine decorrelation checked through SQL on both sides",
      Some("""
        SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
        FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_orderpriority = p.o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) l
      """)) { (spark, dir) =>
      val o = s"parquet.`$dir/orders.parquet`"
      spark.sql(s"""
        SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
        FROM (SELECT DISTINCT o_orderpriority FROM $o) p,
        LATERAL (SELECT o_orderkey, o_totalprice FROM $o o
                 WHERE o.o_orderpriority = p.o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) l
      """)
    },

    // ---- J13: correlated scalar subquery (TPC-H Q2 shape) ------------------
    // The other correlated form migrations emit: an equality against a
    // correlated scalar MIN ("the supplier charging this part's lowest
    // price"). A naive execution re-runs the subquery per outer row —
    // O(parts × lineitem); both engines must decorrelate it into ONE
    // per-part min aggregate joined back (Spark: RewriteCorrelatedScalarSubquery
    // → Aggregate + join), which is the property this entry pins through
    // SQL on both sides. Double equality is safe: both sides compare the
    // IDENTICAL stored double against the exact min of stored doubles.
    // Ties (two suppliers at the part's min price) are kept on both
    // engines — set semantics, no flap.
    QueryDef(
      "j13_correlated_scalar_min",
      "TPC-H Q2 shape: suppliers hitting each part's minimum price via a correlated scalar MIN subquery — engine decorrelation to one aggregate + join, checked through SQL on both sides",
      Some("""
        SELECT p.p_partkey, p.p_brand, l.l_suppkey, l.l_extendedprice AS min_price
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size <= 3
          AND l.l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                                   FROM lineitem l2
                                   WHERE l2.l_partkey = p.p_partkey)
      """)) { (spark, dir) =>
      val p = s"parquet.`$dir/part.parquet`"
      val li = s"parquet.`$dir/lineitem.parquet`"
      spark.sql(s"""
        SELECT p.p_partkey, p.p_brand, l.l_suppkey, l.l_extendedprice AS min_price
        FROM $p p
        JOIN $li l ON l.l_partkey = p.p_partkey
        WHERE p.p_size <= 3
          AND l.l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                                   FROM $li l2
                                   WHERE l2.l_partkey = p.p_partkey)
      """)
    },

    // ---- F3: set operators -------------------------------------------------
    QueryDef(
      "f3_set_ops",
      "INTERSECT / EXCEPT surface: nations supplying both heavy and light parts vs only heavy — set semantics (implicit distinct) on both engines; Spark plans these as aggregated semi/anti joins",
      Some("""
        SELECT nat, 'both' AS side FROM (
          SELECT s_nationkey AS nat FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
          WHERE l_quantity > 45
          INTERSECT
          SELECT s_nationkey AS nat FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
          WHERE l_quantity < 5)
        UNION ALL
        SELECT nat, 'heavy_only' AS side FROM (
          SELECT s_nationkey AS nat FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
          WHERE l_quantity > 45
          EXCEPT
          SELECT s_nationkey AS nat FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
          WHERE l_quantity < 5)
      """)) { (spark, dir) =>
      def nations(pred: org.apache.spark.sql.Column) =
        Tables.supplier(spark, dir)
          .join(Tables.lineitem(spark, dir).filter(pred),
            col("s_suppkey") === col("l_suppkey"))
          .select(col("s_nationkey").as("nat"))
      val heavy = nations(col("l_quantity") > 45)
      val light = nations(col("l_quantity") < 5)
      heavy.intersect(light).withColumn("side", lit("both"))
        .unionByName(heavy.except(light).withColumn("side", lit("heavy_only")))
    },

    // ---- F7: FILTER-clause aggregates --------------------------------------
    // The modern-SQL conditional-aggregation surface: several differently-
    // filtered aggregates in ONE pass over the table — the report shape
    // that otherwise becomes N self-joining subqueries. Spark has no
    // FILTER clause on the DataFrame API; the translation is the
    // when()-null calculus, and the null semantics must line up exactly:
    // COUNT skips nulls (so count(when(cond,1)) ≡ COUNT FILTER), SUM of
    // an all-null group is NULL on both engines (kept, not coalesced —
    // pinning that equivalence is the point), count_distinct skips the
    // nulls the when() injects. One hash aggregate, map-side partials.
    QueryDef(
      "f7_filtered_agg",
      "FILTER-clause aggregates in one pass: plain/filtered counts, a filtered DECIMAL sum (NULL when the filter matches nothing — pinned, not coalesced), filtered count_distinct; the when()-null calculus as Spark's FILTER translation",
      Some("""
        SELECT o_orderpriority,
               COUNT(*) AS n_total,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_final,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS total_final,
               COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
                 AS big_spenders
        FROM orders
        GROUP BY 1
      """)) { (spark, dir) =>
      Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("o_orderstatus") === "F", 1)).as("n_final"),
          sum(when(col("o_orderstatus") === "F",
            col("o_totalprice").cast("decimal(18,2)")))
            .cast("double").as("total_final"),
          count_distinct(when(col("o_totalprice") > 200000, col("o_custkey")))
            .as("big_spenders"))
    },

    // ---- Q6: forecasting revenue change (TPC-H Q6 shape) -------------------
    QueryDef(
      "q6_forecast_revenue",
      "TPC-H Q6 shape: tight-filter single aggregate — every predicate (date range, discount band, quantity cap) must reach the parquet scan as a pushed filter; the plan is one pruned scan + one partial-agg exchange of a single row",
      Some("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
      """)) { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")
            * col("l_discount").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },

    // ---- F1: the §2.9 scalar-function surface in one projection -----------
    QueryDef(
      "f1_scalar_functions",
      "SURVEY §2.9: lower/coalesce/concat/regexp_replace/trim/md5/abs/date_trunc/quarter/null-safe-eq in one pass",
      Some("""
        SELECT c_custkey,
               lower(c_name) AS lname,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'other') AS seg,
               c_name || '|' || c_mktsegment AS joined,
               regexp_replace(trim(c_name), '[0-9]+$', '') AS stripped,
               md5(c_name) AS name_hash,
               CAST(abs(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_abs,
               (c_mktsegment IS NOT DISTINCT FROM nullif(c_mktsegment, 'BUILDING')) AS nullsafe_self
        FROM customer
      """)) { (spark, dir) =>
      Tables.customer(spark, dir).select(
        col("c_custkey"),
        lower(col("c_name")).as("lname"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("other")).as("seg"),
        concat(col("c_name"), lit("|"), col("c_mktsegment")).as("joined"),
        regexp_replace(trim(col("c_name")), "[0-9]+$", "").as("stripped"),
        md5(col("c_name")).as("name_hash"),
        abs(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal_abs"),
        (col("c_mktsegment") <=> nullif(col("c_mktsegment"), lit("BUILDING"))).as("nullsafe_self"))
    },

    // ---- F8: error-safe arithmetic (the try_* surface) ----------------------
    // The ANSI-safety contract a 10-hour 100 TB job lives by: a malformed
    // record must become a NULL, never a task failure that kills the stage
    // after the 4th retry. Spark's `try_cast`/`try_divide`/`try_add` are
    // the engine statement; the oracle states the IDENTICAL results
    // portably (TRY_CAST + NULLIF-guarded division + a pre-checked
    // overflow add), so the hash match pins the semantics: unparseable
    // string → NULL, x/0 → NULL (not Inf, not error), long-overflow add →
    // NULL (not wraparound). Inputs are deterministic malformations of
    // events: event_type is never numeric, every 5th k is a zero
    // denominator, and near-Long.MAX addends overflow on every 3rd row.
    QueryDef(
      "f8_try_semantics",
      "Error-safe arithmetic surface: try_cast of non-numeric strings, try_divide with zero denominators, try_add at Long.MAX overflow — all NULL not error/Inf/wraparound, hash-pinned against the portable guarded form",
      Some("""
        WITH src AS (
          SELECT event_id, event_type,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
          FROM events)
        SELECT event_id,
               TRY_CAST(event_type AS BIGINT) AS parsed,
               TRY_CAST('42' AS BIGINT) AS parsed_ok,
               CAST(k AS DOUBLE) / NULLIF(k % 5, 0) AS ratio,
               CASE WHEN event_id % 3 = 0 THEN NULL
                    WHEN event_id % 3 = 1 THEN 9223372036854775807
                    ELSE 9223372036854775806 END AS near_max_sum
        FROM src
      """)) { (spark, dir) =>
      // the three hot columns run graft's BRANCH-based try twins
      // (functions/TrySafe.scala): the builtin try_* implement TRY mode
      // by throwing the ANSI error and catching it per failing row, and
      // this fixture fails ON PURPOSE on most rows (event_type never
      // parses, every 5th denominator is zero, every 3rd add overflows) —
      // measured ~11-21 µs/row of exception machinery, 2.5 s solo for a
      // 100k-row map-only scan (round-16). Same results, no throw on any
      // path; TrySafeSpec pins each twin equal to its builtin row-by-row.
      // try_cast('42') stays the builtin: constant, folded at plan time.
      import graft.functions.TrySafe
      val k = get_json_object(col("props"), "$.k").cast("int")
      Tables.events(spark, dir)
        .withColumn("k", k)
        .select(col("event_id"),
          TrySafe.tryStringToLong(col("event_type")).as("parsed"),
          expr("try_cast('42' AS BIGINT)").as("parsed_ok"),
          TrySafe.tryDivideDouble(
            col("k").cast("double"), (col("k") % 5).cast("double")).as("ratio"),
          // overflows (→ NULL) exactly on event_id % 3 == 0: (MAX-1) + 2;
          // the other branches land at MAX and MAX-1 — stated as literals
          // in the oracle, so wraparound or Inf would hash-mismatch
          TrySafe.tryAddLong(lit(9223372036854775806L),
            lit(2L) - (col("event_id") % 3)).as("near_max_sum"))
    },

    // ---- M9: calibration-curve binning ------------------------------------
    QueryDef(
      "m9_calibration_bins",
      "SURVEY §2.10 M9 (classifier_train.py:271-290): uniform 10-bin calibration — mean predicted vs fraction positive",
      Some("""
        SELECT least(CAST(floor(k / 100.0 * 10) AS BIGINT), 9) AS bin,
               CAST(SUM(k) AS DOUBLE) / (100.0 * COUNT(*)) AS mean_predicted,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) AS fraction_positive,
               COUNT(*) AS n
        FROM (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, event_type
              FROM events)
        GROUP BY 1
      """)) { (spark, dir) =>
      // AVG over double p = k/100 diverges from the oracle in the ~15th digit
      // once bins hold ~50k rows (sf0.5 gate catch): float sums depend on
      // accumulation order, which differs between engines AND between runs of
      // a distributed partial aggregate. Both averages are exactly expressible
      // as integer sums (k is 0..99, clicks are 0/1), so accumulate in Long —
      // order-independent, overflow-safe to ~1e17 rows·99 — and divide once
      // at the end. Same rewrite on both sides; this is also the only
      // scale-stable way to hash-compare float aggregates.
      val k = get_json_object(col("props"), "$.k").cast("int")
      Tables.events(spark, dir)
        .select(k.as("k"), col("event_type"))
        .groupBy(least(floor(col("k") / 100.0 * 10), lit(9)).cast("long").as("bin"))
        .agg(
          (sum(col("k")).cast("double") / (lit(100.0) * count(lit(1)))).as("mean_predicted"),
          (sum(when(col("event_type") === "click", 1L).otherwise(0L)).cast("double")
            / count(lit(1))).as("fraction_positive"),
          count(lit(1)).as("n"))
    },

    // ---- M3: deterministic stratified split, count contract ---------------
    QueryDef(
      "m3_stratified_split",
      "SURVEY §2.10 M3 (classifier_train.py train_test_split stratify): per-class train/test counts of the hash-ordered 80/20 split — n<2 classes go wholly to train, n>=2 classes keep >=1 test row; the oracle derives the same counts from the closed-form cut",
      Some("""
        SELECT c_mktsegment AS master_category,
               CASE WHEN n < 2 THEN n
                    ELSE least(CAST(ceil(n * 0.8) AS BIGINT), n - 1) END AS n_train,
               CASE WHEN n < 2 THEN 0
                    ELSE n - least(CAST(ceil(n * 0.8) AS BIGINT), n - 1) END AS n_test
        FROM (SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY 1)
      """)) { (spark, dir) =>
      import graft.finance.ml.CategoryClassifier
      val labeled = Tables.customer(spark, dir).select(
        col("c_custkey").as("transaction_id"),
        col("c_mktsegment").as(CategoryClassifier.labelCol))
      val (tr, te) = CategoryClassifier.stratifiedSplit(labeled, 0.2, 42L)
      tr.groupBy(col(CategoryClassifier.labelCol)).agg(count(lit(1)).as("n_train"))
        .join(
          te.groupBy(col(CategoryClassifier.labelCol)).agg(count(lit(1)).as("n_test")),
          Seq(CategoryClassifier.labelCol), "full_outer")
        .na.fill(0L, Seq("n_train", "n_test"))
    },

    // ---- M10: threshold → UNCERTAIN scoring, as pure oracle arithmetic ----
    // The predict path's decision calculus (classifier_predict.py:126-135)
    // stated over a synthetic 3-class probability table derived from the
    // events JSON k (0..99): probs = [k/100, (100-k)/200, (100-k)/200]
    // (sums to 1). Exercises all three arms — confident class-1 (k>=40
    // with argmax 1), confident class-2 (k<=33: positions 2,3 tie and
    // BOTH engines take the FIRST max), and the UNCERTAIN band
    // (34<=k<=39: max 0.34..0.39 < 0.40). Runs the REAL
    // CategoryClassifier.thresholdLabel/confidenceOf columns, the exact
    // expressions score() puts over the model's probability vector.
    QueryDef(
      "m10_threshold_scoring",
      "SURVEY §2.10 M10 (classifier_predict.py:126-135): max class probability below the 0.40 threshold → literal UNCERTAIN, else label at the first argmax; confidence as DECIMAL(6,4) of the max probability",
      Some("""
        WITH p AS (
          SELECT event_id,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
          FROM events
          WHERE json_extract_string(props, '$.k') IS NOT NULL),
        pr AS (
          SELECT event_id,
                 [CAST(k AS DOUBLE) / 100.0,
                  CAST(100 - k AS DOUBLE) / 200.0,
                  CAST(100 - k AS DOUBLE) / 200.0] AS probs
          FROM p)
        SELECT event_id,
               CASE WHEN list_max(probs) < 0.40 THEN 'UNCERTAIN'
                    ELSE ['CAT_A','CAT_B','CAT_C'][list_position(probs, list_max(probs))]
               END AS predicted_master_category,
               CAST(CAST(list_max(probs) AS DECIMAL(6,4)) AS DOUBLE)
                 AS prediction_confidence
        FROM pr
      """)) { (spark, dir) =>
      import graft.finance.ml.CategoryClassifier
      val k = get_json_object(col("props"), "$.k").cast("int")
      val probs = array(
        k.cast("double") / lit(100.0),
        (lit(100) - k).cast("double") / lit(200.0),
        (lit(100) - k).cast("double") / lit(200.0))
      // first-occurrence argmax on both engines (array_position /
      // list_position), so the 2-3 tie resolves identically
      val labelExpr = element_at(
        array(lit("CAT_A"), lit("CAT_B"), lit("CAT_C")),
        array_position(probs, array_max(probs)).cast("int"))
      Tables.events(spark, dir)
        .filter(get_json_object(col("props"), "$.k").isNotNull)
        .select(
          col("event_id"),
          CategoryClassifier.thresholdLabel(probs, labelExpr, 0.40)
            .as("predicted_master_category"),
          // the DECIMAL(6,4) quantization is the gated arithmetic; the final
          // double cast is only the catalog's render convention (decimal vs
          // float dtypes never strict-compare across engines)
          CategoryClassifier.confidenceOf(probs).cast("double")
            .as("prediction_confidence"))
    },

    // ---- K1/K2: sketch aggregates (north-star; SURVEY §2.4 note) ----------
    // No oracle: HLL++ and quantile-sketch internals differ across engines,
    // so the driver records the rows-only check. Exactness is bounded by
    // the documented sketch error (HLL rsd 5%, quantile eps 1%).
    QueryDef(
      "k1_approx_distinct",
      "North-star sketch: approx_count_distinct (HLL++) per group — the cardinality path when exact distinct would shuffle every value. Hash-gated (round-5 verdict #4, the k4 technique): the exact twin column is value-compared and the HLL estimate is gated through an in-row error-bound boolean (|approx-exact| <= 3·rsd·exact — the estimate itself is engine-specific, its accuracy contract is not)",
      Some("""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               TRUE AS approx_in_bounds
        FROM lineitem
        GROUP BY 1
      """)) { (spark, dir) =>
      val rsd = 0.05
      Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), rsd).as("approx_parts"),
          count_distinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= lit(3 * rsd) * col("exact_parts")).as("approx_in_bounds"))
    },

    // Hash-gated via the k1/k4 technique (round-5 verdict #4): the output
    // carries EXACT value-at-rank percentiles (rank = ceil(p·n) under an
    // explicit shared ordering — the one discrete-quantile definition both
    // engines can compute identically; quantile_disc/percentile_disc
    // interpolation conventions differ across engines) plus a boolean that
    // the sketch estimate lands within 10× its documented rank-error bound
    // (eps = 1/accuracy → rank error ≤ n·1e-4; gate window ±max(⌈n·1e-3⌉,1)
    // ranks). The exact twin's 3-partition window is gate-side machinery at
    // test SF, exactly like k1's exact count_distinct — the sketch is the
    // scale path.
    QueryDef(
      "k2_approx_quantiles",
      "North-star sketch: percentile_approx p50/p95/p99 per group — single-pass quantiles without a global sort; exact value-at-rank twins hash-matched, sketch gated through an in-row rank-error-bound boolean",
      Some("""
        WITH r AS (
          SELECT l_returnflag,
                 CAST(l_extendedprice AS DOUBLE) AS price,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                    ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rn,
                 COUNT(*) OVER (PARTITION BY l_returnflag) AS n
          FROM lineitem)
        SELECT l_returnflag,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN price END) AS p50,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN price END) AS p95,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN price END) AS p99,
               TRUE AS approx_in_bounds
        FROM r GROUP BY 1
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("price"))
      // The exact value-at-rank twin needs a per-group rank, but a plain
      // window sort has only 3 l_returnflag partitions — a 3-core sort no
      // matter the cluster. Price-range buckets are contiguous slices of the
      // per-group sort order, so global rank = within-bucket rank + the
      // bucket's prefix offset (x11's TeraSort shape): ~100 parallel bucket
      // sorts per group, one tiny broadcast of (bucket, offset, n).
      // Ties (equal prices) get arbitrary rank order either way; value-at-
      // rank is insensitive to it, which is all the twin reads.
      val bucketed = base.withColumn("bucket", floor(col("price") / 1000.0).cast("int"))
      val offsets = bucketed
        .groupBy(col("l_returnflag"), col("bucket")).agg(count(lit(1)).as("cnt"))
        .withColumn("offset", coalesce(sum(col("cnt")).over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("l_returnflag"))))
        .select(col("l_returnflag"), col("bucket"), col("cnt"), col("offset"), col("n"))
      // gate window: ±10× the sketch's worst-case rank error (n·1e-4)
      val d = greatest(ceil(col("n") * lit(0.001)), lit(1L))
      def target(p: Double): org.apache.spark.sql.Column = ceil(col("n") * lit(p))
      // All nine ranks the exact twin reads (3 percentile targets + their
      // lo/hi gate edges). Round-17 (VERDICT r16 #6, guide §2.3/§3.1):
      // value-at-rank only needs a row_number INSIDE the buckets that
      // contain one of these ranks — ≤ 9 buckets per group — so instead of
      // exchanging and sorting the WHOLE price table by (group, bucket)
      // (the old plan's dominant shuffle), the bucket grid is filtered to
      // rank-carrying buckets, broadcast, and the inner join prunes every
      // other row before the (tiny) sort. The full table is still scanned
      // for the counts and the sketch, but never shuffled.
      val allRanks: Seq[org.apache.spark.sql.Column] = Seq(
        target(0.50), target(0.95), target(0.99),
        greatest(target(0.50) - d, lit(1L)),
        least(target(0.50) + d, col("n").cast("long")),
        greatest(target(0.95) - d, lit(1L)),
        least(target(0.95) + d, col("n").cast("long")),
        greatest(target(0.99) - d, lit(1L)),
        least(target(0.99) + d, col("n").cast("long")))
      val holdsTarget = allRanks
        .map(rk => rk > col("offset") && rk <= col("offset") + col("cnt"))
        .reduce(_ || _)
      val tgt = offsets.filter(holdsTarget)
        .select(col("l_returnflag"), col("bucket"), col("offset"), col("n"))
      val r = bucketed
        .join(broadcast(tgt), Seq("l_returnflag", "bucket"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("l_returnflag"), col("bucket"))
            .orderBy(col("price"))) + col("offset"))
      def atRank(rank: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        max(when(col("rn") === rank, col("price")))
      val exact = r.groupBy(col("l_returnflag")).agg(
        atRank(target(0.50)).as("p50"),
        atRank(target(0.95)).as("p95"),
        atRank(target(0.99)).as("p99"),
        atRank(greatest(target(0.50) - d, lit(1L))).as("lo50"),
        atRank(least(target(0.50) + d, col("n").cast("long"))).as("hi50"),
        atRank(greatest(target(0.95) - d, lit(1L))).as("lo95"),
        atRank(least(target(0.95) + d, col("n").cast("long"))).as("hi95"),
        atRank(greatest(target(0.99) - d, lit(1L))).as("lo99"),
        atRank(least(target(0.99) + d, col("n").cast("long"))).as("hi99"))
      // the sketch side never joins the grid: one partial-aggregated pass
      val sketch = base.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("price"),
          array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("qs"))
      exact.join(sketch, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p50"), col("p95"), col("p99"),
          (element_at(col("qs"), 1).between(col("lo50"), col("hi50")) &&
            element_at(col("qs"), 2).between(col("lo95"), col("hi95")) &&
            element_at(col("qs"), 3).between(col("lo99"), col("hi99")))
            .as("approx_in_bounds"))
    },

    // ---- O2: multi-column whitelisted sort + deep page --------------------
    QueryDef(
      "o2_multisort_page",
      "O2 (api/validated_transactions.py:54-134): multi-column whitelisted sort, limit/offset page with unique tiebreak",
      Some("""
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders
        ORDER BY o_orderpriority ASC NULLS LAST, o_totalprice DESC NULLS LAST, o_orderkey
        LIMIT 100 OFFSET 50
      """)) { (spark, dir) =>
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy(col("o_orderpriority").asc_nulls_last,
          col("o_totalprice").desc_nulls_last, col("o_orderkey"))
        .offset(50).limit(100)
    },

    // ---- C1: category catalog lifecycle (category_service.py:44-101) ------
    QueryDef(
      "c1_category_catalog",
      "C1 (category_service.py:44-88): idempotent default seeding + in-use sync (UNCERTAIN skipped, deactivation never overridden) + the case-insensitively sorted listing with default/active/in-use metadata",
      Some(s"""
        WITH defaults(name) AS (VALUES $defaultCategoryValues),
        in_use AS (
          SELECT DISTINCT event_type AS name FROM events
          WHERE CAST(json_extract_string(props, '$$.k') AS INTEGER) >= 50
            AND event_type IS NOT NULL
          UNION SELECT 'Gas' UNION SELECT 'UNCERTAIN'
        ),
        catalog AS (
          SELECT name, TRUE AS is_default FROM defaults
          UNION ALL
          SELECT name, FALSE FROM in_use
          WHERE name <> 'UNCERTAIN' AND name NOT IN (SELECT name FROM defaults)
        )
        SELECT c.name, c.is_default, TRUE AS is_active,
               c.name IN (SELECT name FROM in_use) AS in_use,
               TIMESTAMP '2026-01-01 00:00:00' AS created_at
        FROM catalog c
        ORDER BY lower(c.name), c.name
      """)) { (spark, dir) =>
      import graft.finance.CategoryCatalog
      val now = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      // in-use names: confidently-predicted event types plus one default
      // ('Gas', exercises in_use-on-default) and the reserved UNCERTAIN
      // (must be skipped by the sync)
      val inUse = Tables.events(spark, dir)
        .filter(get_json_object(col("props"), "$.k").cast("int") >= 50)
        .select(col("event_type").as("category"))
        .union(spark.createDataset(Seq("Gas", "UNCERTAIN"))(
          org.apache.spark.sql.Encoders.STRING).toDF("category"))
      val cat = CategoryCatalog.syncInUse(
        CategoryCatalog.ensureDefaults(CategoryCatalog.emptyCatalog(spark), now),
        inUse, now)
      CategoryCatalog.listCatalog(cat, inUse)
        // fixture timestamps are naive on both engines (cf. p12)
        .withColumn("created_at", col("created_at").cast("timestamp_ntz"))
    },

    // ---- I4: field-wise OLTP merge (transaction_service.py:78-126) --------
    // ---- DQ1: the dbt schema-test battery as one report --------------------
    // The reference declares one schema test (`unique` on
    // stg_historic_trxns.transaction_id, _staging.yml:6-11) and runs it via
    // `dbt build` (repo.py:77). operators/DataQuality generalizes that to
    // the full dbt test surface with dbt's counting semantics; this entry
    // runs a representative battery over the fixtures — including checks
    // that MUST report nonzero (duplicated event user_ids, 'P'-status
    // orders, 'zh' docs against an en/es/de/fr whitelist) so the counting
    // itself is oracle-gated, not just the all-green path.
    QueryDef(
      "dq1_constraint_report",
      "dbt-style data-quality battery (unique / not_null / accepted_values / relationships) unioned into one (tbl, chk, col_name, violations) report — each check one partial-aggregated pass or anti-join",
      Some("""
        SELECT 'events' AS tbl, 'unique' AS chk, 'user_id' AS col_name,
               (SELECT COUNT(*) FROM (SELECT user_id FROM events
                                      GROUP BY 1 HAVING COUNT(*) > 1)) AS violations
        UNION ALL
        SELECT 'orders', 'accepted_values', 'o_orderstatus',
               (SELECT COUNT(DISTINCT o_orderstatus) FROM orders
                WHERE o_orderstatus NOT IN ('F', 'O'))
        UNION ALL
        SELECT 'lineitem', 'not_null', 'l_returnflag',
               (SELECT COUNT(*) FROM lineitem WHERE l_returnflag IS NULL)
        UNION ALL
        SELECT 'lineitem', 'relationships', 'l_orderkey',
               (SELECT COUNT(*) FROM lineitem l
                WHERE l_orderkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'documents', 'accepted_values', 'lang',
               (SELECT COUNT(DISTINCT lang) FROM documents
                WHERE lang NOT IN ('en', 'es', 'de', 'fr'))
      """)) { (spark, dir) =>
      import graft.operators.DataQuality
      val orders = Tables.orders(spark, dir)
      val lineitem = Tables.lineitem(spark, dir)
      DataQuality.report(Seq(
        DataQuality.unique(Tables.events(spark, dir), "events", Seq("user_id")),
        DataQuality.acceptedValues(orders, "orders", "o_orderstatus", Seq("F", "O")),
        DataQuality.notNull(lineitem, "lineitem", "l_returnflag"),
        DataQuality.relationships(lineitem, "lineitem", "l_orderkey",
          orders, "o_orderkey"),
        DataQuality.acceptedValues(Tables.documents(spark, dir), "documents",
          "lang", Seq("en", "es", "de", "fr"))))
    },

    // ---- DQ2: day-over-day volume anomaly monitor ---------------------------
    // The freshness/volume half of warehouse monitoring next to dq1's
    // constraint battery (dbt source freshness / elementary-style volume
    // tests): per-(type, day) ingest counts, the day-over-day ratio, and
    // an anomaly flag when volume halves or doubles. The FLAG compares
    // integers (n*2 < prev, n > prev*2) so no double threshold can flap;
    // the ratio column is one double division from exact ints. One
    // aggregate + one lag window over the aggregate's own day×type frame —
    // monitoring cost is calendar-sized, never event-volume-sized.
    QueryDef(
      "dq2_volume_anomaly",
      "Day-over-day ingest-volume monitor: per-(event_type, day) counts, lag ratio, halve/double anomaly flag via integer comparisons (flap-proof), calendar-sized output at any event volume",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        seq AS (
          SELECT event_type, day, n,
                 LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
          FROM daily)
        SELECT event_type, day, n, prev_n,
               CAST(n AS DOUBLE) / prev_n AS dod_ratio,
               (n * 2 < prev_n OR n > prev_n * 2) AS anomaly
        FROM seq WHERE prev_n IS NOT NULL
      """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
      Tables.events(spark, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prev_n", lag(col("n"), 1).over(byType))
        .filter(col("prev_n").isNotNull)
        .select(col("event_type"), col("day"), col("n"), col("prev_n"),
          (col("n").cast("double") / col("prev_n")).as("dod_ratio"),
          (col("n") * 2 < col("prev_n") || col("n") > col("prev_n") * 2).as("anomaly"))
    },

    // ---- DQ3: one-pass column profiler --------------------------------------
    // The third leg of the data-quality family (operators/Profiler): dq1
    // answers "do declared constraints hold", dq2 "did volume move", dq3
    // "what IS this feed" — the Deequ/ANALYZE-style per-column statistics
    // battery (rows, nulls, micro-unit null fraction, exact distincts,
    // lexicographic min/max) computed for ALL columns in ONE aggregate over
    // ONE scan; the multi-distinct is Spark's standard one-Expand plan and
    // the output is columns-sized. The double `value` column is profiled
    // through cent quantization (floor(v*100+.5) — the a14 probe idiom) so
    // every rendered cell is engine-stable; min/max compare STRING
    // renderings, identical lexicographic order on both engines. The oracle
    // is the portable per-column UNION ALL — generated from the same column
    // list, so the two sides can't drift.
    QueryDef(
      "dq3_column_profile",
      "One-pass column profiler (Deequ/ANALYZE shape): per-column rows/nulls/null-fraction-micro/exact-distincts/lexicographic min-max for five events columns in one aggregate pass, doubles cent-quantized for render stability",
      Some(s"""
        WITH src AS (
          SELECT event_id, user_id, event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c, props
          FROM events)
        ${Dq3Cols.map(dq3ColSql).mkString("\n        UNION ALL\n        ")}
      """)) { (spark, dir) =>
      // fan the projected source before the 5-column Expand (5× row
      // amplification + distinct partial aggregate otherwise run on the
      // single-row-group scan's one task — the x13 pattern, guide §2.5);
      // no-op when the file layout parallelizes on its own
      val src = Tables.fanIfNarrow(spark, dir, "events")(
        Tables.events(spark, dir).select(
          col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("value_c"), col("props")))
      graft.operators.Profiler.profile(src, Dq3Cols)
    },

    // ---- DQ5: the profiler's SKETCH path — the PRODUCTION plan --------------
    // dq3 gates the exact Expand form; this entry runs the form you'd run
    // at 100 TB — Profiler.profileApprox, HLL distincts, ONE aggregate, NO
    // Expand. The accuracy bound lives in ProfilerSpec (|HLL − exact| <=
    // 3·rsd·exact on the sf0.001 events fixture), and THIS entry
    // hash-gates what the production plan can cross-engine-gate: the exact
    // legs (counts, nulls, micro null fraction, lexicographic min/max)
    // value-strict, plus `approx_positive` — the HLL estimate is >= 1 iff
    // the column has a non-null value, the one sketch-derived predicate
    // both engines compute identically. approx_positive is DERIVED from
    // the HLL aggregate, so column pruning cannot drop the sketch from the
    // timed plan: the bench suite's dq5 cost is the production plan's.
    QueryDef(
      "dq5_profile_approx",
      "One-pass profiler, sketch path (Profiler.profileApprox — the production no-Expand HLL plan): exact counts/nulls/min-max hash-strict plus the sketch-derived approx_positive predicate; the 3*rsd accuracy bound is ProfilerSpec's",
      Some(s"""
        WITH src AS (
          SELECT event_id, user_id, event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c, props
          FROM events)
        ${Dq3Cols.map(dq5ColSql).mkString("\n        UNION ALL\n        ")}
      """)) { (spark, dir) =>
      // fanned for the same reason as dq3: the per-column HLL sketch pass
      // otherwise runs on the single scan task (guide §2.5)
      val src = Tables.fanIfNarrow(spark, dir, "events")(
        Tables.events(spark, dir).select(
          col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("value_c"), col("props")))
      graft.operators.Profiler.profileApprox(src, Dq3Cols)
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("null_frac_micro"),
          (col("n_distinct") >= 1).as("approx_positive"),
          col("min_str"), col("max_str"))
    },

    // ---- DQ4: Benford leading-digit audit -----------------------------------
    // The forensic-accounting screen (Benford's law: organically-generated
    // amounts lead with 1 ~30% of the time; fabricated or truncated feeds
    // don't) as the fourth data-quality leg: leading digit of each positive
    // order amount in cents, counts, and integer micro-unit shares. The
    // digit comes from the BIGINT's string rendering — identical plain-digit
    // text on both engines (the dq3 min/max argument) — so no log10/power
    // arithmetic is anywhere near the hash. One map-only projection + one
    // 9-row aggregate; the observed-vs-expected judgment stays with the
    // analyst (the expected curve needs ln, which engines render
    // differently — the OBSERVED distribution is the exact artifact).
    QueryDef(
      "dq4_benford_digits",
      "Benford leading-digit audit over order amounts: first digit of the cent-quantized value via its string rendering, per-digit counts and integer micro-unit shares — map-only + one 9-row aggregate at any scale",
      Some("""
        WITH c AS (
          SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1)
                   AS lead_digit
          FROM orders WHERE o_totalprice > 0),
        n AS (SELECT COUNT(*) AS total FROM c)
        SELECT lead_digit, COUNT(*) AS n,
               CAST((COUNT(*) * 1000000) // n.total AS BIGINT) AS share_micro
        FROM c CROSS JOIN n
        GROUP BY lead_digit, n.total
      """)) { (spark, dir) =>
      val c = Tables.orders(spark, dir)
        .filter(col("o_totalprice") > 0)
        .select(substring(
          floor(col("o_totalprice") * 100 + 0.5).cast("long").cast("string"),
          1, 1).as("lead_digit"))
      val total = c.count()
      c.groupBy(col("lead_digit"))
        .agg(count(lit(1)).as("n"))
        .select(col("lead_digit"), col("n"),
          expr(s"(n * CAST(1000000 AS BIGINT)) div ${total}L").as("share_micro"))
    },

    // ---- DQ6: referential-integrity audit ------------------------------------
    // The fifth data-quality leg: orphan-rate per FK edge of the star
    // (orders.o_custkey → customer, lineitem.l_orderkey → orders) — the
    // check every warehouse load runs before trusting a join, and the one
    // dq1's single-table constraints can't express. Each edge is ONE
    // left-anti join keyed on the FK (sort-merge at fact scale; the parent
    // side is only its key column after pruning) feeding a count — no
    // row-level output, so the result is edges-sized. Micro-unit orphan
    // rate via nullif (the round-9 Profiler posture: a zero-row child
    // reports NULL, not DIVIDE_BY_ZERO).
    // NULL-key discipline (round-9 ADVICE): a NULL FK is not an orphan
    // (SQL RI semantics — the constraint only binds non-NULL keys), and a
    // NULL parent key matches nothing. Both arms filter NULLs EXPLICITLY —
    // without this, the SQL arm's NOT IN goes tri-state on a NULL parent
    // key (zero orphans reported) while the join arm counts every
    // unmatched/NULL FK, and parity would rest on the fixture's keys
    // happening to be non-null. n_child counts non-NULL-FK child rows.
    QueryDef(
      "dq6_referential_integrity",
      "Referential-integrity audit: per FK edge, non-null-FK child rows / orphans / micro orphan-rate via one anti-join per edge (orders->customer, lineitem->orders); NULL keys excluded on both arms by RI semantics",
      Some("""
        SELECT 'orders.o_custkey->customer' AS fk_edge,
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL) AS n_child,
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
                  AND o_custkey NOT IN (SELECT c_custkey FROM customer
                                        WHERE c_custkey IS NOT NULL)) AS n_orphans,
               ((SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
                   AND o_custkey NOT IN (SELECT c_custkey FROM customer
                                         WHERE c_custkey IS NOT NULL)) * 1000000)
                 // nullif((SELECT COUNT(*) FROM orders
                           WHERE o_custkey IS NOT NULL), 0) AS orphan_micro
        UNION ALL
        SELECT 'lineitem.l_orderkey->orders',
               (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
               (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
                  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                         WHERE o_orderkey IS NOT NULL)),
               ((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
                   AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                          WHERE o_orderkey IS NOT NULL)) * 1000000)
                 // nullif((SELECT COUNT(*) FROM lineitem
                           WHERE l_orderkey IS NOT NULL), 0)
      """)) { (spark, dir) =>
      // one LEFT OUTER pass per edge: n_child and n_orphans from the same
      // join (parent keys are primary keys, so the join never fans out) —
      // no second scan, no cross join of the two counts. NULL FKs filtered
      // up front to keep the arm aligned with the SQL NOT IN (see above).
      def edge(name: String, child: DataFrame, fk: String,
          parent: DataFrame, pk: String): DataFrame =
        child.select(col(fk)).filter(col(fk).isNotNull)
          .join(parent.select(col(pk)).filter(col(pk).isNotNull),
            col(fk) === col(pk), "left_outer")
          .agg(count(lit(1)).as("n_child"),
            // coalesce: sum over an EMPTY feed (every FK NULL) is NULL,
            // but the oracle's scalar COUNT subqueries return 0 there
            coalesce(sum(when(col(pk).isNull, 1L).otherwise(0L)), lit(0L))
              .as("n_orphans"))
          .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"),
            expr("(n_orphans * CAST(1000000 AS BIGINT)) div nullif(n_child, CAST(0 AS BIGINT))")
              .as("orphan_micro"))
      edge("orders.o_custkey->customer",
          Tables.orders(spark, dir), "o_custkey",
          Tables.customer(spark, dir), "c_custkey")
        .unionByName(edge("lineitem.l_orderkey->orders",
          Tables.lineitem(spark, dir), "l_orderkey",
          Tables.orders(spark, dir), "o_orderkey"))
    },

    QueryDef(
      "i4_fieldwise_merge",
      "I4 (transaction_service.py:78-126 categorize_transaction, batched): get-or-create merge where master/source are assigned unconditionally, notes/validated/exclude update only when provided, created rows take defaults, touched rows get updated_at stamped — one full-outer join, the MERGE shape at scale",
      Some("""
        WITH e AS (
          SELECT event_id AS transaction_id,
                 event_type AS master_category,
                 'orig' AS source_category,
                 CASE WHEN event_id % 4 = 0 THEN 'note-' || CAST(event_id AS VARCHAR) END AS notes,
                 event_id % 3 = 0 AS validated,
                 FALSE AS exclude_from_forecast,
                 TIMESTAMP '2025-01-01 00:00:00' AS updated_at
          FROM events WHERE event_id % 2 = 0),
        b AS (
          SELECT event_id AS transaction_id,
                 upper(event_type) AS master_category,
                 CASE WHEN event_id % 6 = 0 THEN 'manual' END AS source_category,
                 CASE WHEN event_id % 9 = 0 THEN 'edited' END AS notes,
                 CASE WHEN event_id % 5 = 0 THEN TRUE END AS validated,
                 CASE WHEN event_id % 7 = 0 THEN TRUE END AS exclude_from_forecast
          FROM events WHERE event_id % 3 = 0)
        SELECT
          COALESCE(e.transaction_id, b.transaction_id) AS transaction_id,
          CASE WHEN b.transaction_id IS NOT NULL THEN b.master_category ELSE e.master_category END AS master_category,
          CASE WHEN b.transaction_id IS NOT NULL THEN b.source_category ELSE e.source_category END AS source_category,
          CASE WHEN e.transaction_id IS NULL THEN b.notes
               WHEN b.transaction_id IS NOT NULL THEN COALESCE(b.notes, e.notes)
               ELSE e.notes END AS notes,
          CASE WHEN e.transaction_id IS NULL THEN COALESCE(b.validated, FALSE)
               WHEN b.transaction_id IS NOT NULL THEN COALESCE(b.validated, e.validated)
               ELSE e.validated END AS validated,
          CASE WHEN e.transaction_id IS NULL THEN COALESCE(b.exclude_from_forecast, FALSE)
               WHEN b.transaction_id IS NOT NULL THEN COALESCE(b.exclude_from_forecast, e.exclude_from_forecast)
               ELSE e.exclude_from_forecast END AS exclude_from_forecast,
          CASE WHEN b.transaction_id IS NOT NULL THEN TIMESTAMP '2026-01-01 00:00:00'
               ELSE e.updated_at END AS updated_at
        FROM e FULL OUTER JOIN b ON e.transaction_id = b.transaction_id
      """)) { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      val existing = ev.filter(col("event_id") % 2 === 0).select(
        col("event_id").as("transaction_id"),
        col("event_type").as("master_category"),
        lit("orig").as("source_category"),
        when(col("event_id") % 4 === 0,
          concat(lit("note-"), col("event_id").cast("string"))).as("notes"),
        (col("event_id") % 3 === 0).as("validated"),
        lit(false).as("exclude_from_forecast"),
        lit("2025-01-01 00:00:00").cast("timestamp_ntz").as("updated_at"))
      val batch = ev.filter(col("event_id") % 3 === 0).select(
        col("event_id").as("transaction_id"),
        upper(col("event_type")).as("master_category"),
        when(col("event_id") % 6 === 0, lit("manual")).as("source_category"),
        when(col("event_id") % 9 === 0, lit("edited")).as("notes"),
        when(col("event_id") % 5 === 0, lit(true)).as("validated"),
        when(col("event_id") % 7 === 0, lit(true)).as("exclude_from_forecast"))
      graft.finance.TableStore.mergeFieldwise(
        existing, batch, "transaction_id",
        assigned = Seq("master_category", "source_category"),
        whenProvided = Seq("notes", "validated", "exclude_from_forecast"),
        defaults = Map("validated" -> lit(false),
          "exclude_from_forecast" -> lit(false)),
        touch = "updated_at" -> lit("2026-01-01 00:00:00").cast("timestamp_ntz"))
    })

  /** `CategoryCatalog.DefaultCategories` as a DuckDB VALUES list — built
    * from the same constant so the oracle can't drift from the seed. */
  private def defaultCategoryValues: String =
    graft.finance.CategoryCatalog.DefaultCategories
      .map(n => s"('${n.replace("'", "''")}')").mkString(", ")
}
