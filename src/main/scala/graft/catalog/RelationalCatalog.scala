package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.io.Tables

/** SURVEY §2.2 (projections/filters), §2.4 (aggregations), §2.5 (windows),
  * §2.6 (sorts/limits), §2.7 (set ops) re-expressed over the driver corpus.
  *
  * Each query keeps Catalyst fully declarative: filters/projections sit
  * directly on the parquet scan (pushdown + pruning), aggregates are
  * hash-aggregates with map-side partials, and money arithmetic is
  * DECIMAL(18,2) internally so results are bit-stable across engines
  * (cf. SURVEY §4: "decimal (not double) arithmetic for amount").
  *
  * Output-boundary rule (round-2 driver lesson): the driver loads Spark
  * parquet via pyarrow (DECIMAL -> object Decimal, '123.40') and the
  * oracle via duckdb.fetchdf (DECIMAL -> float64, '123.4'), so a DECIMAL
  * column in the FINAL schema hash-mismatches whenever a value has a
  * trailing zero. Keep sums/compares exact in decimal, then cast the
  * outermost money columns to DOUBLE on BOTH sides — the exact decimal
  * value maps to the identical double on both engines.
  */
object RelationalCatalog {
  private val D = "decimal(18,2)"

  val all: Seq[QueryDef] = Seq(

    // ---- A1/A3-family + P12 casts: the flagship pricing summary ----------
    QueryDef(
      "q1_pricing_summary",
      "SURVEY §2.4 A1/A3 grouped SUM over casted NUMERIC (stg_simplefin.sql:30 cast; notebooks 00 cell 6)",
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
      """)) { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(D)).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },

    // ---- P1 + §2.7 union: schema-align projection then UNION ALL by name --
    QueryDef(
      "p1_schema_align_union",
      "SURVEY §2.2 P1 schema-align + §2.7 unionByName (int_trxns.sql:13-71)",
      Some("""
        SELECT CAST(o_orderkey AS VARCHAR) AS txn_id,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
               CAST(o_orderdate AS DATE) AS txn_date,
               o_orderpriority AS category,
               CAST(NULL AS VARCHAR) AS detail,
               'orders' AS source_name
        FROM orders
        UNION ALL
        SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS txn_id,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
               CAST(l_shipdate AS DATE) AS txn_date,
               l_returnflag AS category,
               l_linestatus AS detail,
               'lineitem' AS source_name
        FROM lineitem
      """)) { (spark, dir) =>
      val o = Tables.orders(spark, dir).select(
        col("o_orderkey").cast("string").as("txn_id"),
        col("o_totalprice").cast(D).cast("double").as("amount"),
        col("o_orderdate").cast("date").as("txn_date"),
        col("o_orderpriority").as("category"),
        lit(null).cast("string").as("detail"),
        lit("orders").as("source_name"))
      val l = Tables.lineitem(spark, dir).select(
        concat(col("l_orderkey").cast("string"), lit("-"), col("l_linenumber").cast("string")).as("txn_id"),
        col("l_extendedprice").cast(D).cast("double").as("amount"),
        col("l_shipdate").cast("date").as("txn_date"),
        col("l_returnflag").as("category"),
        col("l_linestatus").as("detail"),
        lit("lineitem").as("source_name"))
      o.unionByName(l)
    },

    // ---- P2/J3: data-driven ILIKE exclusion anti-join ---------------------
    QueryDef(
      "p2_exclusion_antijoin",
      "SURVEY §2.2 P2 / §2.3 J3 NOT EXISTS ILIKE anti-join (stg_simplefin.sql:51-55); pattern table broadcast",
      Some("""
        SELECT p_partkey, p_name
        FROM part
        WHERE NOT EXISTS (
          SELECT 1 FROM (VALUES ('%green%'), ('%metallic%'), ('%PROMO%')) AS excl(pattern)
          WHERE p_name ILIKE excl.pattern OR p_type ILIKE excl.pattern)
      """)) { (spark, dir) =>
      val patterns = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row("%green%"),
          org.apache.spark.sql.Row("%metallic%"), org.apache.spark.sql.Row("%PROMO%")),
        StructType(Seq(StructField("pattern", StringType))))
      Tables.part(spark, dir)
        .join(broadcast(patterns),
          ilike(col("p_name"), col("pattern")) || ilike(col("p_type"), col("pattern")),
          "left_anti")
        .select(col("p_partkey"), col("p_name"))
    },

    // ---- P4: keyword regex flags -----------------------------------------
    QueryDef(
      "p4_keyword_flags",
      "SURVEY §2.2 P4 nine ~*-regex keyword flags (int_trxns_features.sql:66-109); PG ~* → (?i) rlike",
      Some("""
        SELECT p_partkey,
               CASE WHEN regexp_matches(lower(COALESCE(p_name,'')), 'green|olive|forest') THEN 1 ELSE 0 END AS has_green,
               CASE WHEN regexp_matches(lower(COALESCE(p_name,'')), 'steel|metallic|copper|brass') THEN 1 ELSE 0 END AS has_metal,
               CASE WHEN regexp_matches(lower(COALESCE(p_type,'')), 'promo|economy') THEN 1 ELSE 0 END AS has_promo,
               CASE WHEN regexp_matches(lower(COALESCE(p_type,'')), 'brushed|polished') THEN 1 ELSE 0 END AS has_finish,
               CASE WHEN regexp_matches(lower(COALESCE(p_brand,'')), 'brand#1|brand#2') THEN 1 ELSE 0 END AS has_brand12
        FROM part
      """)) { (spark, dir) =>
      def flag(c: String, re: String, out: String) =
        when(lower(coalesce(col(c), lit(""))).rlike(re), 1).otherwise(0).as(out)
      Tables.part(spark, dir).select(
        col("p_partkey"),
        flag("p_name", "green|olive|forest", "has_green"),
        flag("p_name", "steel|metallic|copper|brass", "has_metal"),
        flag("p_type", "promo|economy", "has_promo"),
        flag("p_type", "brushed|polished", "has_finish"),
        flag("p_brand", "brand#1|brand#2", "has_brand12"))
    },

    // ---- P5: date-part features with the Monday=0 remap -------------------
    QueryDef(
      "p5_date_features",
      "SURVEY §2.2 P5 extract(dow/month/day) with PG-Sunday0 → pandas-Monday0 remap (int_trxns_features.sql:37-49)",
      Some("""
        SELECT o_orderkey,
               (dayofweek(o_orderdate) + 6) % 7 AS day_of_week,
               month(o_orderdate) AS month,
               dayofmonth(o_orderdate) AS day_of_month
        FROM orders
      """)) { (spark, dir) =>
      // Spark dayofweek: Sunday=1..Saturday=7; DuckDB dayofweek: Sunday=0.
      // Both remapped to Monday=0..Sunday=6 (the reference's pandas convention).
      Tables.orders(spark, dir).select(
        col("o_orderkey"),
        ((dayofweek(col("o_orderdate")) + 5) % 7).as("day_of_week"),
        month(col("o_orderdate")).as("month"),
        dayofmonth(col("o_orderdate")).as("day_of_month"))
    },

    // ---- P6: amount bucketing incl. the null branch -----------------------
    QueryDef(
      "p6_amount_bucket",
      "SURVEY §2.2 P6 is_negative / abs / 6-way CASE bucket with null→5 (int_trxns_features.sql:52-63)",
      Some("""
        SELECT o_orderkey,
               CASE WHEN amt < 0 THEN 1 ELSE 0 END AS is_negative,
               CAST(abs(amt) AS DOUBLE) AS amount_abs,
               CASE WHEN amt IS NULL THEN 5
                    WHEN abs(amt) <= 1000 THEN 0
                    WHEN abs(amt) <= 50000 THEN 1
                    WHEN abs(amt) <= 150000 THEN 2
                    WHEN abs(amt) <= 300000 THEN 3
                    ELSE 4 END AS amount_bucket
        FROM (SELECT o_orderkey,
                     CASE WHEN o_orderstatus = 'P' THEN NULL
                          ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS amt
              FROM orders)
      """)) { (spark, dir) =>
      val amt = when(col("o_orderstatus") === "P", lit(null).cast(D))
        .otherwise(col("o_totalprice").cast(D))
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), amt.as("amt"))
        .select(
          col("o_orderkey"),
          when(col("amt") < 0, 1).otherwise(0).as("is_negative"),
          abs(col("amt")).cast("double").as("amount_abs"),
          when(col("amt").isNull, 5)
            .when(abs(col("amt")) <= 1000, 0)
            .when(abs(col("amt")) <= 50000, 1)
            .when(abs(col("amt")) <= 150000, 2)
            .when(abs(col("amt")) <= 300000, 3)
            .otherwise(4).as("amount_bucket"))
    },

    // ---- P7: null-safe text concatenation ---------------------------------
    QueryDef(
      "p7_text_concat",
      "SURVEY §2.2 P7 coalesce-to-'' || concat (int_trxns_features.sql:32-34)",
      Some("""
        SELECT s_suppkey,
               COALESCE(s_name,'') || ' ' || COALESCE(CAST(s_nationkey AS VARCHAR),'') AS combined_text
        FROM supplier
      """)) { (spark, dir) =>
      Tables.supplier(spark, dir).select(
        col("s_suppkey"),
        concat(coalesce(col("s_name"), lit("")), lit(" "),
          coalesce(col("s_nationkey").cast("string"), lit(""))).as("combined_text"))
    },

    // ---- P13+W2: MD5 surrogate keys with duplicate-row numbering ----------
    QueryDef(
      "p13_surrogate_key",
      "SURVEY §2.2 P13 'HIST_TRN_'||MD5(base||rn) + §2.5 W2 duplicate numbering (stg_historic_trxns.sql:26-60)",
      Some("""
        SELECT 'HIST_TRN_' || md5(base_id || CAST(rn AS VARCHAR)) AS transaction_id,
               base_id
        FROM (
          SELECT base_id,
                 ROW_NUMBER() OVER (PARTITION BY base_id ORDER BY l_linenumber, l_partkey) AS rn
          FROM (SELECT CAST(l_orderkey AS VARCHAR) || '|' || l_returnflag AS base_id,
                       l_linenumber, l_partkey
                FROM lineitem))
      """)) { (spark, dir) =>
      val base = Tables.lineitem(spark, dir).select(
        concat(col("l_orderkey").cast("string"), lit("|"), col("l_returnflag")).as("base_id"),
        col("l_linenumber"), col("l_partkey"))
      val w = Window.partitionBy(col("base_id")).orderBy(col("l_linenumber"), col("l_partkey"))
      base.withColumn("rn", row_number().over(w))
        .select(
          concat(lit("HIST_TRN_"), md5(concat(col("base_id"), col("rn").cast("string")))).as("transaction_id"),
          col("base_id"))
    },

    // ---- P14: trailing-mask regex normalization ---------------------------
    QueryDef(
      "p14_name_normalize",
      "SURVEY §2.2 P14 regexp_replace(btrim(name),'\\s*\\([0-9]+\\)\\s*$','') (stg_simplefin.sql:79-84)",
      Some("""
        SELECT s_suppkey,
               regexp_replace(trim(s_name || ' (' || CAST(s_suppkey % 100 AS VARCHAR) || ')'),
                              '\s*\([0-9]+\)\s*$', '') AS clean_name
        FROM supplier
      """)) { (spark, dir) =>
      // Synthesize the " (1234)" account-mask suffix the reference strips.
      val masked = concat(col("s_name"), lit(" ("), (col("s_suppkey") % 100).cast("string"), lit(")"))
      Tables.supplier(spark, dir).select(
        col("s_suppkey"),
        regexp_replace(trim(masked), "\\s*\\([0-9]+\\)\\s*$", "").as("clean_name"))
    },

    // ---- P15/P16: ILIKE search + view-mode predicate gating ---------------
    QueryDef(
      "p15_search_filter",
      "SURVEY §2.2 P15 %term% ILIKE search + P16 confidence gating combinators (transaction_service.py:167-192)",
      Some("""
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders
        WHERE o_orderpriority ILIKE '%urgent%'
          AND (o_totalprice IS NULL OR o_totalprice >= 1000.0)
          AND o_orderstatus <> 'P'
      """)) { (spark, dir) =>
      Tables.orders(spark, dir)
        .filter(col("o_orderpriority").ilike("%urgent%")
          && (col("o_totalprice").isNull || col("o_totalprice") >= 1000.0)
          && col("o_orderstatus") =!= "P")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    },

    // ---- TPC-H Q4 shape: priority check via EXISTS semi-join ---------------
    // The fixture schema carries no commit/receipt dates, so the correlated
    // predicate is "has a returned line" — the operator under test is
    // identical: date-windowed orders, an EXISTS against lineitem planned
    // as a LEFT SEMI hash join (no fan-out, no dedup), grouped priority
    // counts. The semi-join build side is the filtered lineitem keys.
    QueryDef(
      "q4_priority_semi",
      "TPC-H Q4 shape: orders in a quarter having at least one returned lineitem (EXISTS -> left semi join), counted per priority",
      Some("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        GROUP BY 1
      """)) { (spark, dir) =>
      val o = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp_ntz")
          && col("o_orderdate") < lit("1995-04-01 00:00:00").cast("timestamp_ntz"))
      val returned = Tables.lineitem(spark, dir)
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // ---- TPC-H Q10: returned-item revenue ranking --------------------------
    // The marquee multi-join + top-k: customer ⋈ orders ⋈ lineitem('R') ⋈
    // broadcast(nation), exact DECIMAL revenue, TakeOrderedAndProject for
    // the limit (no global sort materializes). The LIMIT rides a total
    // order — revenue is the same exact-decimal-to-double value on both
    // engines, c_custkey breaks ties uniquely.
    QueryDef(
      "q10_returned_revenue",
      "TPC-H Q10: top-20 customers by revenue lost to returns in a quarter — 4-table join, DECIMAL-exact revenue cast once at the boundary, unique-tiebreak LIMIT",
      Some("""
        SELECT c_custkey, c_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               c_acctbal, n_name
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
      """)) { (spark, dir) =>
      val o = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit("1996-10-01 00:00:00").cast("timestamp_ntz")
          && col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
      val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      Tables.customer(spark, dir)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(D)
          * (lit(1).cast(D) - col("l_discount").cast(D))).cast("double").as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // ---- TPC-H Q16 shape: parts/suppliers relationship count ---------------
    // The distinct-count-per-wide-group report with a NOT IN supplier
    // exclusion. The anti-join runs FIRST on the fact table (suppkeys are
    // non-null on both sides, so left_anti ≡ NOT IN — the j9 translation),
    // then one hash aggregate; count_distinct expands to the standard
    // two-phase plan (group by (dims, suppkey), then count per dims) so no
    // per-group distinct set ever materializes in one buffer.
    QueryDef(
      "q16_supplier_count",
      "TPC-H Q16 shape: distinct suppliers per (brand, type, size) with a NOT IN supplier exclusion — anti-join before the two-phase distinct aggregate",
      Some("""
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#45'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
      """)) { (spark, dir) =>
      val bad = Tables.supplier(spark, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      // fan the projected fact columns before the broadcast-join + partial
      // distinct-agg map stage: single-row-group fixture = one scan task,
      // so the whole map side ran on one core (measured; guide §2.5). The
      // exchange carries 16 bytes/row and disappears on a splittable layout.
      Tables.fanIfNarrow(spark, dir, "lineitem")(
        Tables.lineitem(spark, dir).select(col("l_suppkey"), col("l_partkey")))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(Tables.part(spark, dir).filter(col("p_brand") =!= "Brand#45"),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
    },

    // ---- TPC-H Q18 shape: large-volume customers ---------------------------
    // The HAVING-subquery join: aggregate the fact table, keep the heavy
    // tail, join back up the star. The aggregate runs BEFORE any join (the
    // 46-of-15k orderkey survivors at sf0.01 are what ride the join), and
    // the limit is TakeOrderedAndProject over a unique tiebreak. sum_qty
    // stays DOUBLE end-to-end: quantities are integral, and integer sums
    // below 2^53 are exact in IEEE double REGARDLESS of addition order —
    // the one regime where a double SUM is hash-safe.
    QueryDef(
      "q18_large_volume",
      "TPC-H Q18 shape: customers whose orders exceed 300 total quantity — fact-side HAVING aggregate joined back to orders/customer, top-10 by totalprice with unique tiebreak",
      Some("""
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, s.sum_qty
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
              FROM lineitem GROUP BY 1
              HAVING SUM(l_quantity) > 300) s
          ON o.o_orderkey = s.l_orderkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 10
      """)) { (spark, dir) =>
      val heavy = Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      Tables.orders(spark, dir)
        .join(heavy, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---- TPC-H Q14 shape: promo revenue share -------------------------------
    // The conditional-share report: one fact⋈dim join, both the CASE'd and
    // the total revenue accumulated in the SAME aggregate pass (never two
    // scans), DECIMAL-exact sums, the final ratio ONE double divide at the
    // boundary. The p_type filter rides the dim side of a join AQE
    // broadcasts while the dim fits.
    QueryDef(
      "q14_promo_share",
      "TPC-H Q14 shape: percentage of a month's revenue from PROMO parts — one join, conditional + total DECIMAL sums in one aggregate, double ratio at the boundary",
      Some("""
        SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS DOUBLE) AS promo_share_pct
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
      """)) { (spark, dir) =>
      val rev = col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D))
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1996-02-01 00:00:00").cast("timestamp_ntz"))
        .join(Tables.part(spark, dir), col("p_partkey") === col("l_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(D)))
            .cast("double").as("promo"),
          sum(rev).cast("double").as("total"))
        .select((lit(100.0) * col("promo") / col("total")).as("promo_share_pct"))
    },

    // ---- TPC-H Q15 shape: top supplier by revenue ---------------------------
    // The subquery-max selection: revenue per supplier (one fact aggregate),
    // then keep the row(s) equal to the global max. Stated as a rank-1
    // window over an EMPTY partition? No — a scalar-max semi-join: the
    // 1-row max frame joins back against the aggregate, so no single-task
    // global window ever materializes (the o3 lesson at fact scale).
    // Revenue compares as exact DECIMAL — "equals the max" is only
    // well-defined because no double rounding happened before the compare.
    QueryDef(
      "q15_top_supplier",
      "TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue — per-supplier DECIMAL aggregate, 1-row max joined back (no global window), double cast at the boundary only",
      Some("""
        WITH rev AS (
          SELECT l_suppkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY 1)
        SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
        FROM rev r
        JOIN supplier s ON s.s_suppkey = r.l_suppkey
        WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
      """)) { (spark, dir) =>
      val rev = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast(D)
          * (lit(1).cast(D) - col("l_discount").cast(D))).as("rev_d"))
      val top = rev.agg(max(col("rev_d")).as("rev_d"))
      rev.join(top, Seq("rev_d")) // 1-row max side: AQE broadcasts it
        .join(Tables.supplier(spark, dir), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_d").cast("double").as("total_rev"))
    },

    // ---- TPC-H Q17 shape: small-quantity-order revenue ----------------------
    // The correlated-average filter: lines whose quantity is below 20% of
    // their part's average quantity. The average is PER-PART, so
    // restricting lineitem to the Brand#3 part keys BEFORE computing it is
    // semantics-preserving — and Catalyst will not push the brand filter
    // through the aggregate-join correlation on its own (round-9 verdict
    // #3: the unrestricted per-partkey shuffle was ~25× larger than
    // needed, brand selectivity being ~1/25 of parts). One semi-join
    // restricts the scan; the restricted rows then feed BOTH the average
    // and the re-join — one shuffle on l_partkey serves both under AQE,
    // and the part dim side broadcasts at its natural size.
    // Quantities are integral doubles, so SUM/COUNT (and hence AVG) are
    // exact below 2^53 regardless of order — the q18 regime — and the
    // 0.2·avg threshold is the same IEEE product on both engines.
    QueryDef(
      "q17_small_quantity",
      "TPC-H Q17 shape: weekly-lost revenue from small-quantity orders of one brand — brand filter semi-joined BELOW the per-part average, threshold joined back, DECIMAL revenue / 7 at the boundary",
      Some("""
        WITH bl AS (
          SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3')),
        pa AS (
          SELECT l_partkey, AVG(l_quantity) AS avg_qty
          FROM bl GROUP BY 1)
        SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS DOUBLE) AS avg_weekly_loss
        FROM bl
        JOIN pa ON pa.l_partkey = bl.l_partkey
        WHERE l_quantity < 0.2 * pa.avg_qty
      """)) { (spark, dir) =>
      val brandParts = Tables.part(spark, dir)
        .filter(col("p_brand") === "Brand#3").select(col("p_partkey"))
      val bl = Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(brandParts, col("l_partkey") === col("p_partkey"), "left_semi")
      val pa = bl.groupBy(col("l_partkey")).agg(avg(col("l_quantity")).as("avg_qty"))
      bl.join(pa.withColumnRenamed("l_partkey", "pa_partkey"),
          col("l_partkey") === col("pa_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast(D)).cast("double") / lit(7.0))
          .as("avg_weekly_loss"))
    },

    // ---- TPC-H Q19 shape: bracketed OR-of-ANDs predicates -------------------
    // The disjunctive-predicate scan: three (brand, size-range,
    // quantity-range) brackets OR'd together after one join. The join key
    // predicate stays conjunctive so the equi-join plans normally; the
    // brackets collapse into one codegen'd filter — and the parts of the
    // disjunction that touch only part columns prune the dim scan
    // (p_size <= 15 is implied by all three brackets and pushes down).
    QueryDef(
      "q19_bracket_revenue",
      "TPC-H Q19 shape: revenue under three OR'd (brand, size, quantity) brackets — single join, disjunctive filter, common bound pushed to the dim scan",
      Some("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
      """)) { (spark, dir) =>
      val bracket =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5)
          && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#7" && col("p_size").between(1, 10)
          && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 15)
          && col("l_quantity").between(20, 30))
      Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir), col("p_partkey") === col("l_partkey"))
        .filter(bracket)
        .agg(
          sum(col("l_extendedprice").cast(D)
            * (lit(1).cast(D) - col("l_discount").cast(D)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // ---- TPC-H Q7 shape: bilateral nation trade volume ----------------------
    // The first deep join-ORDERING shape (round-9 verdict #5): six relations,
    // two of them the SAME dimension under different roles (supplier's
    // nation n1, customer's nation n2). The plan that survives 100 TB:
    // every dimension (supplier, customer, both nation sides — each
    // pre-filtered to the two names, so the nation-pair predicate prunes
    // at the dim scan) broadcasts; the only shuffle is lineitem ⋈ orders
    // on the orderkey. Join order decides feasibility — a plan that joins
    // customer×supplier early has no key and degenerates; Catalyst keeps
    // the fact spine left-deep here, verified in PlanLintSpec (no
    // cartesian, no BNLJ).
    QueryDef(
      "q7_nation_trade",
      "TPC-H Q7 shape: bilateral shipping volume between two nations by year — six-relation join with one dimension in two roles, dims broadcast, single fact-spine shuffle",
      Some("""
        SELECT supp_nation, cust_nation, yr,
               CAST(SUM(volume) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
                 CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey
            AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey
            AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
        GROUP BY 1, 2, 3
      """)) { (spark, dir) =>
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = Tables.nation(spark, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(spark, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(spark, dir), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(spark, dir), col("s_suppkey") === col("l_suppkey"))
        .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
        .join(n1, col("s_nationkey") === col("n1_key"))
        .join(n2, col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2")
          || (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("yr"))
        .agg(
          sum(col("l_extendedprice").cast(D)
            * (lit(1).cast(D) - col("l_discount").cast(D)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // ---- TPC-H Q8 shape: national market share ------------------------------
    // The deepest join tree in the catalog: EIGHT relations (part,
    // lineitem, supplier, orders, customer, nation×2, region) feeding one
    // ratio aggregate. The discriminating property at scale: the region
    // restriction enters through the CUSTOMER side while the measured
    // nation enters through the SUPPLIER side — a planner that conflates
    // the two nation roles or joins region late scans ~5× the customers.
    // All seven non-fact relations broadcast; lineitem ⋈ orders is again
    // the single shuffle. Share = decimal-exact sums cast to double at
    // the boundary, divided with the same IEEE op on both engines.
    QueryDef(
      "q8_market_share",
      "TPC-H Q8 shape: one nation's share of regional order volume for a part type, by order year — eight-relation join, region via customer side, measured nation via supplier side, single fact shuffle, exact-decimal sums ratioed in double",
      Some("""
        SELECT yr,
               CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                    / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share,
               COUNT(*) AS n_lines
        FROM (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                 n2.n_name AS supp_nation,
                 CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
          FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region
          WHERE p_partkey = l_partkey
            AND l_suppkey = s_suppkey
            AND l_orderkey = o_orderkey
            AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey
            AND n1.n_regionkey = r_regionkey
            AND s_nationkey = n2.n_nationkey
            AND r_name = 'ASIA'
            AND p_type = 'ECONOMY'
            AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
        GROUP BY yr
      """)) { (spark, dir) =>
      val custNation = Tables.nation(spark, dir)
        .join(Tables.region(spark, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val suppNation = Tables.nation(spark, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val vol = Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir).filter(col("p_type") === "ECONOMY"),
          col("p_partkey") === col("l_partkey"))
        .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .join(custNation, col("c_nationkey") === col("cn_key"), "left_semi")
        .join(suppNation, col("s_nationkey") === col("sn_key"))
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("supp_nation"),
          (col("l_extendedprice").cast(D)
            * (lit(1).cast(D) - col("l_discount").cast(D))).as("volume"))
      vol.groupBy(col("yr"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_3", col("volume"))
            .otherwise(lit(0).cast(D))).cast("double")
            / sum(col("volume")).cast("double")).cast("double").as("mkt_share"),
          count(lit(1)).as("n_lines"))
    },

    // ---- TPC-H Q9 shape: product-line profit by nation and year -------------
    // Q9's join graph without its partsupp leg (this corpus has no
    // partsupp table, so the ps_supplycost term drops from the profit
    // expression — the five-relation join shape and the LIKE-filtered
    // part restriction are what's being exercised): part % filter →
    // lineitem → supplier → orders → nation, grouped by nation × order
    // year. The part filter is a substring LIKE — not sargable, but it
    // prunes at the DIM scan (200k parts at sf100, not 600M lineitems),
    // which is the property that matters; the fact joins orders on
    // orderkey (shuffle) and everything else broadcasts.
    QueryDef(
      "q9_product_profit",
      "TPC-H Q9 shape (no partsupp in this corpus): profit on LIKE-matched parts by supplier nation and order year — five-relation join, dim-side substring filter, single fact shuffle",
      Some("""
        SELECT nation, yr,
               CAST(SUM(amount) AS DOUBLE) AS sum_profit,
               COUNT(*) AS n_lines
        FROM (
          SELECT n_name AS nation,
                 CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                 CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))) AS amount
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey
            AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey
            AND s_nationkey = n_nationkey
            AND p_name LIKE '%widget%')
        GROUP BY 1, 2
      """)) { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir).filter(col("p_name").like("%widget%")),
          col("p_partkey") === col("l_partkey"))
        .join(Tables.orders(spark, dir), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(spark, dir), col("s_suppkey") === col("l_suppkey"))
        .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(
          sum(col("l_extendedprice").cast(D)
            * (lit(1).cast(D) - col("l_discount").cast(D)))
            .cast("double").as("sum_profit"),
          count(lit(1)).as("n_lines"))
    },

    // ---- TPC-H Q21 shape: suppliers who solely delayed an order -------------
    // The anti/semi-join STACK under an aggregate (round-9 verdict #5's
    // last shape): for each late lineitem of a finalized order, there must
    // EXIST another supplier on the same order (semi) and NOT EXIST
    // another LATE supplier on it (anti). This corpus has no
    // l_commitdate/l_receiptdate, so "late" is shipped >90 days after the
    // order date — the predicate is a stand-in; the exists/not-exists
    // self-join stack is the exercised shape. Scale posture: all three
    // fact-side frames (late lines, other-supplier probe, other-late
    // probe) key on l_orderkey — ONE exchange family, the semi and anti
    // joins ride the same partitioning as the late join itself, and the
    // probe sides are distinct (orderkey, suppkey) pairs, never row-level
    // fan-out. No fact×fact join off the orderkey spine.
    QueryDef(
      "q21_waiting_supplier",
      "TPC-H Q21 shape: per-supplier count of late lines on finalized multi-supplier orders where no OTHER supplier was late — exists/not-exists self-join stack on one orderkey exchange family",
      Some("""
        WITH late AS (
          SELECT l.l_orderkey, l.l_suppkey
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          WHERE o.o_orderstatus = 'F'
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        SELECT s_name, COUNT(*) AS numwait
        FROM late l1
        JOIN supplier ON s_suppkey = l1.l_suppkey
        WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s_name
      """)) { (spark, dir) =>
      val l = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val late = l
        .join(Tables.orders(spark, dir)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      // probe sides NOT deduped (round-16): left_semi stops at the first
      // match and left_anti at the first disproof, so probe-side duplicate
      // (orderkey, suppkey) rows cannot change the result — the .distinct()
      // each branch used to pay was a full extra aggregate pass whose only
      // effect was shrinking the probe hash table Spark builds anyway
      val otherSupp = l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
      val otherLate = late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
      late
        .join(otherSupp,
          col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
          "left_semi")
        .join(otherLate,
          col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
          "left_anti")
        .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    },

    // ---- TPC-H Q13 shape: customer order-count distribution -----------------
    // Outer-join-under-double-aggregate: how many customers placed 0, 1,
    // 2, ... qualifying orders. The dim-preserving LEFT OUTER is the
    // defining subtlety (customers with zero orders must appear in the 0
    // bucket, so the order filter lives in the JOIN condition, not WHERE).
    // Scale posture: the per-customer count is computed on the ORDERS side
    // FIRST (partial aggregate below the join — the fact table collapses
    // to one row per custkey before any join), then the outer join fills
    // zeros; the oracle keeps TPC-H's textbook join-then-aggregate form
    // and must produce the identical distribution. The second aggregate
    // (distribution over counts) is bounded by max orders/customer —
    // trivially small at any corpus size.
    QueryDef(
      "q13_customer_distribution",
      "TPC-H Q13 shape: distribution of per-customer qualifying-order counts — orders pre-aggregated per custkey BELOW the zero-preserving left outer join, then the count-of-counts",
      Some("""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey
           AND o_orderpriority <> '4-NOT SPECIFIED'
          GROUP BY c_custkey)
        GROUP BY c_count
      """)) { (spark, dir) =>
      val perCust = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      Tables.customer(spark, dir).select(col("c_custkey"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },

    // ---- TPC-H Q22 shape: global scalar threshold + anti-join ---------------
    // The last TPC-H query expressible on this corpus (q11/q20 need
    // partsupp, q12 l_shipmode — neither exists here): customers whose
    // balance beats the global positive-balance average AND who never
    // placed an urgent order (phone-prefix filter stood in by the urgent
    // anti-join — the fixture has no c_phone; every customer here has
    // SOME order, so plain NOT EXISTS would be degenerate). The average
    // is compared by CROSS-MULTIPLICATION (bal·n > Σbal) so the filter
    // boundary is exact DECIMAL·BIGINT arithmetic on both engines — an
    // avg-as-double comparison could flap a boundary row. Through SQL on
    // both sides (the j13 posture): the two uncorrelated scalar
    // subqueries execute once each (never per-row), and NOT EXISTS plans
    // as a null-safe-free anti-join on custkey; orders is touched only
    // as its (custkey, priority) projection.
    QueryDef(
      "q22_global_sales_opportunity",
      "TPC-H Q22 shape: per-segment count + balance sum of above-global-average customers with no urgent order — uncorrelated scalar subqueries (exact cross-multiplied threshold) + NOT EXISTS anti-join, through SQL on both sides",
      Some("""
        SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
              (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0) >
              (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
               FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
      """)) { (spark, dir) =>
      val cu = s"parquet.`$dir/customer.parquet`"
      val or = s"parquet.`$dir/orders.parquet`"
      spark.sql(s"""
        SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM $cu c
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
              (SELECT COUNT(*) FROM $cu WHERE c_acctbal > 0) >
              (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
               FROM $cu WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM $or o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
      """)
    })
}
