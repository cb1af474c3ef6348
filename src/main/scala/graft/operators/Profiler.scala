package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass column profiling — the Deequ/`ANALYZE TABLE`-style statistics
  * battery warehouses run before trusting a new feed, next to dq1's
  * constraint checks (pass/fail) and dq2's volume monitor (trend): per
  * column, row/null/distinct counts, a micro-unit null fraction, and
  * lexicographic min/max.
  *
  * Scale shape: ONE aggregate over ONE scan for ALL columns — counts and
  * min/max are partial-aggregated map-side, so the exchange carries one
  * stats row per partition however wide the table. `count_distinct` over
  * N columns adds one N-way Expand before the aggregate (rows × N), the
  * standard multi-distinct plan; for tables where exact distincts don't
  * pay, [[profileApprox]] swaps in HLL sketches (k1's posture) and the
  * Expand disappears. Output is COLUMNS-sized, never data-sized.
  *
  * Min/max compare the STRING rendering (lexicographic) so one operator
  * profiles any column type; callers profile exactly-renderable columns
  * (integral/string — render-stable across engines) or pre-quantize
  * doubles, as dq3's catalog entry does.
  */
object Profiler {

  /** Exact profile of `cols`: one row per column —
    * (col_name, n_rows, n_nulls, null_frac_micro, n_distinct, min_str, max_str).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    build(df, cols, c => count_distinct(col(c)))

  /** The sketch-mode twin: identical shape, `approx_count_distinct`
    * (HLL) instead of the exact Expand — the profile you run on a 100 TB
    * feed where exact distincts cost more than they inform. Not
    * cross-engine hash-comparable (sketch internals differ); gated by
    * spec against [[profile]] within the sketch error bound. */
  def profileApprox(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    build(df, cols, c => approx_count_distinct(col(c), rsd))

  private def build(df: DataFrame, cols: Seq[String], distinctAgg: String => Column): DataFrame = {
    require(cols.nonEmpty, "Profiler: at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"Profiler: unknown columns ${missing.mkString(", ")}")
    val flat = count(lit(1)).as("n_rows") +: cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        (count(lit(1)) - count(col(c))).as(s"_nn$i"),
        distinctAgg(c).as(s"_nd$i"),
        min(col(c).cast("string")).as(s"_mn$i"),
        max(col(c).cast("string")).as(s"_mx$i"))
    }
    val one = df.agg(flat.head, flat.tail: _*)
    val rows = cols.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c).as("col_name"), col("n_rows"),
        col(s"_nn$i").as("n_nulls"),
        // nullif: a zero-row feed profiles as NULL null-fraction instead of
        // tripping ANSI DIVIDE_BY_ZERO
        expr(s"(_nn$i * CAST(1000000 AS BIGINT)) div nullif(n_rows, CAST(0 AS BIGINT))")
          .as("null_frac_micro"),
        col(s"_nd$i").as("n_distinct"),
        col(s"_mn$i").as("min_str"), col(s"_mx$i").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }
}
