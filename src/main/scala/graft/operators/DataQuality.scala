package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Declarative data-quality checks — the dbt schema-test surface
  * (`unique`, `not_null`, `accepted_values`, `relationships`) generalized
  * from the reference's one declared test (`unique` on
  * `stg_historic_trxns.transaction_id`, `dbt/models/staging/_staging.yml:6-11`,
  * executed by `dbt build`, `repo.py:77`) to the full battery `dbt build`
  * supports, with dbt's exact counting semantics:
  *
  *  - `unique`: number of DISTINCT non-null key values occurring more than
  *    once (dbt filters `where column is not null` — NULLs are
  *    `not_null`'s job)
  *  - `not_null`: number of rows with a NULL in the column
  *  - `accepted_values`: number of DISTINCT non-null values outside the
  *    list (dbt's test groups by the column; NULLs pass via SQL `NOT IN`
  *    semantics — pair with `not_null`)
  *  - `relationships`: number of child rows with a non-null key absent
  *    from the parent (left anti join)
  *
  * Every check reduces to ONE partial-aggregated pass (or one anti-join)
  * over the table and returns a single `(tbl, chk, col_name, violations)`
  * row; [[report]] unions the per-check plans so the whole battery is one
  * job. Nothing collects data rows to the driver — at 100 TB each check is
  * a scan-shaped aggregate whose shuffle carries one row (or the
  * violating-key counts for `unique`, bounded by the distinct key set and
  * map-side combined).
  */
object DataQuality {

  private def row(df: DataFrame, tbl: String, chk: String, colName: String): DataFrame =
    df.select(
      lit(tbl).as("tbl"), lit(chk).as("chk"), lit(colName).as("col_name"),
      col("violations"))

  /** dbt `unique`: distinct values of `keyCols` occurring in more than one
    * row. NULL keys are excluded, exactly as dbt's test SQL does
    * (`where column is not null`) — nullability is `not_null`'s job. */
  def unique(df: DataFrame, tbl: String, keyCols: Seq[String]): DataFrame =
    row(
      df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .agg(count(lit(1)).as("violations")),
      tbl, "unique", keyCols.mkString(","))

  /** dbt `not_null`: rows where the column is NULL. */
  def notNull(df: DataFrame, tbl: String, c: String): DataFrame =
    row(
      df.filter(col(c).isNull).agg(count(lit(1)).as("violations")),
      tbl, "not_null", c)

  /** dbt `accepted_values`: DISTINCT non-null values outside `values` —
    * dbt's test groups by the column, so its failure count is the number
    * of offending values, not offending rows. */
  def acceptedValues(df: DataFrame, tbl: String, c: String, values: Seq[String]): DataFrame =
    row(
      df.filter(!col(c).isin(values: _*))
        .agg(count_distinct(col(c)).as("violations")),
      tbl, "accepted_values", c)

  /** dbt `relationships`: child rows whose non-null `childCol` has no match
    * in `parent.parentCol`. Broadcast the parent key set when it is a
    * dimension; at fact-to-fact scale the anti-join shuffles on the key
    * like any equi-join. */
  def relationships(
      child: DataFrame, tbl: String, childCol: String,
      parent: DataFrame, parentCol: String): DataFrame =
    row(
      child.filter(col(childCol).isNotNull)
        .join(parent.select(col(parentCol).as(childCol)).distinct(),
          Seq(childCol), "left_anti")
        .agg(count(lit(1)).as("violations")),
      tbl, "relationships", childCol)

  /** Union the per-check plans into one report frame. */
  def report(checks: Seq[DataFrame]): DataFrame =
    checks.reduce(_.unionByName(_))
}
