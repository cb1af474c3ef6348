package graft.finance.serving

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.finance.{CategoryCatalog, TableStore}

/** Category-catalog CRUD over the stored `categories` table — the service
  * half of `ui/backend/api/categories.py` (list / add / set-active).
  * Each mutation is a pure [[CategoryCatalog]] transform persisted through
  * the atomic swap; the catalog is control-plane-small (tens of rows), so
  * the read-modify-write protocol is the reference's own shape.
  */
final class CategoryCatalogService(
    spark: SparkSession,
    store: TableStore,
    inUse: () => DataFrame,
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis())) {

  private val Table = "categories"

  private def catalog(): DataFrame =
    if (store.exists(Table)) store.read(Table)
    else CategoryCatalog.emptyCatalog(spark)

  /** GET /api/categories — name/default/active/in-use rows, sorted
    * case-insensitively. Seeds defaults first so a fresh warehouse lists
    * the standard catalog (the reference seeds on service init). */
  def list(): Seq[Row] = {
    val seeded = CategoryCatalog.ensureDefaults(catalog(), now())
    CategoryCatalog.listCatalog(seeded, inUse()).collect().toSeq
  }

  /** Active names for dropdowns (`category_service.py:91-101`). */
  def activeNames(): Seq[String] =
    CategoryCatalog.activeCategoryNames(
      CategoryCatalog.ensureDefaults(catalog(), now()))
      .collect().map(_.getString(0)).toSeq

  /** POST /api/categories — add or reactivate; IllegalArgumentException
    * maps to the route's 400. Returns the row as listed. */
  def add(name: String): Row = {
    val next = CategoryCatalog.addCategory(
      CategoryCatalog.ensureDefaults(catalog(), now()), name, now())
    store.overwrite(Table, next)
    rowFor(name.trim)
  }

  /** PUT /api/categories/{name}/active — IllegalArgumentException maps to
    * the route's 404 (activating a missing name). */
  def setActive(name: String, isActive: Boolean): Row = {
    val next = CategoryCatalog.setCategoryActive(
      CategoryCatalog.ensureDefaults(catalog(), now()), name, isActive, now())
    store.overwrite(Table, next)
    rowFor(name)
  }

  private def rowFor(name: String): Row =
    list().find(_.getString(0) == name).getOrElse(
      throw new IllegalStateException(s"catalog lost row $name"))
}
