package graft.finance

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Category catalog lifecycle (reference
  * `ui/backend/services/category_service.py:44-173`,
  * `api/categories.py:33-60`, defaults from `constants.py:44-64`): the
  * control-plane CRUD a UI user hits on every category dropdown —
  * idempotent default seeding, in-use sync, add/reactivate with the
  * UNCERTAIN reservation, and activate/deactivate including the
  * orphan-deactivate row creation.
  *
  * Spark shape: the catalog is a tiny dimension (tens of rows), so every
  * mutation is a pure DataFrame → DataFrame transform the caller persists
  * via [[TableStore.overwrite]] (the same functional-recompute protocol as
  * the registry flags, SURVEY §2.8d). The two point-mutations
  * ([[addCategory]], [[setCategoryActive]]) need the current state of ONE
  * row to pick their branch — that is a bounded `.limit(1).collect()` on a
  * control-plane table, the same sanctioned shape as the ModelStore top-1
  * pick, never a data-plane collect.
  *
  * `now` is a caller-supplied timestamp so replays and oracle comparisons
  * stay deterministic. It rides in the new rows as data, not as a literal:
  * a timestamp literal is compiled into the generated code, so a service
  * that lists the catalog with a fresh `now` per request would compile new
  * classes on every request.
  */
object CategoryCatalog {

  /** `constants.py:44-64` — seeded into the catalog and used as the
    * fallback list when the catalog cannot be read. */
  val DefaultCategories: Seq[String] = Seq(
    "Dining out", "Donation", "Flight", "Fun!™", "Gas", "Groceries",
    "Health care", "Home", "Income", "Insurance", "Interest", "Investments",
    "Miscellaneous", "Professional development", "Rent", "Shopping",
    "Transfers", "Transportation", "Utilities")

  /** The reserved pseudo-category predictions fall back to below the
    * confidence threshold; never a catalog row (`category_service.py:57,109`). */
  val Reserved = "UNCERTAIN"

  val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("is_default", BooleanType, nullable = false),
    StructField("is_active", BooleanType, nullable = false),
    StructField("created_at", TimestampType, nullable = true)))

  def emptyCatalog(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** `ns` as (name, created_at) rows, each stamped `now`. */
  private def names(spark: SparkSession, ns: Seq[String], now: Timestamp): DataFrame =
    spark.createDataFrame(ns.map(n => (n, now))).toDF("name", "created_at")

  private def newRows(nameRows: DataFrame, isActive: Boolean): DataFrame =
    nameRows.select(
      col("name"),
      col("name").isInCollection(DefaultCategories).as("is_default"),
      lit(isActive).as("is_active"),
      col("created_at"))

  /** Insert any missing default categories — idempotent
    * (`category_service.py:44-50`). Defaults are always seeded with
    * `is_default = true` even though `newRows` would derive the same. */
  def ensureDefaults(catalog: DataFrame, now: Timestamp): DataFrame = {
    val missing = names(catalog.sparkSession, DefaultCategories, now)
      .join(catalog.select("name"), Seq("name"), "left_anti")
    catalog.unionByName(newRows(missing, isActive = true))
  }

  /** Add catalog rows for in-use names the catalog is missing; existing
    * rows are untouched, so deactivation is never overridden
    * (`category_service.py:53-67`). `inUse` carries the names in its first
    * column (e.g. [[Serving.inUseCategories]] output). */
  def syncInUse(catalog: DataFrame, inUse: DataFrame, now: Timestamp): DataFrame = {
    // the names come from a scan, so the stamp is a literal here: a
    // catalog refresh runs once per job, not once per request
    val candidates = inUse.select(col(inUse.columns.head).as("name"))
      .filter(col("name").isNotNull && col("name") =!= Reserved)
      .distinct()
      .join(catalog.select("name"), Seq("name"), "left_anti")
      .withColumn("created_at", lit(now))
    catalog.unionByName(newRows(candidates, isActive = true))
  }

  /** Catalog listing with default / active / in-use metadata, sorted
    * case-insensitively (`category_service.py:70-88`; the reference runs
    * ensure + sync first — compose `listCatalog(syncInUse(ensureDefaults(
    * c, now), inUse, now), inUse)` for the endpoint behavior). */
  def listCatalog(catalog: DataFrame, inUse: DataFrame): DataFrame = {
    val used = inUse.select(col(inUse.columns.head).as("name"))
      .filter(col("name").isNotNull).distinct()
      .withColumn("in_use", lit(true))
    catalog.join(used, Seq("name"), "left")
      .select(col("name"), col("is_default"), col("is_active"),
        coalesce(col("in_use"), lit(false)).as("in_use"), col("created_at"))
      .orderBy(lower(col("name")), col("name"))
  }

  /** Active category names for assignment dropdowns
    * (`category_service.py:91-101`). */
  def activeCategoryNames(catalog: DataFrame): DataFrame =
    catalog.filter(col("is_active")).select("name").orderBy("name")

  /** Add a custom category, or reactivate an inactive one; rejects blank
    * names, the UNCERTAIN reservation, and active duplicates
    * (`category_service.py:104-143`). Returns the new catalog. */
  def addCategory(catalog: DataFrame, name: String, now: Timestamp): DataFrame = {
    val cleaned = Option(name).getOrElse("").trim
    require(cleaned.nonEmpty, "Category name is required")
    require(cleaned.toUpperCase != Reserved, "UNCERTAIN is reserved and cannot be added")
    val existing = catalog.filter(col("name") === cleaned)
      .select("is_active").limit(1).collect()
    if (existing.nonEmpty) {
      if (existing(0).getBoolean(0))
        throw new IllegalArgumentException(s"Category '$cleaned' already exists")
      catalog.withColumn("is_active",
        when(col("name") === cleaned, lit(true)).otherwise(col("is_active")))
    } else {
      catalog.unionByName(
        newRows(names(catalog.sparkSession, Seq(cleaned), now), isActive = true))
    }
  }

  /** Activate or deactivate a category; deactivating an orphan in-use name
    * creates its (inactive) row, activating a missing name raises
    * (`category_service.py:146-173`). Existing transactions are left
    * unchanged. Returns the new catalog. */
  def setCategoryActive(
      catalog: DataFrame, name: String, isActive: Boolean, now: Timestamp): DataFrame = {
    val exists = catalog.filter(col("name") === name).limit(1).collect().nonEmpty
    if (!exists) {
      if (isActive)
        throw new IllegalArgumentException(s"Category '$name' not found")
      catalog.unionByName(
        newRows(names(catalog.sparkSession, Seq(name), now), isActive = false))
    } else {
      catalog.withColumn("is_active",
        when(col("name") === name, lit(isActive)).otherwise(col("is_active")))
    }
  }
}
