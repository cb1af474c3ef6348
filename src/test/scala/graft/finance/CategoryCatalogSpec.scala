package graft.finance

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Every branch of the reference category lifecycle
  * (`category_service.py:44-173`): idempotent seeding, in-use sync that
  * never overrides deactivation, case-insensitive listing with metadata,
  * add / duplicate-reject / reactivate / UNCERTAIN reservation, and
  * activate/deactivate including orphan-deactivate row creation. */
class CategoryCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val now = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val later = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")

  private def empty = CategoryCatalog.emptyCatalog(spark)

  private def rows(c: DataFrame): Map[String, (Boolean, Boolean)] =
    c.collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap

  test("ensureDefaults seeds all 19 defaults once; idempotent on re-run") {
    val c1 = CategoryCatalog.ensureDefaults(empty, now)
    assert(c1.count() == 19)
    assert(rows(c1).forall { case (_, (dflt, active)) => dflt && active })
    // second call adds nothing, even with one default deactivated
    val c2 = CategoryCatalog.setCategoryActive(c1, "Gas", isActive = false, now)
    val c3 = CategoryCatalog.ensureDefaults(c2, later)
    assert(c3.count() == 19)
    assert(rows(c3)("Gas") == (true, false)) // deactivation survived
  }

  test("syncInUse adds missing in-use names, skips UNCERTAIN/null, never reactivates") {
    val base = CategoryCatalog.setCategoryActive(
      CategoryCatalog.ensureDefaults(empty, now), "Rent", isActive = false, now)
    val inUse = Seq(Some("Rent"), Some("Crypto"), Some("UNCERTAIN"), None, Some("Gas"))
      .toDF("category")
    val synced = CategoryCatalog.syncInUse(base, inUse, later)
    val m = rows(synced)
    assert(synced.count() == 20)                 // only Crypto is new
    assert(m("Crypto") == (false, true))         // custom, active
    assert(m("Rent") == (true, false))           // deactivation NOT overridden
    assert(!m.contains("UNCERTAIN"))
  }

  test("listCatalog carries metadata and sorts case-insensitively") {
    val cat = CategoryCatalog.syncInUse(
      CategoryCatalog.ensureDefaults(empty, now),
      Seq("aardvark", "Gas").toDF("category"), now)
    val inUse = Seq("Gas", "aardvark").toDF("category")
    val listed = CategoryCatalog.listCatalog(cat, inUse).collect()
    assert(listed.head.getString(0) == "aardvark") // lower-case sort, not ASCII
    val gas = listed.find(_.getString(0) == "Gas").get
    assert(gas.getBoolean(1) && gas.getBoolean(2) && gas.getBoolean(3)) // default, active, in-use
    val dining = listed.find(_.getString(0) == "Dining out").get
    assert(!dining.getBoolean(3))                  // not in use
    assert(listed.map(_.getString(0).toLowerCase).toSeq ==
      listed.map(_.getString(0).toLowerCase).toSeq.sorted)
  }

  test("activeCategoryNames filters to active only") {
    val cat = CategoryCatalog.setCategoryActive(
      CategoryCatalog.ensureDefaults(empty, now), "Flight", isActive = false, now)
    val active = CategoryCatalog.activeCategoryNames(cat).as[String].collect()
    assert(active.length == 18 && !active.contains("Flight"))
  }

  test("addCategory trims, creates custom rows, flags defaults") {
    val c = CategoryCatalog.addCategory(
      CategoryCatalog.ensureDefaults(empty, now), "  Crypto  ", later)
    assert(rows(c)("Crypto") == (false, true))
    assert(c.count() == 20)
  }

  test("addCategory rejects blanks, the UNCERTAIN reservation, and active duplicates") {
    val cat = CategoryCatalog.ensureDefaults(empty, now)
    assert(intercept[IllegalArgumentException] {
      CategoryCatalog.addCategory(cat, "   ", now)
    }.getMessage.contains("required"))
    assert(intercept[IllegalArgumentException] {
      CategoryCatalog.addCategory(cat, "uncertain", now)
    }.getMessage.contains("reserved"))
    assert(intercept[IllegalArgumentException] {
      CategoryCatalog.addCategory(cat, "Gas", now)
    }.getMessage.contains("already exists"))
  }

  test("addCategory reactivates an inactive category instead of duplicating") {
    val cat = CategoryCatalog.setCategoryActive(
      CategoryCatalog.ensureDefaults(empty, now), "Gas", isActive = false, now)
    val c = CategoryCatalog.addCategory(cat, "Gas", later)
    assert(c.count() == 19)
    assert(rows(c)("Gas") == (true, true))
  }

  test("setCategoryActive toggles; deactivating an orphan creates its row; activating a missing name raises") {
    val cat = CategoryCatalog.ensureDefaults(empty, now)
    val off = CategoryCatalog.setCategoryActive(cat, "Home", isActive = false, now)
    assert(rows(off)("Home") == (true, false))
    val on = CategoryCatalog.setCategoryActive(off, "Home", isActive = true, now)
    assert(rows(on)("Home") == (true, true))
    // orphan in-use name: deactivate creates an inactive row
    val orphan = CategoryCatalog.setCategoryActive(cat, "LegacyCat", isActive = false, now)
    assert(rows(orphan)("LegacyCat") == (false, false))
    assert(orphan.count() == 20)
    // activating a name with no row raises not-found
    assert(intercept[IllegalArgumentException] {
      CategoryCatalog.setCategoryActive(cat, "Nope", isActive = true, now)
    }.getMessage.contains("not found"))
  }
}
