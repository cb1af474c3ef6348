package graft.finance

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The reference's user-category OLTP matrix
  * (`transaction_service.py:78-345`) against the parquet warehouse. */
class UserCategoryServiceSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-03-02 00:00:00")

  /** (id, view master_category, predicted) — the fallback source. */
  private def txFixture: DataFrame =
    Seq(
      ("t1", Some("Dining"), Some("Dining")),
      ("t2", None: Option[String], Some("Travel")),
      ("t3", None: Option[String], None: Option[String]))
      .toDF("transaction_id", "master_category", "predicted_master_category")

  private def freshService(nowValue: () => Timestamp = () => t0) = {
    val wh = Files.createTempDirectory("graft-ucs").toString
    val store = new TableStore(spark, wh)
    (new UserCategoryService(spark, store, () => txFixture, nowValue), store)
  }

  private def rows(store: TableStore) =
    store.read("user_categories").collect()
      .map(r => r.getString(0) -> r).toMap

  test("categorize: creates with defaults, then field-wise updates preserve the rest") {
    val (svc, store) = freshService()
    val created = svc.categorize("t1", "Groceries", sourceCategory = Some("src"))
    assert(created.masterCategory.contains("Groceries"))
    assert(!created.validated && !created.excludeFromForecast && created.notes.isEmpty)

    // update master only: notes/validated untouched; source overwritten by null
    svc.categorize("t1", "Rent", notes = Some("weekly"), validated = Some(true))
    val updated = svc.categorize("t1", "Home")
    assert(updated.masterCategory.contains("Home"))
    assert(updated.sourceCategory.isEmpty) // assigned unconditionally: null overwrites
    assert(updated.notes.contains("weekly")) // when-provided: None keeps stored
    assert(updated.validated)
  }

  test("updateValidation: existing row flips; missing row created from fallback; no category errors") {
    val (svc, store) = freshService()
    svc.categorize("t1", "Dining")
    assert(svc.updateValidation("t1", validated = true).validated)

    // t2 has no uc row but a predicted category -> created validated with it
    val r2 = svc.updateValidation("t2", validated = true)
    assert(r2.masterCategory.contains("Travel") && r2.validated && !r2.excludeFromForecast)

    // t3 has neither -> the reference's ValueError
    intercept[UserCategoryService.NoCategoryError] { svc.updateValidation("t3", validated = true) }
    ()
  }

  test("updateNotes requires an existing row; null clears") {
    val (svc, _) = freshService()
    intercept[UserCategoryService.NoCategoryError] { svc.updateNotes("t1", Some("x")) }
    svc.categorize("t1", "Dining", notes = Some("x"))
    assert(svc.updateNotes("t1", None).notes.isEmpty)
  }

  test("updateExcludeFromForecast: get-or-create with fallback, 400-path when uncategorizable") {
    val (svc, _) = freshService()
    val r = svc.updateExcludeFromForecast("t2", excludeFromForecast = true)
    assert(r.excludeFromForecast && r.masterCategory.contains("Travel") && !r.validated)
    intercept[UserCategoryService.NoCategoryError] { svc.updateExcludeFromForecast("t3", true) }
    ()
  }

  test("bulkValidate: one set-based merge; already-validated and category-less ids untouched") {
    var clock = t0
    val (svc, store) = freshService(() => clock)
    svc.categorize("t1", "Dining", validated = Some(true)) // already validated -> skip
    clock = t1
    // t1 skipped (validated), t2 created from fallback, t3 skipped (no category)
    assert(svc.bulkValidate(Seq("t1", "t2", "t3")) == 1L)
    val byId = rows(store)
    assert(byId("t2").getAs[Boolean]("validated"))
    assert(byId("t2").getAs[String]("master_category") == "Travel")
    // the skipped row's updated_at must be byte-identical to its creation stamp
    assert(byId("t1").getAs[Timestamp]("updated_at") == t0)
    assert(byId("t2").getAs[Timestamp]("updated_at") == t1)
    assert(!byId.contains("t3"))

    // idempotence: a second sweep changes nothing
    assert(svc.bulkValidate(Seq("t1", "t2", "t3")) == 0L)
  }

  test("updateValidatedCategory: only validated rows editable; side fields carried") {
    val (svc, _) = freshService()
    intercept[UserCategoryService.NoCategoryError] {
      svc.updateValidatedCategory("t1", "Home") // no row at all
    }
    svc.categorize("t1", "Dining", notes = Some("keep me"))
    intercept[UserCategoryService.NoCategoryError] {
      svc.updateValidatedCategory("t1", "Home") // exists but unvalidated
    }
    svc.updateValidation("t1", validated = true)
    val r = svc.updateValidatedCategory("t1", "Home")
    assert(r.masterCategory.contains("Home") && r.validated && r.notes.contains("keep me"))
  }

  test("first-ever write through any mutation keeps the full canonical schema") {
    val (svc, store) = freshService()
    svc.updateValidation("t2", validated = true) // narrow batch, fresh table
    assert(store.read("user_categories").schema.fieldNames.toSet ==
      Schemas.userCategories.fieldNames.toSet)
  }
}
