package graft.finance

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The write half of the transactions API — the reference's user-category
  * OLTP mutations (`ui/backend/services/transaction_service.py:78-345`)
  * over the parquet warehouse: get-or-create categorize, validation /
  * notes / forecast-exclusion updates, and set-based bulk validation.
  *
  * Every mutation is one [[TableStore.mergeFieldwise]] batch against
  * `user_categories`, persisted with [[TableStore.overwrite]] — the
  * reference's per-row get-or-create +
  * per-field-update protocol, already proven by the `i4_fieldwise_merge`
  * oracle. Point lookups (does a row exist; what category would a created
  * row take) are bounded `limit(1)` control-plane reads, the sanctioned
  * OLTP shape (same as the ModelStore top-1 pick) — the MUTATIONS stay
  * set-based, so `bulkValidate` of a million ids is one join + one merge,
  * not a driver loop.
  *
  * `now` is injectable so replays and specs stay deterministic.
  */
final class UserCategoryService(
    spark: SparkSession,
    store: TableStore,
    transactions: () => DataFrame,
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis())) {
  import spark.implicits._

  /** Mutation outcome carrying the post-merge row, as the reference
    * returns the refreshed UserCategory ORM object. */
  final case class UserCategoryRow(
      transactionId: String,
      masterCategory: Option[String],
      sourceCategory: Option[String],
      notes: Option[String],
      validated: Boolean,
      excludeFromForecast: Boolean,
      updatedAt: Option[Timestamp])

  import UserCategoryService.NoCategoryError

  private val Table = "user_categories"
  private val Key = "transaction_id"

  private def existing(): DataFrame = store.readOrEmpty(Table, Schemas.userCategories)

  private def existingRow(transactionId: String): Option[Row] =
    existing().filter(col(Key) === transactionId).limit(1).collect().headOption

  /** `_fetch_existing_category` (`transaction_service.py:58-66`):
    * COALESCE(master_category, predicted_master_category) from the
    * predictions view for ONE transaction. */
  private def fallbackCategory(transactionId: String): Option[String] =
    transactions()
      .filter(col(Key) === transactionId)
      .select(coalesce(col("master_category"), col("predicted_master_category")))
      .limit(1).collect().headOption.flatMap(r => Option(r.getString(0)))

  /** The transaction-exists 404 gate of the categorize route
    * (`api/transactions.py:66-77`). */
  def transactionExists(transactionId: String): Boolean =
    transactions().filter(col(Key) === transactionId).limit(1).count() > 0

  /** Merge against [[existing]] (full canonical schema even before the
    * table's first write — a template derived from the batch would narrow
    * the table if the first-ever mutation were a validation), then
    * persist through the atomic swap. `batch` carries the edit's
    * `updated_at` stamp in its rows, as data: a timestamp literal would be
    * compiled into the merge's generated code, so every edit would compile
    * new classes. */
  private def merge(
      batch: DataFrame,
      assigned: Seq[String],
      whenProvided: Seq[String],
      defaults: Map[String, org.apache.spark.sql.Column]): Unit =
    store.overwrite(Table, TableStore.mergeFieldwise(
      existing(), batch, Key, assigned, whenProvided, defaults,
      touch = ("updated_at", col("updated_at"))))

  private def resultRow(transactionId: String): UserCategoryRow = {
    val r = existingRow(transactionId).getOrElse(
      throw new IllegalStateException(s"merge lost row $transactionId"))
    def s(c: String) = Option(r.getString(r.fieldIndex(c)))
    def b(c: String) = !r.isNullAt(r.fieldIndex(c)) && r.getBoolean(r.fieldIndex(c))
    UserCategoryRow(transactionId, s("master_category"), s("source_category"),
      s("notes"), b("validated"), b("exclude_from_forecast"),
      Option(r.getAs[Timestamp]("updated_at")))
  }

  /** `categorize_transaction` (`transaction_service.py:78-126`):
    * master/source assigned unconditionally (null overwrites), notes /
    * validated / exclude updated only when provided, created rows default
    * validated=false, exclude=false. */
  def categorize(
      transactionId: String,
      masterCategory: String,
      sourceCategory: Option[String] = None,
      notes: Option[String] = None,
      validated: Option[Boolean] = None,
      excludeFromForecast: Option[Boolean] = None): UserCategoryRow = {
    val batch = Seq((transactionId, masterCategory, sourceCategory.orNull,
        notes.orNull, validated.map(Boolean.box).orNull,
        excludeFromForecast.map(Boolean.box).orNull, now()))
      .toDF(Key, "master_category", "source_category", "notes", "validated",
        "exclude_from_forecast", "updated_at")
      .select(col(Key), col("master_category"), col("source_category"),
        col("notes"), col("validated").cast("boolean"),
        col("exclude_from_forecast").cast("boolean"), col("updated_at"))
    merge(batch,
      assigned = Seq("master_category", "source_category"),
      whenProvided = Seq("notes", "validated", "exclude_from_forecast"),
      defaults = Map("validated" -> lit(false), "exclude_from_forecast" -> lit(false)))
    resultRow(transactionId)
  }

  /** `update_validation` (`transaction_service.py:225-249`): set the flag
    * on the existing row, or create one from the fallback category;
    * neither present → ValueError. */
  def updateValidation(transactionId: String, validated: Boolean): UserCategoryRow = {
    val creating = existingRow(transactionId).isEmpty
    val category =
      if (!creating) None
      else Some(fallbackCategory(transactionId).getOrElse(throw new NoCategoryError(
        s"No category found for transaction $transactionId. Please assign a category first.")))
    val batch = Seq((transactionId, category.orNull, validated,
        null.asInstanceOf[java.lang.Boolean], now()))
      .toDF(Key, "master_category", "validated", "exclude_from_forecast", "updated_at")
    merge(batch,
      assigned = Seq("validated"),
      whenProvided = Seq("master_category", "exclude_from_forecast"),
      defaults = Map("exclude_from_forecast" -> lit(false)))
    resultRow(transactionId)
  }

  /** `update_notes` (`transaction_service.py:252-265`): existing row only;
    * notes assigned unconditionally (null clears). */
  def updateNotes(transactionId: String, notes: Option[String]): UserCategoryRow = {
    if (existingRow(transactionId).isEmpty)
      throw new NoCategoryError(s"No user category found for transaction $transactionId")
    val batch = Seq((transactionId, notes.orNull, now())).toDF(Key, "notes", "updated_at")
    merge(batch, assigned = Seq("notes"), whenProvided = Nil, defaults = Map.empty)
    resultRow(transactionId)
  }

  /** `update_exclude_from_forecast` (`transaction_service.py:268-298`):
    * get-or-create with the fallback category; no category → ValueError. */
  def updateExcludeFromForecast(
      transactionId: String, excludeFromForecast: Boolean): UserCategoryRow = {
    val creating = existingRow(transactionId).isEmpty
    val category =
      if (!creating) None
      else Some(fallbackCategory(transactionId).getOrElse(throw new NoCategoryError(
        s"No category found for transaction $transactionId. " +
          "Please assign a category before excluding from forecast.")))
    val batch = Seq((transactionId, category.orNull, excludeFromForecast,
        null.asInstanceOf[java.lang.Boolean], now()))
      .toDF(Key, "master_category", "exclude_from_forecast", "validated", "updated_at")
    merge(batch,
      assigned = Seq("exclude_from_forecast"),
      whenProvided = Seq("master_category", "validated"),
      defaults = Map("validated" -> lit(false)))
    resultRow(transactionId)
  }

  /** `update_validated_transaction_category`
    * (`transaction_service.py:345-377`): the All-Data editor path — only a
    * validated row may be edited; the change routes through [[categorize]]
    * with the stored side fields carried so nothing else moves. The
    * debounced retrain trigger is the ROUTE's concern, not the service's. */
  def updateValidatedCategory(
      transactionId: String, masterCategory: String): UserCategoryRow = {
    val row = existingRow(transactionId)
    val isValidated = row.exists(r =>
      !r.isNullAt(r.fieldIndex("validated")) && r.getBoolean(r.fieldIndex("validated")))
    if (!isValidated)
      throw new NoCategoryError(s"Transaction $transactionId is not validated. " +
        "Only validated transactions can be edited in All Data.")
    val r = row.get
    def s(c: String) = Option(r.getString(r.fieldIndex(c)))
    def b(c: String) = !r.isNullAt(r.fieldIndex(c)) && r.getBoolean(r.fieldIndex(c))
    categorize(transactionId, masterCategory,
      sourceCategory = s("source_category"),
      notes = s("notes"),
      validated = Some(true),
      excludeFromForecast = Some(b("exclude_from_forecast")))
  }

  /** `bulk_validate_transactions` (`transaction_service.py:301-345`),
    * set-based: ONE join decides each id's disposition — existing
    * unvalidated rows flip to validated, missing rows are created from the
    * fallback category, already-validated and category-less ids are
    * skipped UNTOUCHED (the reference leaves their updated_at alone, so
    * they must stay out of the batch entirely). Returns the number of rows
    * changed, as the endpoint reports. */
  def bulkValidate(transactionIds: Seq[String]): Long = {
    if (transactionIds.isEmpty) return 0L
    val stamp = now()
    val ids = transactionIds.distinct.map(id => (id, stamp)).toDF(Key, "updated_at")
    val uc = existing().select(
      col(Key), col("validated").as("_uc_validated"), lit(true).as("_uc_present"))
    val fallback = transactions().select(
      col(Key),
      coalesce(col("master_category"), col("predicted_master_category")).as("_fb_category"))
    val disposition = ids
      .join(uc, Seq(Key), "left_outer")
      .join(fallback, Seq(Key), "left_outer")
      // changed = existing-and-not-yet-validated OR creatable-from-fallback
      .filter((col("_uc_present").isNotNull && !coalesce(col("_uc_validated"), lit(false))) ||
        (col("_uc_present").isNull && col("_fb_category").isNotNull))
    val batch = disposition.select(
      col(Key),
      // existing rows ship null here → coalesce keeps their stored category
      when(col("_uc_present").isNull, col("_fb_category")).as("master_category"),
      lit(true).as("validated"),
      lit(null).cast("boolean").as("exclude_from_forecast"),
      col("updated_at"))
    val n = batch.count()
    if (n > 0)
      merge(batch,
        assigned = Seq("validated"),
        whenProvided = Seq("master_category", "exclude_from_forecast"),
        defaults = Map("exclude_from_forecast" -> lit(false)))
    n
  }
}

object UserCategoryService {
  /** Raised where the reference raises ValueError (→ 404/400 at routes). */
  final class NoCategoryError(msg: String) extends IllegalArgumentException(msg)
}
