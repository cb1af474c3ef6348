package graft.finance

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The serving layer: the reference's FastAPI read queries as typed
  * DataFrame functions (`ui/backend/services/transaction_service.py`,
  * `api/validated_transactions.py`, `api/control_center.py`).
  *
  * Pagination is offset/limit for parity with the reference's API shape
  * (`LIMIT :limit OFFSET :offset`); at scale the keyset variant
  * (`WHERE (sort_key, id) > (last_seen)`) replaces it without changing
  * callers — the sort whitelist already forces a deterministic total order.
  */
object Serving {

  sealed trait ViewMode
  case object UnvalidatedPredicted extends ViewMode
  case object UnvalidatedUnpredicted extends ViewMode
  case object Validated extends ViewMode
  case object AllTransactions extends ViewMode

  /** The serving read join (J6): modeled predictions view LEFT JOIN live
    * user_categories overrides (`transaction_service.py:14-17`). */
  def servingJoin(withPredictions: DataFrame, userCategories: DataFrame): DataFrame =
    withPredictions.as("t").join(
      userCategories.select(
        col("transaction_id"),
        col("validated").as("uc_validated"),
        col("master_category").as("uc_master_category"),
        col("notes").as("uc_notes")).as("uc"),
      Seq("transaction_id"), "left_outer")

  /** View-mode predicate — P16 (`transaction_service.py:167-192`). */
  def viewModePredicate(mode: ViewMode): Column = mode match {
    case UnvalidatedPredicted =>
      coalesce(col("uc_validated"), lit(false)) === false &&
        col("predicted_master_category").isNotNull &&
        col("predicted_master_category") =!= "UNCERTAIN"
    case UnvalidatedUnpredicted =>
      coalesce(col("uc_validated"), lit(false)) === false &&
        (col("predicted_master_category").isNull ||
          col("predicted_master_category") === "UNCERTAIN")
    case Validated => coalesce(col("uc_validated"), lit(false)) === true
    case AllTransactions => lit(true)
  }

  /** Whitelisted sort columns, as the reference restricts them
    * (`transaction_service.py:198-201`). */
  val sortWhitelist: Set[String] = Set("transacted_date", "prediction_confidence")

  final case class Page(rows: DataFrame, totalCount: Long)

  /** The paginated transaction read (O1 + P15 + P16 + A8):
    * view-mode filter, optional ILIKE description search, optional
    * confidence gate, whitelisted sort with PG `NULLS LAST` on BOTH
    * directions (Spark's `asc` defaults nulls-first — must be explicit),
    * count twin sharing the filtered plan, then offset/limit.
    */
  def transactionPage(
      joined: DataFrame,
      mode: ViewMode = AllTransactions,
      descriptionSearch: Option[String] = None,
      excludeLowConfidence: Boolean = false,
      lowConfidenceThreshold: Double = 0.40,
      sortBy: String = "transacted_date",
      ascending: Boolean = false,
      limit: Int = 100,
      offset: Int = 0): Page = {
    require(limit <= 1000, "limit capped at 1000 (api/transactions.py:40)")
    val sortCol = if (sortWhitelist(sortBy)) sortBy else "transacted_date"

    var filtered = joined.filter(viewModePredicate(mode))
    descriptionSearch.foreach { term =>
      filtered = filtered.filter(lower(col("description")).contains(lower(lit(term))))
    }
    if (excludeLowConfidence && mode == UnvalidatedPredicted)
      filtered = filtered.filter(
        col("prediction_confidence").isNull ||
          col("prediction_confidence") >= lowConfidenceThreshold)

    val ordered = filtered.orderBy(
      if (ascending) col(sortCol).asc_nulls_last else col(sortCol).desc_nulls_last,
      col("transaction_id")) // unique tiebreak → stable pages
    Page(ordered.offset(offset).limit(limit), filtered.count())
  }

  /** Keyset ("seek") pagination — the scale path SURVEY §7.4.6 notes where
    * [[transactionPage]] keeps the reference's offset/limit shape for
    * parity. Page N+1 resumes strictly after the last (sortValue, id) of
    * page N: `WHERE (s, id) > (afterSort, afterId)` as a row comparison
    * under the page's total order. Unlike offset, the predicate pushes into
    * the scan, so each page costs O(page) rows read from a sorted/clustered
    * table instead of O(offset + page) rows sorted then discarded — at
    * 100 TB, deep offset pages are quadratic-in-depth aggregate work,
    * keyset pages are flat.
    *
    * Total order: (sortBy ASC|DESC NULLS LAST, idCol ASC) — the same shape
    * as the offset-parity page O1, nullable sort keys included. A cursor in
    * the non-null region is `Some((Some(value), id))`; once a page ends
    * inside the null tail, resume with `Some((None, id))`. First page: no
    * cursor. Column whitelisting is the ROUTER's job (as in the reference,
    * `api/transactions.py:40-47`) — this library function sorts on
    * whatever column the caller resolved. */
  def keysetPage(
      joined: DataFrame,
      sortBy: String,
      idCol: String = "transaction_id",
      after: Option[(Option[Column], Column)] = None,
      limit: Int = 100,
      ascending: Boolean = true): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(limit <= 1000, "limit capped at 1000 (api/transactions.py:40)")
    val s = col(sortBy)
    val id = col(idCol)
    val page = after match {
      case None => joined
      // cursor inside the null tail: only later-id null-key rows remain
      case Some((None, afterId)) => joined.filter(s.isNull && id > afterId)
      case Some((Some(afterSort), afterId)) =>
        val strictly = if (ascending) s > afterSort else s < afterSort
        // NULLS LAST: the whole null tail still lies after any non-null cursor
        joined.filter(strictly || (s === afterSort && id > afterId) || s.isNull)
    }
    val sortOrder = if (ascending) s.asc_nulls_last else s.desc_nulls_last
    page.orderBy(sortOrder, id.asc).limit(limit)
  }

  /** Distinct master-category list (A9, `validated_transactions.py:179-188`):
    * union of user-assigned and confidently-predicted categories, sorted. */
  def distinctCategories(joined: DataFrame): DataFrame =
    joined.select(col("uc_master_category").as("master_category"))
      .filter(col("master_category").isNotNull)
      .union(
        joined.select(col("predicted_master_category").as("master_category"))
          .filter(col("master_category").isNotNull &&
            col("master_category") =!= "UNCERTAIN"))
      .distinct()
      .orderBy(col("master_category"))

  /** The validated-transactions read (O2, `api/validated_transactions.py:
    * 54-134`): its own 7-column sort whitelist, 10000-row page cap,
    * category equality / account ILIKE / description ILIKE filters, count
    * twin, offset/limit. */
  val validatedSortWhitelist: Set[String] = Set(
    "transacted_date", "amount", "account_name", "master_category",
    "description", "institution_name", "transaction_id")

  def validatedTransactionPage(
      validated: DataFrame,
      category: Option[String] = None,
      accountNameFilter: Option[String] = None,
      descriptionSearch: Option[String] = None,
      sortBy: String = "transacted_date",
      ascending: Boolean = false,
      limit: Int = 100,
      offset: Int = 0): Page = {
    require(limit <= 10000, "limit capped at 10000 (api/validated_transactions.py:55)")
    val sortCol = if (validatedSortWhitelist(sortBy)) sortBy else "transacted_date"
    var filtered = validated
    category.foreach(c => filtered = filtered.filter(col("master_category") === c))
    accountNameFilter.foreach(a =>
      filtered = filtered.filter(lower(col("account_name")).contains(lower(lit(a)))))
    descriptionSearch.foreach(s =>
      filtered = filtered.filter(lower(col("description")).contains(lower(lit(s)))))
    val ordered = filtered.orderBy(
      if (ascending) col(sortCol).asc_nulls_last else col(sortCol).desc_nulls_last,
      col("transaction_id"))
    Page(ordered.offset(offset).limit(limit), filtered.count())
  }

  /** In-use category catalog (`services/category_service.py:13-31`): union
    * of category names assigned anywhere in the pipeline — user overrides,
    * the categorized fact, the predictions view's carried categories, and
    * confident predictions. */
  def inUseCategories(
      userCategories: DataFrame,
      fctCategorized: DataFrame,
      fctWithPredictions: DataFrame): DataFrame = {
    def names(df: DataFrame, c: String) =
      df.select(col(c).as("category")).filter(col("category").isNotNull)
    names(userCategories, "master_category")
      .union(names(fctCategorized, "master_category"))
      .union(names(fctWithPredictions, "master_category"))
      .union(names(fctWithPredictions, "predicted_master_category")
        .filter(col("category") =!= "UNCERTAIN"))
      .distinct()
      .orderBy(col("category"))
  }

  /** [[inUseCategories]] over a warehouse's stored tables. Only the
    * category columns are scanned; before the first model run the derived
    * facts don't exist yet and read as empty frames of just those columns
    * (the shape the reference gets from its swallowed-exception branch,
    * `category_service.py:39-40`). */
  def inUseCategories(store: TableStore): DataFrame = {
    val catCols = StructType(Seq(
      StructField("master_category", StringType),
      StructField("predicted_master_category", StringType)))
    inUseCategories(
      store.readOrEmpty("user_categories", Schemas.userCategories),
      store.readOrEmpty("fct_trxns_categorized", catCols),
      store.readOrEmpty("fct_trxns_with_predictions", catCols))
  }

  /** Connection-health stats (`api/control_center.py:77-128`): J7
    * latest-import self-join, A6 min/max/count rollups, J8 null-safe
    * institution join (`IS NOT DISTINCT FROM` → `<=>`). */
  def accountHealth(simplefinRaw: DataFrame): DataFrame = {
    val s = simplefinRaw
      .withColumn("account_key", Staging.normalizeAccountName(col("account_name")))
      .withColumn("import_ts", col("import_timestamp").cast("timestamp"))
      .withColumn("t_date", col("transacted_date").cast("date"))

    val latestImports = s.groupBy("account_id")
      .agg(max(col("import_ts")).as("latest_import"))

    val latestPollRows = s.join(latestImports, Seq("account_id"))
      .filter(col("import_ts") === col("latest_import"))

    val accountPolls = latestPollRows.groupBy(
        col("institution_name"), col("account_key"), col("account_id"),
        col("latest_import").as("last_successful_load"))
      .agg(min(col("t_date")).as("poll_earliest"),
        max(col("t_date")).as("poll_latest"))

    val accountStored = s.groupBy(
        col("institution_name").as("st_institution_name"),
        col("account_key").as("st_account_key"))
      .agg(min(col("t_date")).as("oldest_stored"),
        count(lit(1)).as("transaction_count"))

    accountPolls.join(accountStored,
        col("institution_name") <=> col("st_institution_name") &&
          col("account_key") === col("st_account_key"))
      .groupBy(col("institution_name"), col("account_key"), col("oldest_stored"))
      .agg(
        max(col("account_id")).as("account_id"),
        max(col("last_successful_load")).as("last_successful_load"),
        min(col("poll_earliest")).as("poll_earliest_transaction_date"),
        max(col("poll_latest")).as("poll_latest_transaction_date"),
        max(col("transaction_count")).as("transaction_count"))
      .select(
        col("account_id"), col("institution_name"),
        col("account_key").as("account_name"),
        col("last_successful_load"),
        col("oldest_stored").as("oldest_stored_transaction_date"),
        col("poll_earliest_transaction_date"),
        col("poll_latest_transaction_date"),
        col("transaction_count"))
      .orderBy(col("institution_name").asc_nulls_last, col("account_name").asc_nulls_last)
  }
}
