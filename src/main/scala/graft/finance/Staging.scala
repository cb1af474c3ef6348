package graft.finance

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The staging layer: pure `DataFrame => DataFrame` transforms mirroring the
  * reference's dbt staging models, one function per model. Every function is
  * lazily composed (dbt `materialized='view'` ≡ an unexecuted Spark plan) and
  * shuffle-parsimonious: the three dedup windows of [[stgSimplefin]] are keyed
  * so Catalyst plans exactly two exchanges for the whole model (the W3 and W4
  * windows share a 5-column prefix and collapse into one sort+shuffle).
  */
object Staging {

  private val D = DecimalType18_2
  private final val DecimalType18_2 = "decimal(18,2)"

  /** Trailing " (1234)" account-mask strip — `stg_simplefin.sql:79-84`,
    * same regex the serving layer uses (`api/control_center.py:85,108`). */
  def normalizeAccountName(c: Column): Column =
    regexp_replace(trim(c), "\\s*\\([0-9]+\\)\\s*$", "")

  /** `stg_simplefin` (`dbt/models/staging/1_source_models/stg_simplefin.sql`):
    * exclusion anti-filter + conditional mapping join + cast block + three
    * dedup passes:
    *
    *  1. W1 latest-import dedup — one row per transaction_id, newest
    *     import_timestamp wins (`:39-42,61-63`).
    *  2. W3 per-(logical txn, account_id) import recency (`:86-100`).
    *  3. W4 reconnection dedup — rank competing account_ids per logical
    *     transaction (institution, normalized name, date, amount,
    *     description) by recency, keep rank 1 (`:102-118,138`). Legit
    *     same-day repeats share one account_id → share the winning rank →
    *     all survive; reconnection duplicates span account_ids → lose.
    *
    * Scale: the mapping and exclusion seeds are broadcast (tiny); the three
    * windows are the only shuffles and W3/W4 share a partitioning prefix.
    */
  def stgSimplefin(
      source: DataFrame,
      accountMapping: DataFrame,
      exclusions: DataFrame): DataFrame = {
    // NOT EXISTS (… WHERE description ILIKE pattern) — theta anti-join
    // against the broadcast pattern seed.
    val excluded = source.join(
      broadcast(exclusions),
      ilike(source("description"), exclusions("pattern")),
      "left_anti")

    // LEFT JOIN on name AND (mapping.account_id empty OR equal) — J1.
    val m = accountMapping
      .withColumnRenamed("account_name", "m_account_name")
      .withColumnRenamed("account_id", "m_account_id")
    val joined = excluded.join(
      broadcast(m),
      excluded("account_name") === m("m_account_name") &&
        (m("m_account_id").isNull || m("m_account_id") === "" ||
          excluded("account_id") === m("m_account_id")),
      "left_outer")

    val cast = joined.select(
      col("transaction_id"),
      col("account_id"),
      col("account_name"),
      coalesce(
        col("mapped_account_name"),
        col("account_name"),
        lit("Missing mapping! Add to seed_account_mapping_simplefin.csv"))
        .as("mapped_account_name"),
      col("institution_domain"),
      col("institution_name"),
      col("amount").cast(D).as("amount"),
      timestamp_seconds(col("posted")).as("posted"),
      col("posted_date").cast("date").as("posted_date"),
      timestamp_seconds(col("transacted_at")).as("transacted_at"),
      col("transacted_date").cast("date").as("transacted_date"),
      col("description"),
      col("pending"),
      col("import_timestamp").cast("timestamp").as("import_timestamp"),
      col("import_date").cast("timestamp").as("import_date"))

    // W1: one row per transaction_id, latest import wins. The reference
    // orders only by import_timestamp desc (stg_simplefin.sql:39-42), which
    // keeps an arbitrary row on ties; the extra keys make the kept row
    // deterministic (repo determinism contract) without changing which
    // IMPORT wins — they only break exact-timestamp ties.
    val w1 = Window.partitionBy(col("transaction_id"))
      .orderBy(col("import_timestamp").desc, col("account_id").asc_nulls_last,
        col("posted").asc_nulls_last, col("description").asc_nulls_last)
    val unique = cast
      .withColumn("unique__check", row_number().over(w1))
      .filter(col("unique__check") === 1)

    val normed = unique.withColumn(
      "_normalized_account_name", normalizeAccountName(col("account_name")))

    // W3 + W4 share the 5-col logical-transaction prefix. Repartitioning on
    // that prefix up front lets ONE exchange satisfy both windows (subset
    // partitioning satisfies superset clustering — W3's 6-col requirement is
    // met by the 5-col hash); Catalyst alone would shuffle twice.
    val logicalKey = Seq(
      col("institution_name"), col("_normalized_account_name"),
      col("transacted_date"), col("amount"), col("description"))
    val w3 = Window.partitionBy(logicalKey :+ col("account_id"): _*)
    val w4 = Window.partitionBy(logicalKey: _*)
      .orderBy(col("_account_group_last_import").desc, col("account_id"))

    normed
      .repartition(logicalKey: _*)
      .withColumn("_account_group_last_import", max(col("import_timestamp")).over(w3))
      .withColumn("_reconnection_rank", dense_rank().over(w4))
      .filter(col("_reconnection_rank") === 1)
      .drop("_normalized_account_name", "_account_group_last_import", "_reconnection_rank")
  }

  /** `stg_historic_trxns` (`staging/1_source_models/stg_historic_trxns.sql`):
    * conditional mapping join (J2), MD5 surrogate key over raw text columns
    * (P13) disambiguated by a per-key row_number (W2), MM/DD/YYYY input-date
    * parse, null-padding to the canonical column set.
    */
  def stgHistoric(source: DataFrame, accountMapping: DataFrame): DataFrame = {
    val m = accountMapping
      .withColumnRenamed("account_name", "m_account_name")
    val mapped = source.join(
      broadcast(m),
      source("account_name") === m("m_account_name") &&
        (m("additional_account_info").isNull || m("additional_account_info") === "" ||
          source("additional_account_detail") === m("additional_account_info")),
      "left_outer")

    val missing = "Missing mapping! Add to seed_account_mapping_historic.csv"
    val withKey = mapped
      .withColumn("mapped_account_name",
        coalesce(col("mapped_account_name"), col("account_name"), lit(missing)))
      .withColumn("owner_name",
        coalesce(col("owner_name"), col("account_name"), lit(missing)))
      // base id from the RAW text columns, exactly as the seeded CSV holds
      // them — byte-identical input is what keeps the MD5 surrogate stable.
      .withColumn("base_transaction_id",
        concat(
          coalesce(col("account_name"), lit("")),
          coalesce(col("amount"), lit("")),
          coalesce(col("transaction_date"), lit("")),
          coalesce(col("description"), lit(""))))

    // W2: number duplicate raw rows within one base id; ordering by
    // transaction_date matches the reference (ties are same-key identical
    // rows, so any stable order yields the same id set).
    val w2 = Window.partitionBy(col("base_transaction_id"))
      .orderBy(col("transaction_date"))

    withKey
      .withColumn("duplicates_row_number", row_number().over(w2))
      .select(
        concat(lit("HIST_TRN_"),
          md5(concat(col("base_transaction_id"),
            col("duplicates_row_number").cast("string")))).as("transaction_id"),
        lit(null).cast("string").as("account_id"),
        col("account_name").as("original_account_name"),
        col("mapped_account_name").as("account_name"),
        col("additional_account_detail").as("detailed_account_name"),
        col("owner_name"),
        lit(null).cast("string").as("institution_domain"),
        lit(null).cast("string").as("institution_name"),
        col("amount").cast(D).as("amount"),
        lit(null).cast("timestamp").as("posted"),
        lit(null).cast("date").as("posted_date"),
        lit(null).cast("timestamp").as("transacted_at"),
        col("transaction_date").cast("date").as("transacted_date"),
        col("description"),
        lit(null).cast("boolean").as("pending"),
        col("source_category"),
        col("master_category"),
        lit(null).cast("timestamp").as("import_timestamp"),
        when(col("input_date").isNull || col("input_date") === "", lit(null).cast("date"))
          .otherwise(to_date(col("input_date"), "MM/dd/yyyy")).as("import_date"))
  }

  /** `stg_predictions` (`staging/2_categorization_models/stg_predictions.sql`):
    * W5 latest-prediction dedup — one row per transaction_id by newest
    * prediction_timestamp. */
  def stgPredictions(predicted: DataFrame): DataFrame = {
    val w5 = Window.partitionBy(col("transaction_id"))
      .orderBy(col("prediction_timestamp").desc)
    predicted
      .select("transaction_id", "predicted_master_category",
        "prediction_confidence", "model_version", "prediction_timestamp")
      .withColumn("rn", row_number().over(w5))
      .filter(col("rn") === 1)
  }

  /** `stg_user_validated_categories.sql`: validated-only filter (P10),
    * left join onto the feature mart (J5), user-over-derived category
    * override (P11), user_notes/category_changed_at passthrough. */
  def stgUserValidatedCategories(
      userCategories: DataFrame,
      trxnFeatures: DataFrame): DataFrame = {
    val uc = userCategories.as("u_cat")
    val det = trxnFeatures.as("details")
    val cols: Seq[Column] =
      Seq(col("u_cat.transaction_id").as("transaction_id")) ++
        Seq("account_id", "original_account_name", "account_name",
          "detailed_account_name", "owner_name", "institution_name", "amount",
          "posted_date", "transacted_date", "description", "pending")
          .map(c => col(s"details.$c")) ++
        Seq(
          col("u_cat.source_category").as("source_category"),
          coalesce(col("u_cat.master_category"), col("details.master_category"))
            .as("master_category"),
          col("details.import_timestamp"),
          col("details.import_date"),
          col("details.source_name"),
          col("u_cat.notes").as("user_notes"),
          col("u_cat.updated_at").as("category_changed_at")) ++
        Marts.featureColumns.map(c => col(s"details.$c"))
    uc.filter(col("u_cat.validated") === true)
      .join(det, col("u_cat.transaction_id") === col("details.transaction_id"), "left_outer")
      .select(cols: _*)
  }
}
