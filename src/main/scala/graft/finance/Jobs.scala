package graft.finance

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.finance.ml.CategoryClassifier

/** The reference's 7-job asset graph (`dagster/repo.py`, SURVEY §2.11) as
  * composable Scala job definitions over a [[TableStore]] warehouse.
  *
  * Asset lineage (same DAG as the dbt manifest):
  * {{{
  *   raw simplefin ─ stg_simplefin ─┐
  *   historic seed ─ stg_historic ──┴ int_trxns ─ int_trxns_features ─┬ fct_trxns_categorized ─┐
  *   user_categories ─ stg_user_validated_categories ─────────────────┤                        ├ fct_validated_trxns
  *   predicted_transactions ─ stg_predictions ─┐                      └ fct_trxns_uncategorized ┴ fct_trxns_with_predictions
  * }}}
  *
  * Each step writes a materialized parquet table (we materialize where the
  * reference chose views — its acknowledged perf foot-gun,
  * `fct_trxns_with_predictions.sql:4`), so serving reads are scans, not
  * per-request re-derivations of the whole dedup pipeline.
  */
final class Jobs(spark: SparkSession, store: TableStore) {

  /** Model artifacts live beside the tables (dot-prefixed: never a table
    * name); registry file_path entries point INTO this store, so predict
    * can load exactly what train saved. */
  val modelStore = new graft.finance.ml.ModelStore(spark, s"${store.root}/.models")

  /** Head of `z_a_rebuild_historic_data` (the dbt seed refresh,
    * `dbt_project.yml:6-16`): re-load every seed CSV present in `seedDir`
    * into its warehouse table through the declared schema via
    * [[Schemas.readSeedCsv]] (FAILFAST — a malformed seed surfaces here,
    * not as nulls in the mapping joins downstream). Missing files are
    * skipped: deployments may manage only a subset as CSVs. Returns the
    * refreshed table names. */
  def rebuildSeeds(seedDir: String): Seq[String] = {
    val seeds = Seq(
      "historic_transactions" -> Schemas.historicRaw,
      "seed_account_mapping_simplefin" -> Schemas.accountMappingSimplefin,
      "seed_account_mapping_historic" -> Schemas.accountMappingHistoric,
      "seed_transaction_exclusions" -> Schemas.transactionExclusions)
    seeds.flatMap { case (table, schema) =>
      val f = new java.io.File(seedDir, s"$table.csv")
      if (f.isFile) {
        store.overwrite(table, Schemas.readSeedCsv(spark, f.toString, schema))
        Some(table)
      } else None
    }
  }

  /** `3_run_all_dbt_models` — recompute the full transform DAG: the facts,
    * then the predictions fact. Set `fullRefreshValidated` for the
    * `z_b`/`5_` full-refresh variants. */
  def runAllModels(fullRefreshValidated: Boolean = false): Unit = {
    buildFacts(fullRefreshValidated)
    buildPredictionsFact()
  }

  /** The facts, everything upstream of predictions: staging →
    * `int_trxns_features` → `fct_trxns_categorized` → `fct_validated_trxns`
    * → `fct_trxns_uncategorized`. A predicting job builds them once, before
    * it trains or scores; [[buildPredictionsFact]] then publishes the
    * scores. */
  def buildFacts(fullRefreshValidated: Boolean = false): Unit = {
    val stgSf = Staging.stgSimplefin(
      store.readOrEmpty("raw_simplefin", Schemas.simplefinRaw),
      store.readOrEmpty("seed_account_mapping_simplefin", Schemas.accountMappingSimplefin),
      store.readOrEmpty("seed_transaction_exclusions", Schemas.transactionExclusions))
    val stgHist = Staging.stgHistoric(
      store.readOrEmpty("historic_transactions", Schemas.historicRaw),
      store.readOrEmpty("seed_account_mapping_historic", Schemas.accountMappingHistoric))
    val trxns = Marts.intTrxns(stgSf, stgHist)
    val features = Marts.intTrxnsFeatures(trxns)
    store.overwrite("int_trxns_features", features)

    val categorized = Marts.fctTrxnsCategorized(store.read("int_trxns_features"))
    store.overwrite("fct_trxns_categorized", categorized)

    val userValidated = Staging.stgUserValidatedCategories(
      store.readOrEmpty("user_categories", Schemas.userCategories),
      store.read("int_trxns_features"))

    if (fullRefreshValidated || !store.exists("fct_validated_trxns"))
      store.overwrite("fct_validated_trxns",
        Marts.fctValidatedBootstrap(store.read("fct_trxns_categorized"), userValidated))
    else
      store.appendNew("fct_validated_trxns",
        Marts.fctValidatedIncrement(store.read("fct_validated_trxns"), userValidated),
        "transaction_id")

    val uncategorized = Marts.fctTrxnsUncategorized(
      store.read("int_trxns_features"), store.read("fct_validated_trxns"))
    store.overwrite("fct_trxns_uncategorized", uncategorized)
  }

  /** The predictions fact: the deduped `predicted_transactions` joined onto
    * the stored `fct_trxns_uncategorized`, written as
    * `fct_trxns_with_predictions` (the reference's view,
    * `fct_trxns_with_predictions.sql:4`). Rows without a score carry null
    * prediction columns. */
  def buildPredictionsFact(): Unit = {
    val preds = Staging.stgPredictions(
      store.readOrEmpty("predicted_transactions", Schemas.predictedTransactions))
    store.overwrite("fct_trxns_with_predictions",
      Marts.fctTrxnsWithPredictions(store.read("fct_trxns_uncategorized"), preds))
  }

  /** Train step of `4_refresh_validated_retrain_repredict`: fit on the
    * validated fact, record a registry row with window-derived flags.
    *
    * Returns the generated model version alongside the result so callers
    * can hand it straight to [[predict]] — re-deriving it from the
    * registry's is_latest row would stamp predictions with a different
    * row's version if a pre-existing row has a later training_timestamp
    * (clock skew, restored backup). */
  def trainClassifier(cfg: CategoryClassifier.Config = CategoryClassifier.Config())
      : Jobs.TrainRun = {
    val result = CategoryClassifier.train(store.read("fct_validated_trxns"), cfg)
    // millis + process-monotonic counter: two trains in the same
    // millisecond (tests, backfills) must not collide on the registry key
    // that predictions are stamped with
    val version =
      s"model_${System.currentTimeMillis()}_${Jobs.trainSeq.getAndIncrement()}"
    val row = result match {
      case CategoryClassifier.Trained(model, labels, metrics, nTrain, nTest, nClasses) =>
        // persist the artifact FIRST: a registry row must never point at a
        // path that does not exist
        modelStore.save(model, labels, version)
        registryRow(version, "trained", metrics, nTrain, nTest, nClasses, null)
      case CategoryClassifier.Skipped(reason, _) =>
        registryRow(version, "skipped", Map.empty, 0L, 0L, 0, reason)
    }
    val registry =
      if (store.exists("model_registry")) store.read("model_registry").unionByName(row)
      else row
    store.overwrite("model_registry", TableStore.recomputeRegistryFlags(registry))
    Jobs.TrainRun(result, version)
  }

  /** Predict step (`2_ingest_and_predict` tail): score the stored
    * uncategorized fact with the given model, upsert by transaction_id
    * (delete-then-append, `classifier_predict.py:149-170`). Runs between
    * [[buildFacts]] and [[buildPredictionsFact]], which publishes the
    * scores. */
  def predict(
      model: org.apache.spark.ml.PipelineModel,
      labels: Array[String],
      modelVersion: String,
      confidenceThreshold: Double = 0.40): Unit = {
    val scored = CategoryClassifier.score(
      model, labels, store.read("fct_trxns_uncategorized"), modelVersion, confidenceThreshold)
    store.upsert("predicted_transactions", scored, "transaction_id")
  }

  /** `2_ingest_and_predict` head: append a raw extraction batch. */
  def loadRawBatch(batch: DataFrame): Unit =
    if (store.exists("raw_simplefin"))
      store.overwrite("raw_simplefin", store.read("raw_simplefin").unionByName(batch))
    else store.overwrite("raw_simplefin", batch)

  /** `2_ingest_and_predict` head, at-scale form (round-9 verdict #7): pull
    * the whole access-URL fleet through the `graft-simplefin` DSv2 source —
    * one task per url×chunk, fetch + retry on EXECUTOR threads — and
    * append the batch to the raw table. Unlike the reference's
    * swallow-a-bad-chunk loop (`simplefin_service.py`), a bad chunk fails
    * the job loudly. `nowEpoch` is explicit because the chunk grid must be
    * deterministic per batch.
    * Returns the ingested batch's row count. */
  def ingestFleet(
      accessUrls: Seq[String],
      nowEpoch: Long,
      lookbackDays: Int = 200,
      maxDaysPerRequest: Int = 45,
      transportKey: String = graft.sources.SimplefinTransports.DefaultKey,
      retryTotal: Int = 5): Long = {
    require(accessUrls.nonEmpty, "ingestFleet: at least one access URL")
    val batch = spark.read.format("graft-simplefin")
      .option("accessUrls", accessUrls.mkString(","))
      .option("nowEpoch", nowEpoch.toString)
      .option("lookbackDays", lookbackDays.toString)
      .option("maxDaysPerRequest", maxDaysPerRequest.toString)
      .option("transport", transportKey)
      .option("retryTotal", retryTotal.toString)
      .load()
    // persist the batch so count + write share ONE fleet fetch — counting
    // the raw table before/after instead would scan the ever-growing table
    // twice per ingest (cost linear in table history, not batch size)
    batch.persist()
    try {
      val n = batch.count()
      loadRawBatch(batch)
      n
    } finally batch.unpersist(blocking = false)
  }

  private def registryRow(
      version: String, status: String, metrics: Map[String, Double],
      nTrain: Long, nTest: Long, nClasses: Int, reason: String): DataFrame = {
    val metricsJson = metrics.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    import spark.implicits._
    // the stamp rides in the row as data: a timestamp literal (what
    // current_timestamp() becomes) is compiled into generated code
    val trainedAt = new java.sql.Timestamp(System.currentTimeMillis())
    Seq((version, status, metricsJson, nTrain, nTest, nClasses, Option(reason), trainedAt))
      .toDF("model_version", "status", "metrics_json", "n_train", "n_test", "n_classes",
        "reason", "training_timestamp")
      .withColumn("file_path", lit(s"${store.root}/.models/$version"))
      .withColumn("is_active", lit(false))
      .withColumn("is_latest", lit(false))
      .withColumn("accuracy", lit(metrics.get("accuracy").orNull).cast("double"))
      .withColumn("f1_macro", lit(metrics.get("f1_macro").orNull).cast("double"))
      .withColumn("f1_weighted", lit(metrics.get("f1_weighted").orNull).cast("double"))
      .withColumn("precision_macro", lit(metrics.get("precision_macro").orNull).cast("double"))
      .withColumn("recall_macro", lit(metrics.get("recall_macro").orNull).cast("double"))
      .withColumn("message", lit(null).cast("string"))
  }
}

object Jobs {
  /** Outcome of [[Jobs.trainClassifier]]: the classifier result plus the
    * registry version generated for this run (the version [[Jobs.predict]]
    * should stamp on scores). */
  final case class TrainRun(result: CategoryClassifier.TrainResult, version: String)

  /** Uniquifies model versions generated within one millisecond. */
  private[finance] val trainSeq = new java.util.concurrent.atomic.AtomicLong(0)
}
