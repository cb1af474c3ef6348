package graft.finance

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.finance.ml.CategoryClassifier

/** Dagster-invokable entry point for the 7-job asset graph (SURVEY §2.11):
  * each reference job name maps to a composition of [[Jobs]] steps, so an
  * orchestrator launches `spark-submit --class graft.finance.JobsMain <jar>
  * <warehouseDir> <jobName>` exactly where the reference launched a Dagster
  * GraphQL run (north star: "Spark batch jobs within Dagster orchestration").
  *
  * | job | composition |
  * |---|---|
  * | 1_dagster_init                          | facts → train → predict → predictions fact |
  * | 2_ingest_and_predict                    | [fleet ingest via DSv2 when GRAFT_SIMPLEFIN_ACCESS_URLS is set] → facts → predict → predictions fact |
  * | 3_run_all_dbt_models                    | models (facts → predictions fact) |
  * | 4_refresh_validated_retrain_repredict   | facts (incremental) → train → predict → predictions fact |
  * | z_a_rebuild_historic_data               | [seed refresh] → full-refresh facts → train → predict → predictions fact |
  * | z_b_full_refresh_validated_trxns        | full-refresh models |
  * | 5_full_refresh_validated_retrain_repredict | full-refresh facts → train → predict → predictions fact |
  *
  * "facts" is [[Jobs.buildFacts]] and "predictions fact" is
  * [[Jobs.buildPredictionsFact]]; "models" is both ([[Jobs.runAllModels]]).
  * A predicting job writes each fact once: scoring reads the stored
  * uncategorized fact, and only the predictions fact depends on the scores.
  * That fact is refreshed even when no model exists, so new uncategorized
  * rows appear with null predictions.
  */
object JobsMain {

  def main(args: Array[String]): Unit = {
    val Array(warehouseDir, jobName) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-jobs", cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, warehouseDir, jobName)
    finally spark.stop()
  }

  def run(spark: SparkSession, warehouseDir: String, jobName: String): Unit = {
    val store = new TableStore(spark, warehouseDir)
    val jobs = new Jobs(spark, store)

    def trainAndPredict(): Unit = jobs.trainClassifier() match {
      case Jobs.TrainRun(CategoryClassifier.Trained(model, labels, _, _, _, _), version) =>
        // version comes from the train run itself, not an is_latest lookup —
        // a restored-backup registry row with a newer timestamp must not
        // mislabel this model's predictions
        jobs.predict(model, labels, version)
      case Jobs.TrainRun(CategoryClassifier.Skipped(reason, n), _) =>
        System.err.println(s"[train] skipped: $reason (n=$n)")
        predictWithExisting() // a previously trained model can still score
    }

    // Predict WITHOUT retraining (job 2's composition): load the active
    // model from the store; nothing trained yet → log and skip.
    def predictWithExisting(): Unit = {
      val registry = if (store.exists("model_registry")) Some(store.read("model_registry")) else None
      jobs.modelStore.loadForPredict(registry) match {
        case Some((model, labels, version)) => jobs.predict(model, labels, version)
        case None =>
          System.err.println("[predict] no trained model available; skipping predictions")
      }
    }

    // facts once, then scoring, then the one fact the scores feed
    def predicting(fullRefreshValidated: Boolean)(score: => Unit): Unit = {
      jobs.buildFacts(fullRefreshValidated)
      score
      jobs.buildPredictionsFact()
    }

    jobName match {
      case "1_dagster_init" | "4_refresh_validated_retrain_repredict" =>
        predicting(fullRefreshValidated = false)(trainAndPredict())
      case "2_ingest_and_predict" =>
        // fleet ingest head: when the deployment provides access URLs,
        // pull them through the `graft-simplefin` DSv2 source (one task
        // per url×chunk, executor-side fetch — Jobs.ingestFleet); with no
        // URLs configured the raw table is whatever the driver-side
        // connector last appended, the reference's one-URL posture
        sys.env.get("GRAFT_SIMPLEFIN_ACCESS_URLS").filter(_.nonEmpty).foreach { u =>
          val now = sys.env.get("GRAFT_NOW_EPOCH").map(_.toLong)
            .getOrElse(java.time.Instant.now().getEpochSecond)
          val n = jobs.ingestFleet(u.split(",").map(_.trim).filter(_.nonEmpty).toSeq, now)
          System.err.println(s"[ingest] fleet batch: $n rows")
        }
        // per the composition table: facts → predict, NO retrain — the
        // ingest poll must not churn the model on every run
        predicting(fullRefreshValidated = false)(predictWithExisting())
      case "3_run_all_dbt_models" =>
        jobs.runAllModels()
      case "z_b_full_refresh_validated_trxns" =>
        jobs.runAllModels(fullRefreshValidated = true)
      case "z_a_rebuild_historic_data" =>
        // seed refresh head: re-load CSV seeds when a seed dir is supplied
        // (the reference's dbt-seed step), then full-refresh + retrain
        sys.env.get("GRAFT_SEED_DIR").foreach { d =>
          val refreshed = jobs.rebuildSeeds(d)
          System.err.println(s"[seeds] refreshed: ${refreshed.mkString(", ")}")
        }
        predicting(fullRefreshValidated = true)(trainAndPredict())
      case "5_full_refresh_validated_retrain_repredict" =>
        predicting(fullRefreshValidated = true)(trainAndPredict())
      case other =>
        throw new IllegalArgumentException(s"unknown job: $other")
    }
  }
}
