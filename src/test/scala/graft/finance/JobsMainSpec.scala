package graft.finance

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

class JobsMainSpec extends SparkSpec {

  private val facts = Seq("int_trxns_features", "fct_trxns_categorized",
    "fct_validated_trxns", "fct_trxns_uncategorized")

  /** Parquet writes per output table during `f`, counted from the
    * `InsertIntoHadoopFsRelationCommand`s a QueryExecutionListener sees (a
    * staged `.<table>__tmp` directory counts for its table). A marker action
    * after `f` bounds the count: the listener bus delivers in order. */
  private def writesDuring(f: => Unit): Map[String, Int] = {
    val marker = s"flush_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    val writes = mutable.Map.empty[String, Int].withDefaultValue(0)
    val flushed = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        qe.logical.foreach {
          case c: InsertIntoHadoopFsRelationCommand =>
            val table = c.outputPath.getName.stripPrefix(".").stripSuffix("__tmp")
            writes.synchronized(writes(table) += 1)
          case _ =>
        }
        if (qe.analyzed.output.exists(_.name == marker)) flushed.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      spark.range(1).toDF(marker).collect()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never delivered the marker")
      writes.synchronized(writes.toMap.withDefaultValue(0))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Run the reference's job menu, in its dagster/repo.py:88-170 order, over
    * `store`: every job writes each fact at most once and the predictions
    * fact exactly once. */
  private def sweep(store: TableStore): Unit = Seq(
    "1_dagster_init",
    "2_ingest_and_predict",
    "3_run_all_dbt_models",
    "4_refresh_validated_retrain_repredict",
    "z_a_rebuild_historic_data",
    "z_b_full_refresh_validated_trxns",
    "5_full_refresh_validated_retrain_repredict").foreach { name =>
    val writes = writesDuring(JobsMain.run(spark, store.root, name))
    facts.foreach(t => assert(writes(t) <= 1, s"$name wrote $t ${writes(t)} times"))
    assert(writes("fct_trxns_with_predictions") == 1,
      s"$name wrote fct_trxns_with_predictions ${writes("fct_trxns_with_predictions")} times")
  }

  test("job-name dispatch: transform-only job materializes the DAG; unknown job rejected") {
    val wh = Files.createTempDirectory("graft-jm").toString
    val store = new TableStore(spark, wh)
    val raws = (0 until 5).map { i =>
      Row(s"t$i", "a1", "Checking", "dom", "Bank",
        new java.math.BigDecimal("-5.00"), 1700000000L + i, "2024-01-01",
        1700000000L + i, "2024-01-01", s"coffee $i", false, null,
        "2024-01-02 00:00:00", "2024-01-02")
    }
    store.overwrite("raw_simplefin",
      spark.createDataFrame(raws.asJava, Schemas.simplefinRaw))

    JobsMain.run(spark, wh, "3_run_all_dbt_models")
    assert(store.exists("int_trxns_features"))
    assert(store.exists("fct_trxns_with_predictions"))
    assert(store.read("fct_trxns_uncategorized").count() == 5)

    // full-refresh variant also runs over the same warehouse
    JobsMain.run(spark, wh, "z_b_full_refresh_validated_trxns")
    assert(store.exists("fct_validated_trxns"))

    intercept[IllegalArgumentException] {
      JobsMain.run(spark, wh, "no_such_job")
    }
  }

  test("all 7 reference job names launch end-to-end over one warehouse") {
    val wh = Files.createTempDirectory("graft-jm7").toString
    val store = new TableStore(spark, wh)
    val raws = (0 until 8).map { i =>
      Row(s"t$i", "a1", "Checking", "dom", "Bank",
        new java.math.BigDecimal("-5.00"), 1700000000L + i, "2024-01-01",
        1700000000L + i, "2024-01-01", s"coffee $i", false, null,
        "2024-01-02 00:00:00", "2024-01-02")
    }
    store.overwrite("raw_simplefin",
      spark.createDataFrame(raws.asJava, Schemas.simplefinRaw))

    // the reference's job menu, in its dagster/repo.py:88-170 order; with
    // under-50-sample data the train step reports Skipped and the predict
    // step degrades to no-model — the COMPOSITION must still run through
    sweep(store)

    // every downstream mart the DAG owns exists after the sweep
    Seq("int_trxns_features", "fct_trxns_categorized",
      "fct_trxns_uncategorized", "fct_trxns_with_predictions",
      "fct_validated_trxns").foreach { t =>
      assert(store.exists(t), s"table $t missing after 7-job sweep")
    }
    assert(store.read("fct_trxns_with_predictions").count() == 8)
  }

  test("every job writes each fact once when the train step trains") {
    val store = Warehouses.trainable(spark)
    sweep(store)
    // the sweep trained real models, so every row ends up scored
    assert(store.read("fct_trxns_with_predictions")
      .filter(col("predicted_master_category").isNull).count() == 0)
  }

  test("2_ingest_and_predict builds the same tables as models, predict, models") {
    val old = Warehouses.trainable(spark)
    JobsMain.run(spark, old.root, "1_dagster_init")
    new Jobs(spark, old).loadRawBatch(Warehouses.raw(spark, 63, 70))
    val now = new TableStore(spark, Files.createTempDirectory("graft-wh-new").toString)
    graft.finance.ops.FileTrees.copy(Paths.get(old.root), Paths.get(now.root))

    // the composition before the split, by hand: the whole DAG around predict
    val jobs = new Jobs(spark, old)
    jobs.runAllModels()
    val Some((model, labels, version)) =
      jobs.modelStore.loadForPredict(Some(old.read("model_registry")))
    jobs.predict(model, labels, version)
    jobs.runAllModels()

    JobsMain.run(spark, now.root, "2_ingest_and_predict")

    def rows(store: TableStore, t: String): DataFrame =
      store.read(t).drop("prediction_timestamp")
    (facts ++ Seq("fct_trxns_with_predictions", "predicted_transactions")).foreach { t =>
      val (a, b) = (rows(old, t), rows(now, t))
      assert(a.count() == b.count(), t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t differs")
    }
    assert(now.read("fct_trxns_with_predictions")
      .filter(col("transaction_id") === "t69" && col("predicted_master_category").isNotNull)
      .count() == 1)
  }

  test("2_ingest_and_predict without a trained model publishes new rows unscored") {
    val store = new TableStore(spark, Files.createTempDirectory("graft-wh-nomodel").toString)
    val jobs = new Jobs(spark, store)
    jobs.loadRawBatch(Warehouses.raw(spark, 0, 5))
    JobsMain.run(spark, store.root, "3_run_all_dbt_models")
    jobs.loadRawBatch(Warehouses.raw(spark, 5, 8))

    val writes = writesDuring(JobsMain.run(spark, store.root, "2_ingest_and_predict"))
    assert(writes("fct_trxns_with_predictions") == 1)
    val got = store.read("fct_trxns_with_predictions")
      .select("transaction_id", "predicted_master_category").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got.keySet == (0 until 8).map(i => s"t$i").toSet)
    assert(got.values.forall(_.isEmpty))
  }
}
