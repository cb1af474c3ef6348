package graft.finance

import graft.SparkSpec
import graft.finance.ml.CategoryClassifier
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end job-graph test: raw load → transform DAG → train → predict →
  * re-transform, against a temp-dir warehouse. */
class JobsSpec extends SparkSpec {

  test("full pipeline: models, train, predict, incremental validated") {
    // 63 raw simplefin rows (t0..t62) + 60 pre-categorized historic rows
    // that bootstrap fct_validated_trxns
    val store = Warehouses.trainable(spark)
    val jobs = new Jobs(spark, store)

    jobs.runAllModels()
    assert(store.read("int_trxns_features").count() == 123)
    assert(store.read("fct_trxns_categorized").count() == 60)   // historic rows
    assert(store.read("fct_validated_trxns").count() == 60)     // bootstrap
    assert(store.read("fct_trxns_uncategorized").count() == 63) // simplefin rows

    // Train on the validated fact (60 rows ≥ min 50).
    val run = jobs.trainClassifier(CategoryClassifier.Config(numTrees = 20, maxDepth = 8))
    val trained = run.result.asInstanceOf[CategoryClassifier.Trained]
    assert(trained.nClasses == 2)

    val reg = store.read("model_registry")
    assert(reg.count() == 1)
    assert(reg.head.getAs[Boolean]("is_active") && reg.head.getAs[Boolean]("is_latest"))
    // the artifact the registry points at actually exists and loads
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(reg.head.getAs[String]("file_path"))))
    val loaded = jobs.modelStore.loadForPredict(Some(reg))
    assert(loaded.exists(_._2.toSeq == trained.labels.toSeq))

    // The returned version is the row the registry just gained.
    assert(reg.head.getAs[String]("model_version") == run.version)

    // Predict and re-run models: predictions join into fct_trxns_with_predictions.
    jobs.predict(trained.model, trained.labels, run.version, confidenceThreshold = 0.0)
    assert(store.read("predicted_transactions").count() == 63)
    jobs.runAllModels()
    val withPred = store.read("fct_trxns_with_predictions")
    assert(withPred.filter(col("predicted_master_category").isNotNull).count() == 63)

    // User validates one transaction → incremental appends exactly that row.
    val uc = Seq(Row("t0", "Dining", null, "looks right", true, false, "me",
      java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
    store.overwrite("user_categories", spark.createDataFrame(uc.asJava, Schemas.userCategories))
    jobs.runAllModels()
    assert(store.read("fct_validated_trxns").count() == 61)
    assert(store.read("fct_trxns_uncategorized").count() == 62) // t0 moved out
    // second run is idempotent (append-only: no duplicate t0)
    jobs.runAllModels()
    assert(store.read("fct_validated_trxns").count() == 61)

    // category catalog refresh (`category_service.py:70-101`, ensure +
    // sync): defaults seeded + in-use names from the live warehouse
    // ('Dining'/'Travel' from the historic fact, none of which are
    // defaults), idempotent, deactivation preserved
    val now = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // collected eagerly: the read lazily references parquet files that the
    // next overwrite swaps away
    def refreshCatalog(): Array[Row] = {
      val catalog = store.readOrEmpty("categories", CategoryCatalog.schema)
      store.overwrite("categories", CategoryCatalog.syncInUse(
        CategoryCatalog.ensureDefaults(catalog, now), Serving.inUseCategories(store), now))
      store.read("categories").collect()
    }
    val cat1 = refreshCatalog()
    assert(cat1.length >= 19 + 2)
    val names = cat1.map(_.getAs[String]("name")).toSet
    assert(names.contains("Dining") && names.contains("Travel") && names.contains("Gas"))
    assert(!names.contains("UNCERTAIN"))
    store.overwrite("categories",
      CategoryCatalog.setCategoryActive(store.read("categories"), "Dining", isActive = false, now))
    val cat2 = refreshCatalog()
    assert(cat2.length == cat1.length)            // idempotent, no duplicates
    val dining = cat2.find(_.getAs[String]("name") == "Dining").get
    assert(!dining.getAs[Boolean]("is_active"))   // deactivation preserved
  }

  test("ingestFleet pulls a multi-URL fleet through the DSv2 source into the raw table") {
    import graft.finance.connector.SimplefinConnector
    val store = new TableStore(spark, Files.createTempDirectory("graft-wh-fleet").toString)
    val jobs = new Jobs(spark, store)
    val now = 1700000000L

    // fake fleet: two credentialed bridges, each serving one txn per date
    // chunk, id derived from (bridge, chunk start) so provenance is
    // visible in the landed rows
    graft.sources.SimplefinTransports.register("jobs-fleet-fake",
      new SimplefinConnector.Transport {
        def get(url: String, auth: String, t: Int): (Int, String) = {
          val bridge = "bridge([0-9])".r.findFirstMatchIn(url).get.group(1)
          val s = "start-date=([0-9]+)".r.findFirstMatchIn(url).get.group(1)
          (200,
            s"""{"errors":[],"accounts":[{"id":"acc$bridge","name":"Checking $bridge",
                "org":{"name":"Bank","domain":"bank.example"},"transactions":[
                {"id":"b$bridge-t$s","amount":"-2.50","posted":$s,
                 "transacted_at":$s,"description":"fleet txn","pending":false}]}]}""")
        }
      })

    val urls = Seq(
      "https://u1:p1@bridge1.example.org/simplefin",
      "https://u2:p2@bridge2.example.org/simplefin")
    val n = jobs.ingestFleet(urls, now, transportKey = "jobs-fleet-fake")

    val chunks = SimplefinConnector.chunkRanges(now)
    assert(n == 2L * chunks.size)
    val raw = store.read("raw_simplefin")
    assert(raw.count() == 2L * chunks.size)
    val ids = raw.select("transaction_id").collect().map(_.getString(0)).toSet
    assert(ids == chunks.flatMap { case (s, _) =>
      Seq(s"b1-t$s", s"b2-t$s") }.toSet)

    // a second batch APPENDS (the 2_ingest head contract): same fleet,
    // nowEpoch one chunk later, only genuinely new ids add rows
    val n2 = jobs.ingestFleet(urls, now + 86400L * 45, transportKey = "jobs-fleet-fake")
    assert(n2 > 0 && store.read("raw_simplefin").count() == n + n2)
  }
}
