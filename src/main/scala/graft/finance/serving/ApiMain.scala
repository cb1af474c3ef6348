package graft.finance.serving

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Row, SparkSession}

import graft.GraftSession
import graft.finance.{Schemas, Serving, TableStore, UserCategoryService}
import graft.finance.connector.JobLaunchClient

/** The deployable serving boundary: `spark-submit --class
  * graft.finance.serving.ApiMain <jar> <warehouseDir> [port]` boots the
  * [[ApiServer]] over a [[TableStore]] warehouse — the reference's
  * `uvicorn main:app` equivalent (`ui/backend/main.py`), completing the
  * browser→API→engine hop on the Spark side.
  *
  * Read suppliers resolve the stored tables per request, so pages reflect
  * whatever the last [[graft.finance.JobsMain]] run wrote — the same
  * freshness contract as the reference's per-request DB session over
  * dbt-materialized tables. A table's schema is inferred once per
  * directory generation ([[graft.io.SchemaMemo]]), so a request re-infers
  * only what a swap replaced. The server answers up to one request per
  * session core at once. One [[TableStore]] backs every service, and the
  * server shares its lock (each route's access class, [[ApiServer]]'s
  * lock contract): reads hold it shared, edits serialize on the server's
  * writer mutex and hold it exclusively only for their swap, backups hold
  * it exclusively, and the orchestrator calls hold no lock, so reads serve
  * while an edit's Spark jobs run and a hung orchestrator stalls no one.
  * The write half (user-category mutations) and the Dagster trigger
  * (`GRAFT_DAGSTER_URL`, same GraphQL client the reference's backend uses,
  * also behind the debounced retrain of All-Data edits) are wired when
  * their backing services are reachable.
  */
object ApiMain {

  def main(args: Array[String]): Unit = {
    val warehouseDir = args.headOption.getOrElse(
      sys.error("usage: ApiMain <warehouseDir> [port]"))
    val port = args.lift(1).map(_.toInt).getOrElse(8000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local("graft-api", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = build(spark, warehouseDir, port).start()
    System.err.println(s"[api] serving on 127.0.0.1:${server.boundPort}")
    Thread.currentThread.join() // serve until the process is stopped
  }

  /** Assemble the server (unstarted) — separated from main so specs can
    * drive the same wiring on an ephemeral port. */
  def build(spark: SparkSession, warehouseDir: String, port: Int = 0): ApiServer = {
    val store = new TableStore(spark, warehouseDir)

    def userCategories() = store.readOrEmpty("user_categories", Schemas.userCategories)

    // Pre-initialization (before the first JobsMain run) the derived marts
    // don't exist; list endpoints must degrade to an empty page — the
    // reference's initialization-status path deliberately tolerates the
    // missing tables, so a fresh warehouse 500ing on GET /api/transactions
    // would diverge (advisor round-6). The canonical mart schemas are
    // DERIVED, not hand-written: run the same staging+mart builders Jobs
    // runs over empty canonical inputs — zero rows, so the plans never
    // execute, and the schemas can't drift from the real pipeline.
    lazy val (predictionsSchema, validatedSchema) = {
      import graft.finance.{Marts, Staging}
      def empty(s: org.apache.spark.sql.types.StructType) =
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
      val features = Marts.intTrxnsFeatures(Marts.intTrxns(
        Staging.stgSimplefin(empty(Schemas.simplefinRaw),
          empty(Schemas.accountMappingSimplefin),
          empty(Schemas.transactionExclusions)),
        Staging.stgHistoric(empty(Schemas.historicRaw),
          empty(Schemas.accountMappingHistoric))))
      val validated = Marts.fctValidatedBootstrap(
        Marts.fctTrxnsCategorized(features),
        Staging.stgUserValidatedCategories(
          empty(Schemas.userCategories), features))
      val withPreds = Marts.fctTrxnsWithPredictions(
        Marts.fctTrxnsUncategorized(features, validated),
        Staging.stgPredictions(empty(Schemas.predictedTransactions)))
      (withPreds.schema, validated.schema)
    }

    // the serving read join (J6): predictions view + live overrides
    def joined() = Serving.servingJoin(
      store.readOrEmpty("fct_trxns_with_predictions", predictionsSchema),
      userCategories())

    val service = new UserCategoryService(spark, store, () => joined())

    // in-use scan for the catalog listing
    val catalogSvc = new CategoryCatalogService(spark, store, () => Serving.inUseCategories(store))
    val backupSvc = new BackupService(warehouseDir,
      sys.env.getOrElse("GRAFT_BACKUP_DIR", s"$warehouseDir/../backups"))

    val trigger: Option[String => String] = sys.env.get("GRAFT_DAGSTER_URL").map {
      baseUrl => (jobName: String) =>
        JobLaunchClient.launch(httpTransport, baseUrl, jobName,
          locationName = sys.env.getOrElse("GRAFT_DAGSTER_LOCATION", "graft_definitions.py"),
          repositoryName = sys.env.getOrElse("GRAFT_DAGSTER_REPOSITORY", "__repository__"))
        match {
          case Right(runId) => runId
          case Left(err) => throw new RuntimeException(err.message)
        }
    }

    // same orchestrator endpoint as the trigger wiring: the warnings panel
    // reads the run logs of whatever Dagster the triggers launch into
    val warningsFetch: Option[Int => JobLaunchClient.WarningsResult] =
      sys.env.get("GRAFT_DAGSTER_URL").map { baseUrl => (limit: Int) =>
        JobLaunchClient.simplefinWarnings(httpTransport, baseUrl, limit)
      }

    new ApiServer(
      joined = () => joined(),
      validated = () => store.readOrEmpty("fct_validated_trxns", validatedSchema),
      simplefinRaw = () => store.readOrEmpty("raw_simplefin", Schemas.simplefinRaw),
      userCategories = Some(service),
      trigger = trigger,
      categoryCatalog = Some(catalogSvc),
      registry = Some(() => store.readOrEmpty("model_registry", Schemas.modelRegistry)),
      backups = Some(backupSvc),
      simplefinWarnings = warningsFetch,
      port = port,
      workers = spark.sparkContext.defaultParallelism,
      tableLock = store.lock)
  }

  /** JDK-only POST transport for the GraphQL launch client. */
  val httpTransport: JobLaunchClient.Transport = new JobLaunchClient.Transport {
    def post(url: String, jsonBody: String, timeoutMs: Int): (Int, String) = {
      val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.getOutputStream.write(jsonBody.getBytes(StandardCharsets.UTF_8))
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val body =
        if (stream == null) ""
        else new String(stream.readAllBytes(), StandardCharsets.UTF_8)
      conn.disconnect()
      (status, body)
    }
  }
}
