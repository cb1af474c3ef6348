package graft.finance.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.locks.{Lock, ReentrantLock, ReentrantReadWriteLock}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.finance.{CategoryCatalog, ConnectionHealth, Serving, UserCategoryService}
import graft.finance.ops.Debouncer

/** The HTTP serving boundary: the reference's browser→API→engine hop
  * (`ui/backend/api/transactions.py:38-62`,
  * `api/validated_transactions.py:53-75`, `api/control_center.py:66-152`)
  * re-expressed as a thin JSON façade over [[Serving]]'s DataFrame
  * functions. Built on the JDK's `com.sun.net.httpserver` because the
  * build is dependency-frozen; the façade's job is ONLY param validation
  * (422 on FastAPI `Query` constraint violations — see [[ApiParams]]),
  * dispatch to the already-oracle-gated query functions, and JSON
  * rendering of LIMIT-capped pages. No query logic lives here.
  *
  * Data access is via suppliers (`() => DataFrame`) so every request reads
  * the tables' current state, matching the per-request DB session of the
  * reference. The Spark driver hosts the server; executors never see it.
  *
  * Routing: `routes` declares each route once, as the reference's FastAPI
  * decorators do: its method, its path template (a `{id}`/`{name}` segment
  * captures, passed on exactly as `getPath` decoded it), its access class
  * and its handler. One dispatcher on one `HttpServer` context serves
  * them as Starlette's router would: the first route whose path and method
  * match runs; a path that only other methods declare answers 405, any
  * other path 404, both with FastAPI's JSON `detail`. A service that is
  * `None` declares no routes, so its paths answer 404.
  *
  * Concurrency: requests run on a fixed pool of `workers` daemon threads.
  * `tableLock` is the fair read/write lock of the
  * [[graft.finance.TableStore]] the services publish through
  * ([[ApiMain.build]] passes `store.lock`), and the store takes it
  * exclusively only while it swaps a table's directory. `writer` is this
  * server's edit mutex. A route's access class picks the locks it holds:
  *  - `Read` (every GET but the warnings panel) holds `tableLock` shared
  *    for the whole request, so reads' Spark jobs overlap and no swap
  *    moves a directory they list.
  *  - `Edit` (the transaction, validated-category and category edits)
  *    holds only `writer`: edits run one at a time, so a
  *    read–merge–swap–re-read of a table is atomic against other edits,
  *    while reads keep serving during the merge's Spark jobs. An edit waits
  *    at its swap for in-flight reads to drain.
  *  - `Replace` (backup run, restore and schedule) takes `writer` and then
  *    `tableLock` exclusively for the whole request (one acquisition order,
  *    so no deadlock with an edit's swap): they copy or replace the whole
  *    tree.
  *  - `Outside` (the three triggers and the warnings panel) holds no lock:
  *    they only call the orchestrator, whose calls can hang up to their
  *    timeouts, and a hung call under the shared lock would hold an edit's
  *    swap, and behind it (the lock is fair) every new read.
  *
  * An accepted All-Data category edit schedules
  * `5_full_refresh_validated_retrain_repredict` through `retrainDebouncer`
  * when a trigger is configured: a burst of edits launches one job, 45 s
  * after the last (`dagster_trigger.py:29-53`).
  */
final class ApiServer(
    joined: () => DataFrame,
    validated: () => DataFrame,
    simplefinRaw: () => DataFrame,
    userCategories: Option[UserCategoryService] = None,
    trigger: Option[String => String] = None,
    today: () => LocalDate = () => LocalDate.now(java.time.ZoneOffset.UTC),
    categoryCatalog: Option[CategoryCatalogService] = None,
    registry: Option[() => DataFrame] = None,
    backups: Option[BackupService] = None,
    simplefinWarnings: Option[Int => graft.finance.connector.JobLaunchClient.WarningsResult] = None,
    port: Int = 0,
    workers: Int = Runtime.getRuntime.availableProcessors,
    retrainDebouncer: Debouncer =
      new Debouncer(Debouncer.DefaultDebounceSeconds * 1000L),
    tableLock: ReentrantReadWriteLock = new ReentrantReadWriteLock(true)) {
  import ApiServer._

  private val pool: ExecutorService =
    Executors.newFixedThreadPool(math.max(1, workers), (r: Runnable) => {
      val t = Executors.defaultThreadFactory.newThread(r)
      t.setDaemon(true)
      t
    })
  private val writer = new ReentrantLock(true)

  private val routes: Seq[Route] = Seq(
    Route("GET", "/api/transactions", Read, c => transactions(c.query)),
    Route("GET", "/api/transactions/categories/list", Read, _ => categoriesList()),
    Route("GET", "/api/validated-transactions", Read, c => validatedTransactions(c.query)),
    Route("GET", "/api/validated-transactions/categories/list", Read,
      _ => validatedCategoriesList()),
    Route("GET", "/api/validated-transactions/categories/all", Read, _ => categoriesAll()),
    Route("GET", "/api/control-center/connections", Read, c => connections(c.query)),
    Route("GET", "/api/control-center/initialization-status", Read,
      _ => initializationStatus()),
    Route("GET", "/api/control-center/simplefin-warnings", Outside,
      c => warningsRoute(c.query))
  ) ++ userCategories.toSeq.flatMap(svc => Seq(
    Route("POST", "/api/transactions/bulk-validate", Edit, c => bulkValidateRoute(svc, c.body)),
    Route("POST", "/api/transactions/{id}/categorize", Edit,
      c => categorizeRoute(svc, c("id"), c.body)),
    Route("PUT", "/api/transactions/{id}/validate", Edit,
      c => validateRoute(svc, c("id"), c.body)),
    Route("PUT", "/api/transactions/{id}/notes", Edit, c => notesRoute(svc, c("id"), c.body)),
    Route("PUT", "/api/transactions/{id}/exclude-from-forecast", Edit,
      c => excludeRoute(svc, c("id"), c.body)),
    Route("PUT", "/api/validated-transactions/{id}/category", Edit,
      c => validatedCategoryRoute(svc, c("id"), c.body))
  )) ++ trigger.toSeq.flatMap(launch => Seq(
    // `api/transactions.py:164-181` and `control_center.py`'s two triggers
    Route("POST", "/api/transactions/trigger-refresh-validated", Outside,
      _ => triggerJob(launch, "4_refresh_validated_retrain_repredict")),
    Route("POST", "/api/control-center/trigger-ingest-and-predict", Outside,
      _ => triggerJob(launch, "2_ingest_and_predict")),
    Route("POST", "/api/control-center/trigger-initialization", Outside,
      _ => triggerJob(launch, "1_dagster_init"))
  )) ++ categoryCatalog.toSeq.flatMap(svc => Seq(
    Route("GET", "/api/categories", Read,
      _ => (200, svc.list().map(categoryJson).mkString("[", ",", "]"))),
    Route("POST", "/api/categories", Edit, c => addCategoryRoute(svc, c.body)),
    Route("PUT", "/api/categories/{name}/active", Edit,
      c => categoryActiveRoute(svc, c("name"), c.body))
  )) ++ registry.toSeq.flatMap(reg => Seq(
    Route("GET", "/api/model-metrics/metrics/history", Read, _ => metricsHistory(reg())),
    Route("GET", "/api/model-metrics/training-status", Read, _ => trainingStatus(reg()))
  )) ++ backups.toSeq.flatMap(svc => Seq(
    Route("POST", "/api/backup/run", Replace, _ => backupRunRoute(svc)),
    Route("GET", "/api/backup/list", Read, _ => backupListRoute(svc)),
    Route("POST", "/api/backup/restore", Replace, c => restoreRoute(svc, c.body)),
    Route("GET", "/api/backup/schedule", Read, _ => (200, scheduleJson(svc.loadSchedule()))),
    Route("POST", "/api/backup/schedule", Replace, c => saveScheduleRoute(svc, c.body)),
    Route("GET", "/api/backup/download", Read, c => { downloadRoute(c.ex, svc); Streamed })
  ))

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(pool)
  server.createContext("/", dispatch)

  def start(): ApiServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort

  /** Route one request: match, lock by access class, run, map a body
    * parse error to 422 and any other failure to 500, respond. The
    * response is written after the locks are released. */
  private def dispatch(ex: HttpExchange): Unit = {
    val path = segments(ex.getRequestURI.getPath)
    val onPath = routes.flatMap(r => r.bind(path).map(r -> _))
    val reply = onPath.find(_._1.method == ex.getRequestMethod) match {
      case Some((route, captures)) =>
        locked(route.access) {
          try route.handle(new Call(ex, captures)) catch {
            case e: ApiJson.ParseError => (422, bodyError(e.getMessage))
            case e: Exception => (500, serverError(e))
          }
        }
      case None if onPath.nonEmpty => (405, methodNotAllowed)
      case None => (404, notFound)
    }
    if (reply ne Streamed) respond(ex, reply._1, reply._2)
  }

  private def locked[A](access: Access)(body: => A): A = access match {
    case Read => holding(tableLock.readLock)(body)
    case Edit => holding(writer)(body)
    case Replace => holding(writer)(holding(tableLock.writeLock)(body))
    case Outside => body
  }

  private def holding[A](l: Lock)(body: => A): A = {
    l.lock()
    try body finally l.unlock()
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  // ---- request-body plumbing ----

  /** FastAPI's body-validation 422 shape. */
  private def bodyError(msg: String, field: String = "__root__"): String =
    ApiJson.obj(Seq("detail" -> ("[" + ApiJson.obj(Seq(
      "loc" -> ApiJson.strings(Seq("body", field)),
      "msg" -> ApiJson.str(msg))) + "]")))

  private def detail(msg: String): String =
    ApiJson.obj(Seq("detail" -> ApiJson.str(msg)))

  private def requiredString(b: Map[String, Any], k: String): Either[Reply, String] =
    b.get(k) match {
      case Some(s: String) => Right(s)
      case Some(_) => Left((422, bodyError("str type expected", k)))
      case None => Left((422, bodyError("field required", k)))
    }

  private def requiredBool(b: Map[String, Any], k: String): Either[Reply, Boolean] =
    b.get(k) match {
      case Some(v: Boolean) => Right(v)
      case Some(_) => Left((422, bodyError("bool type expected", k)))
      case None => Left((422, bodyError("field required", k)))
    }

  private def optString(b: Map[String, Any], k: String): Option[String] =
    b.get(k).collect { case s: String => s }

  private def optBool(b: Map[String, Any], k: String): Option[Boolean] =
    b.get(k).collect { case v: Boolean => v }

  private def ucJson(r: Any): String = r match {
    case row: UserCategoryService#UserCategoryRow =>
      ApiJson.obj(Seq(
        "transaction_id" -> ApiJson.str(row.transactionId),
        "master_category" -> ApiJson.value(row.masterCategory.orNull),
        "source_category" -> ApiJson.value(row.sourceCategory.orNull),
        "notes" -> ApiJson.value(row.notes.orNull),
        "validated" -> row.validated.toString,
        "exclude_from_forecast" -> row.excludeFromForecast.toString,
        "updated_at" -> ApiJson.value(row.updatedAt.orNull)))
    case other => ApiJson.value(other)
  }

  // ---- write routes (`api/transactions.py:66-200`) ----

  private def categorizeRoute(svc: UserCategoryService, id: String, b: Map[String, Any]): Reply =
    requiredString(b, "master_category") match {
      case Left(err) => err
      case Right(master) =>
        if (!svc.transactionExists(id)) (404, detail("Transaction not found"))
        else (200, ucJson(svc.categorize(id, master,
          sourceCategory = optString(b, "source_category"),
          notes = optString(b, "notes"),
          validated = optBool(b, "validated"),
          excludeFromForecast = optBool(b, "exclude_from_forecast"))))
    }

  private def validateRoute(svc: UserCategoryService, id: String, b: Map[String, Any]): Reply =
    requiredBool(b, "validated") match {
      case Left(err) => err
      case Right(v) =>
        try {
          val r = svc.updateValidation(id, v)
          (200, ApiJson.obj(Seq(
            "transaction_id" -> ApiJson.str(id),
            "validated" -> r.validated.toString)))
        } catch {
          case e: UserCategoryService.NoCategoryError => (404, detail(e.getMessage))
        }
    }

  private def notesRoute(svc: UserCategoryService, id: String, b: Map[String, Any]): Reply =
    try {
      val r = svc.updateNotes(id, optString(b, "notes"))
      (200, ApiJson.obj(Seq(
        "transaction_id" -> ApiJson.str(id),
        "notes" -> ApiJson.value(r.notes.orNull))))
    } catch {
      case e: UserCategoryService.NoCategoryError => (404, detail(e.getMessage))
    }

  private def excludeRoute(svc: UserCategoryService, id: String, b: Map[String, Any]): Reply =
    requiredBool(b, "exclude_from_forecast") match {
      case Left(err) => err
      case Right(v) =>
        try {
          val r = svc.updateExcludeFromForecast(id, v)
          (200, ApiJson.obj(Seq(
            "transaction_id" -> ApiJson.str(id),
            "exclude_from_forecast" -> r.excludeFromForecast.toString)))
        } catch {
          // this route maps ValueError to 400, not 404 (transactions.py:146)
          case e: UserCategoryService.NoCategoryError => (400, detail(e.getMessage))
        }
    }

  private def bulkValidateRoute(svc: UserCategoryService, b: Map[String, Any]): Reply =
    b.get("transaction_ids") match {
      case Some(ids: List[_]) if ids.forall(_.isInstanceOf[String]) =>
        val n = svc.bulkValidate(ids.asInstanceOf[List[String]])
        (200, ApiJson.obj(Seq(
          "message" -> ApiJson.str(s"Marked $n transactions as validated"),
          "updated_count" -> n.toString)))
      case Some(_) => (422, bodyError("list of str expected", "transaction_ids"))
      case None => (422, bodyError("field required", "transaction_ids"))
    }

  /** Launch a job by name via the injected launcher (JobLaunchClient or
    * the Dagster glue). */
  private def triggerJob(launch: String => String, jobName: String): Reply =
    try {
      val runId = launch(jobName)
      (200, ApiJson.obj(Seq(
        "success" -> "true",
        "message" -> ApiJson.str("Dagster job triggered successfully"),
        "run_id" -> ApiJson.str(runId))))
    } catch {
      case e: Exception =>
        (500, detail(s"Error triggering Dagster job: ${e.getMessage}"))
    }

  // ---- /api/validated-transactions (`api/validated_transactions.py`) ----

  /** GET categories/list (`validated_transactions.py:176-188`): distinct
    * categories present in the validated fact. */
  private def validatedCategoriesList(): Reply = {
    val names = validated()
      .select(col("master_category")).filter(col("master_category").isNotNull)
      .distinct().orderBy(col("master_category"))
      .collect().map(_.getString(0)).toSeq
    (200, ApiJson.strings(names))
  }

  /** GET categories/all (`validated_transactions.py:191-194` →
    * `get_categories`): the active catalog, defaults on any failure. */
  private def categoriesAll(): Reply = {
    val names =
      try categoryCatalog.map(_.activeNames())
        .getOrElse(CategoryCatalog.DefaultCategories.sorted)
      catch { case _: Exception => CategoryCatalog.DefaultCategories.sorted }
    (200, ApiJson.strings(names))
  }

  /** PUT {id}/category (`validated_transactions.py:197-217`): All-Data
    * editor — only validated rows editable, errors map to 400. */
  private def validatedCategoryRoute(
      svc: UserCategoryService, id: String, b: Map[String, Any]): Reply =
    requiredString(b, "master_category") match {
      case Left(err) => err
      case Right(master) =>
        try {
          val r = svc.updateValidatedCategory(id, master)
          trigger.foreach(launch => retrainDebouncer.call(() =>
            launch("5_full_refresh_validated_retrain_repredict")))
          (200, ApiJson.obj(Seq(
            "transaction_id" -> ApiJson.str(r.transactionId),
            "master_category" -> ApiJson.value(r.masterCategory.orNull),
            "message" -> ApiJson.str(
              "Category updated. Full refresh + retrain scheduled (~45s after your last edit)."))))
        } catch {
          case e: UserCategoryService.NoCategoryError => (400, detail(e.getMessage))
        }
    }

  // ---- /api/control-center (`api/control_center.py`) ----

  /** GET simplefin-warnings (`control_center.py:176-189`): WARNING/ERROR
    * logs from the most recent simplefin asset run, via the warnings
    * fetcher (the [[graft.finance.connector.JobLaunchClient]] GraphQL
    * pair). Like the reference, EVERY backend failure — including no
    * orchestrator configured at all — degrades to the empty response, 200:
    * the warnings panel must never take the control center down. */
  private def warningsRoute(q: Map[String, String]): Reply =
    ApiParams.warningsQuery(q) match {
      case Left(errs) => (422, ApiParams.errorBody(errs))
      case Right(limit) =>
        val result =
          try simplefinWarnings.map(_(limit))
            .getOrElse(graft.finance.connector.JobLaunchClient.WarningsResult(Nil, 0))
          catch { case _: Exception =>
            graft.finance.connector.JobLaunchClient.WarningsResult(Nil, 0)
          }
        val items = result.warnings.map { w =>
          ApiJson.obj(Seq(
            "message" -> ApiJson.str(w.message),
            "timestamp" -> w.timestamp.map(ApiJson.str).getOrElse("null"),
            "run_id" -> w.runId.map(ApiJson.str).getOrElse("null")))
        }.mkString("[", ",", "]")
        (200, ApiJson.obj(Seq(
          "warnings" -> items,
          "total_count" -> result.totalCount.toString)))
    }

  /** GET initialization-status (`control_center.py:344-390`, the A11
    * existence check): empty source AND empty validated fact → needs init.
    * Any failure to check also reports needs-init, as the reference does. */
  private def initializationStatus(): Reply = {
    val (needsInit, message) =
      try {
        val hasSource = simplefinRaw().limit(1).count() > 0
        val hasValidated =
          try validated().limit(1).count() > 0
          catch { case _: Exception => false }
        if (!hasSource && !hasValidated)
          (true, "No data found. Please run initialization to set up the pipeline.")
        else (false, "System is initialized.")
      } catch {
        case _: Exception =>
          (true, "Unable to check initialization status. Please run initialization.")
      }
    (200, ApiJson.obj(Seq(
      "needs_initialization" -> needsInit.toString,
      "message" -> ApiJson.str(message))))
  }

  // ---- /api/categories (`api/categories.py`) ----

  private def addCategoryRoute(svc: CategoryCatalogService, b: Map[String, Any]): Reply =
    requiredString(b, "name") match {
      case Left(err) => err
      case Right(name) =>
        try (200, categoryJson(svc.add(name)))
        catch { case e: IllegalArgumentException => (400, detail(e.getMessage)) }
    }

  private def categoryActiveRoute(
      svc: CategoryCatalogService, name: String, b: Map[String, Any]): Reply =
    requiredBool(b, "is_active") match {
      case Left(err) => err
      case Right(active) =>
        try (200, categoryJson(svc.setActive(name, active)))
        catch { case e: IllegalArgumentException => (404, detail(e.getMessage)) }
    }

  /** CategoryResponse shape (`categories.py:18-23`). */
  private def categoryJson(r: org.apache.spark.sql.Row): String =
    ApiJson.obj(Seq(
      "name" -> ApiJson.str(r.getString(0)),
      "is_default" -> r.getBoolean(1).toString,
      "is_active" -> r.getBoolean(2).toString,
      "in_use" -> r.getBoolean(3).toString,
      "created_at" -> ApiJson.value(r.get(4))))

  // ---- /api/model-metrics (`api/model_metrics.py`) ----

  private def metricsHistory(reg: DataFrame): Reply = {
    val rows = graft.finance.TableStore.metricsHistory(reg)
    val history = ApiJson.rows(rows)
    val n = rows.count()
    (200, ApiJson.obj(Seq("metrics" -> history, "total_count" -> n.toString)))
  }

  private def trainingStatus(reg: DataFrame): Reply =
    graft.finance.TableStore.trainingStatus(reg).collect().headOption match {
      case None => (200, ApiJson.obj(Seq(
        "status" -> ApiJson.str("not_found"),
        "message" -> ApiJson.str("No training runs recorded"))))
      case Some(r) => (200, ApiJson.row(r))
    }

  // ---- /api/backup (`api/backup.py`) ----

  private def backupRunRoute(svc: BackupService): Reply = {
    val (name, size) = svc.run()
    (200, ApiJson.obj(Seq(
      "success" -> "true",
      "filename" -> ApiJson.str(name),
      "message" -> ApiJson.str(s"Backup saved: $name ($size bytes)"))))
  }

  private def backupListRoute(svc: BackupService): Reply =
    (200, ApiJson.obj(Seq("backups" -> svc.list().map(b =>
      ApiJson.obj(Seq(
        "filename" -> ApiJson.str(b.filename),
        "size_bytes" -> b.sizeBytes.toString,
        "created" -> ApiJson.str(b.created)))).mkString("[", ",", "]"))))

  private def restoreRoute(svc: BackupService, b: Map[String, Any]): Reply =
    requiredString(b, "filename") match {
      case Left(err) => err
      case Right(filename) =>
        svc.restore(filename, optString(b, "confirm")) match {
          case Left((code, msg)) => (code, detail(msg))
          case Right(msg) => (200, ApiJson.obj(Seq(
            "success" -> "true", "message" -> ApiJson.str(msg))))
        }
    }

  private def saveScheduleRoute(svc: BackupService, b: Map[String, Any]): Reply =
    requiredBool(b, "enabled") match {
      case Left(err) => err
      case Right(enabled) =>
        val retention = b.get("retention_days").collect { case d: Double => d.toInt }
        (200, scheduleJson(svc.saveSchedule(enabled, optString(b, "cron"), retention)))
    }

  /** GET /api/backup/download (`backup.py:106-118`): the reference's
    * `StreamingResponse(run_pg_dump_stream(), media_type =
    * "application/octet-stream", Content-Disposition: attachment)` —
    * chunked transfer (length 0), the zip built file-at-a-time directly
    * onto the socket. Once headers are sent a failure can only truncate
    * the stream (same as a dying pg_dump pipe), so the 500 fallback fires
    * only if the snapshot fails before the first byte. */
  private def downloadRoute(ex: HttpExchange, svc: BackupService): Unit = {
    var headersSent = false
    try {
      val filename = svc.downloadFilename()
      ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
      ex.getResponseHeaders.set(
        "Content-Disposition", "attachment; filename=\"" + filename + "\"")
      ex.sendResponseHeaders(200, 0)
      headersSent = true
      val os = ex.getResponseBody
      try svc.writeDownload(os) finally os.close()
    } catch {
      case e: Exception =>
        if (!headersSent)
          try respond(ex, 500, serverError(e)) catch { case _: Exception => () }
    } finally ex.close()
  }

  private def scheduleJson(s: BackupService#ScheduleState): String =
    ApiJson.obj(Seq(
      "enabled" -> s.enabled.toString,
      "cron" -> ApiJson.str(s.cron),
      "retention_days" -> s.retentionDays.toString,
      "next_run" -> s.nextRun.map(ApiJson.str).getOrElse("null")))

  private val methodNotAllowed =
    ApiJson.obj(Seq("detail" -> ApiJson.str("Method Not Allowed")))

  private val notFound = ApiJson.obj(Seq("detail" -> ApiJson.str("Not Found")))

  /** The api routes' blanket 500 path: HTTPException(500, detail=str(e)). */
  private def serverError(e: Exception): String =
    ApiJson.obj(Seq("detail" -> ApiJson.str(
      s"Internal error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")))

  /** GET /api/transactions (`api/transactions.py:38-62`). */
  private def transactions(q: Map[String, String]): Reply =
    ApiParams.transactionQuery(q) match {
      case Left(errs) => (422, ApiParams.errorBody(errs))
      case Right(p) =>
        val page = Serving.transactionPage(
          joined(), p.mode, p.descriptionSearch, p.excludeLowConfidence,
          p.lowConfidenceThreshold, p.sortBy, p.ascending, p.limit, p.offset)
        (200, ApiJson.obj(Seq(
          "transactions" -> ApiJson.rows(page.rows),
          "total_count" -> page.totalCount.toString)))
    }

  /** GET /api/transactions/categories/list (`api/transactions.py:91-100`):
    * distinct in-use categories; on ANY read failure fall back to the
    * sorted default catalog so the UI dropdown never breaks. */
  private def categoriesList(): Reply = {
    val names =
      try Serving.distinctCategories(joined())
        .collect().map(_.getString(0)).toSeq
      catch { case _: Exception => CategoryCatalog.DefaultCategories.sorted }
    (200, ApiJson.strings(names))
  }

  /** GET /api/validated-transactions (`api/validated_transactions.py:53-75`). */
  private def validatedTransactions(q: Map[String, String]): Reply =
    ApiParams.validatedQuery(q) match {
      case Left(errs) => (422, ApiParams.errorBody(errs))
      case Right(p) =>
        val page = Serving.validatedTransactionPage(
          validated(), p.category, p.accountNameFilter, p.descriptionSearch,
          p.sortBy, p.ascending, p.limit, p.offset)
        (200, ApiJson.obj(Seq(
          "transactions" -> ApiJson.rows(page.rows),
          "total_count" -> page.totalCount.toString)))
    }

  /** GET /api/control-center/connections (`api/control_center.py:66-152`):
    * the accountHealth rollup, each row annotated with the pure
    * [[ConnectionHealth]] inference, as the reference's ConnectionInfo. */
  private def connections(q: Map[String, String]): Reply = {
    val rows = Serving.accountHealth(simplefinRaw()).collect()
    val asOf = today()
    def strOpt(v: Any): Option[String] = Option(v).map(_.toString)
    val infos = rows.iterator.map { r =>
      def f(name: String): Any = r.get(r.fieldIndex(name))
      val h = ConnectionHealth.compute(
        lastSuccessfulLoad = strOpt(f("last_successful_load")),
        pollEarliestTransactionDate = strOpt(f("poll_earliest_transaction_date")),
        pollLatestTransactionDate = strOpt(f("poll_latest_transaction_date")),
        oldestStoredTransactionDate = strOpt(f("oldest_stored_transaction_date")),
        today = asOf)
      ApiJson.obj(Seq(
        "account_id" -> ApiJson.value(f("account_id")),
        "account_name" -> ApiJson.value(f("account_name")),
        "institution_name" -> ApiJson.value(f("institution_name")),
        "last_successful_load" -> ApiJson.value(f("last_successful_load")),
        "latest_transaction_date" -> ApiJson.value(f("poll_latest_transaction_date")),
        "transaction_count" -> ApiJson.value(f("transaction_count")),
        "lookback_days" -> ApiJson.value(h.lookbackDays.map(Int.box).orNull),
        "buffer_days" -> ApiJson.value(h.bufferDays.map(Int.box).orNull),
        "days_since_last_load" -> ApiJson.value(h.daysSinceLastLoad.map(Int.box).orNull),
        "days_since_latest_transaction" ->
          ApiJson.value(h.daysSinceLatestTransaction.map(Int.box).orNull),
        "health_status" -> ApiJson.str(h.healthStatus),
        "health_message" -> ApiJson.str(h.healthMessage)))
    }.mkString("[", ",", "]")
    (200, ApiJson.obj(Seq(
      "connections" -> infos,
      "total_count" -> rows.length.toString)))
  }
}

private object ApiServer {

  /** The locks a route holds (the class scaladoc's concurrency section). */
  sealed trait Access
  case object Read extends Access
  case object Edit extends Access
  case object Replace extends Access
  case object Outside extends Access

  /** A handler's status and JSON body. */
  type Reply = (Int, String)

  /** The reply of a handler that has written its own response; the
    * dispatcher tells it apart by reference. */
  val Streamed: Reply = (200, "")

  /** One declared route. `path`'s `{…}` segments capture by name. */
  final case class Route(
      method: String, path: String, access: Access, handle: Call => Reply) {
    private val template = segments(path)

    /** The captures, when `request` (as split by [[segments]]) fits. */
    def bind(request: List[String]): Option[Map[String, String]] = {
      val pairs = template.zip(request)
      if (request.length != template.length ||
          pairs.exists { case (t, s) => !t.startsWith("{") && t != s }) None
      else Some(pairs.collect {
        case (t, s) if t.startsWith("{") => t.drop(1).dropRight(1) -> s
      }.toMap)
    }
  }

  /** One matched request: the exchange and its path captures. */
  final class Call(val ex: HttpExchange, captures: Map[String, String]) {
    /** The `{name}` capture as `getPath` decoded it: a second decode would
      * turn "A+B" into "A B" and fail on "50%". */
    def apply(name: String): String = captures(name)

    def query: Map[String, String] =
      ApiParams.parseQueryString(ex.getRequestURI.getRawQuery)

    /** The JSON object body; anything else is an [[ApiJson.ParseError]]. */
    lazy val body: Map[String, Any] =
      ApiJson.parse(new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)) match {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case _ => throw new ApiJson.ParseError("expected a JSON object body")
      }
  }

  /** A request path's segments, empty ones dropped. */
  def segments(path: String): List[String] = path.split("/").filter(_.nonEmpty).toList
}
