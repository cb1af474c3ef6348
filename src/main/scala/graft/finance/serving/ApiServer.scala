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
  * Concurrency: requests run on a fixed pool of `workers` daemon threads
  * under two locks. `tableLock` is the fair read/write lock of the
  * [[graft.finance.TableStore]] the services publish through
  * ([[ApiMain.build]] passes `store.lock`), and the store takes it
  * exclusively only while it swaps a table's directory. `writer` is this
  * server's edit mutex.
  *  - Routes that only read (every GET, and the trigger routes, which only
  *    call the orchestrator) hold `tableLock` shared for the whole request,
  *    so their Spark jobs overlap and no swap moves a directory they list.
  *  - Edits (the POST/PUT routes of transactions, validated categories and
  *    categories) hold only `writer`: edits run one at a time, so a
  *    read–merge–swap–re-read of a table is atomic against other edits,
  *    while reads keep serving during the merge's Spark jobs. An edit waits
  *    at its swap for in-flight reads to drain.
  *  - Backup run, restore and schedule take `writer` and then `tableLock`
  *    exclusively for the whole request (one acquisition order, so no
  *    deadlock with an edit's swap): they copy or replace the whole tree.
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

  private val pool: ExecutorService =
    Executors.newFixedThreadPool(math.max(1, workers), (r: Runnable) => {
      val t = Executors.defaultThreadFactory.newThread(r)
      t.setDaemon(true)
      t
    })
  private val writer = new ReentrantLock(true)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(pool)
  // HttpServer matches the longest context prefix; the exact-path check in
  // `exchange` turns unknown subpaths into 404s as FastAPI's router would.
  server.createContext("/api/transactions/categories/list",
    guarded(exchange("/api/transactions/categories/list", categoriesList)))
  server.createContext("/api/transactions", guarded(transactionsDispatch))
  server.createContext("/api/validated-transactions", guarded(validatedDispatch))
  server.createContext("/api/control-center", guarded(controlCenterDispatch))
  server.createContext("/api/categories", guarded(categoriesDispatch))
  server.createContext("/api/model-metrics", guarded(modelMetricsDispatch))
  server.createContext("/api/backup", guarded(backupDispatch))

  def start(): ApiServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort

  /** Run `handler` under the locks its route needs (class scaladoc): the
    * shared `tableLock` for a read or a trigger, `writer` and then the
    * exclusive `tableLock` for a backup mutation, `writer` for an edit. */
  private def guarded(handler: HttpExchange => Unit)(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    if (ex.getRequestMethod == "GET" ||
        path.split("/").lastOption.exists(_.startsWith("trigger-")))
      holding(tableLock.readLock)(handler(ex))
    else if (path.startsWith("/api/backup"))
      holding(writer)(holding(tableLock.writeLock)(handler(ex)))
    else holding(writer)(handler(ex))
  }

  private def holding(l: Lock)(body: => Unit): Unit = {
    l.lock()
    try body finally l.unlock()
  }

  private def exchange(
      exactPath: String,
      route: Map[String, String] => (Int, String))(ex: HttpExchange): Unit = {
    val (status, body) =
      if (ex.getRequestURI.getPath != exactPath) (404, notFound)
      else if (ex.getRequestMethod != "GET") (405, methodNotAllowed)
      else try route(ApiParams.parseQueryString(ex.getRequestURI.getRawQuery))
      catch { case e: Exception => (500, serverError(e)) }
    respond(ex, status, body)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The /api/transactions router (`api/transactions.py`): the GET list on
    * the bare path plus the write half — categorize / validate / notes /
    * exclude-from-forecast / bulk-validate / trigger — dispatched on
    * (method, path tail) as FastAPI's path templates do. */
  private def transactionsDispatch(ex: HttpExchange): Unit = {
    val tail = ex.getRequestURI.getPath.stripPrefix("/api/transactions")
      .split("/").filter(_.nonEmpty).toList
    val (status, body) =
      try (ex.getRequestMethod, tail) match {
        case ("GET", Nil) =>
          transactions(ApiParams.parseQueryString(ex.getRequestURI.getRawQuery))
        case ("POST", List("bulk-validate")) => bulkValidateRoute(readBody(ex))
        case ("POST", List("trigger-refresh-validated")) => triggerRefreshRoute()
        case ("POST", List(id, "categorize")) => categorizeRoute(id, readBody(ex))
        case ("PUT", List(id, "validate")) => validateRoute(id, readBody(ex))
        case ("PUT", List(id, "notes")) => notesRoute(id, readBody(ex))
        case ("PUT", List(id, "exclude-from-forecast")) => excludeRoute(id, readBody(ex))
        case (_, Nil) => (405, methodNotAllowed)
        case _ => (404, notFound)
      } catch {
        case e: ApiJson.ParseError => (422, bodyError(e.getMessage))
        case e: Exception => (500, serverError(e))
      }
    respond(ex, status, body)
  }

  // ---- request-body plumbing ----

  private def readBody(ex: HttpExchange): Map[String, Any] =
    ApiJson.parse(new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8)) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => throw new ApiJson.ParseError("expected a JSON object body")
    }

  /** FastAPI's body-validation 422 shape. */
  private def bodyError(msg: String, field: String = "__root__"): String =
    ApiJson.obj(Seq("detail" -> ("[" + ApiJson.obj(Seq(
      "loc" -> ApiJson.strings(Seq("body", field)),
      "msg" -> ApiJson.str(msg))) + "]")))

  private def detail(msg: String): String =
    ApiJson.obj(Seq("detail" -> ApiJson.str(msg)))

  private def requiredString(b: Map[String, Any], k: String): Either[(Int, String), String] =
    b.get(k) match {
      case Some(s: String) => Right(s)
      case Some(_) => Left((422, bodyError("str type expected", k)))
      case None => Left((422, bodyError("field required", k)))
    }

  private def requiredBool(b: Map[String, Any], k: String): Either[(Int, String), Boolean] =
    b.get(k) match {
      case Some(v: Boolean) => Right(v)
      case Some(_) => Left((422, bodyError("bool type expected", k)))
      case None => Left((422, bodyError("field required", k)))
    }

  private def optString(b: Map[String, Any], k: String): Option[String] =
    b.get(k).collect { case s: String => s }

  private def optBool(b: Map[String, Any], k: String): Option[Boolean] =
    b.get(k).collect { case v: Boolean => v }

  private def withService(f: UserCategoryService => (Int, String)): (Int, String) =
    userCategories match {
      case Some(svc) => f(svc)
      case None => (404, notFound) // read-only deployment: write surface absent
    }

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

  private def categorizeRoute(id: String, b: Map[String, Any]): (Int, String) =
    withService { svc =>
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
    }

  private def validateRoute(id: String, b: Map[String, Any]): (Int, String) =
    withService { svc =>
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
    }

  private def notesRoute(id: String, b: Map[String, Any]): (Int, String) =
    withService { svc =>
      try {
        val r = svc.updateNotes(id, optString(b, "notes"))
        (200, ApiJson.obj(Seq(
          "transaction_id" -> ApiJson.str(id),
          "notes" -> ApiJson.value(r.notes.orNull))))
      } catch {
        case e: UserCategoryService.NoCategoryError => (404, detail(e.getMessage))
      }
    }

  private def excludeRoute(id: String, b: Map[String, Any]): (Int, String) =
    withService { svc =>
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
    }

  private def bulkValidateRoute(b: Map[String, Any]): (Int, String) =
    withService { svc =>
      b.get("transaction_ids") match {
        case Some(ids: List[_]) if ids.forall(_.isInstanceOf[String]) =>
          val n = svc.bulkValidate(ids.asInstanceOf[List[String]])
          (200, ApiJson.obj(Seq(
            "message" -> ApiJson.str(s"Marked $n transactions as validated"),
            "updated_count" -> n.toString)))
        case Some(_) => (422, bodyError("list of str expected", "transaction_ids"))
        case None => (422, bodyError("field required", "transaction_ids"))
      }
    }

  /** POST /api/transactions/trigger-refresh-validated
    * (`api/transactions.py:164-181`): launch the refresh job by name via
    * the injected launcher (JobLaunchClient or the Dagster glue). */
  private def triggerRefreshRoute(): (Int, String) =
    triggerJob("4_refresh_validated_retrain_repredict")

  private def triggerJob(jobName: String): (Int, String) =
    trigger match {
      case None => (404, notFound)
      case Some(launch) =>
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
    }

  // ---- /api/validated-transactions (`api/validated_transactions.py`) ----

  private def validatedDispatch(ex: HttpExchange): Unit = {
    val tail = ex.getRequestURI.getPath.stripPrefix("/api/validated-transactions")
      .split("/").filter(_.nonEmpty).toList
    val (status, body) =
      try (ex.getRequestMethod, tail) match {
        case ("GET", Nil) =>
          validatedTransactions(ApiParams.parseQueryString(ex.getRequestURI.getRawQuery))
        case ("GET", List("categories", "list")) => validatedCategoriesList()
        case ("GET", List("categories", "all")) => categoriesAll()
        case ("PUT", List(id, "category")) => validatedCategoryRoute(id, readBody(ex))
        case (_, Nil) => (405, methodNotAllowed)
        case _ => (404, notFound)
      } catch {
        case e: ApiJson.ParseError => (422, bodyError(e.getMessage))
        case e: Exception => (500, serverError(e))
      }
    respond(ex, status, body)
  }

  /** GET categories/list (`validated_transactions.py:176-188`): distinct
    * categories present in the validated fact. */
  private def validatedCategoriesList(): (Int, String) = {
    val names = validated()
      .select(col("master_category")).filter(col("master_category").isNotNull)
      .distinct().orderBy(col("master_category"))
      .collect().map(_.getString(0)).toSeq
    (200, ApiJson.strings(names))
  }

  /** GET categories/all (`validated_transactions.py:191-194` →
    * `get_categories`): the active catalog, defaults on any failure. */
  private def categoriesAll(): (Int, String) = {
    val names =
      try categoryCatalog.map(_.activeNames())
        .getOrElse(CategoryCatalog.DefaultCategories.sorted)
      catch { case _: Exception => CategoryCatalog.DefaultCategories.sorted }
    (200, ApiJson.strings(names))
  }

  /** PUT {id}/category (`validated_transactions.py:197-217`): All-Data
    * editor — only validated rows editable, errors map to 400. */
  private def validatedCategoryRoute(id: String, b: Map[String, Any]): (Int, String) =
    withService { svc =>
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
    }

  // ---- /api/control-center (`api/control_center.py`) ----

  private def controlCenterDispatch(ex: HttpExchange): Unit = {
    val tail = ex.getRequestURI.getPath.stripPrefix("/api/control-center")
      .split("/").filter(_.nonEmpty).toList
    val (status, body) =
      try (ex.getRequestMethod, tail) match {
        case ("GET", List("connections")) =>
          connections(ApiParams.parseQueryString(ex.getRequestURI.getRawQuery))
        case ("GET", List("initialization-status")) => initializationStatus()
        case ("GET", List("simplefin-warnings")) =>
          warningsRoute(ApiParams.parseQueryString(ex.getRequestURI.getRawQuery))
        case ("POST", List("trigger-ingest-and-predict")) =>
          triggerJob("2_ingest_and_predict")
        case ("POST", List("trigger-initialization")) =>
          triggerJob("1_dagster_init")
        case _ => (404, notFound)
      } catch { case e: Exception => (500, serverError(e)) }
    respond(ex, status, body)
  }

  /** GET simplefin-warnings (`control_center.py:176-189`): WARNING/ERROR
    * logs from the most recent simplefin asset run, via the warnings
    * fetcher (the [[graft.finance.connector.JobLaunchClient]] GraphQL
    * pair). Like the reference, EVERY backend failure — including no
    * orchestrator configured at all — degrades to the empty response, 200:
    * the warnings panel must never take the control center down. */
  private def warningsRoute(q: Map[String, String]): (Int, String) =
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
  private def initializationStatus(): (Int, String) = {
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

  private def categoriesDispatch(ex: HttpExchange): Unit = {
    val tail = ex.getRequestURI.getPath.stripPrefix("/api/categories")
      .split("/").filter(_.nonEmpty).toList
    val (status, body) =
      try (categoryCatalog, ex.getRequestMethod, tail) match {
        case (None, _, _) => (404, notFound)
        case (Some(svc), "GET", Nil) =>
          (200, svc.list().map(categoryJson).mkString("[", ",", "]"))
        case (Some(svc), "POST", Nil) =>
          requiredString(readBody(ex), "name") match {
            case Left(err) => err
            case Right(name) =>
              try (200, categoryJson(svc.add(name)))
              catch { case e: IllegalArgumentException => (400, detail(e.getMessage)) }
          }
        case (Some(svc), "PUT", List(name, "active")) =>
          requiredBool(readBody(ex), "is_active") match {
            case Left(err) => err
            case Right(active) =>
              try (200, categoryJson(svc.setActive(
                java.net.URLDecoder.decode(name, "UTF-8"), active)))
              catch { case e: IllegalArgumentException => (404, detail(e.getMessage)) }
          }
        case (_, _, Nil) => (405, methodNotAllowed)
        case _ => (404, notFound)
      } catch {
        case e: ApiJson.ParseError => (422, bodyError(e.getMessage))
        case e: Exception => (500, serverError(e))
      }
    respond(ex, status, body)
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

  private def modelMetricsDispatch(ex: HttpExchange): Unit = {
    val tail = ex.getRequestURI.getPath.stripPrefix("/api/model-metrics")
      .split("/").filter(_.nonEmpty).toList
    val (status, body) =
      try (registry, ex.getRequestMethod, tail) match {
        case (None, _, _) => (404, notFound)
        case (Some(reg), "GET", List("metrics", "history")) =>
          val rows = graft.finance.TableStore.metricsHistory(reg())
          val history = ApiJson.rows(rows)
          val n = rows.count()
          (200, ApiJson.obj(Seq(
            "metrics" -> history, "total_count" -> n.toString)))
        case (Some(reg), "GET", List("training-status")) =>
          val rows = graft.finance.TableStore.trainingStatus(reg()).collect()
          rows.headOption match {
            case None => (200, ApiJson.obj(Seq(
              "status" -> ApiJson.str("not_found"),
              "message" -> ApiJson.str("No training runs recorded"))))
            case Some(r) => (200, ApiJson.row(r))
          }
        case _ => (404, notFound)
      } catch { case e: Exception => (500, serverError(e)) }
    respond(ex, status, body)
  }

  // ---- /api/backup (`api/backup.py`) ----

  private def backupDispatch(ex: HttpExchange): Unit = {
    val tail = ex.getRequestURI.getPath.stripPrefix("/api/backup")
      .split("/").filter(_.nonEmpty).toList
    (backups, ex.getRequestMethod, tail) match {
      case (Some(svc), "GET", List("download")) => downloadRoute(ex, svc); return
      case _ => ()
    }
    val (status, body) =
      try (backups, ex.getRequestMethod, tail) match {
        case (None, _, _) => (404, notFound)
        case (Some(svc), "POST", List("run")) =>
          val (name, size) = svc.run()
          (200, ApiJson.obj(Seq(
            "success" -> "true",
            "filename" -> ApiJson.str(name),
            "message" -> ApiJson.str(s"Backup saved: $name ($size bytes)"))))
        case (Some(svc), "GET", List("list")) =>
          (200, ApiJson.obj(Seq("backups" -> svc.list().map(b =>
            ApiJson.obj(Seq(
              "filename" -> ApiJson.str(b.filename),
              "size_bytes" -> b.sizeBytes.toString,
              "created" -> ApiJson.str(b.created)))).mkString("[", ",", "]"))))
        case (Some(svc), "POST", List("restore")) =>
          val b = readBody(ex)
          requiredString(b, "filename") match {
            case Left(err) => err
            case Right(filename) =>
              svc.restore(filename, optString(b, "confirm")) match {
                case Left((code, msg)) => (code, detail(msg))
                case Right(msg) => (200, ApiJson.obj(Seq(
                  "success" -> "true", "message" -> ApiJson.str(msg))))
              }
          }
        case (Some(svc), "GET", List("schedule")) =>
          (200, scheduleJson(svc.loadSchedule()))
        case (Some(svc), "POST", List("schedule")) =>
          val b = readBody(ex)
          requiredBool(b, "enabled") match {
            case Left(err) => err
            case Right(enabled) =>
              val retention = b.get("retention_days").collect { case d: Double => d.toInt }
              (200, scheduleJson(svc.saveSchedule(enabled, optString(b, "cron"), retention)))
          }
        case _ => (404, notFound)
      } catch {
        case e: ApiJson.ParseError => (422, bodyError(e.getMessage))
        case e: Exception => (500, serverError(e))
      }
    respond(ex, status, body)
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
  private def transactions(q: Map[String, String]): (Int, String) =
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
  private def categoriesList(q: Map[String, String]): (Int, String) = {
    val names =
      try Serving.distinctCategories(joined())
        .collect().map(_.getString(0)).toSeq
      catch { case _: Exception => CategoryCatalog.DefaultCategories.sorted }
    (200, ApiJson.strings(names))
  }

  /** GET /api/validated-transactions (`api/validated_transactions.py:53-75`). */
  private def validatedTransactions(q: Map[String, String]): (Int, String) =
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
  private def connections(q: Map[String, String]): (Int, String) = {
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
