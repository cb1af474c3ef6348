package graft.finance.serving

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.finance.{Serving, TableStore, UserCategoryService}
import graft.finance.ops.Debouncer

/** Drives the HTTP façade through the same branch matrix as ServingSpec:
  * the pure param layer (FastAPI Query semantics → 422) and the live
  * server end-to-end over real sockets on an ephemeral port.
  */
class ApiServerSpec extends SparkSpec {
  import spark.implicits._

  // ---- the ServingSpec fixture, served over HTTP ----
  private def joinedFixture: DataFrame = {
    val preds = Seq(
      ("t1", "2024-01-05", "coffee", Some("Dining"), Some(0.95), None),
      ("t2", "2024-01-03", "mystery", None, None, None),
      ("t3", "2024-01-04", "uncertain thing", Some("UNCERTAIN"), Some(0.2), None),
      ("t4", "2024-01-01", "validated thing", Some("Travel"), Some(0.7), Some(true)),
      ("t5", "2024-01-02", "low conf", Some("Dining"), Some(0.15), None))
      .toDF("transaction_id", "d", "description", "pmc", "conf", "validated")
      .select(
        col("transaction_id"),
        col("d").cast("date").as("transacted_date"),
        col("description"),
        col("pmc").as("predicted_master_category"),
        col("conf").cast("decimal(6,4)").as("prediction_confidence"),
        col("validated"))
    val uc = preds.filter(col("validated").isNotNull)
      .select(col("transaction_id"), col("validated"),
        lit("Travel").as("master_category"), lit(null).cast("string").as("notes"))
    Serving.servingJoin(preds.drop("validated"), uc)
  }

  private def validatedFixture: DataFrame =
    Seq(
      ("t1", "2024-01-05", "Dining", "Junior Checking", "starbucks"),
      ("t2", "2024-01-03", "Dining", "Blue Cash", "pizza"),
      ("t3", "2024-01-04", "Travel", "Junior Checking", "flight"))
      .toDF("transaction_id", "d", "master_category", "account_name", "description")
      .select(col("transaction_id"), col("d").cast("date").as("transacted_date"),
        col("master_category"), col("account_name"), col("description"))

  private def simplefinFixture: DataFrame =
    Seq(
      ("a1", "Checking (1234)", "First Bank", "2024-02-01 08:00:00", "2024-01-28"),
      ("a1", "Checking (1234)", "First Bank", "2024-02-01 08:00:00", "2024-01-05"),
      ("a1", "Checking (1234)", "First Bank", "2024-01-15 08:00:00", "2023-12-20"))
      .toDF("account_id", "account_name", "institution_name", "import_timestamp", "transacted_date")

  // ---- pure param layer: FastAPI Query constraint matrix ----

  test("transaction params: defaults mirror the route signature") {
    val p = ApiParams.transactionQuery(Map.empty).toOption.get
    assert(p.limit == 100 && p.offset == 0 && !p.excludeLowConfidence)
    assert(p.lowConfidenceThreshold == 0.40 && p.sortBy == "transacted_date" && !p.ascending)
    assert(p.mode == Serving.AllTransactions)
  }

  test("limit/offset/threshold constraint violations collect as 422 errors") {
    val errs = ApiParams.transactionQuery(Map(
      "limit" -> "5000", "offset" -> "-1", "low_confidence_threshold" -> "1.5")).swap.toOption.get
    assert(errs.map(_.param).toSet == Set("limit", "offset", "low_confidence_threshold"))
    assert(ApiParams.transactionQuery(Map("limit" -> "0")).isLeft)
    assert(ApiParams.transactionQuery(Map("limit" -> "abc")).isLeft)
    assert(ApiParams.validatedQuery(Map("limit" -> "10001")).isLeft)
    assert(ApiParams.validatedQuery(Map("limit" -> "10000")).isRight)
  }

  test("bool coercion accepts FastAPI's spellings and rejects garbage") {
    def excl(s: String) =
      ApiParams.transactionQuery(Map("exclude_low_confidence" -> s))
    assert(excl("true").toOption.get.excludeLowConfidence)
    assert(excl("1").toOption.get.excludeLowConfidence)
    assert(excl("ON").toOption.get.excludeLowConfidence)
    assert(!excl("off").toOption.get.excludeLowConfidence)
    assert(excl("maybe").isLeft)
  }

  test("view_mode maps the three names; unknown strings serve everything") {
    assert(ApiParams.viewMode(Some("unvalidated_predicted")) == Serving.UnvalidatedPredicted)
    assert(ApiParams.viewMode(Some("unvalidated_unpredicted")) == Serving.UnvalidatedUnpredicted)
    assert(ApiParams.viewMode(Some("validated")) == Serving.Validated)
    assert(ApiParams.viewMode(Some("bogus")) == Serving.AllTransactions)
    assert(ApiParams.viewMode(None) == Serving.AllTransactions)
  }

  test("sort_order: only 'asc' (case-insensitive) ascends, anything else descends") {
    assert(ApiParams.transactionQuery(Map("sort_order" -> "ASC")).toOption.get.ascending)
    assert(!ApiParams.transactionQuery(Map("sort_order" -> "upward")).toOption.get.ascending)
  }

  test("query-string parse: percent-decoding, empty values, last-wins") {
    val q = ApiParams.parseQueryString("a=x%20y&b=&a=z&flag")
    assert(q == Map("a" -> "z", "b" -> "", "flag" -> ""))
  }

  // ---- end-to-end over a real socket ----

  private def get(port: Int, pathAndQuery: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$pathAndQuery")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (status, body)
  }

  private def withServer[A](f: Int => A): A = {
    val server = new ApiServer(
      () => joinedFixture, () => validatedFixture, () => simplefinFixture,
      today = () => LocalDate.parse("2024-02-03")).start()
    try f(server.boundPort) finally server.stop()
  }

  /** The write half's view of the fixture's transactions. */
  private val transactionsFixture = () => joinedFixture.select(
    col("transaction_id"),
    col("uc_master_category").as("master_category"),
    col("predicted_master_category"))

  /** Server with the write half wired: a fresh warehouse-backed
    * UserCategoryService and a recording trigger. */
  private def withWritableServer[A](
      joined: () => DataFrame = () => joinedFixture,
      trigger: Option[String => String] = Some(name => s"run-for-$name"),
      retrain: Debouncer = new Debouncer(45000L),
      now: () => Timestamp = () => Timestamp.valueOf("2024-02-03 00:00:00"))(
      f: (Int, TableStore) => A): A = {
    val wh = java.nio.file.Files.createTempDirectory("graft-api-wh").toString
    val store = new TableStore(spark, wh)
    val svc = new UserCategoryService(spark, store, transactionsFixture, now)
    val server = new ApiServer(
      joined, () => validatedFixture, () => simplefinFixture,
      userCategories = Some(svc),
      trigger = trigger,
      today = () => LocalDate.parse("2024-02-03"),
      retrainDebouncer = retrain,
      tableLock = store.lock).start()
    try f(server.boundPort, store) finally server.stop()
  }

  private def send(port: Int, method: String, pathAndQuery: String,
      body: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$pathAndQuery")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val out = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (status, out)
  }

  test("GET /api/transactions serves the filtered, sorted, counted page") {
    withServer { port =>
      val (status, body) = get(port,
        "/api/transactions?view_mode=unvalidated_predicted&exclude_low_confidence=true")
      assert(status == 200)
      assert(body.contains("\"total_count\":1"))
      assert(body.contains("\"transaction_id\":\"t1\"") && !body.contains("\"t5\""))
      // decimal confidence renders as a bare JSON number
      assert(body.contains("\"prediction_confidence\":0.9500"))

      val (s2, b2) = get(port, "/api/transactions?limit=2&offset=1")
      assert(s2 == 200 && b2.contains("\"total_count\":5"))
      val ids = "\"transaction_id\":\"(t\\d)\"".r.findAllMatchIn(b2).map(_.group(1)).toSeq
      assert(ids == Seq("t3", "t2")) // dates desc, page 2 of 2

      val (s3, b3) = get(port, "/api/transactions?description_search=COFFEE")
      assert(s3 == 200 && b3.contains("\"t1\"") && b3.contains("\"total_count\":1"))
    }
  }

  test("constraint violations come back as FastAPI-shaped 422s") {
    withServer { port =>
      val (status, body) = get(port, "/api/transactions?limit=5000&offset=-1")
      assert(status == 422)
      assert(body.contains("\"loc\":[\"query\",\"limit\"]"))
      assert(body.contains("\"loc\":[\"query\",\"offset\"]"))
    }
  }

  test("categories list, validated page, unknown paths, wrong methods") {
    withWritableServer() { (port, _) =>
      val (s1, b1) = get(port, "/api/transactions/categories/list")
      assert(s1 == 200 && b1 == "[\"Dining\",\"Travel\"]")

      val (s2, b2) = get(port, "/api/validated-transactions?category=Dining&sort_order=asc")
      assert(s2 == 200 && b2.contains("\"total_count\":2"))
      val ids = "\"transaction_id\":\"(t\\d)\"".r.findAllMatchIn(b2).map(_.group(1)).toSeq
      assert(ids == Seq("t2", "t1")) // dates asc within Dining

      val (s3, _) = get(port, "/api/transactions/nope")
      assert(s3 == 404)

      val conn = URI.create(s"http://127.0.0.1:$port/api/transactions")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write("{}".getBytes(StandardCharsets.UTF_8))
      assert(conn.getResponseCode == 405)
      conn.disconnect()

      // a path that only other methods declare is a 405; outside every
      // route, the JSON 404 (FastAPI's router answers both as JSON)
      val methodNotAllowed = """{"detail":"Method Not Allowed"}"""
      assert(get(port, "/api/transactions/bulk-validate") == (405, methodNotAllowed))
      assert(send(port, "POST", "/api/control-center/connections", "{}") ==
        (405, methodNotAllowed))
      assert(get(port, "/api/nope") == (404, """{"detail":"Not Found"}"""))
    }
  }

  test("write routes: categorize, validate, notes, exclude, bulk-validate, trigger") {
    withWritableServer() { (port, store) =>
      // categorize an unknown transaction -> the route's 404 gate
      val (s404, _) = send(port, "POST", "/api/transactions/nope/categorize",
        """{"master_category":"Dining"}""")
      assert(s404 == 404)
      // missing required field -> FastAPI-shaped 422
      val (s422, b422) = send(port, "POST", "/api/transactions/t2/categorize", "{}")
      assert(s422 == 422 && b422.contains("\"loc\":[\"body\",\"master_category\"]"))

      val (s1, b1) = send(port, "POST", "/api/transactions/t2/categorize",
        """{"master_category":"Groceries","notes":"weekly"}""")
      assert(s1 == 200)
      assert(b1.contains("\"master_category\":\"Groceries\"") &&
        b1.contains("\"validated\":false"))

      // validate the fresh row, then one with only a prediction (t1 -> Dining)
      val (s2, b2) = send(port, "PUT", "/api/transactions/t2/validate",
        """{"validated":true}""")
      assert(s2 == 200 && b2.contains("\"validated\":true"))
      val (s3, b3) = send(port, "PUT", "/api/transactions/t1/validate",
        """{"validated":true}""")
      assert(s3 == 200 && b3.contains("\"validated\":true"))
      // t3's prediction is UNCERTAIN... but it IS a category fallback; use an
      // unknown id instead for the 404 branch
      val (s4, b4) = send(port, "PUT", "/api/transactions/zzz/validate",
        """{"validated":true}""")
      assert(s4 == 404 && b4.contains("No category found"))

      val (s5, b5) = send(port, "PUT", "/api/transactions/t2/notes",
        """{"notes":null}""")
      assert(s5 == 200 && b5.contains("\"notes\":null"))

      val (s6, b6) = send(port, "PUT", "/api/transactions/t2/exclude-from-forecast",
        """{"exclude_from_forecast":true}""")
      assert(s6 == 200 && b6.contains("\"exclude_from_forecast\":true"))
      val (s7, _) = send(port, "PUT", "/api/transactions/zzz/exclude-from-forecast",
        """{"exclude_from_forecast":true}""")
      assert(s7 == 400) // this route maps the no-category error to 400

      // t4 is already validated=true in the fixture? (no: uc has validated=true
      // only in joinedFixture's uc table, not this store) -> t4 creates from
      // its master_category
      val (s8, b8) = send(port, "POST", "/api/transactions/bulk-validate",
        """{"transaction_ids":["t1","t2","t4","zzz"]}""")
      assert(s8 == 200)
      // t1,t2 already validated above -> only t4 changes; zzz has no category
      assert(b8.contains("\"updated_count\":1"), b8)

      val stored = store.read("user_categories").collect()
        .map(r => r.getString(0) -> r).toMap
      assert(stored("t4").getAs[Boolean]("validated"))
      assert(!stored.contains("zzz"))

      val (s9, b9) = send(port, "POST", "/api/transactions/trigger-refresh-validated", "{}")
      assert(s9 == 200 &&
        b9.contains("\"run_id\":\"run-for-4_refresh_validated_retrain_repredict\""))

      // malformed JSON body -> 422, not a 500
      val (s10, _) = send(port, "POST", "/api/transactions/t2/categorize", "{nope")
      assert(s10 == 422)
    }
  }

  test("read-only deployment: write surface is absent (404), reads still serve") {
    withServer { port =>
      val (s1, _) = send(port, "PUT", "/api/transactions/t1/validate",
        """{"validated":true}""")
      assert(s1 == 404)
      val (s2, _) = get(port, "/api/transactions")
      assert(s2 == 200)
    }
  }

  test("ApiMain.build serves a JobsMain-materialized warehouse end-to-end") {
    import graft.finance.{JobsMain, Schemas}
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val wh = java.nio.file.Files.createTempDirectory("graft-api-main").toString
    val store = new TableStore(spark, wh)
    val raws = (0 until 4).map { i =>
      Row(s"t$i", "a1", "Checking", "dom", "Bank",
        new java.math.BigDecimal("-5.00"), 1700000000L + i, "2024-01-01",
        1700000000L + i, "2024-01-01", s"coffee $i", false, null,
        "2024-01-02 00:00:00", "2024-01-02")
    }
    store.overwrite("raw_simplefin",
      spark.createDataFrame(raws.asJava, Schemas.simplefinRaw))
    JobsMain.run(spark, wh, "3_run_all_dbt_models")

    val server = ApiMain.build(spark, wh).start()
    try {
      val (s1, b1) = get(server.boundPort, "/api/transactions?limit=10")
      assert(s1 == 200 && b1.contains("\"total_count\":4"))
      // a mutation lands in the same warehouse the reads serve from
      val id = "\"transaction_id\":\"([^\"]+)\"".r
        .findFirstMatchIn(b1).get.group(1)
      val (s2, _) = send(server.boundPort, "POST",
        s"/api/transactions/$id/categorize", """{"master_category":"Dining"}""")
      assert(s2 == 200)
      val (s3, b3) = get(server.boundPort, "/api/transactions?view_mode=validated")
      assert(s3 == 200 && b3.contains("\"total_count\":0"))
      val (s4, _) = send(server.boundPort, "PUT",
        s"/api/transactions/$id/validate", """{"validated":true}""")
      assert(s4 == 200)
      val (s5, b5) = get(server.boundPort, "/api/transactions?view_mode=validated")
      assert(s5 == 200 && b5.contains("\"total_count\":1"))
    } finally server.stop()
  }

  test("category catalog, model metrics, backup, and control-center route families") {
    import graft.finance.Schemas
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val wh = java.nio.file.Files.createTempDirectory("graft-api-full").toString
    val bk = java.nio.file.Files.createTempDirectory("graft-api-bk").toString
    val store = new TableStore(spark, wh)
    store.overwrite("user_categories",
      spark.createDataFrame(List.empty[Row].asJava, Schemas.userCategories))
    val reg = Seq(
      ("v1", "trained", 0.9, 100L, 25L, 5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("v2", "skipped", 0.0, 0L, 0L, 0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("model_version", "status", "accuracy", "n_train", "n_test", "n_classes",
        "training_timestamp")
      .withColumn("f1_macro", col("accuracy"))
      .withColumn("f1_weighted", col("accuracy"))
      .withColumn("precision_macro", col("accuracy"))
      .withColumn("recall_macro", col("accuracy"))
      .withColumn("reason", lit(null).cast("string"))
    val catalogSvc = new CategoryCatalogService(spark, store,
      () => Seq("Gas", "CustomCat").toDF("category"),
      now = () => java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val backupSvc = new BackupService(wh, bk,
      now = () => java.time.Instant.parse("2024-02-01T00:00:00Z"))
    val server = new ApiServer(
      () => joinedFixture, () => validatedFixture, () => simplefinFixture,
      today = () => LocalDate.parse("2024-02-03"),
      categoryCatalog = Some(catalogSvc),
      registry = Some(() => reg),
      backups = Some(backupSvc)).start()
    try {
      val port = server.boundPort
      // categories: defaults seeded + custom add + deactivate + 404 branch
      val (s1, b1) = get(port, "/api/categories")
      assert(s1 == 200 && b1.contains("\"name\":\"Groceries\"") &&
        b1.contains("\"in_use\":false"))
      val (s2, b2) = send(port, "POST", "/api/categories", """{"name":"CustomCat"}""")
      assert(s2 == 200 && b2.contains("\"is_default\":false") && b2.contains("\"in_use\":true"))
      val (s2b, _) = send(port, "POST", "/api/categories", """{"name":"CustomCat"}""")
      assert(s2b == 400) // active duplicate
      val (s3, b3) = send(port, "PUT", "/api/categories/CustomCat/active",
        """{"is_active":false}""")
      assert(s3 == 200 && b3.contains("\"is_active\":false"))
      val (s4, _) = send(port, "PUT", "/api/categories/NoSuch/active",
        """{"is_active":true}""")
      assert(s4 == 404)
      // a {name} capture arrives percent-decoded once: A%2BB is "A+B",
      // 50%25 is "50%"
      for ((name, encoded) <- Seq("A+B" -> "A%2BB", "50%" -> "50%25")) {
        val (sAdd, bAdd) = send(port, "POST", "/api/categories", s"""{"name":"$name"}""")
        assert(sAdd == 200 && bAdd.contains(s""""name":"$name""""), bAdd)
        val (sOff, bOff) = send(port, "PUT", s"/api/categories/$encoded/active",
          """{"is_active":false}""")
        assert(sOff == 200 && bOff.contains(s""""name":"$name"""") &&
          bOff.contains("\"is_active\":false"), bOff)
      }
      val (_, listed) = get(port, "/api/categories")
      assert(listed.contains("\"name\":\"A+B\"") && !listed.contains("\"name\":\"A B\""),
        listed)

      // model metrics: trained-only history + latest status
      val (s5, b5) = get(port, "/api/model-metrics/metrics/history")
      assert(s5 == 200 && b5.contains("\"total_count\":1") && b5.contains("\"v1\""))
      val (s6, b6) = get(port, "/api/model-metrics/training-status")
      assert(s6 == 200 && b6.contains("\"status\":\"skipped\"") && b6.contains("\"v2\""))

      // backup: run -> list -> schedule roundtrip -> restore guards
      val (s7, b7) = send(port, "POST", "/api/backup/run", "{}")
      assert(s7 == 200 && b7.contains("warehouse_backup_20240201_000000"))
      val (s8, b8) = get(port, "/api/backup/list")
      assert(s8 == 200 && b8.contains("\"filename\":\"warehouse_backup_20240201_000000\""))
      val (s9, b9) = send(port, "POST", "/api/backup/schedule",
        """{"enabled":true,"cron":"0 2 * * *","retention_days":200}""")
      assert(s9 == 200 && b9.contains("\"retention_days\":90") && // clamped
        b9.contains("\"next_run\":\"2024-02-01T02:00\""))
      val (s10, _) = send(port, "POST", "/api/backup/restore",
        """{"filename":"warehouse_backup_20240201_000000"}""")
      assert(s10 == 400) // missing confirm
      val (s11, b11) = send(port, "POST", "/api/backup/restore",
        """{"filename":"warehouse_backup_20240201_000000","confirm":"RESTORE"}""")
      assert(s11 == 200 && b11.contains("\"success\":true"), b11)

      // control-center: initialization status over non-empty fixtures
      val (s12, b12) = get(port, "/api/control-center/initialization-status")
      assert(s12 == 200 && b12.contains("\"needs_initialization\":false"))

      // backup download: streamed zip with the attachment disposition
      // (`backup.py:106-118`); the zip carries the warehouse snapshot
      val conn = java.net.URI.create(
          s"http://127.0.0.1:$port/api/backup/download")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType == "application/octet-stream")
      val disp = conn.getHeaderField("Content-Disposition")
      assert(disp != null &&
        disp.matches("""attachment; filename="graft_backup_\d{8}_\d{6}\.zip""""), disp)
      val zin = new java.util.zip.ZipInputStream(conn.getInputStream)
      val entries = Iterator.continually(zin.getNextEntry)
        .takeWhile(_ != null).map(_.getName).toList
      zin.close(); conn.disconnect()
      assert(entries.exists(_.contains("user_categories")), entries)

      // unknown-warnings deployment (no orchestrator wired): the panel
      // degrades to the empty response, exactly like the reference's
      // catch-all (`control_center.py:186-189`)
      val (s13, b13) = get(port, "/api/control-center/simplefin-warnings")
      assert(s13 == 200 && b13 == """{"warnings":[],"total_count":0}""")
      val (s14, _) = get(port, "/api/control-center/simplefin-warnings?limit=abc")
      assert(s14 == 422)
    } finally server.stop()
  }

  test("GET /api/control-center/simplefin-warnings serves the fetched page") {
    import graft.finance.connector.JobLaunchClient.{WarningInfo, WarningsResult}
    val server = new ApiServer(
      () => joinedFixture, () => validatedFixture, () => simplefinFixture,
      today = () => LocalDate.parse("2024-02-03"),
      simplefinWarnings = Some(limit => WarningsResult(
        Seq(
          WarningInfo("Connection to Chase may need attention",
            Some("1706745600000"), Some("r7")),
          WarningInfo("SimpleFIN token expired", None, Some("r7")))
          .take(limit), 2))).start()
    try {
      val port = server.boundPort
      val (s, b) = get(port, "/api/control-center/simplefin-warnings")
      assert(s == 200)
      assert(b.contains("\"message\":\"Connection to Chase may need attention\""))
      assert(b.contains("\"timestamp\":\"1706745600000\""))
      assert(b.contains("\"run_id\":\"r7\""))
      assert(b.contains("\"total_count\":2"))
      // limit caps the page but not the count — WarningsResponse semantics
      val (s2, b2) = get(port, "/api/control-center/simplefin-warnings?limit=1")
      assert(s2 == 200 && b2.contains("\"total_count\":2") &&
        !b2.contains("token expired"))
      // the null-timestamp render matches FastAPI's Optional[str] = None
      val (_, b3) = get(port, "/api/control-center/simplefin-warnings")
      assert(b3.contains("\"timestamp\":null"))
    } finally server.stop()
  }

  test("fresh warehouse: list endpoints serve empty pages, not 500s") {
    // advisor round-6: before the first JobsMain run the derived marts
    // don't exist; the reference's initialization-status path tolerates
    // that, so the list endpoints must degrade to empty results
    val wh = java.nio.file.Files.createTempDirectory("graft-api-fresh").toString
    val server = ApiMain.build(spark, wh).start()
    try {
      val port = server.boundPort
      val (s1, b1) = get(port, "/api/transactions")
      assert(s1 == 200 && b1.contains("\"total_count\":0"), b1)
      val (s2, b2) = get(port, "/api/validated-transactions")
      assert(s2 == 200 && b2.contains("\"total_count\":0"), b2)
      val (s3, b3) = get(port, "/api/control-center/initialization-status")
      assert(s3 == 200 && b3.contains("\"needs_initialization\":true"))
    } finally server.stop()
  }

  test("GET /api/control-center/connections annotates health per account") {
    withServer { port =>
      val (status, body) = get(port, "/api/control-center/connections")
      assert(status == 200)
      assert(body.contains("\"total_count\":1"))
      assert(body.contains("\"account_name\":\"Checking\"")) // (1234) suffix stripped
      assert(body.contains("\"transaction_count\":3"))
      // poll window 2024-01-05..2024-01-28 → lookback 23 days; last load
      // 2024-02-01 vs today 2024-02-03 → 2 days since load
      assert(body.contains("\"lookback_days\":23"))
      assert(body.contains("\"days_since_last_load\":2"))
      assert(body.contains("\"health_status\":"))
    }
  }

  test("concurrent clients: reads overlap, edits serialize, no acknowledged update is lost") {
    // the page supplier holds each GET until a second one is inside it too:
    // a server that runs one request at a time never gets past peak 1
    val inside = new AtomicInteger()
    val peak = new AtomicInteger()
    val overlap = new CountDownLatch(2)
    val joined = () => {
      peak.accumulateAndGet(inside.incrementAndGet(), (a, b) => math.max(a, b))
      overlap.countDown()
      try overlap.await(10, TimeUnit.SECONDS) finally inside.decrementAndGet()
      joinedFixture
    }
    withWritableServer(joined) { (port, store) =>
      val failures = new ConcurrentLinkedQueue[String]()
      def expect200(what: String)(r: => (Int, String)): Boolean = {
        val failure =
          try {
            val (status, body) = r
            if (status == 200) None else Some(s"$what -> $status $body")
          } catch { case e: Exception => Some(s"$what -> $e") }
        failure.foreach(failures.add)
        failure.isEmpty
      }
      def inParallel(n: Int)(body: Int => Unit): Unit = {
        val threads = (0 until n).map(t => new Thread(() => body(t)))
        threads.foreach(_.start())
        threads.foreach(_.join(120000))
      }

      inParallel(4)(_ => expect200("GET page")(get(port, "/api/transactions?limit=2")))
      assert(failures.isEmpty, failures.asScala.mkString("\n"))
      assert(peak.get >= 2, "no two GETs were ever in flight at once")

      // three hot ids, each with a stored row; every (id, field) pair is
      // written by exactly one of six threads, so its last acknowledged
      // value is that thread's last write, while the threads' merges of
      // other fields on the same row interleave with it
      val hot = Seq("t1", "t2", "t4")
      hot.foreach(id => expect200(s"seed $id")(send(port, "POST",
        s"/api/transactions/$id/categorize", """{"master_category":"Seed"}""")))
      val pairs = for (id <- hot; field <- Seq("master_category", "notes", "validated"))
        yield (id, field)
      val last = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
      inParallel(6) { t =>
        for (round <- 0 until 2) {
          pairs.zipWithIndex.filter(_._2 % 6 == t).foreach { case ((id, field), _) =>
            val (method, path, value, body) = field match {
              case "master_category" =>
                val v = s"Cat-$t-$round"
                ("POST", s"/api/transactions/$id/categorize", v, s"""{"master_category":"$v"}""")
              case "notes" =>
                val v = s"note-$t-$round"
                ("PUT", s"/api/transactions/$id/notes", v, s"""{"notes":"$v"}""")
              case _ =>
                val v = (round % 2 == 0).toString
                ("PUT", s"/api/transactions/$id/validate", v, s"""{"validated":$v}""")
            }
            if (expect200(s"$method $path")(send(port, method, path, body)))
              last.put((id, field), value)
          }
          expect200("GET page")(get(port,
            if (round % 2 == 0) "/api/transactions?limit=3" else "/api/validated-transactions"))
        }
      }
      assert(failures.isEmpty, failures.asScala.mkString("\n"))
      assert(last.size == pairs.size)

      val stored = store.read("user_categories").collect()
        .map(r => r.getAs[String]("transaction_id") -> r).toMap
      pairs.foreach { case (id, field) =>
        val got = Option(stored(id).getAs[Any](field)).map(_.toString).orNull
        assert(got == last.get((id, field)), s"$id.$field lost an update")
      }
    }
  }

  test("a GET completes while an edit is held inside its merge") {
    // the edit's stamp is taken while it builds its merge batch: hold it
    // there, after its reads and before its swap
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val armed = new AtomicBoolean(false)
    val now = () => {
      if (armed.getAndSet(false)) { held.countDown(); release.await(120, TimeUnit.SECONDS) }
      Timestamp.valueOf("2024-02-03 00:00:00")
    }
    withWritableServer(now = now) { (port, _) =>
      armed.set(true)
      val edit = new AtomicReference[(Int, String)]()
      val editor = new Thread(() => edit.set(send(port, "POST",
        "/api/transactions/t1/categorize", """{"master_category":"Held"}""")))
      editor.start()
      try {
        assert(held.await(60, TimeUnit.SECONDS), "the edit never reached its merge")
        val read = new AtomicReference[(Int, String)]()
        val reader = new Thread(() => read.set(get(port, "/api/transactions?limit=2")))
        reader.start()
        reader.join(60000)
        assert(read.get != null, "the GET waited behind the held edit")
        assert(read.get._1 == 200, read.get._2)
      } finally release.countDown()
      editor.join(120000)
      assert(edit.get != null && edit.get._1 == 200 && edit.get._2.contains("Held"))
    }
  }

  test("an edit and a GET complete while a trigger is held inside the orchestrator call") {
    // a hung orchestrator call must hold no table lock: under the shared
    // lock, the edit's swap would wait for it and every later read (the
    // lock is fair) for the edit
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val hung: String => String = name => {
      entered.countDown(); release.await(120, TimeUnit.SECONDS); s"run-for-$name"
    }
    def within(r: => (Int, String)): Option[(Int, String)] = {
      val out = new AtomicReference[(Int, String)]()
      val t = new Thread(() => out.set(r))
      t.start(); t.join(60000)
      Option(out.get)
    }
    withWritableServer(trigger = Some(hung)) { (port, _) =>
      val launched = new AtomicReference[(Int, String)]()
      val launcher = new Thread(() => launched.set(send(port, "POST",
        "/api/control-center/trigger-ingest-and-predict", "{}")))
      launcher.start()
      try {
        assert(entered.await(60, TimeUnit.SECONDS), "the trigger never reached the orchestrator")
        val edit = within(send(port, "POST", "/api/transactions/t2/categorize",
          """{"master_category":"Groceries"}"""))
        assert(edit.exists(_._1 == 200), s"the edit waited behind the trigger: $edit")
        val read = within(get(port, "/api/transactions?limit=2"))
        assert(read.exists(_._1 == 200), s"the GET waited behind the trigger: $read")
      } finally release.countDown()
      launcher.join(60000)
      assert(launched.get != null && launched.get._1 == 200 &&
        launched.get._2.contains("run-for-2_ingest_and_predict"))
    }
  }

  test("readers looping across 50 edits never get a 500 or a missing table") {
    val wh = java.nio.file.Files.createTempDirectory("graft-api-swap").toString
    val store = new TableStore(spark, wh)
    val predictions = joinedFixture.drop("uc_validated", "uc_master_category", "uc_notes")
    // every page reads the stored user_categories: a swap under a reader
    // fails its read (PATH_NOT_FOUND or a deleted file), a 500
    val joined = () => Serving.servingJoin(predictions, store.read("user_categories"))
    val svc = new UserCategoryService(spark, store, transactionsFixture)
    svc.categorize("t1", "Seed")
    val server = new ApiServer(
      joined, () => validatedFixture, () => simplefinFixture,
      userCategories = Some(svc),
      today = () => LocalDate.parse("2024-02-03"),
      tableLock = store.lock).start()
    try {
      val port = server.boundPort
      val done = new AtomicBoolean(false)
      val failures = new ConcurrentLinkedQueue[String]()
      val reads = new AtomicInteger()
      val readers = (0 until 3).map { _ =>
        val t = new Thread(() =>
          while (!done.get) {
            val (status, body) = get(port, "/api/transactions?limit=5")
            reads.incrementAndGet()
            if (status != 200 || !body.contains("\"total_count\":5") ||
                !body.contains("\"uc_master_category\":\"Seed\""))
              failures.add(s"$status $body")
          })
        t.start(); t
      }
      try {
        for (i <- 0 until 50) {
          val (status, body) = send(port, "PUT", "/api/transactions/t1/notes",
            s"""{"notes":"n$i"}""")
          assert(status == 200, body)
        }
      } finally {
        done.set(true)
        readers.foreach(_.join(60000))
      }
      assert(failures.isEmpty, failures.asScala.take(3).mkString("\n"))
      assert(reads.get >= 50, s"only ${reads.get} reads overlapped the edits")
      assert(store.read("user_categories").collect().head.getAs[String]("notes") == "n49")
    } finally server.stop()
  }

  test("a repeated edit and a repeated GET /api/categories compile no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // a clock that moves a second per call: every request gets a new stamp
    val clock = new AtomicLong(
      Timestamp.valueOf("2024-02-03 00:00:00").getTime)
    val tick = () => new Timestamp(clock.addAndGet(1000L))
    val wh = java.nio.file.Files.createTempDirectory("graft-api-codegen").toString
    val store = new TableStore(spark, wh)
    val server = new ApiServer(
      () => joinedFixture, () => validatedFixture, () => simplefinFixture,
      userCategories = Some(new UserCategoryService(spark, store, transactionsFixture, tick)),
      categoryCatalog = Some(new CategoryCatalogService(spark, store,
        () => Seq("Gas", "CustomCat").toDF("category"), tick)),
      today = () => LocalDate.parse("2024-02-03"),
      tableLock = store.lock).start()
    try {
      val port = server.boundPort
      def edit(): Unit = {
        val (s, b) = send(port, "POST", "/api/transactions/t2/categorize",
          """{"master_category":"Groceries","notes":"weekly"}""")
        assert(s == 200, b)
      }
      def categories(): Unit = {
        val (s, b) = get(port, "/api/categories")
        assert(s == 200 && b.contains("Groceries"), b)
      }
      // the first edit creates the table, the second is the first over a
      // stored table: both pay their compiles
      edit(); edit(); categories()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      edit(); categories()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
    } finally server.stop()
  }

  test("All-Data category edits debounce into one retrain launch; unconfigured launches none") {
    // the injectable schedule of OpsSpec: record, fire on demand
    final class FakeSchedule {
      val scheduled = new ConcurrentLinkedQueue[(() => Unit, Array[Boolean])]()
      def apply(delay: Long, action: () => Unit): () => Unit = {
        val cancelled = Array(false)
        scheduled.add((action, cancelled))
        () => cancelled(0) = true
      }
      def fireDue(): Unit =
        scheduled.asScala.foreach { case (action, cancelled) => if (!cancelled(0)) action() }
    }
    def editBurst(port: Int): Unit = {
      val (s0, _) = send(port, "POST", "/api/transactions/t2/categorize",
        """{"master_category":"Groceries","validated":true}""")
      assert(s0 == 200)
      for (c <- Seq("Dining", "Travel", "Gas")) {
        val (s, b) = send(port, "PUT", "/api/validated-transactions/t2/category",
          s"""{"master_category":"$c"}""")
        assert(s == 200 && b.contains("retrain scheduled"), b)
      }
    }

    val launched = new ConcurrentLinkedQueue[String]()
    val configured = new FakeSchedule
    withWritableServer(
      trigger = Some(name => { launched.add(name); s"run-for-$name" }),
      retrain = new Debouncer(45000L, configured.apply)) { (port, _) =>
      editBurst(port)
      assert(configured.scheduled.size == 3 && launched.isEmpty)
      configured.fireDue()
      assert(launched.asScala.toSeq == Seq("5_full_refresh_validated_retrain_repredict"))
    }

    val unconfigured = new FakeSchedule
    withWritableServer(trigger = None,
      retrain = new Debouncer(45000L, unconfigured.apply)) { (port, _) =>
      editBurst(port)
      assert(unconfigured.scheduled.isEmpty)
    }
  }
}
