package graft.finance

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft-store").toString)

  /** Spark jobs that `f` starts on this thread, counted by a listener. A
    * flush job submitted after `f` bounds the count: the bus delivers
    * events in order, so once its start arrives every job of `f` has too. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"memo-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) started.incrementAndGet()
        else if (g == s"$group-flush") flushed.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      f
      sc.setJobGroup(s"$group-flush", "flush")
      spark.range(1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never delivered the flush job")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  // ---- schema memo (graft.io.SchemaMemo) ------------------------------------

  test("a repeat read of an unchanged table starts no Spark job") {
    val store = freshStore()
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    store.read("t") // first read of this generation infers the schema
    assert(jobsDuring(store.read("t").schema) == 0)
    // the control: a bare read of the same directory infers, so the
    // counter does see inference jobs
    assert(jobsDuring(spark.read.parquet(s"${store.root}/t").schema) > 0)
  }

  test("an overwrite that adds a column is visible on the next read") {
    val store = freshStore()
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    assert(store.read("t").columns.toSeq == Seq("id", "v"))
    store.overwrite("t", Seq((2L, "b", true)).toDF("id", "v", "flag"))
    val r = store.read("t")
    assert(r.columns.toSeq == Seq("id", "v", "flag"))
    assert(r.collect().map(x => (x.getLong(0), x.getString(1), x.getBoolean(2))).toSeq ==
      Seq((2L, "b", true)))
  }

  test("a directory swapped in from outside the store is re-inferred") {
    val root = Files.createTempDirectory("graft-store").toString
    val serving = new TableStore(spark, root)
    // a second store on the same root stands in for a JobsMain process
    val jobs = new TableStore(spark, root)
    jobs.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    assert(serving.read("t").columns.toSeq == Seq("id", "v"))
    jobs.overwrite("t", Seq((2L, "b", 3.5)).toDF("id", "v", "score"))
    val r = serving.read("t")
    assert(r.columns.toSeq == Seq("id", "v", "score"))
    assert(r.collect().map(_.getDouble(2)).toSeq == Seq(3.5))
  }

  test("a read right after an overwrite starts no Spark job") {
    val store = freshStore()
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    assert(jobsDuring(store.read("t").schema) == 0)
    // upsert and appendNew publish through overwrite
    store.upsert("t", Seq((2L, "b")).toDF("id", "v"), "id")
    assert(jobsDuring(store.read("t").schema) == 0)
    assert(store.read("t").count() == 2)
  }

  test("a swap made without any TableStore is re-inferred") {
    val store = freshStore()
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    assert(store.read("t").columns.toSeq == Seq("id", "v"))
    // another process's swap: a bare parquet write renamed over the table
    val staged = Paths.get(store.root, "staged")
    Seq((2L, "b", 3.5)).toDF("id", "v", "score").write.parquet(staged.toString)
    graft.finance.ops.FileTrees.delete(Paths.get(store.root, "t"))
    Files.move(staged, Paths.get(store.root, "t"), StandardCopyOption.ATOMIC_MOVE)
    val r = store.read("t")
    assert(r.columns.toSeq == Seq("id", "v", "score"))
    assert(r.collect().map(_.getDouble(2)).toSeq == Seq(3.5))
  }

  test("each table 1_dagster_init and 2_ingest_and_predict write is memoized as a bare read infers it") {
    val store = Warehouses.trainable(spark)
    JobsMain.run(spark, store.root, "1_dagster_init")
    new Jobs(spark, store).loadRawBatch(Warehouses.raw(spark, 63, 68))
    JobsMain.run(spark, store.root, "2_ingest_and_predict")
    val tables = Files.list(Paths.get(store.root)).iterator.asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted
    assert(Set("raw_simplefin", "int_trxns_features", "fct_validated_trxns",
      "fct_trxns_uncategorized", "fct_trxns_with_predictions", "model_registry",
      "predicted_transactions").subsetOf(tables.toSet), tables)
    tables.foreach { t =>
      val dir = s"${store.root}/$t"
      val memo = graft.io.SchemaMemo.memoized(dir)
      assert(memo.contains(spark.read.parquet(dir).schema), s"$t: memoized $memo")
    }
  }

  test("a publish on a thread holding the store's shared lock throws instead of deadlocking") {
    val store = freshStore()
    store.lock.readLock.lock()
    try {
      val e = intercept[IllegalStateException](store.overwrite("t", Seq(1, 2).toDF("x")))
      assert(e.getMessage.contains("shared lock"))
    } finally store.lock.readLock.unlock()
    store.overwrite("t", Seq(1, 2).toDF("x"))
    assert(store.read("t").count() == 2)
  }

  test("appendNew never updates existing rows (append-only incremental)") {
    val store = freshStore()
    store.appendNew("fct", Seq(("t1", "Dining")).toDF("transaction_id", "cat"), "transaction_id")
    store.appendNew("fct",
      Seq(("t1", "CHANGED"), ("t2", "Travel")).toDF("transaction_id", "cat"), "transaction_id")
    val got = store.read("fct").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("t1" -> "Dining", "t2" -> "Travel"))
  }

  test("upsert replaces rows by key and keeps untouched keys") {
    val store = freshStore()
    store.upsert("pred", Seq(("t1", "v1"), ("t2", "v1")).toDF("transaction_id", "mv"), "transaction_id")
    store.upsert("pred", Seq(("t2", "v2"), ("t3", "v2")).toDF("transaction_id", "mv"), "transaction_id")
    val got = store.read("pred").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("t1" -> "v1", "t2" -> "v2", "t3" -> "v2"))
  }

  test("registry flags recomputed by window: latest vs active") {
    val reg = Seq(
      ("v1", "2024-01-01 00:00:00", "trained"),
      ("v2", "2024-02-01 00:00:00", "trained"),
      ("v3", "2024-03-01 00:00:00", "skipped")) // newest but not trained
      .toDF("model_version", "ts", "status")
      .select(col("model_version"), col("ts").cast("timestamp").as("training_timestamp"), col("status"))
    val got = TableStore.recomputeRegistryFlags(reg)
      .select("model_version", "is_latest", "is_active")
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(got("v3") == (true, false))  // latest run, inactive (skipped)
    assert(got("v2") == (false, true))  // active model = newest trained
    assert(got("v1") == (false, false))
  }

  // ---- field-wise merge (transaction_service.py:78-126) --------------------

  private val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
  private val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  /** (id, master, source, notes, validated, exclude, updated_at) */
  private def ucRows(rows: (String, String, Option[String], Option[String],
      Option[Boolean], Option[Boolean], java.sql.Timestamp)*) =
    rows.toDF("transaction_id", "master_category", "source_category",
      "notes", "validated", "exclude_from_forecast", "updated_at")

  private val ucAssigned = Seq("master_category", "source_category")
  private val ucProvided = Seq("notes", "validated", "exclude_from_forecast")
  private val ucDefaults = Map(
    "validated" -> lit(false), "exclude_from_forecast" -> lit(false))

  test("mergeFieldwise: a notes-only update preserves every other stored field") {
    val existing = ucRows(
      ("t1", "Dining", Some("src"), Some("old note"), Some(true), Some(true), t0))
    // reference semantics: master/source assigned from the request even if
    // null; notes provided; validated/exclude NOT provided (null) -> kept
    val batch = Seq(("t1", "Dining", Option.empty[String], Some("new note"),
      Option.empty[Boolean], Option.empty[Boolean]))
      .toDF("transaction_id", "master_category", "source_category",
        "notes", "validated", "exclude_from_forecast")
    val out = TableStore.mergeFieldwise(existing, batch, "transaction_id",
      ucAssigned, ucProvided, ucDefaults, "updated_at" -> lit(t1)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("master_category") == "Dining")
    assert(r.getAs[String]("source_category") == null)   // assigned: overwritten
    assert(r.getAs[String]("notes") == "new note")
    assert(r.getAs[Boolean]("validated"))                // preserved
    assert(r.getAs[Boolean]("exclude_from_forecast"))    // preserved
    assert(r.getAs[java.sql.Timestamp]("updated_at") == t1) // touched
  }

  test("mergeFieldwise: created rows take defaults; untouched rows pass through") {
    val existing = ucRows(
      ("t1", "Gas", Some("s"), None, Some(false), Some(false), t0))
    val batch = Seq(("t9", "Rent", Some("manual"), Option.empty[String],
      Option.empty[Boolean], Option.empty[Boolean]))
      .toDF("transaction_id", "master_category", "source_category",
        "notes", "validated", "exclude_from_forecast")
    val got = TableStore.mergeFieldwise(existing, batch, "transaction_id",
      ucAssigned, ucProvided, ucDefaults, "updated_at" -> lit(t1))
      .collect().map(r => r.getAs[String]("transaction_id") -> r).toMap
    // created row: unprovided booleans default false, touch stamped
    assert(got("t9").getAs[String]("master_category") == "Rent")
    assert(!got("t9").getAs[Boolean]("validated"))
    assert(!got("t9").getAs[Boolean]("exclude_from_forecast"))
    assert(got("t9").getAs[java.sql.Timestamp]("updated_at") == t1)
    // untouched row: byte-identical, old updated_at kept
    assert(got("t1").getAs[String]("master_category") == "Gas")
    assert(got("t1").getAs[java.sql.Timestamp]("updated_at") == t0)
  }

  test("mergeFieldwise rejects duplicate batch keys loudly") {
    val existing = ucRows(("t1", "Gas", Some("s"), None, Some(false), Some(false), t0))
    val batch = Seq(
      ("t1", "Dining", Option.empty[String], Option.empty[String],
        Option.empty[Boolean], Option.empty[Boolean]),
      ("t1", "Rent", Option.empty[String], Option.empty[String],
        Option.empty[Boolean], Option.empty[Boolean]))
      .toDF("transaction_id", "master_category", "source_category",
        "notes", "validated", "exclude_from_forecast")
    val e = intercept[Exception] {
      TableStore.mergeFieldwise(existing, batch, "transaction_id",
        ucAssigned, ucProvided, ucDefaults, "updated_at" -> lit(t1)).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("duplicate batch rows"))
  }

  test("mergeFieldwise rejects null keys loudly") {
    val existing = ucRows(("t1", "Gas", Some("s"), None, Some(false), Some(false), t0))
    val batch = Seq((Option.empty[String], "Rent", Option.empty[String],
      Option.empty[String], Option.empty[Boolean], Option.empty[Boolean]))
      .toDF("transaction_id", "master_category", "source_category",
        "notes", "validated", "exclude_from_forecast")
    val e = intercept[Exception] {
      TableStore.mergeFieldwise(existing, batch, "transaction_id",
        ucAssigned, ucProvided, ucDefaults, "updated_at" -> lit(t1)).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("mergeFieldwise"))
  }
}
