package graft.finance.ml

import graft.{QueryTrace, SparkSpec}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import java.io.IOException
import scala.jdk.CollectionConverters._
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import org.apache.spark.ml.graftbridge.LocalSavingProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ModelStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tinyData(): DataFrame = {
    val train = (0 until 60).map { i =>
      val cat = if (i % 2 == 0) "A" else "B"
      (s"t$i", cat, s"word$cat token$cat $i", BigDecimal(-1.0 - i))
    }.toDF("transaction_id", "master_category", "combined_text", "amount_d")
      .withColumn("amount", col("amount_d").cast("decimal(18,2)"))
      .withColumn("is_negative", lit(1)).withColumn("day_of_week", lit(1))
      .withColumn("day_of_month", lit(1)).withColumn("amount_bucket", lit(1))
    CategoryClassifier.numericalFeatures
      .diff(Seq("amount", "is_negative", "day_of_week", "day_of_month", "amount_bucket"))
      .foldLeft(train)((df, c) => df.withColumn(c, lit(0)))
  }

  private lazy val trained = CategoryClassifier.train(tinyData(),
    CategoryClassifier.Config(numTrees = 5, maxDepth = 4))
    .asInstanceOf[CategoryClassifier.Trained]

  private def newStore(): (ModelStore, Path) = {
    val root = Files.createTempDirectory("graft-models")
    (new ModelStore(spark, root.toString), root)
  }

  /** Scores of `model` on the training rows, `prediction_timestamp` left out. */
  private def scores(model: org.apache.spark.ml.PipelineModel, labels: Array[String]) =
    CategoryClassifier.score(model, labels, tinyData().drop("master_category"), "v")
      .drop("prediction_timestamp").collect().map(_.toSeq).sortBy(_.head.toString).toSeq

  /** Jobs started while `body` runs, counted by a control listener. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val bus = new QueryTrace
    val jobs = new AtomicInteger
    val control = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    bus.drainListenerBus(sc)
    sc.addSparkListener(control)
    try {
      val out = body
      bus.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(control)
  }

  private def extractionDirs(): Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val listing = Files.list(tmp)
    try listing.iterator().asScala.toSeq.map(_.getFileName.toString)
      .filter(_.startsWith(ModelStore.TempPrefix)).toSet
    finally listing.close()
  }

  /** A model archive holding `entries` (name → text) as regular files. */
  private def writeArchive(archive: Path, entries: (String, String)*): Unit = {
    val out = new TarArchiveOutputStream(new BZip2CompressorOutputStream(Files.newOutputStream(archive)))
    try entries.foreach { case (name, body) =>
      val bytes = body.getBytes("UTF-8")
      val e = new TarArchiveEntry(name)
      e.setSize(bytes.length.toLong)
      out.putArchiveEntry(e); out.write(bytes); out.closeArchiveEntry()
    } finally out.close()
  }

  private def registry(version: String): DataFrame =
    Seq((version, "trained", true, "2026-01-01 00:00:00"))
      .toDF("model_version", "status", "is_active", "ts")
      .withColumn("training_timestamp", col("ts").cast("timestamp"))

  test("save/load round-trip with labels; latest alias; predict fallback chain") {
    val (store, _) = newStore()
    store.save(trained.model, trained.labels, "v1")

    val (m, labels) = store.load("v1")
    assert(labels.toSeq == trained.labels.toSeq)
    assert(m.stages.length == trained.model.stages.length)

    // registry with an active row → picks active version
    val reg = registry("v1")
    val picked = store.loadForPredict(Some(reg))
    assert(picked.map(_._3).contains("v1"))

    // an older active row beats a newer inactive one; with no active row the
    // newest TRAINED row wins, not the newest row
    store.save(trained.model, trained.labels, "v2")
    def pick(rows: (String, String, Boolean, String)*) = store.loadForPredict(Some(
      rows.toDF("model_version", "status", "is_active", "ts")
        .withColumn("training_timestamp", col("ts").cast("timestamp")))).map(_._3)
    assert(pick(("v1", "trained", true, "2026-01-01 00:00:00"),
      ("v2", "trained", false, "2026-02-01 00:00:00")).contains("v1"))
    assert(pick(("v1", "trained", false, "2026-01-01 00:00:00"),
      ("v2", "trained", false, "2026-02-01 00:00:00"),
      ("v3", "skipped", false, "2026-03-01 00:00:00")).contains("v2"))

    // no registry → falls back to the latest alias
    val viaLatest = store.loadForPredict(None)
    assert(viaLatest.map(_._3).contains("latest"))

    // registry with no trained rows and no latest dir → None
    val (emptyStore, _) = newStore()
    val none = emptyStore.loadForPredict(Some(reg.filter(lit(false))))
    assert(none.isEmpty)

    // registry NAMES a version whose artifact is gone → loud error, not None
    val e = intercept[IllegalStateException](emptyStore.loadForPredict(Some(reg)))
    assert(e.getMessage.contains("failed to load"))
  }

  test("save and load start no Spark job; one archive per version; the loaded model scores as the fitted one") {
    val expected = scores(trained.model, trained.labels)
    val (store, root) = newStore()
    val (_, saveJobs) = jobsDuring(store.save(trained.model, trained.labels, "v1"))
    val ((loaded, labels), loadJobs) = jobsDuring(store.load("v1"))
    assert(saveJobs == 0 && loadJobs == 0, s"save ran $saveJobs jobs, load $loadJobs")
    for (dir <- Seq("v1", "latest")) {
      val listing = Files.list(root.resolve(dir))
      try assert(listing.iterator().asScala.toSeq.map(_.getFileName.toString).toSet ==
        Set(ModelStore.Archive, "labels.txt"), dir)
      finally listing.close()
    }
    assert(labels.toSeq == trained.labels.toSeq)
    assert(scores(loaded, labels) == expected)
    assert(!LocalSavingProbe.localSaving)
  }

  test("a Spark-default-layout dir still loads through load and loadForPredict") {
    val expected = scores(trained.model, trained.labels)
    val (store, root) = newStore()
    for (dir <- Seq("legacy", "latest")) {
      trained.model.write.save(root.resolve(dir).toString)
      Files.writeString(root.resolve(dir).resolve("labels.txt"), trained.labels.mkString("\n"))
    }
    val (m, l) = store.load("legacy")
    assert(scores(m, l) == expected)
    val viaRegistry = store.loadForPredict(Some(registry("legacy")))
    assert(viaRegistry.map(_._3).contains("legacy"))
    assert(scores(viaRegistry.get._1, viaRegistry.get._2) == expected)
    val viaLatest = store.loadForPredict(None)
    assert(viaLatest.map(_._3).contains("latest"))
    assert(scores(viaLatest.get._1, viaLatest.get._2) == expected)
  }

  test("local saving is off after a save, a load and a failed load; no extraction dir is left") {
    val before = extractionDirs()
    val (store, root) = newStore()
    store.save(trained.model, trained.labels, "v1")
    assert(!LocalSavingProbe.localSaving)
    store.load("v1")
    assert(!LocalSavingProbe.localSaving)

    // a readable archive whose pipeline metadata is corrupt fails inside
    // the local-saving section
    val broken = root.resolve("broken")
    Files.createDirectories(broken)
    Files.writeString(broken.resolve("labels.txt"), "A\nB")
    writeArchive(broken.resolve(ModelStore.Archive), "metadata" -> "{not json")
    val e = intercept[IllegalStateException](store.loadForPredict(Some(registry("broken"))))
    assert(e.getMessage.contains("failed to load"))
    assert(!LocalSavingProbe.localSaving)

    // bytes that are no archive at all fail before it
    Files.writeString(broken.resolve(ModelStore.Archive), "not an archive")
    val e2 = intercept[IllegalStateException](store.loadForPredict(Some(registry("broken"))))
    assert(e2.getMessage.contains("failed to load"))
    assert(!LocalSavingProbe.localSaving)
    assert(extractionDirs() == before)
  }

  test("an archive entry that resolves outside the extraction dir is rejected") {
    val (store, root) = newStore()
    val evil = root.resolve("evil")
    Files.createDirectories(evil)
    Files.writeString(evil.resolve("labels.txt"), "A")
    val escaped = s"graft-zip-slip-${System.nanoTime()}.txt"
    writeArchive(evil.resolve(ModelStore.Archive), "metadata" -> "{}", s"../$escaped" -> "x")
    val e = intercept[IOException](store.load("evil"))
    assert(e.getMessage.contains("outside the extraction dir"))
    assert(!Files.exists(Paths.get(System.getProperty("java.io.tmpdir"), escaped)))
    assert(!LocalSavingProbe.localSaving)
  }
}
