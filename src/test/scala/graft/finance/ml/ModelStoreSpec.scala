package graft.finance.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ModelStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tinyModel() = {
    val train = (0 until 60).map { i =>
      val cat = if (i % 2 == 0) "A" else "B"
      (s"t$i", cat, s"word$cat token$cat $i", BigDecimal(-1.0 - i))
    }.toDF("transaction_id", "master_category", "combined_text", "amount_d")
      .withColumn("amount", col("amount_d").cast("decimal(18,2)"))
      .withColumn("is_negative", lit(1)).withColumn("day_of_week", lit(1))
      .withColumn("day_of_month", lit(1)).withColumn("amount_bucket", lit(1))
    val padded = CategoryClassifier.numericalFeatures
      .diff(Seq("amount", "is_negative", "day_of_week", "day_of_month", "amount_bucket"))
      .foldLeft(train)((df, c) => df.withColumn(c, lit(0)))
    CategoryClassifier.train(padded,
      CategoryClassifier.Config(numTrees = 5, maxDepth = 4))
      .asInstanceOf[CategoryClassifier.Trained]
  }

  test("save/load round-trip with labels; latest alias; predict fallback chain") {
    val store = new ModelStore(spark, Files.createTempDirectory("graft-models").toString)
    val trained = tinyModel()
    store.save(trained.model, trained.labels, "v1")

    val (m, labels) = store.load("v1")
    assert(labels.toSeq == trained.labels.toSeq)
    assert(m.stages.length == trained.model.stages.length)

    // registry with an active row → picks active version
    val reg = Seq(("v1", "trained", true, "2026-01-01 00:00:00"))
      .toDF("model_version", "status", "is_active", "ts")
      .withColumn("training_timestamp", col("ts").cast("timestamp"))
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
    val emptyStore = new ModelStore(spark, Files.createTempDirectory("graft-empty").toString)
    val none = emptyStore.loadForPredict(Some(reg.filter(lit(false))))
    assert(none.isEmpty)

    // registry NAMES a version whose artifact is gone → loud error, not None
    val e = intercept[IllegalStateException](emptyStore.loadForPredict(Some(reg)))
    assert(e.getMessage.contains("failed to load"))
  }
}
