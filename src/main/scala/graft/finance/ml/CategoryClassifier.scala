package graft.finance.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature._
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The transaction-category classifier: the reference's sklearn pipeline
  * (`dagster/classifier_train.py`, `classifier_predict.py`) re-expressed on
  * Spark ML — SURVEY §2.10 M1–M11.
  *
  * Parity is semantic, not bitwise: Spark's IDF formula `log((n+1)/(df+1))`
  * differs from sklearn's `ln((1+n)/(1+df))+1` by a constant offset, and the
  * RF implementations differ, so agreement is judged on predictions/metrics
  * (the reference's own tolerance for model refreshes), not on vectors.
  *
  * Everything runs distributed: TF-IDF and scaling are Spark ML transformers
  * over partitioned data, RF training is Spark ML's distributed tree builder,
  * scoring is a map-only transform — no driver-side collect anywhere.
  */
object CategoryClassifier {

  /** The 14 numeric features of `dagster/common.py:38-53` — `month` and
    * `amount_abs` deliberately absent (guarded there by
    * `dagster/tests/test_common.py:5-11`). */
  val numericalFeatures: Seq[String] = Seq(
    "amount", "is_negative", "day_of_week", "day_of_month", "amount_bucket",
    "has_hotel_keyword", "has_gas_keyword", "has_grocery_keyword",
    "has_restaurant_keyword", "has_transport_keyword", "has_shop_keyword",
    "has_flight_keyword", "has_credit_fee_keyword", "has_interest_keyword")

  val textFeature = "combined_text"
  val labelCol = "master_category"

  /** Reference hyperparameters (`classifier_train.py:202-241`, `common.py`). */
  final case class Config(
      vocabSize: Int = 1000,        // TfidfVectorizer max_features
      minDF: Double = 2.0,          // min_df=2
      maxDF: Double = 0.95,         // max_df=0.95
      numTrees: Int = 200,
      maxDepth: Int = 15,
      minInstancesPerNode: Int = 5, // ≈ min_samples_leaf=5
      seed: Long = 42L,
      minTrainingSamples: Long = 50L, // MIN_TRAINING_SAMPLES (common.py:62)
      confidenceThreshold: Double = 0.40) // default threshold (common.py:59)

  sealed trait TrainResult
  final case class Trained(
      model: PipelineModel,
      labels: Array[String],
      metrics: Map[String, Double],
      nTrain: Long, nTest: Long, nClasses: Int) extends TrainResult
  final case class Skipped(reason: String, sampleCount: Long) extends TrainResult

  /** Deterministic stratified 80/20 split (M3): within each label, order by
    * a stable hash of transaction_id and cut at 80%. Classes with fewer
    * than 2 rows go wholly to train (sklearn's stratify fallback); classes
    * with ≥2 rows always contribute ≥1 test row (the cut is capped at n-1,
    * matching sklearn's per-class guarantee — a plain ceil sends 2-4-row
    * classes entirely to train). Hash-ordering makes the split identical
    * across runs and partitionings — `randomSplit` is NOT (it is
    * partition-dependent). */
  def stratifiedSplit(df: DataFrame, testFraction: Double = 0.2, seed: Long = 42L)
      : (DataFrame, DataFrame) = {
    val byLabel = Window.partitionBy(col(labelCol))
    val ordered = Window.partitionBy(col(labelCol))
      .orderBy(xxhash64(col("transaction_id"), lit(seed)))
    val ranked = df
      .withColumn("_n", count(lit(1)).over(byLabel))
      .withColumn("_rk", row_number().over(ordered))
    val trainCut = least(ceil(col("_n") * (1.0 - testFraction)), col("_n") - 1)
    val train = ranked.filter(col("_n") < 2 || col("_rk") <= trainCut).drop("_n", "_rk")
    val test = ranked.filter(col("_n") >= 2 && col("_rk") > trainCut).drop("_n", "_rk")
    (train, test)
  }

  /** The feature+classifier pipeline (M4–M7): tokenize → stopword-filter →
    * unigrams∪bigrams → CountVectorizer(1000, minDF 2, maxDF 0.95) → IDF;
    * assemble+standardize the 14 numeric features; concat; weighted RF. */
  def pipeline(cfg: Config): Pipeline = {
    val tokenizer = new RegexTokenizer()
      .setInputCol(textFeature).setOutputCol("_tokens")
      .setPattern("\\b\\w\\w+\\b").setGaps(false).setToLowercase(true) // sklearn token_pattern
    val stopwords = new StopWordsRemover()
      .setInputCol("_tokens").setOutputCol("_tokens_f")
    val bigrams = new NGram().setN(2).setInputCol("_tokens_f").setOutputCol("_bigrams")
    val unionGrams = new SQLTransformer().setStatement(
      "SELECT *, concat(_tokens_f, _bigrams) AS _grams FROM __THIS__")
    val cv = new CountVectorizer()
      .setInputCol("_grams").setOutputCol("_tf")
      .setVocabSize(cfg.vocabSize).setMinDF(cfg.minDF).setMaxDF(cfg.maxDF)
    val idf = new IDF().setInputCol("_tf").setOutputCol("_tfidf")
    val numAssembler = new VectorAssembler()
      .setInputCols(numericalFeatures.toArray).setOutputCol("_num_raw")
      .setHandleInvalid("keep")
    val scaler = new StandardScaler()
      .setInputCol("_num_raw").setOutputCol("_num")
      .setWithMean(true).setWithStd(true)
    val assembler = new VectorAssembler()
      .setInputCols(Array("_tfidf", "_num")).setOutputCol("features")
    val indexer = new StringIndexer()
      .setInputCol(labelCol).setOutputCol("_label")
      .setStringOrderType("alphabetAsc") // deterministic class indexing
      // scoring input has master_category NULL on every row; "keep" makes
      // the transform well-defined there instead of relying on Catalyst
      // pruning the _label column out of the scoring plan
      .setHandleInvalid("keep")
    val rf = new RandomForestClassifier()
      .setFeaturesCol("features").setLabelCol("_label").setWeightCol("_weight")
      .setNumTrees(cfg.numTrees).setMaxDepth(cfg.maxDepth)
      .setMinInstancesPerNode(cfg.minInstancesPerNode)
      .setFeatureSubsetStrategy("sqrt").setSeed(cfg.seed)
      .setProbabilityCol("probability").setPredictionCol("_prediction")
    new Pipeline().setStages(Array(
      tokenizer, stopwords, bigrams, unionGrams, cv, idf,
      numAssembler, scaler, assembler, indexer, rf))
  }

  /** sklearn `class_weight='balanced'`: weight(c) = n / (k · n_c), attached
    * as the RF weight column via a broadcast join on label. */
  def withBalancedWeights(train: DataFrame): DataFrame = {
    val counts = train.groupBy(col(labelCol)).agg(count(lit(1)).as("_n_c"))
    val n = train.count().toDouble
    val k = counts.count().toDouble
    train.join(broadcast(counts), Seq(labelCol))
      .withColumn("_weight", lit(n) / (lit(k) * col("_n_c")))
      .drop("_n_c")
  }

  /** NaN-fill before transform, as predict does (`classifier_predict.py`):
    * text → '', numerics → 0. */
  def fillForScoring(df: DataFrame): DataFrame = {
    val numerics = numericalFeatures.map(c => c -> "0").toMap
    df.na.fill(numerics.map { case (c, _) => c -> 0.0 })
      .na.fill(Map(textFeature -> ""))
      .withColumn("amount", coalesce(col("amount"), lit(0)).cast("double"))
  }

  /** M1–M8: gate on sample count, split, weight, fit, evaluate. */
  def train(labeled: DataFrame, cfg: Config = Config()): TrainResult = {
    val data = fillForScoring(
      labeled.filter(col("amount").isNotNull && col(labelCol).isNotNull))
    val nSamples = data.count()
    if (nSamples < cfg.minTrainingSamples)
      return Skipped("insufficient_data", nSamples)

    val (train0, test) = stratifiedSplit(data, 0.2, cfg.seed)
    val train = withBalancedWeights(train0)
    val model = pipeline(cfg).fit(train)
    val labels = model.stages.collectFirst { case s: StringIndexerModel => s.labelsArray(0) }.get

    val predictions = model.transform(test.withColumn("_weight", lit(1.0)))
    val metrics = if (test.isEmpty) Map.empty[String, Double] else {
      def m(name: String): Double = new MulticlassClassificationEvaluator()
        .setLabelCol("_label").setPredictionCol("_prediction")
        .setMetricName(name).evaluate(predictions)
      Map(
        "accuracy" -> m("accuracy"),
        "f1_weighted" -> m("weightedFMeasure"),
        "precision_weighted" -> m("weightedPrecision"),
        "recall_weighted" -> m("weightedRecall")) ++ macroMetrics(predictions)
    }
    Trained(model, labels, metrics, train0.count(), test.count(), labels.length)
  }

  /** Macro precision/recall/F1 with sklearn zero_division=0: per-class
    * values (0 when no predictions or no support), unweighted mean over
    * TRUE classes. */
  private def macroMetrics(predictions: DataFrame): Map[String, Double] = {
    val perClass = predictions.groupBy(col("_label"))
      .agg(count(lit(1)).as("support"),
        sum(when(col("_prediction") === col("_label"), 1).otherwise(0)).as("tp"))
    val predicted = predictions.groupBy(col("_prediction").as("_label"))
      .agg(count(lit(1)).as("pred_n"))
    val f1s = perClass.join(predicted, Seq("_label"), "left_outer")
      .withColumn("prec", when(coalesce(col("pred_n"), lit(0)) > 0,
        col("tp") / col("pred_n")).otherwise(0.0))
      .withColumn("rec", col("tp") / col("support"))
      .withColumn("f1", when(col("prec") + col("rec") > 0,
        lit(2) * col("prec") * col("rec") / (col("prec") + col("rec"))).otherwise(0.0))
    val row = f1s.agg(avg(col("f1")), avg(col("prec")), avg(col("rec"))).head
    Map("f1_macro" -> row.getDouble(0),
      "precision_macro" -> row.getDouble(1),
      "recall_macro" -> row.getDouble(2))
  }

  /** The pure M10 decision arithmetic (`classifier_predict.py:126-135`),
    * factored out of [[score]] so the oracle gate (m10_threshold_scoring)
    * can state it over a synthetic probability table: max class
    * probability below the threshold → literal 'UNCERTAIN', otherwise the
    * label the caller's `labelExpr` selects. */
  def thresholdLabel(
      probs: Column, labelExpr: Column, confidenceThreshold: Double): Column =
    when(array_max(probs) < confidenceThreshold, lit("UNCERTAIN"))
      .otherwise(labelExpr)

  /** M10's confidence column: the max class probability in DECIMAL(6,4)
    * (the reference's NUMERIC(5,4)-shaped rendering). */
  def confidenceOf(probs: Column): Column =
    array_max(probs).cast("decimal(6,4)")

  /** M10: score with confidence threshold — max class probability below the
    * threshold → literal 'UNCERTAIN' (`classifier_predict.py:109-146`). */
  def score(
      model: PipelineModel,
      labels: Array[String],
      uncategorized: DataFrame,
      modelVersion: String,
      confidenceThreshold: Double = 0.40): DataFrame = {
    val scored = model.transform(
      fillForScoring(uncategorized).withColumn("_weight", lit(1.0)))
    val probs = vector_to_array(col("probability"))
    val labelExpr = element_at(
      array(labels.map(lit): _*), col("_prediction").cast("int") + 1)
    scored.select(
      col("transaction_id"),
      thresholdLabel(probs, labelExpr, confidenceThreshold)
        .as("predicted_master_category"),
      confidenceOf(probs).as("prediction_confidence"),
      lit(modelVersion).as("model_version"),
      current_timestamp().as("prediction_timestamp"))
  }
}
