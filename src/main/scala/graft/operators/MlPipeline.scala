package graft.operators

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark-ML classification pipeline over the gold trial-stats features
  * (SURVEY.md §2.A 11), matching the reference's
  * StringIndexer → VectorAssembler → StandardScaler → LogisticRegression
  * with a seeded 0.8/0.2 split (/root/reference/main/train_model.py:60-105).
  * Label here is `channel` (the reference labels by its `synset` metadata
  * column — the categorical the stats row describes).
  *
  * Rows-only operator: model fitting is iterative and engine-specific, so
  * the gates are the spec (schema, label coverage, better-than-degenerate
  * accuracy) and the driver's rows check.
  */
object MlPipeline {

  /** The reference's numeric_features list (train_model.py:44-60), same
    * names as [[SignalOps.goldTrialStats]] emits. */
  val NumericFeatures: Seq[String] = Seq(
    "n_samples", "duration_sec", "duration_from_count_sec",
    "mean_value", "std_value", "mean_abs_value", "min_value", "max_value",
    "median_value", "p95_value",
    "mean_z", "std_z", "min_z", "max_z", "samples_per_sec")

  val Seed = 42L

  def pipeline(): Pipeline = {
    val indexer = new StringIndexer()
      .setInputCol("channel").setOutputCol("label").setHandleInvalid("skip")
    val assembler = new VectorAssembler()
      .setInputCols(NumericFeatures.toArray).setOutputCol("features_raw")
      .setHandleInvalid("keep")
    val scaler = new StandardScaler()
      .setInputCol("features_raw").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    val lr = new LogisticRegression()
      .setMaxIter(50).setRegParam(0.01).setElasticNetParam(0.0)
      .setLabelCol("label").setFeaturesCol("features")
    new Pipeline().setStages(Array(indexer, assembler, scaler, lr))
  }

  /** Seeded split + fit; returns the fitted model and the held-out test
    * split. duration > 0 also guarantees n ≥ 2, which makes every feature
    * non-null.
    *
    * The cleaned gold frame is localCheckpoint'd (round 18): the pipeline
    * fit is a SEQUENCE of passes — StringIndexer's label census,
    * StandardScaler's moment pass, LR's instance extraction — and the
    * caller then transforms the test split; without materialization each
    * pass re-derives the window-heavy gold lineage from parquet (measured
    * 4.97 → 2.35 s on ml_train_predict at sf0.1, rows identical — the
    * checkpoint preserves partitioning, so the seeded randomSplit sees
    * the same per-partition rows). */
  def fitOnSplit(gold: DataFrame): (PipelineModel, DataFrame) = {
    val clean = gold.filter(col("duration_sec") > 0).localCheckpoint()
    val Array(train, test) = clean.randomSplit(Array(0.8, 0.2), Seed)
    (pipeline().fit(train), test)
  }

  /** Fit on the 0.8 split, predict the 0.2 split. */
  def trainPredict(gold: DataFrame): DataFrame = {
    val (model, test) = fitOnSplit(gold)
    model.transform(test)
      .select(col("trial_id"), col("channel"), col("label"), col("prediction"))
  }

  /** Multiclass evaluation over a predictions frame — the reference's
    * MulticlassClassificationEvaluator sweep (accuracy, f1,
    * weightedPrecision, weightedRecall;
    * /root/reference/main/train_model.py:107-121) emitted as a one-row
    * metrics DataFrame. The evaluator aggregates the confusion matrix
    * distributed-side; only the scalar metric reaches the driver. */
  def evalMetrics(predictions: DataFrame): DataFrame = {
    val spark = predictions.sparkSession
    import spark.implicits._
    val cached = predictions.select("label", "prediction").cache()
    def ev(m: String): Double = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName(m).evaluate(cached)
    val n = cached.count()
    val out = Seq((n, ev("accuracy"), ev("f1"), ev("weightedPrecision"), ev("weightedRecall")))
      .toDF("n_test", "accuracy", "f1", "weighted_precision", "weighted_recall")
    cached.unpersist()
    out
  }

  /** Persist a fitted pipeline and reload it — the reference's
    * model.write().overwrite().save(...) (train_model.py:123-128). The
    * reload is the contract: predictions from the loaded model must equal
    * the in-memory model's (spec-gated). */
  def saveAndReload(model: PipelineModel, path: String): PipelineModel = {
    model.write.overwrite().save(path)
    PipelineModel.load(path)
  }

  /** Persist the predictions frame — the reference's gold-predictions write
    * (/root/reference/main/train_model.py:130-145: trial_id, channel,
    * prediction, probability to a gold table). The probability ML vector is
    * converted to a plain double array (parquet-friendly, engine-neutral);
    * the write is partitioned by predicted class so per-class consumers
    * (error analysis, active-learning sampling) prune partitions instead of
    * scanning the full table. Returns the read-back frame (the spec pins
    * write/read round-trip equality). */
  def persistPredictions(predictions: DataFrame, path: String): DataFrame = {
    predictions
      .select(col("trial_id"), col("channel"), col("label"), col("prediction"),
        org.apache.spark.ml.functions.vector_to_array(col("probability")).as("probability"))
      .write.mode("overwrite").partitionBy("prediction").parquet(path)
    // schema inference stays here: partition discovery over the
    // partitionBy layout restores `prediction`, which no footer holds
    predictions.sparkSession.read.parquet(path)
  }

  def mlTrainPredictQ(events: DataFrame): DataFrame =
    trainPredict(SignalOps.goldTrialStats(SignalOps.silver(events)))
      .orderBy("trial_id", "channel")

  /** Rows-only query: one metrics row, rounded for run-to-run stability
    * (LR with a fixed seed is deterministic; rounding guards the last ulp
    * of the treeAggregate fold order). */
  def mlMetricsQ(events: DataFrame): DataFrame = {
    val (model, test) = fitOnSplit(SignalOps.goldTrialStats(SignalOps.silver(events)))
    evalMetrics(model.transform(test))
      .select(col("n_test"), round(col("accuracy"), 6).as("accuracy"),
        round(col("f1"), 6).as("f1"),
        round(col("weighted_precision"), 6).as("weighted_precision"),
        round(col("weighted_recall"), 6).as("weighted_recall"))
  }
}
