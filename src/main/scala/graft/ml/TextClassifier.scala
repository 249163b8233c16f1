package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** fastText-style linear text-quality classifier (the CCNet/GPT-3 data
  * curation stage: a cheap linear model over hashed token features scores
  * every crawl document; reference `core/quality.py:1` is the heuristic
  * analogue). Features are HashingTF token counts — fixed-width, vocabulary
  * -free, so the feature space is identical across batches and days.
  *
  * Scale shape: training is spark.ml logistic regression, i.e. per-iteration
  * treeAggregate of gradient partials over the corpus — the canonical
  * data-parallel shape that holds at any row count; the model itself is
  * numFeatures-sized (KB), lives on the driver, and is broadcast for
  * scoring, which is a single map-stage projection (no shuffle at all).
  */
object TextClassifier {

  /** Hashed token-count features + binary label frame. */
  def featurize(docs: DataFrame, id: Column, toks: Column, label: Column,
                numFeatures: Int = 4096): DataFrame = {
    val base = docs.select(id.cast("long").as("doc_id"), toks.as("toks"),
      label.cast("double").as("label"))
    new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(numFeatures).transform(base)
  }

  /** Train on `train`, return (model, scored) where `scored` adds
    * `p1` (P(label=1)) and `pred` to any featurized frame. maxIter caps
    * the L-BFGS sweep count — every iteration is a full-corpus
    * treeAggregate, so at scale this bound (not the row count) is the
    * dominant cost knob. */
  def train(train: DataFrame, maxIter: Int = 30, regParam: Double = 1e-4)
      : LogisticRegressionModel =
    new LogisticRegression().setMaxIter(maxIter).setRegParam(regParam)
      .setFeaturesCol("features").setLabelCol("label")
      .fit(train)

  def score(model: LogisticRegressionModel, df: DataFrame): DataFrame = {
    val p1 = udfless(model)
    model.transform(df)
      .withColumn("p1", p1)
      .select(col("doc_id"), col("label"), col("p1"),
        col("prediction").cast("long").as("pred"))
  }

  // element 1 of the probability vector without a UDF: spark.ml emits an
  // ml.linalg vector; vector_to_array is the supported codegen bridge
  private def udfless(model: LogisticRegressionModel): Column =
    org.apache.spark.ml.functions.vector_to_array(col("probability"))(1)

  /** End-to-end gate for the driver oracle (q80 convention — literal flags):
    * deterministic hash split, train on the train fold, score the held-out
    * fold, report counts + an accuracy flag.
    *
    * `maxTrainFrac` < 1 additionally hash-subsamples the TRAIN fold before
    * fitting (a second, salt-disjoint md5 uniform — deterministic and
    * append-stable like the split itself). This is the 100 TB posture: a
    * linear quality model saturates long before the corpus does, so
    * production trains on a bounded sample and only SCORING (a shuffle-free
    * broadcast projection) touches every row. The reported n_train remains
    * the fold size — the subsample is a training-cost knob, not a split
    * change. */
  def holdoutGate(docs: DataFrame, id: Column, toks: Column, label: Column,
                  trainFrac: Double = 0.8, accThreshold: Double = 0.9,
                  numFeatures: Int = 4096,
                  maxTrainFrac: Double = 1.0): DataFrame = {
    require(maxTrainFrac > 0 && maxTrainFrac <= 1.0,
      "maxTrainFrac must be in (0, 1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val feat = featurize(docs, id, toks, label, numFeatures)
    val split = graft.operators.Mixture.hashSplit(feat, col("doc_id"),
      Seq("train" -> trainFrac, "test" -> (1.0 - trainFrac)))
    val trainAll = split.filter(col("split") === "train")
    val trainFit =
      if (maxTrainFrac >= 1.0) trainAll
      else trainAll.filter(graft.operators.Mixture.portableUniform(
        col("doc_id"), "trainsample") < maxTrainFrac)
    // folds are read many times (L-BFGS sweeps / the count) — pin them
    val train0 = graft.operators.CheckpointPolicy.pin(trainFit)
    val test0 = graft.operators.CheckpointPolicy.pin(split.filter(col("split") === "test"))
    val model = train(train0)
    val scored = score(model, test0)
    val (nTest, nHit) = scored.agg(count(lit(1)),
        sum(when(col("pred") === col("label").cast("long"), 1L).otherwise(0L)))
      .as[(Long, Long)].head()
    val nTrain =
      if (maxTrainFrac >= 1.0) train0.count() else trainAll.count()
    val acc = if (nTest == 0) 0.0 else nHit.toDouble / nTest
    Seq((nTrain + nTest, nTrain, nTest,
        if (acc >= accThreshold) 1L else 0L))
      .toDF("n_docs", "n_train", "n_test", "acc_ok")
  }
}
