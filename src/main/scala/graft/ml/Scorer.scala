package graft.ml

import graft.functions.VectorOps
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{DecisionTreeRegressor, DecisionTreeRegressionModel}
import org.apache.spark.ml.tree.impl.LocalDecisionTree
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pluggable ensemble scorer — the reference's `UQ_NN` deep ensemble
  * (reference `core/ensemble_model.py:30-68`: N independently-trained models;
  * per-row prediction mean and POPULATION variance across members).
  *
  * The engine's semantics are fixed here — score(df) appends `pred` and
  * `var` columns — while the member model is pluggable: the reference's
  * Keras MLP has no spark.ml equivalent, so the idiomatic substitute is an
  * ensemble of tree regressors with different seeds (SURVEY.md §2.9 M1);
  * tests use [[AnalyticScorer]] to pin the engine behavior independent of
  * model internals.
  */
trait Scorer extends Serializable {
  /** Fit on (features..., y) and return a model-as-function. */
  def fit(train: DataFrame): ScorerModel
}

trait ScorerModel extends Serializable {
  /** Append `pred` (ensemble mean) and `var` (ensemble population variance)
    * to df. Must be a pure DataFrame transform (one projection — no
    * driver-side loops over rows). */
  def score(df: DataFrame): DataFrame
}

/** Deterministic scorer for tests and analytic demos: pred/var are given
  * column expressions (e.g. the true label + 0 variance, or a closed-form
  * surrogate). */
case class AnalyticScorer(predExpr: DataFrame => Column, varExpr: DataFrame => Column)
    extends Scorer {
  def fit(train: DataFrame): ScorerModel = new ScorerModel {
    def score(df: DataFrame): DataFrame =
      df.withColumn("pred", predExpr(df)).withColumn("var", varExpr(df))
  }
}

/** Ensemble of N decision-tree regressors with different seeds — the
  * spark.ml stand-in for the reference's N-member MLP ensemble
  * (`ensemble_model.py:44-55`). Mean and var_pop across members are computed
  * per row from the array of member predictions (`ensemble_model.py:59-68`),
  * as codegen'd array HOFs.
  *
  * Where the members GROW is a size question; the trees are the same
  * either way. spark.ml's `DecisionTreeRegressor` runs about one Spark job
  * per tree level (~11 per depth-8 member), while the paper's loop refits
  * on 100–130 rows.
  *  - Up to `localMaxRows` training rows (default
  *    [[TreeEnsembleScorer.LocalMaxRows]] = 10,000), ONE capped scan brings
  *    them to the driver and every member grows there
  *    ([[org.apache.spark.ml.tree.impl.LocalDecisionTree]]: spark.ml's own
  *    split, statistics and stopping steps, partition by partition as
  *    spark.ml sums them), giving the same `DecisionTreeRegressionModel`s
  *    bit for bit. The cap is spark.ml's no-sampling bound,
  *    max(maxBins², 10000) at the default maxBins = 32: past it spark.ml
  *    picks split candidates from a row sample, which a driver-side replay
  *    would not draw alike, so a larger `localMaxRows` is clamped to it.
  *  - Past the cap (or at `localMaxRows = 0`) each member is
  *    `DecisionTreeRegressor.fit`, as before.
  * Scoring is spark.ml's `transform` on both paths. */
case class TreeEnsembleScorer(featureCols: Seq[String], labelCol: String = "y",
                              n: Int = 2, maxDepth: Int = 8, seed: Long = 42)
    extends Scorer {
  def fit(train: DataFrame): TreeEnsembleModel = fit(train, TreeEnsembleScorer.LocalMaxRows)

  def fit(train: DataFrame, localMaxRows: Int): TreeEnsembleModel = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("__features")
    val assembled = assembler.transform(train)
    val members = (0 until n).map { i =>
      new DecisionTreeRegressor()
        .setFeaturesCol("__features").setLabelCol(labelCol)
        .setMaxDepth(maxDepth).setSeed(seed + i)
        // member diversity: bootstrap-ish via per-member minInstancesPerNode
        .setMinInstancesPerNode(1 + i)
    }
    val cap = math.min(localMaxRows, TreeEnsembleScorer.LocalMaxRows)
    val models = LocalDecisionTree.collectPartitions(assembled, labelCol, "__features", cap)
      .filter(_.nonEmpty) match {
      case Some(partitions) => members.map(LocalDecisionTree.fit(_, partitions))
      case None => members.map(_.fit(assembled))
    }
    TreeEnsembleModel(assembler, models)
  }
}

object TreeEnsembleScorer {
  /** spark.ml's no-sampling bound at the members' maxBins = 32. */
  val LocalMaxRows: Int = LocalDecisionTree.exactRows(32)
}

/** The fitted members of a [[TreeEnsembleScorer]]. */
case class TreeEnsembleModel(assembler: VectorAssembler,
                             members: Seq[DecisionTreeRegressionModel]) extends ScorerModel {
  def score(df: DataFrame): DataFrame = {
    val assembled = assembler.transform(df)
    val withPreds = members.zipWithIndex.foldLeft(assembled) { case (d, (m, i)) =>
      m.setPredictionCol(s"__p$i").transform(d)
    }
    val preds = array(members.indices.map(i => col(s"__p$i")): _*)
    withPreds
      .withColumn("pred", VectorOps.arrayMean(preds))
      .withColumn("var", VectorOps.arrayVarPop(preds))
      .drop(members.indices.map(i => s"__p$i") :+ "__features": _*)
  }
}
