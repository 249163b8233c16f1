package org.apache.spark.ml.tree.impl

import java.util.Arrays

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.ml.impl.Utils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.ml.tree.{ContinuousSplit, LearningNode, Split}
import org.apache.spark.ml.util.{DatasetUtils, MetadataUtils}
import org.apache.spark.mllib.tree.model.ImpurityStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.collection.OpenHashMap

/** Grows a `DecisionTreeRegressor`'s tree on the driver from training
  * points collected there: `RandomForest.run`'s driver loop for one tree
  * without bagging or feature subsampling (what the regressor runs),
  * calling spark.ml's own `private[tree]` steps for the metadata, split
  * candidates, node groups, statistics and split choice — no rule is
  * re-derived here. Only the data movement differs. spark.ml sums each
  * input partition's statistics in a task and merges the partitions in
  * partition order through a shuffle; this sums each partition's points in
  * its own aggregators and merges them in the same order. The floating-point
  * sums, and so the trees, are the same bit for bit; summing all points
  * into one aggregator rounds differently and can change a split.
  *
  * Exact only while spark.ml's split search reads every row: `findSplits`
  * samples past max(maxBins², 10000) rows ([[exactRows]]). */
object LocalDecisionTree {

  def exactRows(maxBins: Int): Int = math.max(maxBins * maxBins, 10000)

  /** Up to `cap` rows of `dataset` as `DecisionTreeRegressor.train` reads
    * them — the same checked columns of the same RDD, so the same
    * partitions — as (label, features) per non-empty partition, in
    * partition order. One job reads every partition, each up to `cap + 1`
    * rows. None past the cap, at `cap <= 0`, or when the features carry
    * categorical metadata, which [[fit]] does not replay. */
  def collectPartitions(dataset: DataFrame, labelCol: String, featuresCol: String,
                        cap: Int): Option[Seq[Seq[(Double, Vector)]]] =
    if (cap <= 0 || MetadataUtils.getCategoricalFeatures(dataset.schema(featuresCol)).nonEmpty) None
    else {
      val rows = dataset
        .select(DatasetUtils.checkRegressionLabels(labelCol),
          DatasetUtils.checkNonNanVectors(featuresCol))
        .rdd.map(r => (r.getDouble(0), r.getAs[Vector](1)))
      val parts = dataset.sparkSession.sparkContext.runJob(rows,
        (it: Iterator[(Double, Vector)]) => it.take(cap + 1).toArray)
      if (parts.map(_.length.toLong).sum > cap) None
      else Some(parts.toSeq.filter(_.nonEmpty).map(_.toSeq))
    }

  /** `dtr` fitted on `partitions` (as [[collectPartitions]] returns them):
    * the model `dtr.fit` returns on the same rows. */
  def fit(dtr: DecisionTreeRegressor,
          partitions: Seq[Seq[(Double, Vector)]]): DecisionTreeRegressionModel = {
    val strategy = dtr.getOldStrategy(Map.empty)
    val n = partitions.map(_.size).sum
    require(n > 0 && n <= exactRows(strategy.maxBins),
      s"local growth matches spark.ml for 1 to ${exactRows(strategy.maxBins)} rows, not $n")
    val numFeatures = partitions.flatten.head._2.size
    val bins = math.min(strategy.maxBins, n) // DecisionTreeMetadata.buildMetadata
    val md = new DecisionTreeMetadata(numFeatures, n.toLong, n.toDouble, 0, bins,
      Map.empty, Set.empty, Array.fill(numFeatures)(bins), strategy.impurity,
      strategy.quantileCalculationStrategy, strategy.maxDepth,
      strategy.minInstancesPerNode, strategy.minWeightFractionPerNode,
      strategy.minInfoGain, 1, numFeatures)
    // RandomForest.findSplitsBySorting: candidates from each feature's
    // non-zero values (unit weights); an all-zero feature gets none
    val thresholds = Array.tabulate(numFeatures) { f =>
      val weights = new OpenHashMap[Double, Double]
      var count = 0L
      for (p <- partitions; (_, v) <- p if v(f) != 0.0) {
        weights.changeValue(v(f), 1.0, _ + 1.0)
        count += 1
      }
      val ts = if (count == 0) Array.empty[Double]
        else RandomForest.findSplitsForContinuousFeature(weights.toMap, count, md, f)
      md.setNumSplits(f, ts.length)
      ts
    }
    val splits: Array[Array[Split]] =
      Array.tabulate(numFeatures)(f => thresholds(f).map(t => new ContinuousSplit(f, t): Split))
    // TreePoint.findBin
    val binned = partitions.map(_.map { case (y, v) =>
      (y, Array.tabulate(numFeatures) { f =>
        val i = Arrays.binarySearch(thresholds(f), v(f))
        if (i >= 0) i else -i - 1
      })
    })
    val root = LearningNode.emptyNode(nodeIndex = 1)
    val stack = mutable.ListBuffer[(Int, LearningNode)]((0, root))
    val rng = new Random(dtr.getSeed)
    while (stack.nonEmpty) {
      val (groups, infos) = RandomForest.selectNodesToSplit(
        stack, strategy.maxMemoryInMB * 1024L * 1024L, md, rng)
      val info = infos(0)
      // RandomForest.findBestSplits: per-partition aggregators, merged in
      // partition order
      val aggs = binned.map { points =>
        val part = Array.fill(info.size)(new DTStatsAggregator(md, None))
        for ((y, xs) <- points; node <- info.get(root.predictImpl(xs, splits))) {
          val agg = part(node.nodeIndexInGroup)
          for (f <- 0 until numFeatures) agg.update(f, xs(f), y, 1, 1.0)
          agg.updateParent(y, 1, 1.0)
        }
        part
      }.reduceLeft((a, b) => a.zip(b).map { case (x, y) => x.merge(y) })
      for (node <- groups(0)) {
        val (split, stats) = RandomForest.binsToBestSplit(
          aggs(info(node.id).nodeIndexInGroup), splits, None, node)
        val level = LearningNode.indexToLevel(node.id)
        node.isLeaf = stats.gain <= 0 || level == md.maxDepth
        node.stats = stats
        if (!node.isLeaf) {
          node.split = Some(split)
          def isLeaf(impurity: Double) =
            level + 1 == md.maxDepth || math.abs(impurity) < Utils.EPSILON
          val left = LearningNode(LearningNode.leftChildIndex(node.id),
            isLeaf(stats.leftImpurity),
            ImpurityStats.getEmptyImpurityStats(stats.leftImpurityCalculator))
          val right = LearningNode(LearningNode.rightChildIndex(node.id),
            isLeaf(stats.rightImpurity),
            ImpurityStats.getEmptyImpurityStats(stats.rightImpurityCalculator))
          node.leftChild = Some(left)
          node.rightChild = Some(right)
          if (!left.isLeaf) stack.prepend((0, left))
          if (!right.isLeaf) stack.prepend((0, right))
        }
      }
    }
    new DecisionTreeRegressionModel(dtr.uid, root.toNode(prune = true), numFeatures)
      .copy(dtr.extractParamMap()).setParent(dtr)
  }
}
