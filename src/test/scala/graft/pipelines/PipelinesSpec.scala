package graft.pipelines

import graft.SparkSpec
import graft.functions.Pdfs
import graft.ml.{AnalyticScorer, Scorer, TreeEnsembleScorer}
import graft.operators.{Integrate, Kde, KdeResult}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs of one 2-iteration active-sampling run over [[grid]]. */
  private val JobBudget = 16

  /** 20x20 grid of the reference's synthetic 2-D problem (test-scale
    * mini-BDQA, SURVEY.md §5.4). */
  private lazy val grid = {
    val n = 20
    val pts = for (i <- 0 until n; j <- 0 until n) yield {
      val x1 = -1.0 + 2.0 * i / (n - 1)
      val x2 = -1.0 + 2.0 * j / (n - 1)
      (i.toLong * n + j, x1, x2)
    }
    pts.toDF("id", "x1", "x2")
      .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
  }

  test("synthetic label matches closed form") {
    val r = grid.filter(col("id") === 0L).select("y").as[Double].head()
    val expected = math.pow(-1.0, 3) - (-1.0) + math.pow(-1.0, 2) +
      0.5 * math.sin(8.0 * (-1.0) * (-1.0))
    assert(math.abs(r - expected) < 1e-12)
  }

  test("active sampling: pool shrinks 3/iter, train grows, metrics finite") {
    val scorer = AnalyticScorer(
      df => col("y") * lit(0.9),              // biased surrogate
      df => pow(col("x1"), 2) + lit(0.01))    // uncertainty high at edges
    val cfg = ActiveSamplingConfig(initSize = 20, iterations = 3,
      kdeGridSize = 128, checkpointEvery = 2)
    val (train, metrics) = ActiveSampling.run(spark, grid, scorer, cfg)
    assert(metrics.size == 3)
    assert(metrics.last.trainSize == 20 + 3 * 3)
    assert(metrics.last.poolSize == 400 - 20 - 9)
    metrics.foreach { m =>
      assert(!m.mse.isNaN && !m.meanVar.isNaN && !m.logPdfError.isNaN)
      assert(m.mse >= 0 && m.meanVar >= 0 && m.logPdfError >= 0)
    }
    // explorer lineage tags present
    val tags = train.select("explorer").distinct().as[String].collect().toSet
    assert(tags == Set("init", "se", "us", "us_lw"))
  }

  test("active sampling with tree ensemble improves MSE over iterations") {
    val scorer = TreeEnsembleScorer(Seq("x1", "x2"), "y", n = 2, maxDepth = 6)
    val cfg = ActiveSamplingConfig(initSize = 40, iterations = 4,
      kdeGridSize = 128, checkpointEvery = 2)
    val (_, metrics) = ActiveSampling.run(spark, grid, scorer, cfg)
    assert(metrics.size == 4)
    // weak monotonicity: last-iteration MSE no worse than 2x first
    assert(metrics.last.mse <= metrics.head.mse * 2.0,
      s"mse ${metrics.map(_.mse)}")
  }

  test("a repeated active-sampling run compiles no code and stays in its job budget") {
    val scorer = TreeEnsembleScorer(Seq("x1", "x2"), "y", n = 2, maxDepth = 6)
    val cfg = ActiveSamplingConfig(initSize = 40, iterations = 2,
      kdeGridSize = 128, checkpointEvery = 2)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // (Janino compilations, jobs, train rows) of one run
    def runOnce(): (Long, Int, Seq[Row]) = {
      val c0 = compiles
      val (rows, jobs) = withJobCount {
        val (train, _) = ActiveSampling.run(spark, grid, scorer, cfg)
        train.collect().toSeq
      }
      (compiles - c0, jobs, rows)
    }
    val (_, _, first) = runOnce()
    val (compiled, submitted, second) = runOnce()
    assert(second == first)
    // the loop's classes fit the engine's codegen cache (GraftSession)
    assert(compiled == 0, s"$compiled Janino compilations in the second run")
    // before the fused explorer step and the one-aggregate KDE fit this
    // run submitted 114 jobs (and compiled 113 classes); before the scorer
    // grew its members on the driver, 93; the budget was 45 before an
    // iteration read the scored pool in one pass
    assert(submitted <= JobBudget, s"$submitted jobs")
  }

  test("tree-ensemble pipelines give the same outputs with members grown on the driver or by spark.ml") {
    // RunPipelines' scorers; localMaxRows = 0 forces DecisionTreeRegressor.
    // The third run pins every loop frame to reliable storage
    def distributed(s: TreeEnsembleScorer): Scorer = s.fit(_, localMaxRows = 0)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_pipes_").toString
    val bdqa = TreeEnsembleScorer(Seq("x1", "x2"), "y", n = 2)
    val cfg = ActiveSamplingConfig(initSize = 40, iterations = 3,
      kdeGridSize = 128, checkpointEvery = 2)
    def bdqaRun(s: Scorer) = {
      val (train, metrics) = ActiveSampling.run(spark, grid, s, cfg)
      (train.orderBy("id").collect().toSeq, metrics)
    }
    val bdqaLocal = bdqaRun(bdqa)
    assert(bdqaRun(distributed(bdqa)) == bdqaLocal)
    assert(withCheckpointDir(ckpt)(bdqaRun(bdqa)) == bdqaLocal)
    val sde = (lbl: String) => TreeEnsembleScorer((0 until 10).map(i => s"h$i"), lbl, n = 2)
    def sdeRun(scorerFor: String => Scorer) = {
      val (train, iters) = SdeForecast.run(spark, scorerFor, n = 400,
        initK = 30, iterations = 2, batch = 10)
      (train.orderBy("win_id").collect().toSeq, iters)
    }
    val sdeLocal = sdeRun(sde)
    assert(sdeRun(sde.andThen(distributed)) == sdeLocal)
    assert(withCheckpointDir(ckpt)(sdeRun(sde)) == sdeLocal)
  }

  test("the driver's log-pdf error equals the grid frame's trapz bit for bit") {
    // the frame form the loop computed it in
    def framed(trueKde: KdeResult, predKde: KdeResult, clip: Double): Double = {
      val gridDf = trueKde.toDF(spark).withColumnRenamed("pdf", "p_true")
        .withColumn("p_pred", predKde.interpolate(col("grid_x")))
      val logDiff = gridDf.select(col("grid_x"),
        abs(Pdfs.clipLower(log(greatest(col("p_pred"), lit(1e-300))), clip) -
            Pdfs.clipLower(log(greatest(col("p_true"), lit(1e-300))), clip)).as("d"))
        .filter(Pdfs.isFinite(col("d")))
      Integrate.trapz(logDiff, col("grid_x"), col("d")).head().getDouble(0)
    }
    val rnd = new scala.util.Random(5)
    val ys = Seq.fill(2000)(rnd.nextGaussian()).toDF("y")
    val preds = Seq.fill(2000)(rnd.nextGaussian() * 0.6 + 0.3).toDF("y")
    val trueKde = Kde.fit(ys, col("y"), gridSize = 512)
    val bounds = Some((trueKde.gridMin, trueKde.gridMax))
    val predKde = Kde.fit(preds, col("y"), gridSize = 512, bounds = bounds)
    // pred grid narrower than the true one: interpolation clamps at its edges
    val narrow = Kde.fit(preds, col("y"), gridSize = 300, bounds = Some((-1.0, 1.5)))
    // non-finite densities: their differences are dropped before the integral
    val holes = trueKde.copy(pdf = trueKde.pdf.zipWithIndex.map { case (p, i) =>
      if (i % 50 == 7) Double.NaN else if (i % 70 == 3) Double.PositiveInfinity else p
    })
    for ((t, p) <- Seq((trueKde, predKde), (trueKde, narrow), (holes, predKde), (trueKde, holes));
         clip <- Seq(-6.0, -2.0)) {
      val got = ActiveSampling.logPdfError(t, p, clip)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(framed(t, p, clip)), s"clip $clip")
      assert(got > 0 && !got.isInfinite)
    }
  }

  test("OU simulation: length, start value, determinism") {
    val s1 = SdeForecast.simulateOU(spark, 1000, seed = 10).select("y").as[Double].collect()
    val s2 = SdeForecast.simulateOU(spark, 1000, seed = 10).select("y").as[Double].collect()
    assert(s1.length == 1000 && s1.sameElements(s2))
    assert(s1(0) == 2.0) // starts at mu
  }

  test("POD coefficients reconstruct window energy (top mode dominates)") {
    val series = SdeForecast.simulateOU(spark, 300, seed = 10)
    val windows = graft.operators.SlidingWindows.featurize(
      series, col("idx"), col("y"), 10, 5)
    val coeffs = SdeForecast.podCoefficients(windows, nModes = 3)
    val row = coeffs.head()
    assert(row.getAs[collection.Seq[Double]]("coeff").size == 3)
  }

  test("SDE forecast loop runs end-to-end and grows train set") {
    val scorerFor = (lbl: String) =>
      TreeEnsembleScorer((0 until 10).map(i => s"h$i"), lbl, n = 2, maxDepth = 4)
    val (train, iters) = SdeForecast.run(spark, scorerFor, n = 400,
      initK = 30, iterations = 2, batch = 10)
    assert(iters.size == 2)
    assert(iters.forall(i => !i.mae.isNaN && i.mae >= 0))
    assert(iters(1).trainSize > iters(0).trainSize - 10) // grew by batch each iter
  }

  test("deterministic trace: 9 unique picks cycling se/us/us_lw, us = corner argmax") {
    val trace = ActiveSampling.deterministicTrace(spark)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(trace.length == 9)
    assert(trace.map(_._3).distinct.length == 9, "picks must never repeat")
    assert((1 to 3).forall(i =>
      trace.filter(_._1 == i).map(_._2).sorted.toSeq == Seq("se", "us", "us_lw")))
    // var = 0.05 + 0.3*(x1²+x2²) peaks at the four grid corners (0.65) —
    // the US explorer must take them in id order (deterministic tie-break)
    val us = trace.filter(_._2 == "us").sortBy(_._1)
    assert(us.map(_._3).startsWith(Seq(0L, 49L)), s"us picks: ${us.toSeq}")
    assert(us.forall(p => math.abs(p._4 - 0.65) < 1e-9))
  }

  test("SDE forecast scores ALL five horizons (summed L1, reference SDE:220)") {
    // analytic per-horizon scorer: pred_h = y_h + 0.1*(h+1) exactly, so every
    // window's summed L1 error is 0.1*(1+2+3+4+5) = 1.5 — the mae equals 1.5
    // ONLY if all five horizon models contribute to the ranking error
    val scorerFor = (lbl: String) => {
      val bias = 0.1 * (lbl.drop(1).toInt + 1)
      AnalyticScorer(_ => col(lbl) + lit(bias), _ => lit(0.0))
    }
    val (_, iters) = SdeForecast.run(spark, scorerFor, n = 200,
      initK = 20, iterations = 1, batch = 5)
    assert(math.abs(iters.head.mae - 1.5) < 1e-9, s"mae ${iters.head.mae}")
  }
}
