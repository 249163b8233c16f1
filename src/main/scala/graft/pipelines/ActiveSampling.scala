package graft.pipelines

import graft.functions.Pdfs
import graft.ml.{Scorer, ScorerModel}
import graft.operators.{CheckpointPolicy, Integrate, Kde, KdeResult, PlanOps, Selection}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Per-iteration convergence metrics — the reference's measurement stage
  * (`BigDataQualityAssessment_ActiveSampling.py:186-219`). */
case class IterationMetrics(iter: Int, mse: Double, meanVar: Double,
                            logPdfError: Double, trainSize: Long, poolSize: Long)

case class ActiveSamplingConfig(
    initSize: Int = 100,
    iterations: Int = 20,
    seed: Long = 42,
    kdeGridSize: Int = 1024,
    kdeBandwidth: Option[Double] = None,
    logPdfClip: Double = -6.0,
    checkpointEvery: Int = 5,
    /** Oracle-parity init sampling: the Efraimidis–Spirakis uniform comes
      * from the 52-bit md5 of `id` (the q26/q54 device) instead of
      * `rand(seed)`, with an id tie-break — every init pick becomes a pure
      * deterministic function of the data, so a SQL engine can replay the
      * WHOLE run (q75). Default false = the seeded-rand production form. */
    portableInitSample: Boolean = false)

/** The flagship pipeline: Bayesian active sampling over a labeled pool —
  * the reference's main driver re-expressed as immutable DataFrame
  * transitions (`BigDataQualityAssessment_ActiveSampling.py:183-278`,
  * SURVEY.md §3.1).
  *
  * Each iteration is a pure function (train, pool, model) → (train', pool',
  * model'): score the pool once, run the three explorers (SE = squared
  * error, US = uncertainty, US-LW = likelihood-weighted uncertainty) as
  * top-1 select-and-moves over the SAME cached scored pool (one job picks
  * all three, [[Selection.selectAndMoveEach]] — the fusion the reference
  * does by reusing arrays), then refit.
  *
  * Scale notes: the scored pool is cached per iteration and pool and train
  * are pinned every `checkpointEvery` iterations to cut union+filter lineage growth
  * (SURVEY.md §7 risk list). An iteration reads the scored pool in ONE pass
  * ([[passOver]]: the convergence sums, the row count, Scott's sums and the
  * pred-KDE's bins together) and once more for the explorers' step (3
  * candidates per explorer and partition), so its cost is O(two pool
  * scans) (the explorers' step is measured up to 4M-row pools, see
  * [[Selection.selectAndMoveEach]]). With the scorer's capped fit scan that
  * is 3 Spark jobs per iteration, 5 when it pins.
  */
object ActiveSampling {

  /** df must carry: id (long, unique), feature columns, y (double).
    * Each iteration reads the scored pool in one pass for all of its
    * metrics and the pred-KDE ([[passOver]]), integrates the log-pdf error
    * on the driver ([[logPdfError]]) and takes the train and pool sizes
    * from arithmetic: the pool counted once by the y-KDE's stats pass, the
    * picks known on the driver. */
  def run(spark: SparkSession, df: DataFrame, scorer: Scorer,
          cfg: ActiveSamplingConfig = ActiveSamplingConfig()): (DataFrame, Seq[IterationMetrics]) = {

    val pool0 = CheckpointPolicy.pin(df)

    // stage 1-2: KDE density profile of y → inverse-density weighted init
    // sample (reference :34-56); the KDE's stats pass also counts the pool,
    // and the sample takes min(initSize, rows) of it
    val (yKde, pool0Rows) = Kde.fitCounted(pool0, col("y"), gridSize = cfg.kdeGridSize,
      bandwidth = cfg.kdeBandwidth)
    val init0 =
      if (cfg.portableInitSample) {
        // E-S key in the log form: u^(1/w) desc ⇔ ln(u)·(1/w) desc, and
        // 1/w = the clamped density — ln avoids pow underflow (q26 lesson)
        val u = graft.functions.TextOps.portableUniform52(col("id").cast("string"))
        pool0
          .withColumn("__es",
            log(u) * greatest(yKde.interpolate(col("y")), lit(1e-12)))
          .orderBy(desc("__es"), col("id"))
          .limit(cfg.initSize)
          .drop("__es")
      } else {
        val weighted = pool0.withColumn("__w",
          lit(1.0) / greatest(yKde.interpolate(col("y")), lit(1e-12)))
        Selection.weightedSample(weighted, col("__w"), cfg.initSize, cfg.seed)
          .drop("__w")
      }
    val init = init0.withColumn("explorer", lit("init"))

    var train = CheckpointPolicy.pin(init)
    var pool = CheckpointPolicy.pin(Selection.removeById(pool0, train, "id"))
    var model: ScorerModel = scorer.fit(train)
    var trainSize = math.min(cfg.initSize.toLong, pool0Rows)

    // the true-density grid for the log-pdf-error metric (reference :199-219)
    val trueKde = yKde

    val metrics = (1 to cfg.iterations).map { it =>
      val scored = model.score(pool).cache()

      // 4a: convergence metrics over the full scored pool (reference
      // :186-219), all from one pass
      val pass = passOver(scored, cfg.kdeGridSize, (trueKde.gridMin, trueKde.gridMax))
      val predKde = pass.kde.result(cfg.kdeBandwidth)
      val logPdfErr = logPdfError(trueKde, predKde, cfg.logPdfClip)

      // 4b-4d: three explorers off the same scored scan (reference :222-269)
      val usLwScore = (lit(1.0) / greatest(predKde.interpolate(col("pred")), lit(1e-12))) * col("var")
      val (nextPool, nextTrain, moved) = Selection.selectAndMoveEach(scored, train,
        Seq("se" -> pow(col("pred") - col("y"), 2), "us" -> col("var"),
          "us_lw" -> usLwScore), "id")
      // the moved rows are a driver-side leaf: collecting them runs no job
      val movedIds = moved.select("id").collect()
      trainSize += movedIds.length
      val poolSize = pass.kde.rows - movedIds.filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct.length

      pool = nextPool.drop("pred", "var")
      train = nextTrain
      if (it % cfg.checkpointEvery == 0) {
        pool = CheckpointPolicy.pin(pool)
        train = CheckpointPolicy.pin(train)
      }
      scored.unpersist()

      // 4e: refit on the grown train set (reference :271-273)
      model = scorer.fit(train)

      IterationMetrics(it, pass.mse, pass.meanVar, logPdfErr, trainSize, poolSize)
    }

    (train, metrics)
  }

  /** One iteration's reading of the scored pool: `avg(pow(pred - y, 2))`,
    * `avg(var)` and the pred-KDE's [[Kde.Partial]] over `bounds`. */
  private[pipelines] final class Pass(gridSize: Int, bounds: (Double, Double))
      extends Serializable {
    val kde = new Kde.Partial(gridSize, Some(bounds))
    private var se, variance = 0.0
    private var seRows, varRows = 0L

    /** Adds one (pred, 1.0, y, var) row. */
    def add(r: InternalRow): Unit = {
      kde.add(r, 0, 1)
      if (!r.isNullAt(0) && !r.isNullAt(2)) {
        se += StrictMath.pow(r.getDouble(0) - r.getDouble(2), 2.0)
        seRows += 1
      }
      if (!r.isNullAt(3)) { variance += r.getDouble(3); varRows += 1 }
    }

    def merge(o: Pass): Pass = {
      kde.merge(o.kde)
      se += o.se; seRows += o.seRows
      variance += o.variance; varRows += o.varRows
      this
    }

    def mse: Double = se / seRows.toDouble
    def meanVar: Double = variance / varRows.toDouble
  }

  /** The iteration's one job over the (cached) scored pool: each partition
    * folds its rows from 0.0 in row order, and the driver merges the
    * partitions in partition order — the order of Spark's partial and
    * final aggregates — so every metric equals the Catalyst aggregate's to
    * the bit (`pow` is `StrictMath.pow`, as Spark's codegen calls it). */
  private[pipelines] def passOver(scored: DataFrame, gridSize: Int,
                                  bounds: (Double, Double)): Pass =
    PlanOps.foldPartitions(scored.select(col("pred"), lit(1.0), col("y"), col("var"))) { rows =>
      val p = new Pass(gridSize, bounds)
      rows.foreach(p.add)
      p
    }.foldLeft(new Pass(gridSize, bounds))(_ merge _)

  /** The reference's log-pdf error (:199-219): the trapezoid integral over
    * the true KDE's grid of |clip(log p_pred) − clip(log p_true)|, p_pred
    * interpolated at each grid point, non-finite differences dropped. On
    * the driver over the two pdf arrays, in Spark's arithmetic (`log` is
    * `StrictMath.log`; `greatest` keeps its first argument on ties), so
    * the value is the grid frame's through [[Integrate.trapz]] to the bit. */
  private[pipelines] def logPdfError(trueKde: KdeResult, predKde: KdeResult,
                                     clip: Double): Double = {
    def clipLog(p: Double): Double =
      Kde.greatest(clip, StrictMath.log(Kde.greatest(p, 1e-300)))
    val pts = trueKde.gridX.zip(trueKde.pdf).map { case (x, pTrue) =>
      (x, math.abs(clipLog(predKde.interpolateValue(x)) - clipLog(pTrue)))
    }.filter { case (_, d) => !d.isNaN && !d.isInfinite }
    Integrate.trapz(pts.map(_._1), pts.map(_._2))
  }

  /** Metrics as a DataFrame (the reference's convergence-curve output,
    * S7 sink replacement). */
  def metricsDF(spark: SparkSession, ms: Seq[IterationMetrics]): DataFrame = {
    import spark.implicits._
    ms.toDF()
  }

  /** Deterministic flagship-loop trace (the q54 oracle gate): runs the REAL
    * active-sampling machinery — inverse-density Efraimidis–Spirakis init
    * sample, then per iteration the three explorers' top-1 picks (SE / US /
    * US-LW, [[Selection.selectAndMoveEach]]) over the shrinking pool — in the
    * oracle-parity configuration (the q25/q26 convention):
    *
    *   - fixture = the 50×50 grid + synthetic label (the q32 stage-0 set);
    *   - scorer surrogate = closed-form pred/var column expressions (the
    *     tree ensemble is not SQL-replayable; [[AnalyticScorer]] precedent);
    *   - density = a FIXED-parameter Gaussian N(0.5, 0.5) instead of the
    *     refit KDE (the KDE-weighted form stays the flagship `run`,
    *     exercised by unit tests and the entry smoke);
    *   - sampling uniform u = 52-bit md5 of the id (exact in a double on
    *     any engine — the q26 device) instead of rand(seed).
    *
    * Every selection is then a pure deterministic function of the fixture,
    * so DuckDB can replay the full 9-pick trace — init removal included —
    * with a recursive CTE, and any defect in the select-and-move loop
    * (scoring, tie-break, pool bookkeeping) breaks the hash equality.
    * Returns (iter, explorer, selected_id, score). */
  def deterministicTrace(spark: SparkSession, iterations: Int = 3,
                         initK: Int = 100): DataFrame = {
    import graft.operators.{Domain, Sources}
    import spark.implicits._
    def dens(v: Column): Column = {
      val t = (v - lit(0.5)) / lit(0.5)
      exp(lit(-0.5) * (t * t)) / (lit(0.5) * sqrt(lit(2.0) * lit(math.Pi)))
    }
    val pred = Pdfs.syntheticLabel(col("x1") * lit(0.9), col("x2") * lit(0.9))
    val vvar = lit(0.05) + lit(0.3) * (col("x1") * col("x1") + col("x2") * col("x2"))
    val u = graft.functions.TextOps.portableUniform52(col("id").cast("string"))
    val scored = CheckpointPolicy.pin(
      Sources.grid(spark, Domain(Seq((-1.0, 1.0), (-1.0, 1.0))), 50)
        .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
        .select(col("id"), col("y"), pred.as("pred"), vvar.as("var"), u.as("u"))
        .withColumn("se", (col("pred") - col("y")) * (col("pred") - col("y")))
        .withColumn("us", col("var"))
        .withColumn("lw", col("var") / greatest(dens(col("pred")), lit(1e-12)))
        .withColumn("es_key", log(col("u")) * dens(col("y"))))
    val init = CheckpointPolicy.pin(
      scored.orderBy(desc("es_key"), col("id")).limit(initK).select("id"))
    var pool = CheckpointPolicy.pin(Selection.removeById(scored, init, "id"))
    var train = scored.join(broadcast(init), Seq("id"))
      .withColumn("explorer", lit("init"))
    val picks = Seq.newBuilder[(Long, String, Long, Double)]
    val scoreCol = Map("se" -> "se", "us" -> "us", "us_lw" -> "lw")
    for (it <- 1 to iterations) {
      val (p2, t2, moved) = Selection.selectAndMoveEach(pool, train,
        Seq("se", "us", "us_lw").map(nm => nm -> col(scoreCol(nm))), "id")
      moved.collect().foreach { r =>
        val nm = r.getAs[String]("explorer")
        picks += ((it.toLong, nm, r.getAs[Long]("id"), r.getAs[Double](scoreCol(nm))))
      }
      pool = p2; train = t2
    }
    picks.result().toDF("iter", "explorer", "selected_id", "score")
  }
}
