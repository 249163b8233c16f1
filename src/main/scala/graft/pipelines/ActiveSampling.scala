package graft.pipelines

import graft.functions.Pdfs
import graft.ml.{Scorer, ScorerModel}
import graft.operators.{Integrate, Kde, Selection}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Scale notes: the scored pool is cached per iteration and localCheckpointed
  * every `checkpointEvery` iterations to cut union+filter lineage growth
  * (SURVEY.md §7 risk list); the explorers' step is one scan collecting
  * 3 candidates per explorer and partition, so iteration cost is O(one
  * pool scan) (measured up to 4M-row pools, see
  * [[Selection.selectAndMoveEach]]).
  */
object ActiveSampling {

  /** df must carry: id (long, unique), feature columns, y (double). */
  def run(spark: SparkSession, df: DataFrame, scorer: Scorer,
          cfg: ActiveSamplingConfig = ActiveSamplingConfig()): (DataFrame, Seq[IterationMetrics]) = {

    val pool0 = df.localCheckpoint()

    // stage 1-2: KDE density profile of y → inverse-density weighted init
    // sample (reference :34-56)
    val yKde = Kde.fit(pool0, col("y"), gridSize = cfg.kdeGridSize,
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

    var train = init.localCheckpoint()
    var pool = Selection.removeById(pool0, train, "id").localCheckpoint()
    var model: ScorerModel = scorer.fit(train)

    // the true-density grid for the log-pdf-error metric (reference :199-219)
    val trueKde = yKde

    val metrics = (1 to cfg.iterations).map { it =>
      val scored = model.score(pool).cache()

      // 4a: convergence metrics over the full scored pool (reference :186-219)
      val m = scored.agg(
        avg(pow(col("pred") - col("y"), 2)).as("mse"),
        avg(col("var")).as("mvar")).head()
      val predKde = Kde.fit(scored, col("pred"), gridSize = cfg.kdeGridSize,
        bandwidth = cfg.kdeBandwidth,
        bounds = Some((trueKde.gridMin, trueKde.gridMax)))
      val gridDf = trueKde.toDF(spark).withColumnRenamed("pdf", "p_true")
        .withColumn("p_pred", predKde.interpolate(col("grid_x")))
      val logDiff = gridDf.select(col("grid_x"),
        abs(Pdfs.clipLower(log(greatest(col("p_pred"), lit(1e-300))), cfg.logPdfClip) -
            Pdfs.clipLower(log(greatest(col("p_true"), lit(1e-300))), cfg.logPdfClip)).as("d"))
        .filter(Pdfs.isFinite(col("d")))
      val logPdfErr = Integrate.trapz(logDiff, col("grid_x"), col("d"))
        .head().getDouble(0)

      // 4b-4d: three explorers off the same scored scan (reference :222-269)
      val usLwScore = (lit(1.0) / greatest(predKde.interpolate(col("pred")), lit(1e-12))) * col("var")
      val (nextPool, nextTrain, _) = Selection.selectAndMoveEach(scored, train,
        Seq("se" -> pow(col("pred") - col("y"), 2), "us" -> col("var"),
          "us_lw" -> usLwScore), "id")

      pool = nextPool.drop("pred", "var")
      train = nextTrain
      if (it % cfg.checkpointEvery == 0) {
        pool = pool.localCheckpoint()
        train = train.localCheckpoint()
      }
      scored.unpersist()

      // 4e: refit on the grown train set (reference :271-273)
      model = scorer.fit(train)

      IterationMetrics(it, m.getDouble(0), m.getDouble(1), logPdfErr,
        train.count(), pool.count())
    }

    (train, metrics)
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
    val scored = Sources.grid(spark, Domain(Seq((-1.0, 1.0), (-1.0, 1.0))), 50)
      .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
      .select(col("id"), col("y"), pred.as("pred"), vvar.as("var"), u.as("u"))
      .withColumn("se", (col("pred") - col("y")) * (col("pred") - col("y")))
      .withColumn("us", col("var"))
      .withColumn("lw", col("var") / greatest(dens(col("pred")), lit(1e-12)))
      .withColumn("es_key", log(col("u")) * dens(col("y")))
      .localCheckpoint()
    val init = scored.orderBy(desc("es_key"), col("id")).limit(initK)
      .select("id").localCheckpoint()
    var pool = Selection.removeById(scored, init, "id").localCheckpoint()
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
