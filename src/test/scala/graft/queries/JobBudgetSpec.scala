package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.functions.Pdfs
import graft.ml.TreeEnsembleScorer
import graft.pipelines.{ActiveSampling, ActiveSamplingConfig}
import org.apache.spark.sql.functions._

/** Spark jobs a registered query submits at sf0.001, build (the eager
  * work inside its `fn(spark, sfDir)`) plus execution, held to a budget.
  * Job counts are deterministic at a fixed session conf, so host load
  * cannot move them; a budget may always go down. */
class JobBudgetSpec extends SparkSpec {

  test("q133_kcore stays in its job budget") {
    // one fixture read, the capped edge-list collect (3: the self-join's
    // and the distinct's shuffle stages) and the output sort (1: kCore's
    // leaf frame is one partition, so the sort needs no range exchange);
    // LinkAnalysis.kCore's pinned distributed loop, forced with
    // localMaxEdges = 0, submits 31 on the same graph
    val budget = 5
    def run(): Unit = SparkEntry.queries("q133_kcore")(spark, sf001).collect()
    run() // cold: first reads of the fixture tables
    val (_, submitted) = withJobCount(run())
    assert(submitted <= budget, s"q133_kcore submitted $submitted jobs")
  }

  test("q77_semantic_keepers stays in its job budget") {
    // Dedup.clusters returns its last round's pin, so the query reads the
    // labels twice without pinning them again (45 when it did)
    val budget = 44
    def run(): Unit = SparkEntry.queries("q77_semantic_keepers")(spark, sf001).collect()
    run() // cold
    val (_, submitted) = withJobCount(run())
    assert(submitted <= budget, s"q77_semantic_keepers submitted $submitted jobs")
  }

  test("q156 and q170 size the robots literal without a job") {
    // both pass the planted robots table's length as robotsSizeHint, so
    // Robots.verdicts neither pins nor counts it (a job each before)
    for ((q, budget) <- Seq("q156_robots_filter" -> 5, "q170_sitemap_seeds" -> 6)) {
      def run(): Unit = SparkEntry.queries(q)(spark, sf001).collect()
      run() // cold
      val (_, submitted) = withJobCount(run())
      assert(submitted <= budget, s"$q submitted $submitted jobs")
    }
  }

  test("a tree-ensemble fit under its row cap stays in its job budget") {
    // the capped scan of the training rows: one job reads the checkpoint's
    // 4 partitions (RDD.take's growing scans took 2); both members grow on
    // the driver. spark.ml's DecisionTreeRegressor, forced with
    // localMaxRows = 0, submits 22 for the same two depth-8 members
    val budget = 1
    val train = spark.range(100)
      .select((col("id") % 10 / 4.5 - 1).as("x1"), (floor(col("id") / 10) / 4.5 - 1).as("x2"))
      .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
      .localCheckpoint()
    val scorer = TreeEnsembleScorer(Seq("x1", "x2"), n = 2)
    scorer.fit(train) // cold
    val (_, submitted) = withJobCount(scorer.fit(train))
    assert(submitted <= budget, s"the fit submitted $submitted jobs")
  }

  test("an active-sampling iteration stays in its job budget") {
    // one pass over the scored pool (metrics, row count, pred-KDE), the
    // explorers' step and the refit's capped scan; a pinning iteration
    // adds the pool's and the train set's pins. Measured as the jobs of a
    // run with one iteration more (it took 18 when the metrics, the KDE,
    // the integral and the sizes each ran their own jobs)
    val pool = spark.range(400)
      .select(col("id"), (col("id") % 20 / 9.5 - 1).as("x1"),
        (floor(col("id") / 20) / 9.5 - 1).as("x2"))
      .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
      .localCheckpoint()
    val scorer = TreeEnsembleScorer(Seq("x1", "x2"), n = 2)
    def jobs(iterations: Int, checkpointEvery: Int): Int = {
      val cfg = ActiveSamplingConfig(initSize = 40, iterations = iterations,
        kdeGridSize = 128, checkpointEvery = checkpointEvery)
      def run(): Unit = ActiveSampling.run(spark, pool, scorer, cfg)._1.collect()
      run() // cold
      withJobCount(run())._2
    }
    val plain = jobs(2, 10) - jobs(1, 10)
    val pinning = jobs(2, 1) - jobs(1, 1)
    assert(plain <= 3, s"an iteration submitted $plain jobs")
    assert(pinning <= 5, s"a pinning iteration submitted $pinning jobs")
  }
}
