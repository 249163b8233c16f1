package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.functions.Pdfs
import graft.ml.TreeEnsembleScorer
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

  test("a tree-ensemble fit under its row cap stays in its job budget") {
    // the capped scan of the training rows: RDD.take reads the first of the
    // checkpoint's 4 partitions, then the other three; both members grow on
    // the driver. spark.ml's DecisionTreeRegressor, forced with
    // localMaxRows = 0, submits 22 for the same two depth-8 members
    val budget = 2
    val train = spark.range(100)
      .select((col("id") % 10 / 4.5 - 1).as("x1"), (floor(col("id") / 10) / 4.5 - 1).as("x2"))
      .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
      .localCheckpoint()
    val scorer = TreeEnsembleScorer(Seq("x1", "x2"), n = 2)
    scorer.fit(train) // cold
    val (_, submitted) = withJobCount(scorer.fit(train))
    assert(submitted <= budget, s"the fit submitted $submitted jobs")
  }
}
