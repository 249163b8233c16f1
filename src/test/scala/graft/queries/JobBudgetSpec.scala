package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Spark jobs a registered query submits at sf0.001, build (the eager
  * work inside its `fn(spark, sfDir)`) plus execution, held to a budget.
  * Job counts are deterministic at a fixed session conf, so host load
  * cannot move them; a budget may always go down. */
class JobBudgetSpec extends SparkSpec {

  test("q133_kcore stays in its job budget") {
    // one fixture read, the capped edge-list collect (3: the self-join's
    // and the distinct's shuffle stages) and the output sort (3: range
    // sample, map, result); LinkAnalysis.kCore's pinned distributed loop,
    // forced with localMaxEdges = 0, submits 31 on the same graph
    val budget = 7
    def run(): Unit = SparkEntry.queries("q133_kcore")(spark, sf001).collect()
    run() // cold: first reads of the fixture tables
    val (_, submitted) = withJobCount(run())
    assert(submitted <= budget, s"q133_kcore submitted $submitted jobs")
  }
}
