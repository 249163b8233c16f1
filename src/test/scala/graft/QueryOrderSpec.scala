package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}

/** A query's rows must not depend on which registered queries ran before
  * it in the same JVM. q66, q100 and q176 share the curation audit; the
  * runners (Bench/Verify) sweep every query's pins after it, so whichever
  * of the three runs first must not leave the others depending on its
  * pins. */
class QueryOrderSpec extends SparkSpec {

  private val sharedAudit = Seq("q100_curation_audit",
    "q66_corpus_to_dataloader", "q176_trust_gated_curation")

  private def rowHashes(df: DataFrame): Seq[Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(xxhash64(df.columns.map(col).toSeq: _*)).as[Long].collect().toSeq.sorted
  }

  /** Runs `names` in order on a fresh fixture copy (so the artifact cache
    * starts empty), sweeping each query's pins the way the runners do. */
  private def run(names: Seq[String]): Map[String, Seq[Long]] =
    withFixtureCopy { d =>
      names.map { name =>
        val pins = DeadPins.snapshot(spark)
        try name -> rowHashes(SparkEntry.queries(name)(spark, d))
        finally DeadPins.sweep(spark, pins)
      }.toMap
    }

  test("shared-audit queries give the same rows in forward and reversed order") {
    val forward = run(sharedAudit)
    val reversed = run(sharedAudit.reverse)
    sharedAudit.foreach { name =>
      assert(forward(name).nonEmpty, s"$name returned no rows")
      assert(forward(name) == reversed(name), s"$name depends on query order")
    }
  }
}
