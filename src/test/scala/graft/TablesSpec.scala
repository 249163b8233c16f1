package graft

import org.apache.spark.sql.functions._

class TablesSpec extends SparkSpec {

  test("fanOut probes width without running a job") {
    val target = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 1000, 1, 1).toDF()
    // an aggregate over a one-split scan: the probe reads the leaf's
    // split count and must not run the aggregate's shuffle to get it
    val grouped = narrow.groupBy((col("id") % 7).as("g")).count()
    // an explicit exchange is already cluster-wide: returned as is
    val shuffled = narrow.repartition(2)
    val ((n, g, s), jobs) = withJobCount(
      (Tables.fanOut(narrow), Tables.fanOut(grouped), Tables.fanOut(shuffled)))
    assert(jobs == 0, s"$jobs jobs")
    assert(s eq shuffled)
    assert(n.rdd.getNumPartitions == target && g.rdd.getNumPartitions == target)
    assert(n.count() == 1000L && g.count() == 7L)
  }
}
