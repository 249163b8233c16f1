package graft

/** Plan-inspection utility: prints the formatted physical plan of each (or
  * one named) registered query — used to check that scans are pruned/pushed,
  * dims broadcast, and top-ks plan as TakeOrderedAndProject.
  * Usage: run_class.sh graft.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // the benched session, so plan dumps show the plans that get timed
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
