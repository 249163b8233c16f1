package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Deterministic CPU canary for the bench artifacts.
  *
  * The bench host carries heavy, varying external load: the sf1 pin
  * moved 1.44x between rounds 9 and 11 on UNCHANGED code, and that
  * drift had to be adjudicated by inference from standalone re-runs.
  * This kernel turns host speed into DATA: a fixed-iteration SplitMix64
  * mixing loop (integer-only, branch-free, cache-resident — immune to
  * JIT profile differences across runs of the same build) measured
  * single-threaded and at the bench session's full width, before and
  * after the query sweep. Ratios of canary seconds between two
  * artifacts estimate the host-speed component of any per-query swing;
  * `scripts/bench_compare.py` reports canary-normalized ratios
  * alongside raw ones. */
object HostCanary {
  @volatile var sink: Long = 0 // defeats dead-code elimination

  private def kernel(iters: Long, seed: Long): Long = {
    var x = seed
    var acc = 0L
    var i = 0L
    while (i < iters) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    acc
  }

  /** Wall seconds for `threads` concurrent kernels of `iters` each.
    * Each thread writes its own slot; the XOR fold into `sink` happens
    * after join() — no cross-thread read-modify-write races. */
  def measure(threads: Int, iters: Long): Double = {
    val results = new Array[Long](threads)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => { results(t) = kernel(iters, t + 1L) })
      th.start(); th
    }
    ts.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    sink ^= results.foldLeft(0L)(_ ^ _)
    elapsed
  }

  /** (single-thread seconds, `threads`-thread seconds). One small warmup
    * run JIT-compiles the kernel so the measured runs compare steady state. */
  def sample(threads: Int): (Double, Double) = {
    measure(1, 10_000_000L) // warmup: force C2 compilation
    val st = measure(1, 400_000_000L)
    val mt = measure(threads, 400_000_000L)
    (st, mt)
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Warm the session so the first measured query doesn't absorb one-time
    // costs: codegen/JIT compilation, parquet footer+page readers for EVERY
    // fixture table (the first documents scan alone was ~17 s of apparent
    // "query time" in cold runs), and the regex/HOF/hash/window expression
    // classes the suite leans on.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents", "embeddings"))
        Tables.load(spark, sfDir, t).count()
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), lower(col("text")).as("t"))
        .limit(200)
        .select(
          md5(regexp_replace(col("t"), "[^a-z0-9 ]", "").cast("binary")).as("m"),
          xxhash64(col("t")).as("x"),
          size(filter(split(trim(col("t")), "\\s+"), w => length(w) > 2)).as("f"),
          aggregate(split(trim(col("t")), "\\s+"), lit(0L),
            (acc, w) => acc + length(w)).as("a"))
        // double-sum the hashes: ANSI mode makes sum(random longs) an
        // ARITHMETIC_OVERFLOW, which aborted the whole warmup block mid-run
        .agg(count(col("m")), sum(col("x").cast("double")),
          sum(col("f")), sum(col("a")))
        .collect()
      val ev = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("value")).limit(20000)
      ev.withColumn("s", sum("value").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(col("event_id"), lit(8))).orderBy("event_id")
            .rowsBetween(-5, 0)))
        .agg(sum("s")).collect()
    } catch { case e: Throwable =>
      System.err.println(s"BENCH WARMUP FAIL: ${e.getClass.getName}: ${e.getMessage}")
    }
    // Host load bracketing: the bench host carries heavy EXTERNAL load
    // (2-7x phantom swings on identical code across rounds) — record
    // /proc/loadavg before and after so a reader can separate host jitter
    // from real regressions without a local re-run.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(" ")
      catch { case _: Exception => "unavailable" }
    val loadBefore = loadavg()
    // measured host speed (see HostCanary): bracket the sweep so drift
    // DURING the run is visible too, not just between rounds
    val canaryThreads = spark.sparkContext.defaultParallelism
    val (canStB, canMtB) = HostCanary.sample(canaryThreads)
    var failed = List.empty[String]
    // The host carries heavy external load (observed ±50% swings on
    // identical code between driver rounds); report steady-state as the
    // per-query MEDIAN of `reps` warm runs, with the cold first run split
    // out separately. Sub-0.3 s queries take one warm run — noise at that
    // magnitude can't change the story and re-runs would double the sweep.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // optional name filter for local profiling (comma-separated substrings);
    // the driver sets nothing and gets the full sweep
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.isEmpty || only.exists(n.contains)
    }
    val results = selected.map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        // queryExecution.toRdd runs the plan AS WRITTEN: df.count() would
        // let Catalyst prune every computed column that doesn't affect
        // cardinality, under-measuring pure-projection queries.
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case e: Throwable =>
          if (!failed.contains(name)) failed ::= name
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // sweep each query's dead localCheckpoint pins after its reps —
      // accumulated dead blocks (tens of GB over the suite) caused the
      // historical back-half eviction/GC swings (see DeadPins)
      val pins = DeadPins.snapshot(spark)
      val cold = once()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val warm = Seq.fill(if (cold > 0.3) reps else 1)(once())
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      DeadPins.sweep(spark, pins)
      (name, cold, median(warm), compiles)
    }
    def perQuery(v: ((String, Double, Double, Long)) => Any): String =
      results.map(r => "\"" + r._1 + "\":" + v(r)).mkString("{", ",", "}")
    val total = results.map(_._3).sum
    val failedJson = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val (canStA, canMtA) = HostCanary.sample(canaryThreads)
    val canaryJson = s"""{"st_before":$canStB,"mt_before":$canMtB,""" +
      s""""st_after":$canStA,"mt_after":$canMtA,"threads":$canaryThreads,"iters":400000000}"""
    // compiles: Janino compilations over each query's warm reps (0 when
    // all its generated classes are still in the codegen cache)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${perQuery(_._3)},"cold":${perQuery(_._2)},"compiles":${perQuery(_._4)},"reps":$reps,"failed":$failedJson,"canary":$canaryJson,"load_before":"$loadBefore","load_after":"${loadavg()}","sf":"$sfDir"}""")
    spark.stop()
  }
}
