package perfbench

import graft.{DeadPins, GraftSession, HostCanary, SparkEntry, Tables}
import graft.ml.{Scorer, ScorerModel, TreeEnsembleScorer}
import graft.pipelines.{ActiveSampling, ActiveSamplingConfig}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One unit of work in a pass: a registry query or one pipeline run.
  * Returns the digest of its output. */
final case class Op(name: String, run: () => Digest)

trait Workload {
  /** Loads and touches this workload's inputs in a fresh session. */
  def setup(spark: SparkSession): Unit
  def ops(pass: Int): Seq[Op]
  /** Expected digest of an op, if one is committed for it. */
  def expected(op: String): Option[String]
  /** Extra per-output checks that hold for every seed. */
  def invariant(op: String): Option[String] = None
}

/** Registry queries over the committed fixture tables. The seed only
  * shuffles the query order of each pass. */
final class RegistryWorkload(queries: Seq[String], tables: Seq[String],
                             dataDir: String, seed: Long,
                             digests: Map[String, String], ctx: Ctx)
    extends Workload {
  private def spark = ctx.spark

  def setup(spark: SparkSession): Unit =
    tables.foreach(t => Tables.load(spark, dataDir, t).count())

  def ops(pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      .map(q => Op(q, () => runQuery(q)))

  private def runQuery(q: String): Digest = {
    val fn = SparkEntry.queries(q)
    val df = ctx.tracer.span("queries.construct") { fn(spark, dataDir) }
    val d = ctx.tracer.span("queries.execute") { Digest.of(df) }
    ctx.tracer.plan(df.queryExecution)
    d
  }

  def expected(op: String): Option[String] = digests.get(op)
}

/** The paper's flagship loop: Bayesian active sampling over a 2-d pool
  * drawn from the seed. */
final class LoopWorkload(seed: Long, iterations: Int, digests: Map[String, String],
                         ctx: Ctx) extends Workload {
  val PoolSize = 10000
  // pool and train are checkpointed after the last iteration, so the
  // lineage-truncation path runs on every pass
  private val cfg = ActiveSamplingConfig(initSize = 100, iterations = iterations,
    seed = seed, kdeGridSize = 1024, checkpointEvery = iterations)
  private var pool: DataFrame = _

  /** Uniform points in [-1,1]^2 with the reference's test surface. */
  private def points: Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    (0 until PoolSize).map { i =>
      val x1 = rnd.nextDouble() * 2 - 1
      val x2 = rnd.nextDouble() * 2 - 1
      Row(i.toLong, x1, x2, x1 * x1 * x1 - x1 + x2 * x2 + 0.5 * math.sin(8 * x1 * x2))
    }
  }

  def setup(spark: SparkSession): Unit = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("x1", DoubleType), StructField("x2", DoubleType),
      StructField("y", DoubleType)))
    // fixed slicing: the init sample's rand(seed) depends on partitioning
    pool = spark.createDataFrame(spark.sparkContext.parallelize(points, 4), schema)
    pool.count()
  }

  def ops(pass: Int): Seq[Op] = Seq(Op("active_sampling", () => runLoop()))

  private var lastInvariant: Option[String] = None

  private def runLoop(): Digest = {
    val scorer = new TimedScorer(TreeEnsembleScorer(Seq("x1", "x2"), n = 2), ctx.tracer)
    val (train, ms) = ctx.tracer.span("pipelines.run") {
      ActiveSampling.run(ctx.spark, pool, scorer, cfg)
    }
    val rows = ctx.tracer.span("bench.check") {
      train.select("id", "explorer").collect().toSeq.map(r => Seq(r.getLong(0), r.getString(1)))
    }
    val ids = rows.map(_.head.asInstanceOf[Long])
    val want = cfg.initSize + 3 * cfg.iterations
    lastInvariant =
      if (ids.size != want || ids.distinct.size != want) Some(s"train has ${ids.size} rows, ${ids.distinct.size} distinct, want $want")
      else if (ids.exists(i => i < 0 || i >= PoolSize)) Some("train id outside the pool")
      else ms.zipWithIndex.collectFirst {
        case (m, i) if m.trainSize != cfg.initSize + 3 * (i + 1) ||
            m.trainSize + m.poolSize != PoolSize ||
            !(m.mse >= 0 && m.meanVar >= 0 && m.logPdfError >= 0) ||
            m.mse.isInfinite || m.logPdfError.isInfinite => s"bad metrics at iteration ${m.iter}: $m"
      }
    val metricRows = ms.map(m => Seq(m.iter.toLong, m.mse, m.meanVar, m.logPdfError,
      m.trainSize, m.poolSize))
    val a = Digest.ofValues(rows)
    Digest(a.rows, a.hash + Digest.mix(Digest.ofValues(metricRows).hash))
  }

  def expected(op: String): Option[String] = digests.get(s"seed$seed")
  override def invariant(op: String): Option[String] = lastInvariant
}

/** Times the scorer the benchmark hands to the pipeline. Scoring is lazy,
  * so `ml.score` covers plan building only; its execution lands in the
  * pipeline span. */
final class TimedScorer(inner: Scorer, @transient tracer: Tracer) extends Scorer {
  def fit(train: DataFrame): ScorerModel = {
    val m = tracer.span("ml.fit") { inner.fit(train) }
    new ScorerModel {
      def score(df: DataFrame): DataFrame = tracer.span("ml.score") { m.score(df) }
    }
  }
}

final class Ctx(var spark: SparkSession, var tracer: Tracer)

object PerfBench {
  /** Registry workloads: (queries, fixture tables their set-up warms). */
  val Workloads: Map[String, (Seq[String], Seq[String])] = Map(
    "graph_iterate" -> ((Seq("q133_kcore"), Seq("lineitem"))),
    "quality_scan" -> ((Seq("q131_fuzzy_name_pairs", "q148_rank_sketch_quantiles",
      "q84_duplicated_spans"), Seq("customer", "lineitem", "documents"))))
  /** Per-layer metrics of the traced run, in report order. Times, counts
    * and sizes are medians over the traced warm passes; `cold.*` are from
    * the cold pass. */
  val PerLayer: Seq[String] = Seq(
    "queries.construct_s", "queries.construct_jobs", "queries.execute_s",
    "queries.self_s", "pipelines.self_s",
    "ml.fit_s", "ml.fit_calls", "ml.fit_jobs", "ml.score_s", "ml.self_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.tasks_failed", "scheduler.idle_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.core_util",
    "shuffle.read_mb", "shuffle.write_mb", "shuffle.spill_mb",
    "pins.created", "pins.swept", "pins.storage_mb", "pins.self_s",
    "artifacts.dirs_created", "artifacts.written_mb",
    "cold.artifacts.dirs_created", "cold.artifacts.written_mb",
    "bench.self_s", "trace.warm_s", "trace.overhead_s", "trace.unbalanced_passes")
  val LoopIterations = 1
  /** Passes after the cold one: (untimed warm-up passes, measured passes).
    * Fixed counts, so every run sits at the same place on the warm-up
    * curve; `--seconds` can only add passes. */
  val Passes: Map[String, (Int, Int)] = Map(
    "bdqa_loop" -> ((2, 3)), "graph_iterate" -> ((4, 6)), "quality_scan" -> ((2, 4)))

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def readMap(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else """"([^"]+)"\s*:\s*"([^"]+)"""".r
      .findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "unavailable" }

  /** (steal, total) jiffies of all cpus, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  private def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** (top-level entries, total bytes) under a directory. */
  private def dirState(root: Path): (Set[String], Long) = {
    val top = Files.list(root).iterator().asScala.map(_.getFileName.toString).toSet
    val bytes = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p)).map(p => try Files.size(p) catch { case _: Exception => 0L }).sum
    (top, bytes)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Cpu time of this JVM, all threads, in ns (clock-tick resolution).
    * Time the hypervisor gives to other guests (steal) and time spent
    * waiting for a cpu held by another process are not charged to it. */
  private def processCpu(): Long = os.getProcessCpuTime

  /** Cpu time of the JIT compiler threads, in ns, from /proc (the JVM runs
    * with a fixed set of them, so none exits and takes its time along). */
  private def jitCpu(): Long =
    try Files.list(Paths.get("/proc/self/task")).iterator().asScala.map { t =>
      try {
        if (!Files.readString(t.resolve("comm")).contains("CompilerThre")) 0L
        else Files.readString(t.resolve("schedstat")).trim.split("\\s+")(0).toLong
      } catch { case _: Exception => 0L }
    }.sum catch { case _: Exception => 0L }

  /** Waits until the JIT compiler threads have been idle for 200 ms (under
    * 2 ms of cpu in every 20 ms), for at most 15 s. A measurement that ends
    * here holds the compilations its own work queued, and leaves none to
    * the next. */
  private def quiesce(): Unit = {
    val start = System.nanoTime()
    var last = jitCpu()
    var idleSince = start
    while (System.nanoTime() - idleSince < 200000000L &&
        System.nanoTime() - start < 15000000000L) {
      Thread.sleep(20)
      val now = jitCpu()
      if (now - last > 2000000L) idleSince = System.nanoTime()
      last = now
    }
  }

  private def canary(cpus: Int): (Double, Double) = {
    HostCanary.measure(1, 10_000_000L) // JIT warm-up of the kernel
    (HostCanary.measure(1, 50_000_000L), HostCanary.measure(cpus, 50_000_000L))
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val traced = arg(args, "--trace").contains("1")
    val dataDir = arg(args, "--data").get
    val expectedDir = Paths.get(arg(args, "--expected").get)
    val out = Paths.get(arg(args, "--out").get)
    val record = args.contains("--record")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    val ctx = new Ctx(null, null)
    val w: Workload = workload match {
      case "bdqa_loop" => new LoopWorkload(seed, LoopIterations,
        readMap(expectedDir.resolve("bdqa_loop.json")), ctx)
      case name if Workloads.contains(name) => new RegistryWorkload(Workloads(name)._1,
        Workloads(name)._2, dataDir, seed, readMap(expectedDir.resolve("registry.json")), ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, from process start until the first pass can begin: wall
    // time, and cpu time once the compilations it queued are done
    ctx.spark = GraftSession.local()
    ctx.spark.sparkContext.setLogLevel("ERROR")
    w.setup(ctx.spark)
    val setupWall = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    quiesce()
    val setupCpu = processCpu() / 1e9
    val spark = ctx.spark
    ctx.tracer = new Tracer(spark.sparkContext)
    val tracer = ctx.tracer
    if (traced) tracer.listen(spark)

    val loadBefore = loadavg()
    val jiffiesBefore = cpuJiffies()
    val canaryBefore = canary(cpus)
    quiesce()

    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val firstDigest = mutable.HashMap.empty[String, String]
    val observed = mutable.LinkedHashMap.empty[String, String]

    def runOp(op: Op): Unit = {
      attempted += 1
      tracer.op = op.name
      val before = DeadPins.snapshot(spark)
      val art = if (tracer.enabled) Some(dirState(tmp)) else None
      val got = try Right(op.run()) catch { case e: Throwable => Left(e) }
      tracer.span("pins.sweep") {
        val created = DeadPins.snapshot(spark) -- before
        if (tracer.enabled) {
          tracer.add("pins.created", created.size)
          tracer.add("pins.swept", created.size)
          tracer.add("pins.storage_mb", spark.sparkContext.getRDDStorageInfo
            .filter(r => created.contains(r.id)).map(r => r.memSize + r.diskSize).sum / 1048576.0)
        }
        DeadPins.sweep(spark, before)
      }
      art.foreach { case (top0, bytes0) =>
        val (top1, bytes1) = dirState(tmp)
        tracer.add("artifacts.dirs_created", (top1 -- top0).size)
        tracer.add("artifacts.written_mb", math.max(0L, bytes1 - bytes0) / 1048576.0)
      }
      got match {
        case Left(e) =>
          failures += s"${op.name}: ${e.getClass.getName}: ${e.getMessage}".take(300)
        case Right(d) =>
          val s = d.toString
          observed(op.name) = s
          val prev = firstDigest.getOrElseUpdate(op.name, s)
          val problem =
            if (prev != s) Some(s"output $s differs from the first pass's $prev")
            else if (!record && w.expected(op.name).exists(_ != s))
              Some(s"output $s, expected ${w.expected(op.name).get}")
            else if (!record && w.expected(op.name).isEmpty && w.isInstanceOf[RegistryWorkload])
              Some("no expected digest committed")
            else w.invariant(op.name)
          problem.foreach(p => failures += s"${op.name}: $p")
      }
    }

    val stealEach = mutable.ArrayBuffer.empty[Double]
    val cpuOf = mutable.HashMap.empty[Int, Double]
    // wall time of the pass; its cpu time, up to the end of the compilations
    // it queued, goes to cpuOf
    def pass(p: Int, traceIt: Boolean): Double = {
      val j0 = cpuJiffies()
      val c0 = processCpu()
      tracer.beginPass(p, traceIt)
      val t0 = System.nanoTime()
      tracer.span("bench.pass") { w.ops(p).foreach(runOp) }
      val t1 = System.nanoTime()
      tracer.beginPass(p, traced = false)
      quiesce()
      cpuOf(p) = (processCpu() - c0) / 1e9
      val j1 = cpuJiffies()
      stealEach += stealShare(j0, j1)
      (t1 - t0) / 1e9
    }

    val (warmups, measured) = Passes(workload)
    val cold = pass(0, traced)
    (1 to warmups).foreach(pass(_, traceIt = false))
    val warm = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val t0 = System.nanoTime()
    var p = warmups + 1
    // traced run: traced and untraced passes in ABBA order (t u u t ...),
    // so both sit at the same mean place on the warm-up curve and their
    // difference is the tracing overhead
    val need = if (traced) measured + 1 else measured
    while ((System.nanoTime() - t0) / 1e9 < seconds || warm.size < need) {
      val traceIt = traced && (warm.size % 4 == 0 || warm.size % 4 == 3)
      warm += ((p, traceIt, pass(p, traceIt)))
      p += 1
    }

    val canaryAfter = canary(cpus)
    val loadAfter = loadavg()
    val jiffiesAfter = cpuJiffies()
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val untracedWarm = warm.filterNot(_._2).map(_._3).toSeq
    val untracedCpu = warm.filterNot(_._2).map(x => cpuOf(x._1)).toSeq
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val wall = mutable.LinkedHashMap.empty[String, (Double, String)]
    val extra = mutable.LinkedHashMap.empty[String, String]
    if (!traced) {
      metrics("setup_s") = (setupCpu, "s")
      metrics("cold_cpu_s") = (cpuOf(0), "s")
      // cpu time adds up: the mean over the measured passes is their total
      // work per pass, steadier than a median of a few passes still on the
      // warm-up curve
      metrics("warm_cpu_s") = (untracedCpu.sum / untracedCpu.size, "s")
      metrics("heap_retained_mb") = (heapMb, "MB")
      wall("setup_wall_s") = (setupWall, "s")
      wall("cold_s") = (cold, "s")
      wall("warm_s") = (median(untracedWarm), "s")
    } else {
      val tracedPasses = warm.filter(_._2).map(_._1).toSeq
      val perPass = tracedPasses.map(tp => tracer.passMetrics(tp, cpus))
      val coldM = tracer.passMetrics(0, cpus)
      val tracedWarm = median(warm.filter(_._2).map(_._3).toSeq)
      // passes whose spans are malformed or whose self times do not add up
      // to the wall time pass() measured on its own clock
      val wallOf = (warm.map(x => x._1 -> x._3) += (0 -> cold)).toMap
      val problems = (0 +: tracedPasses).map(tp => tp -> tracer.problems(tp, wallOf(tp)))
        .filter(_._2.nonEmpty)
      val unbalanced = problems.size
      problems.flatMap { case (tp, ps) => ps.map(x => s"pass $tp: $x") }.take(5)
        .zipWithIndex.foreach { case (x, i) => extra(s"trace_problem_$i") = x }
      val values = perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap ++ Map(
        "cold.artifacts.dirs_created" -> coldM("artifacts.dirs_created"),
        "cold.artifacts.written_mb" -> coldM("artifacts.written_mb"),
        "trace.warm_s" -> tracedWarm,
        "trace.overhead_s" -> (tracedWarm - median(untracedWarm)),
        "trace.unbalanced_passes" -> unbalanced.toDouble)
      PerLayer.foreach { k =>
        val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
          else if (k.endsWith("_util")) "ratio" else "count"
        metrics(k) = (values(k), unit)
      }
      val dump = out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".spans.json")
      Files.writeString(dump, tracer.dumpJson(s"$workload-seed$seed"))
      extra("span_dump") = dump.toString
    }
    extra("warm_passes") = untracedWarm.size.toString
    extra("warm_each_s") = untracedWarm.map(x => f"$x%.3f").mkString(" ")
    // every pass in order: cold, warm-up, measured
    extra("cpu_each_s") = cpuOf.toSeq.sorted.map(x => f"${x._2}%.2f").mkString(" ")
    extra("warmup_passes") = warmups.toString
    extra("steal_each") = stealEach.map(x => f"$x%.3f").mkString(" ")
    extra("cpus") = cpus.toString
    extra("canary_before") = f"st=${canaryBefore._1}%.3f mt=${canaryBefore._2}%.3f"
    extra("canary_after") = f"st=${canaryAfter._1}%.3f mt=${canaryAfter._2}%.3f"
    extra("load_before") = loadBefore
    extra("load_after") = loadAfter
    // cpu time the hypervisor gave to other guests while the passes ran
    extra("steal_share") = f"${stealShare(jiffiesBefore, jiffiesAfter)}%.4f"
    extra("fail_frac") = (failures.size.toDouble / attempted).toString

    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = new StringBuilder("{")
    json.append(s""""attempted":$attempted,"failed":${failures.size},""")
    def values(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${q(k)}:{\"value\":$v,\"unit\":${q(u)}}" }
    json.append(values(metrics).mkString("\"metrics\":{", ",", "},"))
    json.append(values(wall).mkString("\"wall\":{", ",", "},"))
    json.append(extra.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("\"host\":{", ",", "},"))
    json.append(failures.map(q).mkString("\"failures\":[", ",", "],"))
    json.append(observed.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("\"digests\":{", ",", "}"))
    json.append("}\n")
    Files.writeString(out, json.toString)
    spark.stop()
  }
}
