package perfbench

import org.apache.spark.{ListenerDrain, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into a layer, made while running operation `op` on
  * thread `thread`. `parent` is -1 for a pass's root span. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, op: String,
                      thread: Long, startNs: Long, var endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-task numbers the listener keeps, attributed to a span. */
final case class TaskRec(span: Int, launchMs: Long, finishMs: Long,
                         failed: Boolean, runMs: Long, cpuNs: Long,
                         gcMs: Long, readBytes: Long, writeBytes: Long,
                         spillBytes: Long)

/** Attributes jobs, stages and tasks to the span that was open on the
  * driver thread when they were submitted. The span id travels as a
  * local property, which Spark copies into every job and stage event. */
final class LayerListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[(Int, Long)] // (span, submit ms)
  val stages = mutable.ArrayBuffer.empty[(Int, Long)]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageSpan = mutable.HashMap.empty[(Int, Int), Int]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Property)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((spanOf(e.properties), e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = spanOf(e.properties)
      stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = s
      stages += ((s, e.stageInfo.submissionTime.getOrElse(0L)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    def of(f: => Long): Long = if (m == null) 0L else f
    tasks += TaskRec(
      stageSpan.getOrElse((e.stageId, e.stageAttemptId), -1),
      e.taskInfo.launchTime, e.taskInfo.finishTime, e.reason != Success,
      of(m.executorRunTime), of(m.executorCpuTime), of(m.jvmGCTime),
      of(m.shuffleReadMetrics.totalBytesRead),
      of(m.shuffleWriteMetrics.bytesWritten),
      of(m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** Span recorder for the traced run. Spans stay in memory and are
  * written once, when the run ends. With `enabled` off, `span` only
  * runs its body. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  val listener = new LayerListener
  /** Catalyst phases of every action run: (analysis start ms, analysis,
    * optimization, planning seconds). A plan run through
    * `queryExecution.toRdd` raises no event; [[plan]] adds its phases. */
  val actions = mutable.ArrayBuffer.empty[(Long, Double, Double, Double)]
  private val phaseListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      actions.synchronized { actions += phases(qe) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Driver-side values recorded per traced pass (pins, artifacts). */
  val counters = mutable.HashMap.empty[(Int, String), Double]
  private var stack: List[Span] = Nil
  private var pass = -1
  var enabled = false
  var op = ""

  // spans use nanoTime, listener events epoch ms: one fixed offset joins them
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def listen(spark: SparkSession): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(phaseListener)
  }

  def beginPass(p: Int, traced: Boolean): Unit = { pass = p; enabled = traced }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), pass, op,
        Thread.currentThread.getId, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Property, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Property, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def add(key: String, v: Double): Unit =
    if (enabled) counters((pass, key)) = counters.getOrElse((pass, key), 0.0) + v

  def plan(qe: QueryExecution): Unit =
    if (enabled) actions.synchronized { actions += phases(qe) }

  /** Per-layer numbers of one traced pass. */
  def passMetrics(p: Int, cpus: Int): Map[String, Double] = {
    ListenerDrain(sc)
    val ps = spans.filter(_.pass == p).toSeq
    val root = ps.find(_.parent == -1).get
    val lo = epochMs(root.startNs)
    val hi = epochMs(root.endNs)
    val inPass = ps.map(_.id).toSet
    // an event whose thread carried no span property falls to the
    // innermost span of this pass that was open at its time
    def byTime(ms: Long): Int = ps.filter(s =>
        epochMs(s.startNs) <= ms && ms <= epochMs(s.endNs))
      .sortBy(-_.startNs).headOption.fold(-1)(_.id)
    def attr(span: Int, ms: Long): Int = if (span >= 0) span else byTime(ms)
    val (jobs, stages, tasks) = listener.synchronized {
      (listener.jobs.map { case (s, t) => attr(s, t) }.filter(inPass).toSeq,
        listener.stages.map { case (s, t) => attr(s, t) }.filter(inPass).toSeq,
        listener.tasks.map(t => t.copy(span = attr(t.span, t.launchMs)))
          .filter(t => inPass(t.span)).toSeq)
    }
    val acts = actions.synchronized(actions.filter(a => a._1 >= lo && a._1 <= hi).toSeq)
    val byName = ps.groupBy(_.name)
    def dur(n: String) = byName.getOrElse(n, Nil).map(_.seconds).sum
    def jobsIn(n: String) = {
      val ids = byName.getOrElse(n, Nil).map(_.id).toSet
      jobs.count(ids).toDouble
    }
    val self = selfTimes(ps)
    def layerSelf(l: String) = ps.filter(_.layer == l).map(s => self(s.id)).sum
    val wall = root.seconds
    val mb = 1024.0 * 1024.0
    val cpuS = tasks.map(_.cpuNs).sum / 1e9
    def c(k: String) = counters.getOrElse((p, k), 0.0)
    Map(
      "queries.construct_s" -> dur("queries.construct"),
      "queries.construct_jobs" -> jobsIn("queries.construct"),
      "queries.execute_s" -> dur("queries.execute"),
      "queries.self_s" -> layerSelf("queries"),
      "pipelines.self_s" -> layerSelf("pipelines"),
      "ml.fit_s" -> dur("ml.fit"),
      "ml.fit_calls" -> byName.getOrElse("ml.fit", Nil).size.toDouble,
      "ml.fit_jobs" -> jobsIn("ml.fit"),
      "ml.score_s" -> dur("ml.score"),
      "ml.self_s" -> layerSelf("ml"),
      "catalyst.analysis_s" -> acts.map(_._2).sum,
      "catalyst.optimization_s" -> acts.map(_._3).sum,
      "catalyst.planning_s" -> acts.map(_._4).sum,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.tasks_failed" -> tasks.count(_.failed).toDouble,
      "scheduler.idle_s" -> math.max(0.0, wall - busySeconds(lo, hi, tasks)),
      "executor.run_s" -> tasks.map(_.runMs).sum / 1e3,
      "executor.cpu_s" -> cpuS,
      "executor.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "executor.core_util" -> cpuS / (wall * cpus),
      "shuffle.read_mb" -> tasks.map(_.readBytes).sum / mb,
      "shuffle.write_mb" -> tasks.map(_.writeBytes).sum / mb,
      "shuffle.spill_mb" -> tasks.map(_.spillBytes).sum / mb,
      "pins.created" -> c("pins.created"),
      "pins.swept" -> c("pins.swept"),
      "pins.storage_mb" -> c("pins.storage_mb"),
      "pins.self_s" -> layerSelf("pins"),
      "artifacts.dirs_created" -> c("artifacts.dirs_created"),
      "artifacts.written_mb" -> c("artifacts.written_mb"),
      "bench.self_s" -> layerSelf("bench"))
  }

  /** What is wrong with the spans of pass `p`, whose wall time the caller
    * measured as `wallS` on its own clock: a pass without exactly one root,
    * spans never closed or opened on another thread than the root's,
    * children outside their parent or overlapping a sibling, negative self
    * times, and self times that do not add up to `wallS`. */
  def problems(p: Int, wallS: Double): Seq[String] = {
    val ps = spans.filter(_.pass == p).toSeq
    val byId = ps.map(s => s.id -> s).toMap
    def tag(s: Span) = s"${s.name}#${s.id}"
    val out = mutable.ArrayBuffer.empty[String]
    val roots = ps.filter(_.parent == -1)
    if (roots.size != 1) out += s"${roots.size} root spans"
    ps.filter(_.endNs == 0L).foreach(s => out += s"${tag(s)} never closed")
    roots.headOption.foreach(r => ps.filter(_.thread != r.thread)
      .foreach(s => out += s"${tag(s)} opened on another thread"))
    ps.groupBy(_.parent).foreach { case (parent, kids) =>
      byId.get(parent).foreach(par => kids
        .filter(k => k.startNs < par.startNs || k.endNs > par.endNs)
        .foreach(k => out += s"${tag(k)} outside its parent"))
      kids.sortBy(_.startNs).sliding(2).foreach {
        case Seq(a, b) if b.startNs < a.endNs => out += s"${tag(a)} overlaps ${tag(b)}"
        case _ =>
      }
    }
    val self = selfTimes(ps)
    ps.filter(s => self(s.id) < 0).foreach(s => out += s"${tag(s)} has negative self time")
    val sum = self.values.sum
    if (math.abs(sum - wallS) > BalanceToleranceS)
      out += f"self times sum to $sum%.6f s, pass wall is $wallS%.6f s"
    out.toSeq
  }

  /** Seconds within [lo, hi] (epoch ms) during which at least one task ran. */
  private def busySeconds(lo: Double, hi: Double, tasks: Seq[TaskRec]): Double = {
    val iv = tasks.map(t => (math.max(lo, t.launchMs.toDouble),
        math.min(hi, t.finishMs.toDouble)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0
    var end = Double.NegativeInfinity
    iv.foreach { case (a, b) =>
      if (b > end) { busy += b - math.max(a, end); end = b }
    }
    busy / 1e3
  }

  def dumpJson(runId: String): String =
    spans.map { s =>
      f"""{"run":"$runId","pass":${s.pass},"id":${s.id},"parent":${s.parent},""" +
        f""""name":"${s.name}","op":"${s.op}",""" +
        f""""start_ms":${epochMs(s.startNs)}%.3f,"end_ms":${epochMs(s.endNs)}%.3f}"""
    }.mkString("[", ",\n", "]\n")
}

object Tracer {
  val Property = "perfbench.span"
  /** Allowed gap between a pass's summed self times and its wall time:
    * the calls outside the root span, which in the cold pass include
    * loading the tracer's own classes (about 5 ms). */
  val BalanceToleranceS = 10e-3

  def phases(qe: QueryExecution): (Long, Double, Double, Double) = {
    val ph = qe.tracker.phases
    def sec(n: String) = ph.get(n).fold(0.0)(_.durationMs / 1e3)
    (ph.get("analysis").fold(0L)(_.startTimeMs), sec("analysis"),
      sec("optimization"), sec("planning"))
  }

  /** Self time of each span: its duration minus its children's. When the
    * children lie inside their parent without overlapping (checked by
    * [[Tracer.problems]]), that is the part of the span they do not
    * cover. */
  def selfTimes(ps: Seq[Span]): Map[Int, Double] = {
    val kids = ps.groupBy(_.parent)
    ps.map(s => s.id ->
      (s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum)).toMap
  }
}
