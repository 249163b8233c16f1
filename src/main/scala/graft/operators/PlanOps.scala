package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Plan-shaping helpers. */
object PlanOps {

  /** Run independent driver-submitted Spark jobs as concurrent futures on a
    * DEDICATED bounded pool and await them with a FINITE deadline.
    *
    * Never `ExecutionContext.Implicits.global` + `Await(Inf)` for this: the
    * global pool is shared with everything else on the driver (wide column
    * lists would starve it), and an infinite await on a hung job blocks
    * query CONSTRUCTION forever. The deadline scales with how many pool
    * "waves" the task list needs (`perTask × ceil(n/parallelism)`), so a
    * 100-column exact profile gets a proportionally longer budget than a
    * 4-column one; a genuinely wedged job surfaces as a TimeoutException
    * with the task index instead of a silent hang.
    *
    * Pass `session` when the tasks submit Spark jobs (every current
    * caller): each task then runs under a unique job GROUP, and a timeout
    * cancels the group (`cancelJobGroup`, interrupt-on-cancel) and
    * `shutdownNow()`s the pool — without that, the surfaced exception
    * leaves the wedged job and every queued task running, holding cluster
    * and driver-pool resources nobody will ever collect. */
  def runJobs[T](tasks: Seq[() => T], parallelism: Int = 16,
                 perTask: scala.concurrent.duration.FiniteDuration =
                   scala.concurrent.duration.Duration(10, "min"),
                 session: Option[org.apache.spark.sql.SparkSession] = None): Seq[T] = {
    import java.util.concurrent.{Executors, TimeoutException}
    import scala.concurrent.{Await, ExecutionContext, Future}
    if (tasks.isEmpty) return Nil
    val threads = math.max(1, math.min(parallelism, tasks.size))
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val group = session.map(_ => s"graft-runJobs-${java.util.UUID.randomUUID()}")
    try {
      val budget = perTask * math.ceil(tasks.size.toDouble / threads).toLong
      val futs = tasks.map(t => Future {
        session.zip(group).foreach { case (s, g) => s.sparkContext
          .setJobGroup(g, "graft.PlanOps.runJobs", interruptOnCancel = true) }
        try t()
        finally session.foreach(_.sparkContext.clearJobGroup())
      })
      futs.zipWithIndex.map { case (f, i) =>
        try Await.result(f, budget)
        catch {
          case _: TimeoutException =>
            session.zip(group).foreach { case (s, g) =>
              s.sparkContext.cancelJobGroup(g) }
            pool.shutdownNow()
            throw new TimeoutException(
              s"concurrent job $i of ${tasks.size} exceeded $budget")
        }
      }
    } finally pool.shutdown()
  }

  /** Pin a computed per-pair score so a later threshold filter CANNOT be
    * pushed back into the join that produced the pairs.
    *
    * Catalyst's PushDownPredicate substitutes project aliases into filters
    * with no cost model, so `join → project(score = f(arrays)) →
    * filter(score ≥ t)` re-inlines `f` into the join CONDITION — every
    * reference of the alias becomes its own interpreted evaluation per
    * joined row (observed: a Jaccard threshold evaluating the full
    * array_intersect 3x per pair inside a BroadcastHashJoin condition,
    * ~50x slower). An always-true nondeterministic filter is NOT a reliable
    * barrier (Spark 4 folds rand() bound comparisons), but an Aggregate is:
    * predicates on an aggregate output never push below it. Pairs are
    * unique by (keys), so max(score) is the identity; the aggregate
    * shuffles only (keys, score) — a few dozen bytes per pair.
    */
  def pinPairScore(df: DataFrame, keys: Seq[String], scoreCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max(col(scoreCol)).as(scoreCol))

  /** `df`'s rows when there are at most `cap` of them, None past the cap
    * — the size test of the driver-side loops ([[WordPiece.train]],
    * [[Vocab.bpeTrainBatched]], [[LinkAnalysis.kCore]]), which run their
    * iterations over the collected input when it fits and fall back to the
    * distributed loop otherwise. One `limit(cap + 1)` collect decides and
    * delivers at once (no separate count job); `cap <= 0` returns None
    * without running anything, forcing the distributed loop. */
  def collectUnderCap(df: DataFrame, cap: Long): Option[Array[Row]] =
    if (cap <= 0) None
    else {
      val rows = df.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
      if (rows.length <= cap) Some(rows) else None
    }
}
