package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Functional-chain resolution — the wiki REDIRECT pass ([[WikiXml]]
  * surfaces `<redirect>` targets; a corpus build must map every
  * redirect to its final content page), and the same shape covers alias
  * tables, canonical-URL chains, and merged-entity maps.
  *
  * The input is a FUNCTIONAL edge set (one `dst` per `src`). The naive
  * resolution walks one step per join — O(longest chain) shuffles,
  * which at 100 TB means a driver-scheduled loop as long as the worst
  * chain. This implementation uses POINTER DOUBLING instead: each round
  * composes the partial map with itself (`src→dst` ⋈ `dst→dst2` ⇒
  * `src→dst2`, depths adding), so chains of length ≤ 2^k resolve in k
  * self-joins — O(log maxDepth) shuffles total, each one a plain
  * long-keyed equi-join Catalyst plans as a shuffle hash join.
  *
  * Termination: a row is resolved when its current `dst` is not itself
  * a redirect source. Cycles (A→B→A) and chains longer than `maxDepth`
  * never reach such a `dst`; they report `terminated = 0` with
  * `final_dst`/`depth` masked to -1 (deterministic output, no infinite
  * loop — the doubling round count is fixed up front). Per-round
  * [[CheckpointPolicy.pin]] pins keep the self-join lineage linear, the
  * iterative-operator house convention.
  *
  * q163 gates resolution over a planted chain grid (depths 1-3, a
  * 2-cycle class) against a closed-form oracle.
  */
object Redirects {

  /** Resolve every chain: (src, final_dst, depth, terminated). `edges`
    * must be functional on `src`. `maxDepth` is a HARD bound: a row
    * reports `terminated = 1` iff its chain reaches a non-source `dst`
    * in ≤ `maxDepth` hops — the doubling rounds internally cover the
    * next power of two, but any row whose resolved depth exceeds
    * `maxDepth` is masked to `(-1, -1, 0)` in the final select exactly
    * like a cycle, so the documented bound IS the observed bound. */
  def resolve(edges: DataFrame, srcCol: String, dstCol: String,
              maxDepth: Int = 32): DataFrame =
    resolveCore(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")), maxDepth, lit(-1L))

  /** [[resolve]] over NON-numeric keys (URL or title alias tables,
    * where no id dictionary exists yet): identical pointer-doubling
    * plan on the columns' native type. String keys widen the shuffle
    * payload — prefer [[resolve]]'s 8-byte longs when a dictionary is
    * already at hand. Unresolved rows (cycles, over-depth) mask
    * `final_dst` to NULL and `depth` to -1. */
  def resolveKeyed(edges: DataFrame, srcCol: String, dstCol: String,
                   maxDepth: Int = 32): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    resolveCore(e, maxDepth,
      lit(null).cast(e.schema("dst").dataType))
  }

  private def resolveCore(e: DataFrame, maxDepth: Int,
                          maskDst: Column): DataFrame = {
    require(maxDepth >= 1, s"maxDepth >= 1: $maxDepth")
    var m = CheckpointPolicy.pin(e.withColumn("depth", lit(1L)))
    val rounds = 32 - Integer.numberOfLeadingZeros(math.max(1, maxDepth - 1))
    // Per-round pins exist to stop the self-join lineage from doubling
    // per round — at ≤ 2 rounds the final plan holds ≤ 4 references to
    // the ONE pinned base frame (exchange-reused), so the pins buy
    // nothing and cost one job each (measured: a shallow maxDepth=4
    // resolve over a literal chain table paid 3 pin jobs ≈ 0.4 s per
    // extraction call at sf0.1; the q165 family resolves per call).
    val pinRounds = rounds > 2
    for (_ <- 0 until rounds) {
      val a = m.select(col("src"), col("dst"), col("depth"))
      val b = m.select(col("src").as("__bs"), col("dst").as("__bd"),
        col("depth").as("__bdep"))
      val next = a.join(b, col("dst") === col("__bs"), "left")
        .select(col("src"),
          coalesce(col("__bd"), col("dst")).as("dst"),
          (col("depth") + coalesce(col("__bdep"), lit(0L))).as("depth"))
      m = if (pinRounds) CheckpointPolicy.pin(next) else next
    }
    // resolved ⇔ the final dst is not itself a source AND the chain fits
    // the documented bound (doubling can overshoot maxDepth up to the
    // next power of two — those rows mask like cycles)
    val srcs = e.select(col("src").as("__s")).distinct()
    val ok = col("__s").isNull && col("depth") <= lit(maxDepth.toLong)
    m.join(srcs, col("dst") === col("__s"), "left")
      .select(col("src"),
        when(ok, col("dst")).otherwise(maskDst).as("final_dst"),
        when(ok, col("depth")).otherwise(lit(-1L)).as("depth"),
        ok.cast("long").as("terminated"))
  }
}
