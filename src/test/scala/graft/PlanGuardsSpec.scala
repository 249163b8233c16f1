package graft

import graft.queries.Queries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Window => LogicalWindow}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions.{col, count_distinct}

/** Plan-shape regression guards: the properties that make queries survive a
  * 100× scale-up are plan properties, not result properties — assert them
  * directly so a refactor can't silently reintroduce a single-task sort or
  * an accidental cartesian join. (q16 and the small-grid trapz/LHS forms are
  * intentionally windowed oracle companions and are excluded.) */
class PlanGuardsSpec extends SparkSpec {

  private def assertNoGlobalWindow(df: DataFrame, name: String): Unit =
    df.queryExecution.optimizedPlan.foreach {
      case w: LogicalWindow =>
        assert(w.partitionSpec.nonEmpty,
          s"$name plans an UNPARTITIONED window (single task at scale)")
      case _ => ()
    }

  test("the query registry and the oracle map name the same 185 queries") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"no oracle: ${queries -- oracles}; no query: ${oracles -- queries}")
    assert(queries.size == 185)
  }

  test("scale-sensitive queries plan no unpartitioned windows") {
    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q04_trapz" -> (Queries.q04Trapz _),
      "q05_minmax" -> (Queries.q05MinMaxScale _),
      "q06_inv_density" -> (Queries.q06InvDensityWeights _),
      "q07_middle" -> (Queries.q07MiddleLookup _),
      "q24_window_sums" -> (Queries.q24WindowSums _),
      "q27_sliding" -> (Queries.q27SlidingWindows _),
      "q35_asof" -> (Queries.q35AsOfJoin _),
      "q36_sessionize" -> (Queries.q36Sessionize _),
      "q38_ranking" -> (Queries.q38Ranking _),
      "q42_stratified" -> (Queries.q42StratifiedSample _),
      "q49_interp_join" -> (Queries.q49InterpJoin _),
      "q109_ranking_metrics" -> (Queries.q109RankingMetrics _))
    qs.foreach { case (n, fn) => assertNoGlobalWindow(fn(spark, sf001), n) }
  }

  // queries whose construction is fully lazy (no driver-side fit/collect).
  // q21 left this list in round 5: profile's exact mode now runs its
  // per-column distinct counts as concurrent jobs AT CONSTRUCTION (the
  // robustOutliers pattern), so it belongs with the eager ones below.
  private val lazyOnes = Seq(
    "q01_pricing_summary", "q02_error_metrics", "q03_histogram", "q04_trapz",
    "q05_minmax_scale", "q06_inv_density_weights", "q07_middle_lookup",
    "q08_topk", "q09_pool_deletion", "q10_dedup_groups", "q11_token_stats",
    "q12_quality", "q13_lang_id", "q14_fingerprints", "q16_cosine_topk",
    "q17_embedding_pairs", "q18_json", "q19_hourly", "q20_revenue_by_nation",
    "q22_validate", "q23_dup_keys", "q24_window_sums",
    "q27_sliding_windows", "q31_ann_topk_agg", "q35_asof_join",
    "q36_sessionize", "q37_cube", "q39_percentiles", "q40_left_join",
    "q41_multi_distinct", "q42_stratified_sample", "q43_contamination",
    "q45_quality_gate", "q46_repetition", "q47_range_join",
    "q49_interp_join", "q107_flac_roundtrip", "q109_ranking_metrics",
    "q124_gap_fill", "q126_ewma", "q135_cube")

  test("no lazily-constructed query plans a cartesian product") {
    lazyOnes.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf001)
      val cartesians = df.queryExecution.executedPlan.collect {
        case c: CartesianProductExec => c
      }
      assert(cartesians.isEmpty, s"$name plans a CartesianProduct")
    }
  }

  private def expandNodes(df: DataFrame): Seq[Expand] =
    df.queryExecution.optimizedPlan.collect { case e: Expand => e }.toSeq

  test("no registered query plans an Expand over its input") {
    // Expand replicates every input row once per branch — the multi-distinct
    // scale trap (q48 lesson: 115 s vs 2 s at sf0.1). q37 (CUBE is Expand by
    // definition) and q41 (the deliberate multi-distinct surface) are the
    // two documented exceptions.
    val exceptions = Set("q37_cube", "q41_multi_distinct", "q135_cube")
    lazyOnes.filterNot(exceptions).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf001)
      assert(expandNodes(df).isEmpty,
        s"$name plans an Expand (multi-distinct/grouping-sets replication)")
    }
  }

  test("eager/checkpointing queries: final-frame plans pass the same guards") {
    // Queries with construct-time actions (fits, checkpoints, driver
    // sampling) can't be plan-inspected end-to-end — their pre-checkpoint
    // stages already ran — but the FINAL frame (everything after the last
    // pin: the joins, aggregates, expansions that scale with data) is a
    // plan like any other. Guard it with the same three asserts, so every
    // registered query sits under at least one plan guard.
    val eager = SparkEntry.queries.keys.toSeq.sorted.filterNot(lazyOnes.contains)
    eager.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf001)
      val cartesians = df.queryExecution.executedPlan.collect {
        case c: CartesianProductExec => c
      }
      assert(cartesians.isEmpty, s"$name final frame plans a CartesianProduct")
      assert(expandNodes(df).isEmpty, s"$name final frame plans an Expand")
      assertNoGlobalWindow(df, name)
    }
  }

  test("the Expand guard detects a deliberately-bad multi-distinct probe") {
    val bad = Tables.lineitem(spark, sf001).agg(
      count_distinct(col("l_partkey")), count_distinct(col("l_suppkey")))
    assert(expandNodes(bad).nonEmpty,
      "probe with two exact distincts should plan an Expand — guard is blind")
  }
}
