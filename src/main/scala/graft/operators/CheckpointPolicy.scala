package graft.operators

import org.apache.spark.sql.DataFrame

/** The one way the engine cuts lineage: every pin in `src/main` is a
  * [[pin]] call.
  *
  * The active-sampling, dedup/clustering/curation/graph/tokenizer loops
  * re-consume each round's frame from several plan branches, so they MUST
  * truncate lineage each round (or the plan doubles per iteration), and
  * multi-consumer frames are pinned so each branch reads one computation.
  * How the pinned blocks are stored is a deployment decision, not an
  * algorithmic one, so it is made here, once per pin, from the frame's
  * own session conf:
  *
  *  - default: `localCheckpoint()` — blocks live on executor storage.
  *    Fastest, and exactly right single-JVM / local[n]. On a real cluster
  *    an executor loss discards blocks with NO recompute path (lineage was
  *    truncated) — a multi-hour clustering run dies with it.
  *  - `spark.graft.checkpoint.dir` set: `checkpoint()` against that
  *    reliable directory (HDFS/object store on a cluster). Each pin writes
  *    the frame out, so executor loss only re-reads; this is the mode a
  *    100 TB multi-hour dedup/clustering run uses, at the cost of one
  *    write+read per pin. Both modes produce IDENTICAL results
  *    (CheckpointPolicySpec gates parity).
  *
  * Both modes pin eagerly: the frame is materialized when [[pin]]
  * returns. The one conf switches every pin (PlanGuardsSpec fails on a
  * `localCheckpoint`/`checkpoint` call anywhere else in `src/main`).
  */
object CheckpointPolicy {

  /** Pins `df` under the session's checkpoint mode.
    *
    * Reliable mode seeds `SparkContext.setCheckpointDir` from the conf if
    * none is set yet — Spark has ONE checkpoint dir per context, so the
    * first reliable pin wins and later ones reuse it.
    *
    * A reliable pin checkpoints the frame's local pin: `checkpoint()`'s
    * materializing job and its write job both read those blocks, so the
    * frame is computed once, with the partitions the default mode gives
    * it. (A `persist` plans it as a cached relation, which keeps every
    * un-coalesced AQE shuffle partition, so a seeded `rand` over it, as in
    * the SDE forecaster's init sample, drew other values.) Checkpoint
    * FILES are reclaimed by the ContextCleaner when the pinned frame is GC'd
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`, pinned true in
    * GraftSession) — otherwise a 64-round clustering run accumulates every
    * round's files for its whole lifetime. */
  def pin(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpoint.dir") match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.localCheckpoint().checkpoint()
    }
}
