package graft.operators

import org.apache.spark.sql.DataFrame

/** How iterative/multi-consumer operators pin lineage.
  *
  * The dedup/clustering/curation/graph/tokenizer loops re-consume each
  * round's frame from several plan branches, so they MUST truncate lineage
  * each round (or the plan doubles per iteration). How the pinned blocks
  * are stored is a deployment decision, not an algorithmic one, so it is
  * made here, once per pin, from the frame's own session conf:
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
  * The one conf switches every [[pin]] call. It does NOT reach the raw
  * `localCheckpoint()` calls elsewhere in the engine (the active-sampling
  * loop, `Selection.selectAndMove`, the SDE forecaster, ...): those pin
  * small per-iteration frames whose loss is cheap to redo, and moving them
  * to reliable storage would add one write+read per loop step to the
  * flagship pipeline — a separate decision from the one made here.
  */
object CheckpointPolicy {

  /** Pins `df` under the session's checkpoint mode.
    *
    * Reliable mode seeds `SparkContext.setCheckpointDir` from the conf if
    * none is set yet — Spark has ONE checkpoint dir per context, so the
    * first reliable pin wins and later ones reuse it.
    *
    * The frame is persisted across a reliable checkpoint: `checkpoint()`
    * runs the materializing action and THEN a separate job that writes the
    * partitions to the checkpoint dir — without a cache that second job
    * recomputes every partition from scratch, doubling each round's
    * compute on exactly the multi-hour runs this mode exists for. The
    * cache is dropped as soon as the write lands (the checkpointed frame
    * reads from reliable storage, not the cache). Checkpoint FILES are
    * reclaimed by the ContextCleaner when the pinned frame is GC'd
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`, pinned true in
    * GraftSession) — otherwise a 64-round clustering run accumulates every
    * round's files for its whole lifetime. */
  def pin(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpoint.dir") match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cached.checkpoint()
        finally cached.unpersist(blocking = false)
    }
}
