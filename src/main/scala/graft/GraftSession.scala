package graft

import org.apache.spark.sql.SparkSession

/** One place for the session configuration the engine is designed around —
  * local runs and a real cluster share everything but `master` and the
  * partition counts.
  *
  * The knobs that matter at 100 TB, and why they're set:
  *  - `spark.sql.adaptive.enabled` + `skewJoin.enabled` (explicit, though
  *    default-on in Spark 4): runtime re-planning is load-bearing for the
  *    dedup/join family — AQE coalesces the post-filter small sides this
  *    library produces and splits skewed sort-merge partitions; the
  *    explicit `Joins.saltedJoin` remains for shapes AQE can't split.
  *  - `spark.sql.shuffle.partitions`: cores locally; on a cluster size it
  *    to ~2-3x total executor cores (and let AQE coalesce down).
  *  - `spark.sql.files.maxPartitionBytes` 256m: scan-task sizing — at
  *    100 TB this yields ~400k scan tasks whose per-task footprint
  *    (column batches + shuffle write buffers) fits executor memory;
  *    smaller values explode task counts, larger ones risk spill.
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the events fixture (and any
  *    TIMESTAMP(NANOS) parquet) reads as epoch-nanos longs, normalized to
  *    µs timestamps by Tables.load.
  *  - UTC session timezone: timestamp arithmetic must match the DuckDB
  *    oracles bit-for-bit.
  *  - `spark.sql.codegen.cache.maxEntries` 1000 (static; Spark's default is
  *    100): one pass of the active-sampling loop generates 101-105 distinct
  *    classes, so at 100 it evicted its own classes before reusing them —
  *    every warm pass over unchanged inputs ran 54-74 Janino compilations
  *    and spent 5.1-7.4 of its 12.5-16.4 cpu-s in the JIT compiler threads
  *    (4-cpu host). At 1000 a warm pass compiles nothing.
  */
object GraftSession {

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions) // SQL surface for the native kernels
      // load-bearing for type SAFETY, not just semantics: the native
      // kernels' rejection of non-numeric arrays (and non-narrowing of
      // array<long> codes) relies on Spark 4's AnsiTypeCoercion; a
      // deployment with ANSI off would silently revert to legacy coercion
      // (array<string> → array<double> with null elements). Pin it.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reliable-checkpoint file reclamation: with spark.graft.checkpoint.dir
      // set, CheckpointPolicy.pin writes a frame per round; without this, a
      // long clustering run accumulates every round's checkpoint files
      // until the context dies
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** Local session sized from SPARK_GRAFT_CPUS (the driver contract). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val s = builder(cpus).getOrCreate()
    // getOrCreate can return a pre-existing session (whose builder never saw
    // withExtensions) — register the SQL functions on it directly, too
    GraftExtensions.register(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Dead-pin reclamation for suite runners (Bench/Verify).
  *
  * Almost every operator pins intermediate frames with `localCheckpoint`
  * (the lineage-truncation discipline iterative plans need), and those
  * RDD blocks stay in the storage region until the context dies. A
  * 120-query suite accumulates tens of GB of DEAD pinned blocks —
  * enough to push a 48g driver into eviction/GC churn mid-run, which is
  * where the historical "phantom 2-7× swings" in the back half of the
  * bench alphabet came from (q34/q70/q84 episodes in BENCH.md). The
  * runners sweep every query's newly-created pins after its timing. That
  * is safe because no query hands a pinned frame to another: state shared
  * across queries is a [[graft.queries.ArtifactCache]] entry (a persisted
  * dir or driver-side value), never a pinned DataFrame — unpersisting a
  * localCheckpoint is unrecoverable, since its lineage is truncated. On a
  * real cluster the same sweep belongs at job boundaries of any
  * long-lived session. */
object DeadPins {

  def snapshot(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Unpersist every persistent RDD created since `before` (non-blocking;
    * storage is freed asynchronously). Call only after a query's output
    * has been fully materialized. */
  def sweep(spark: SparkSession, before: Set[Int]): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs
    rdds.keysIterator.filterNot(before.contains).foreach { id =>
      rdds.get(id).foreach(_.unpersist(blocking = false))
    }
  }
}
