package graft.streaming

import graft.functions.TextOps
import graft.operators.{CheckpointPolicy, Dedup}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** First-admitted owner of a content fingerprint (the whole state per key —
  * 8 bytes of payload; the text itself never enters the state store). */
case class AdmitState(firstId: Long)

/** Streaming admission verdict, one row per arriving doc. */
case class AdmittedDoc(doc_id: Long, fp: Long, admitted: Long, first_id: Long)

/** Structured-Streaming forms of the incremental corpus dedup — the
  * continuous-ingest twins of [[graft.operators.Dedup.incrementalAdmit]]
  * (q65). Two complementary shapes:
  *
  *  - [[streamingAdmitExact]]: the admitted-fingerprint set IS the state
  *    store (keyed by the 64-bit content fingerprint), so each micro-batch
  *    is a semi-join of 8-byte keys against state — the exact_hist +
  *    exact_batch gates running forever with one tiny state row per
  *    distinct fingerprint.
  *  - [[foreachBatchAdmit]]: the production loop for the FULL gate set
  *    (near-dup included): each micro-batch runs the batch
  *    `incrementalAdmit` against an accumulating history table and appends
  *    its admitted docs — exactly how a daily/continuous ingest composes
  *    the proven batch operator.
  *  - [[foreachBatchAdmitEmbeddings]]: the same loop over an EMBEDDED
  *    corpus ([[graft.operators.Dedup.embeddingIncrementalAdmit]], q80) —
  *    continuous semantic dedup.
  */
object DocStreams {

  /** Minimal streaming-docs schema (readStream needs it explicitly). */
  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Streaming embedded-docs schema — the semantic-ingest twin. */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))

  def readDocs(spark: SparkSession, dir: String,
               maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(docsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  def readEmbeddings(spark: SparkSession, dir: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(embeddingsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** Streaming exact-dedup admission: a doc is admitted iff its content
    * fingerprint has no prior owner in the state store (exact_hist) and no
    * smaller doc_id in its own micro-batch (exact_batch) — the same
    * first-occurrence-wins semantics as `incrementalAdmit`'s exact gates
    * and q65's min-id window. State is keyed BY fingerprint: the
    * per-micro-batch check is a hash-partitioned state-store lookup of
    * 8-byte keys (no text shuffles, no history re-scan), state size =
    * distinct corpus fingerprints spread across partitions. Append mode;
    * every arriving doc emits exactly one verdict row. */
  def streamingAdmitExact(docs: DataFrame): DataFrame = {
    val fpSchema = new StructType().add("doc_id", LongType).add("fp", LongType)
    val byFp = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        TextOps.fingerprint64(col("text")).as("fp"))
      .as(Encoders.row(fpSchema))
      .groupByKey((r: Row) => r.getLong(1))(Encoders.scalaLong)
    byFp.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (fp: Long, rows: Iterator[Row], state: GroupState[AdmitState]) => {
        val ids = rows.map(_.getLong(0)).toArray.sorted
        val prior = state.getOption
        val first = prior.map(_.firstId).getOrElse(ids.head)
        if (prior.isEmpty) state.update(AdmitState(first))
        ids.iterator.map(id =>
          AdmittedDoc(id, fp,
            if (prior.isEmpty && id == first) 1L else 0L, first))
      })(Encoders.product[AdmitState], Encoders.product[AdmittedDoc]).toDF()
  }

  /** The production incremental-dedup loop on a stream: per micro-batch,
    * run the FULL batch [[Dedup.incrementalAdmit]] (exact_hist /
    * exact_batch / SimHash near_hist) against the history accumulated at
    * `historyDir`, write the verdicts to `admitDir`, and append the
    * admitted docs to history. History stays collapsed (batch-vs-history
    * candidate pairs only — never history×history), so each micro-batch
    * costs O(batch + candidates) exactly like the daily-ingest batch form;
    * at scale `historyDir` is the persistent corpus table. */
  def foreachBatchAdmit(docs: DataFrame, historyDir: String, admitDir: String,
                        maxHamming: Int = 7,
                        checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // a replay of a batch [[compactHistory]] already folded must be a
        // no-op: its admitted docs live in the base partition now, so the
        // same-batch_id exclusion below would no longer hide them and the
        // batch's own docs would read as "already in history"
        if (batchId > graft.operators.ArtifactFold.foldedWatermark(
            spark, historyDir)) {
          val b = CheckpointPolicy.pin(
            batch.select(col("doc_id").cast("long").as("doc_id"), col("text")))
          // foreachBatch is AT-LEAST-ONCE: a crash between the two writes (or
          // after both, before the checkpoint commit) re-runs this batchId.
          // Idempotence: (a) the history visible to a batch EXCLUDES any
          // partial write of the SAME batchId, so a retry recomputes the
          // identical verdicts; (b) both outputs land in batch_id partitions
          // under DYNAMIC partition overwrite, so a retry REPLACES its own
          // partition instead of appending duplicates.
          val history = loadHistory(spark, historyDir, excludeBatchId = batchId,
            payload = "text", docsSchema)
          val flags = CheckpointPolicy.pin( // pin BEFORE history mutates beneath the plan
            Dedup.incrementalAdmit(b, history, col("doc_id"), col("text"),
              maxHamming = maxHamming)
              .withColumn("batch_id", lit(batchId)))
          writePartition(flags, admitDir)
          writePartition(
            b.join(flags.filter(col("admitted") === 1L).select("doc_id"), Seq("doc_id"))
              .withColumn("batch_id", lit(batchId)), historyDir)
        }
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** The SEMANTIC continuous-ingest loop — [[foreachBatchAdmit]]'s twin
    * over an embedded corpus: per micro-batch, run the full batch
    * [[Dedup.embeddingIncrementalAdmit]] (bit-identical-vs-history /
    * min-id-within-batch / LSH-candidate + exact-cosine near gates)
    * against the history accumulated at `historyDir`, write verdicts to
    * `admitDir`, append admitted vectors to history. Same at-least-once
    * idempotence device as the text loop (same-batch_id history exclusion
    * + dynamic partition overwrite), same O(batch + candidates) per-batch
    * cost — history stays collapsed to distinct vectors inside the
    * operator and never pairs with itself. */
  def foreachBatchAdmitEmbeddings(docs: DataFrame, historyDir: String,
                                  admitDir: String, threshold: Double = 0.95,
                                  tables: Int = 16, planesPerTable: Int = 16,
                                  checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = CheckpointPolicy.pin(
          batch.select(col("doc_id").cast("long").as("doc_id"),
              col("embedding").cast("array<double>").as("embedding")))
        // empty micro-batches (trigger with no new files) have no dim to
        // infer and nothing to admit — emit nothing, mutate nothing; and
        // replays of compaction-folded batches no-op (the text-loop guard)
        if (!b.isEmpty && batchId > graft.operators.ArtifactFold
            .foldedWatermark(spark, historyDir)) {
          val history = loadHistory(spark, historyDir, excludeBatchId = batchId,
            payload = "embedding", embeddingsSchema)
          val flags = CheckpointPolicy.pin( // pin BEFORE history mutates beneath the plan
            Dedup.embeddingIncrementalAdmit(b, history,
                col("doc_id"), col("embedding"), threshold = threshold,
                tables = tables, planesPerTable = planesPerTable)
              .withColumn("batch_id", lit(batchId)))
          writePartition(flags, admitDir)
          writePartition(
            b.join(flags.filter(col("admitted") === 1L).select("doc_id"), Seq("doc_id"))
              .withColumn("batch_id", lit(batchId)), historyDir)
        }
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Continuous duplicated-segment removal — the streaming twin of
    * [[Dedup.segmentDedup]] (q86): per micro-batch, run
    * [[Dedup.segmentDedupAgainstHistory]] against the segment-frequency
    * history accumulated at `historyDir` (16 bytes per distinct segment
    * fingerprint — text never persists), write the cleaned docs to
    * `outDir`, append the batch's own frequencies to history. Same
    * at-least-once idempotence device as [[foreachBatchAdmit]]: history
    * visible to a batch excludes its own batchId, and both outputs land in
    * batch_id partitions under dynamic overwrite, so a retry replaces its
    * own work. Streaming semantics are admission-style: a segment crossing
    * the `maxDocs` threshold in a later batch is dropped from THAT batch on
    * — already-emitted documents are not rewritten (equal to a sequential
    * replay of the batch operator, which DocStreamsSpec asserts). */
  def foreachBatchSegmentDedup(docs: DataFrame, historyDir: String,
                               outDir: String, segLen: Int = 8,
                               maxDocs: Int = 1,
                               checkpointDir: Option[String] = None): StreamingQuery = {
    val countsSchema = StructType(Seq(
      StructField("h", LongType), StructField("n_docs", LongType)))
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // replays of compaction-folded batches no-op (the admit-loop guard)
        if (batchId > graft.operators.ArtifactFold.foldedWatermark(
            spark, historyDir)) {
          val b = CheckpointPolicy.pin(
            batch.select(col("doc_id").cast("long").as("doc_id"), col("text")))
          val history = loadHistoryCounts(spark, historyDir,
            excludeBatchId = batchId, countsSchema)
          val (cleaned, counts) = Dedup.segmentDedupAgainstHistory(b,
            col("doc_id"), TextOps.tokens(coalesce(col("text"), lit(""))),
            history, segLen = segLen, maxDocs = maxDocs)
          val pinned = CheckpointPolicy.pin( // pin BEFORE history mutates beneath the plan
            cleaned.withColumn("batch_id", lit(batchId)))
          val pinnedCounts = CheckpointPolicy.pin(
            counts.withColumn("batch_id", lit(batchId)))
          writePartition(pinned, outDir)
          writePartition(pinnedCounts, historyDir)
        }
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Continuous drift monitoring — the streaming twin of the q104 batch
    * monitor: per micro-batch, compute the [[graft.operators.Profiling
    * .drift]] table of the ARRIVING batch (side B) against a FIXED
    * baseline corpus snapshot (side A, read from `baselineDir`) over the
    * derived text signals (token count, char count, language id, token
    * KL), and write it under a batch_id partition at `outDir` — the
    * ingest monitor that catches a bad crawl day or a source change as it
    * lands. At-least-once retries replace their own partition (dynamic
    * partition overwrite, the house idempotence device); the baseline is
    * a small profiled reference table at scale, re-read per batch so a
    * baseline refresh takes effect without restarting the stream. */
  def foreachBatchDrift(docs: DataFrame, baselineDir: String, outDir: String,
                        bins: Int = 10,
                        checkpointDir: Option[String] = None): StreamingQuery = {
    def derived(df: DataFrame): DataFrame = {
      val t = coalesce(col("text"), lit(""))
      df.select(
        TextOps.tokenCount(t).as("n_tok"),
        length(t).cast("long").as("n_chars"),
        TextOps.langId(t).as("lang"),
        TextOps.tokens(t).as("toks"))
    }
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val baseline = spark.read.schema(docsSchema).parquet(baselineDir)
        val d = CheckpointPolicy.pin( // pin before the write re-plans the stream frame
          graft.operators.Profiling.drift(
              derived(baseline), derived(batch),
              numeric = Seq("n_tok", "n_chars"), categorical = Seq("lang"),
              tokens = Some("toks"), bins = bins)
            .withColumn("batch_id", lit(batchId)))
        writePartition(d, outDir)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Streaming twin of [[graft.operators.Sketches]]: every micro-batch
    * appends its own HLL cardinality sketch rows under `batch_id=N`
    * (micro-batch id = ingest batch id, so Structured Streaming's replay
    * of a failed batch lands on the same partition — the
    * dynamic-overwrite idempotence [[graft.operators.Sketches
    * .appendCardinalitySketches]] already provides). "Distinct keys so
    * far" is then [[graft.operators.Sketches.estimateCardinalities]] over
    * the accumulating directory — no rescan of history, KB per batch. */
  def foreachBatchCardinality(docs: DataFrame, cols: Seq[String],
                              outDir: String, lgK: Int = 12,
                              checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.appendCardinalitySketches(
          batch, cols, outDir, batchId, lgK)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Streaming twin of the Count-Min appends
    * ([[graft.operators.Sketches.appendFrequencySketches]]): each
    * micro-batch lands its sparse (row, bucket, cnt) cells under its own
    * batch_id partition — replayed batches overwrite themselves, and
    * token-frequency questions over the whole ingested stream are served
    * from [[graft.operators.Sketches.cmsEstimate]] without rescanning
    * history. `key` is evaluated against each micro-batch frame. */
  def foreachBatchFrequency(docs: DataFrame, key: org.apache.spark.sql.Column,
                            outDir: String, depth: Int = 4, width: Int = 1024,
                            checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.appendFrequencySketches(
          batch, key, outDir, batchId, depth, width)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Streaming twin of the fixed-edge histogram appends
    * ([[graft.operators.Sketches.appendHistogramSketches]]) — the third
    * of the sketch triad (HLL = cardinality, CMS = frequency, this =
    * distribution/quantiles): each micro-batch lands its (bin, cnt)
    * cells under its own batch_id partition; quantile questions over the
    * whole ingested stream are served from
    * [[graft.operators.Sketches.histQuantiles]] without rescanning
    * history. Same replay idempotence as the other two twins. */
  def foreachBatchHistogram(docs: DataFrame, valueCol: org.apache.spark.sql.Column,
                            outDir: String, lo: Double, hi: Double,
                            bins: Int = 256,
                            checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.appendHistogramSketches(
          batch, valueCol, outDir, batchId, lo, hi, bins)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Streaming twin of the KMV theta-sketch appends
    * ([[graft.operators.Sketches.appendKmvSketches]]) — the fourth sketch
    * family (HLL = cardinality, CMS = frequency, histogram =
    * distribution, KMV = SET OPERATIONS): each micro-batch lands its k
    * smallest distinct key hashes under its own batch_id partition, so
    * corpus-overlap questions between two ingested streams
    * ([[graft.operators.Sketches.kmvOverlap]]) are served from KB-sized
    * artifacts. Same replay idempotence as the other twins. */
  def foreachBatchKmv(docs: DataFrame, key: org.apache.spark.sql.Column,
                      outDir: String, k: Int = 1024,
                      checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.appendKmvSketches(
          batch, key, outDir, batchId, k)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Streaming twin of the bottom-k rank-sketch appends
    * ([[graft.operators.Sketches.appendRankSketches]]) — the fifth sketch
    * family (HLL = cardinality, CMS = frequency, histogram = fixed-range
    * distribution, KMV = set operations, this = QUANTILES WITH NO PRIOR
    * RANGE): each micro-batch lands its k hash-smallest (row-key md5,
    * value) pairs under its own batch_id partition, so "what's the p99
    * of X over everything ingested so far?" is served from
    * [[graft.operators.Sketches.rankQuantiles]] without rescanning
    * history — and without the up-front [lo, hi) commitment the
    * histogram twin needs. Same replay idempotence as the other twins
    * (bottom-k of a union is batching-invariant). */
  def foreachBatchRank(docs: DataFrame, value: org.apache.spark.sql.Column,
                       key: org.apache.spark.sql.Column,
                       outDir: String, k: Int = 4096,
                       checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.appendRankSketches(
          batch, value, key, outDir, batchId, k)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Fold an admission-history dir (text or embedding payloads — one row
    * per ADMITTED doc under its `batch_id=N` partition) into the reserved
    * base partition `batch_id=-1`: pure re-layout, no merge — doc_ids are
    * unique across batches by the admission contract. A year of hourly
    * micro-batches otherwise leaves ~9k partitions whose files every
    * subsequent batch must list and read. `targetFiles` bounds the folded
    * layout. Replays of folded batches become NO-OPS in the admit loops
    * (their verdicts and admitted rows are already fully present; the
    * same-batch_id exclusion can no longer hide folded rows, so
    * recomputing would self-collide — the watermark guard prevents it).
    * Run while the stream is STOPPED, and only for ingests that keep one
    * checkpoint lineage (a fresh checkpoint restarts batch ids at 0,
    * which the watermark would wrongly no-op). */
  def compactHistory(spark: SparkSession, dir: String,
                     targetFiles: Int = 8): Unit = {
    if (!graft.operators.ArtifactFold.exists(spark, dir)) return
    graft.operators.ArtifactFold.swapInFolded(spark, dir,
      spark.read.parquet(dir).drop("batch_id"), targetFiles)
  }

  /** Fold a segment-frequency history dir ([[foreachBatchSegmentDedup]])
    * — unlike the doc histories this one genuinely SHRINKS: per-batch
    * (h, n_docs) rows for the same fingerprint merge by count-sum, the
    * exact arithmetic the serve path runs, so post-fold dedup decisions
    * are identical (DocStreamsSpec gates it). Same stopped-stream /
    * stable-checkpoint contract as [[compactHistory]]. */
  def compactSegmentHistory(spark: SparkSession, dir: String,
                            targetFiles: Int = 1): Unit = {
    if (!graft.operators.ArtifactFold.exists(spark, dir)) return
    graft.operators.ArtifactFold.swapInFolded(spark, dir,
      spark.read.parquet(dir)
        .groupBy("h").agg(sum("n_docs").as("n_docs")), targetFiles)
  }

  private def loadHistoryCounts(spark: SparkSession, dir: String,
                                excludeBatchId: Long,
                                emptySchema: StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path)
        .exists(_.getPath.getName.startsWith("batch_id=")))
      spark.read.parquet(dir)
        .filter(col("batch_id").cast("long") =!= excludeBatchId)
        .select("h", "n_docs")
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema)
  }

  private def writePartition(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(dir)

  private def loadHistory(spark: SparkSession, dir: String,
                          excludeBatchId: Long, payload: String,
                          emptySchema: StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path)
        .exists(_.getPath.getName.startsWith("batch_id=")))
      spark.read.parquet(dir)
        .filter(col("batch_id").cast("long") =!= excludeBatchId)
        .select("doc_id", payload)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema)
  }
}
