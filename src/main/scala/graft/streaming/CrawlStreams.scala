package graft.streaming

import graft.operators.{CheckpointPolicy, Html, WarcSources}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous crawl ingest — the streaming twin of the batch
  * [[graft.operators.WarcSources.readWarc]] path: crawlers DROP `.warc.gz`
  * files into a landing directory for hours/days, and the corpus should
  * grow per arrival instead of waiting for a nightly batch.
  *
  * Shape: Spark's `binaryFile` streaming source watches the landing dir
  * (whole files are the arrival unit — the parallelism axis of a crawl
  * landing zone is its thousands of ~1 GB files, so per-file decode is
  * the right streaming granularity; the batch reader's WITHIN-file
  * member splitting matters for reprocessing, not tailing); each
  * micro-batch flatMaps every new file through the SAME RFC 1952 member
  * walk + record parse as the batch path
  * ([[WarcSources.recordsFromBytes]] — one decode implementation, two
  * execution modes), extracts text (WET `conversion` records decode
  * UTF-8 directly; raw `response` records run [[Html.extract]]), and
  * lands clean text and quarantine rows in separate sinks.
  *
  * At-least-once idempotence (the [[DocStreams]] device): both sinks are
  * `batch_id`-partitioned under dynamic partition overwrite, so a
  * replayed micro-batch REPLACES its own partitions instead of
  * duplicating rows. There is no cross-batch state — ingest is
  * per-record local — so no history table and no fold contract; chain
  * [[DocStreams.foreachBatchAdmit]] downstream for continuous dedup.
  */
object CrawlStreams {

  /** The `binaryFile` source's fixed schema (streaming sources need it
    * stated explicitly). */
  val binaryFileSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
  }

  /** Watch `dir` for arriving WARC files (whole-file rows). */
  def readWarcFiles(spark: SparkSession, dir: String,
                    glob: String = "*.warc.gz"): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("content"))

  /** The continuous ingest loop: per micro-batch decode every arrived
    * file, land clean text rows at `textDir`
    * (doc-shaped: file, offset, url, date, record_type, title, text) and
    * quarantine rows at `quarantineDir` (file, offset, error, raw). */
  def foreachBatchCrawlIngest(files: DataFrame, textDir: String,
                              quarantineDir: String,
                              checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = files.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val recs = CheckpointPolicy.pin( // one decode pass feeds both sinks
          batch.select(col("path"), col("content"))
            .as[(String, Array[Byte])]
            .flatMap { case (p, b) => WarcSources.recordsFromBytes(p, b) }
            .toDF())
        val quarantine = recs.filter(col("error").isNotNull)
          .select(col("file"), col("offset"), col("error"),
            col("content").as("raw"))
          .withColumn("batch_id", lit(batchId))
        // WET conversion records ARE text; raw captures extract
        val conv = recs.filter(col("error").isNull &&
            col("record_type") === "conversion")
          .select(col("file"), col("offset"), col("url"), col("date"),
            col("record_type"), lit("").as("title"),
            decode(col("content"), "UTF-8").as("text"))
        val respText = recs.filter(col("error").isNull &&
            col("record_type") === "response")
          .select(col("file"), col("offset"), col("url"), col("date"),
            col("record_type"), decode(col("content"), "UTF-8").as("html"))
          .as[(String, Long, String, String, String, String)]
          .map { case (f, o, u, dt, rt, html) =>
            val e = Html.toText(html)
            (f, o, u, dt, rt, e.title, e.text)
          }
          .toDF("file", "offset", "url", "date", "record_type",
            "title", "text")
        val text = conv.unionByName(respText).withColumn("batch_id", lit(batchId))
        writePartition(text, textDir, batchId)
        writePartition(quarantine, quarantineDir, batchId)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** The streaming twin of q172's declared-canonical dedup stage: per
    * micro-batch of captured pages (doc_id, url, html), elect each
    * page's canonical form ([[graft.operators.LinkGraph.canonicalUrls]]
    * — the SAME election as the batch chain, so stream == batch by
    * construction), then admit FIRST-SEEN canonical forms: within a
    * batch the min-doc_id page per canonical wins; across batches any
    * history hit rejects. Verdict rows (doc_id, canon_src, canonical,
    * admitted) land at `admitDir`; admitted canonicals append to the
    * `batch_id`-partitioned history.
    *
    * At-least-once idempotence (the [[DocStreams]] device): the history
    * visible to a batch EXCLUDES partial writes of the SAME batch_id,
    * so a retry recomputes identical verdicts, and both sinks are
    * batch_id-partitioned under dynamic partition overwrite, so a
    * replayed batch REPLACES its own partitions. Batches at or below
    * the [[graft.operators.ArtifactFold]] folded watermark no-op (their
    * admitted rows live in the base partition after compaction). */
  def foreachBatchCanonicalAdmit(pages: DataFrame, historyDir: String,
                                 admitDir: String,
                                 checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = pages.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (batchId > graft.operators.ArtifactFold.foldedWatermark(
            spark, historyDir)) {
          val b = CheckpointPolicy.pin(
            graft.operators.LinkGraph.canonicalUrls(batch,
                col("doc_id"), col("url"), col("html")))
          val history = loadCanonicalHistory(spark, historyDir,
            excludeBatchId = batchId)
          val keeper = b.groupBy("canonical")
            .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("__k"))
          val flags = CheckpointPolicy.pin( // pin BEFORE history mutates beneath the plan
            b.join(keeper, Seq("canonical"))
              .join(history.select(col("canonical")).distinct()
                .withColumn("__seen", lit(1L)), Seq("canonical"), "left")
              .select(col("doc_id"), col("canon_src"), col("canonical"),
                (col("doc_id") === col("__k") && col("__seen").isNull)
                  .cast("long").as("admitted"))
              .withColumn("batch_id", lit(batchId)))
          writePartition(flags, admitDir, batchId)
          writePartition(flags.filter(col("admitted") === 1L)
            .select("doc_id", "canonical", "batch_id"), historyDir, batchId)
        }
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Watch `dir` for arriving sitemap XML files (whole-file rows —
    * the spec's 50k-entry/50 MB per-file cap makes per-file decode the
    * right streaming granularity, same argument as [[readWarcFiles]]). */
  def readSitemapFiles(spark: SparkSession, dir: String,
                       glob: String = "*.xml"): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("content"))

  /** Streaming sitemap DISCOVERY — the q170 seed-list chain per
    * arrival: sites drop/refresh sitemap files continuously, and the
    * crawl frontier should learn advertised URLs per arrival instead
    * of in a nightly batch. Per micro-batch every new file parses
    * through the SAME forward scanner as the batch path
    * ([[graft.operators.Sitemaps.parse]] — one implementation, two
    * execution modes), url entries run robots admission via the
    * streaming-composable rule filter
    * ([[graft.operators.Robots.filterAllowedStreaming]] — driver rule
    * map, bounded by its documented require), and admitted seeds land
    * `batch_id`-partitioned under dynamic partition overwrite (the
    * at-least-once idempotence device: a replayed micro-batch REPLACES
    * its own partitions). Quarantined entries (missing loc, bad
    * priority) land beside the seeds with their error strings — same
    * totality posture as the batch parse. No cross-batch state: parse
    * is per-file local; chain [[foreachBatchCanonicalAdmit]]-style
    * dedup downstream when the same URL may be advertised twice. */
  def foreachBatchSeedIngest(files: DataFrame,
                             robots: DataFrame, domainCol: Column,
                             txtCol: Column, agent: String,
                             seedDir: String,
                             checkpointDir: Option[String] = None): StreamingQuery = {
    // the robots rule map re-collects per micro-batch (one small driver
    // job per arrival, bounded by filterAllowedStreaming's documented
    // require) — which also means a robots refresh lands without a
    // stream restart
    val writer = files.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val ents = batch.select(col("path"), col("content"))
          .as[(String, Array[Byte])]
          .flatMap { case (p, bytes) =>
            val xml = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            graft.operators.Sitemaps.parse(xml).map(e =>
              (p, e.idx.toLong, e.kind, e.loc, e.lastmod, e.changefreq,
                e.priority, e.error))
          }
          .toDF("file", "entry_idx", "kind", "loc", "lastmod",
            "changefreq", "priority", "error")
        val urls = ents.filter(col("kind") === "url")
        val admitted = graft.operators.Robots.filterAllowedStreaming(
          urls, col("loc"), robots, domainCol, txtCol, agent)
        val out = admitted
          .unionByName(ents.filter(col("kind") === "error"))
          .withColumn("batch_id", lit(batchId))
        writePartition(out, seedDir, batchId)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Continuous link-graph ingest — the streaming twin of the q177
    * artifact build: captured pages arrive (doc_id, url, html) per
    * micro-batch, edges extract locally
    * ([[graft.operators.LinkGraph.edges]]), domain keys attach as
    * codegen columns, and the batch's aggregates append through the
    * SAME [[graft.operators.LinkGraph.appendLinkBatch]] as the batch
    * path — its watermark no-op guard and partition-delete retry
    * safety come with it, so stream == batch by construction and
    * q165/q166-class serving ([[graft.operators.LinkGraph
    * .servedDomainEdges]] / `servedAnchorCorpus`) reads a continuously
    * growing artifact. Batch-id contract: one stable checkpoint
    * lineage (the [[graft.operators.ArtifactFold]] monotonicity rule —
    * a fresh checkpoint would restart ids at 0 and the fold watermark
    * would wrongly no-op them).
    *
    * SINGLE-WRITER / MAINTENANCE-WINDOW CONTRACT:
    * [[graft.operators.LinkGraph.compactLinkArtifacts]]'s rename swap
    * is not transactional against this stream — run the fold only with
    * the stream STOPPED (a micro-batch landing mid-swap could append
    * against the vanished live dir, and a concurrent serve read could
    * miss it), then restart from the SAME checkpoint; the per-subdir
    * watermark makes any replayed pre-fold micro-batch a no-op and
    * post-fold ids keep appending (CrawlStreamsSpec drives the full
    * stop → fold → restart seam). */
  def foreachBatchLinkIngest(pages: DataFrame, artifactDir: String,
                             checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = pages.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val e = graft.operators.LinkGraph.edges(batch,
          col("doc_id"), col("url"), col("html"))
        val rows = e.join(batch.select(col("doc_id"), col("url")),
            Seq("doc_id"))
          .select(
            graft.operators.Urls.registeredDomain(col("url")).as("sd"),
            graft.operators.Urls.registeredDomain(col("resolved")).as("dd"),
            col("resolved").as("tgt"), col("anchor"))
        graft.operators.LinkGraph.appendLinkBatch(rows, col("sd"),
          col("dd"), col("tgt"), col("anchor"), artifactDir, batchId)
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  private def loadCanonicalHistory(spark: SparkSession, dir: String,
                                   excludeBatchId: Long): DataFrame = {
    import org.apache.spark.sql.types._
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path)
        .exists(_.getPath.getName.startsWith("batch_id=")))
      spark.read.parquet(dir)
        .filter(col("batch_id").cast("long") =!= excludeBatchId)
        .select("doc_id", "canonical")
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("canonical", StringType))))
  }

  /** Drop the batch's partition FIRST ([[graft.operators.ArtifactFold
    * .deleteBatchPartition]] — the retry safety shared by append paths:
    * dynamic overwrite alone leaves a first attempt's stale partition
    * behind when the retry's input lost rows), then land the frame. */
  private def writePartition(df: DataFrame, dir: String,
                             batchId: Long): Unit = {
    graft.operators.ArtifactFold.deleteBatchPartition(df.sparkSession,
      dir, batchId)
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(dir)
  }
}
