package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-graph construction — the stage that turns a crawl into the edge
  * list every link-analysis operator consumes ([[LinkAnalysis]]
  * PageRank/TrustRank, [[Urls.domainStats]] domain graphs, anchor-text
  * corpora): per captured page, extract every `<a href>` with its
  * visible anchor text ([[Html.links]] — quote-aware attributes, entity
  * decode, implicit anchor close) and resolve the href against the
  * capture URL ([[Urls.resolveRef]] — RFC 3986 merge with `..`
  * normalization; mailto/javascript/fragment-to-self handled).
  *
  * Scale: per-row local parse + resolution behind a typed map — zero
  * shuffles, scan-bound, output size = edge count. Domain keys attach
  * afterward as pure codegen columns, so a follow-on domain-graph
  * aggregate shuffles fixed-width keys only. q164 gates extraction +
  * resolution closed-form.
  */
object LinkGraph {

  /** Outgoing edges of every page: (doc_id, link_idx, href, resolved,
    * anchor). Non-resolvable hrefs (mailto:, javascript:, empty) emit
    * no row; `link_idx` numbers the EMITTED edges per page in document
    * order. */
  def edges(df: DataFrame, id: Column, baseUrl: Column,
            html: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("_1"), baseUrl.cast("string").as("_2"),
        html.cast("string").as("_3"))
      .as[(Long, String, String)]
      .flatMap { case (d, base, h) =>
        Html.links(h).iterator
          .map(l => (l.href, Urls.resolveRef(base, l.href), l.text))
          .filter(_._2 != null)
          .zipWithIndex
          .map { case ((href, resolved, anchor), i) =>
            (d, i.toLong, href, resolved, anchor)
          }
      }
      .toDF("doc_id", "link_idx", "href", "resolved", "anchor")
  }

  /** [[edges]] with the page's capture URL carried through the flatMap
    * as a `base` column. Source-domain consumers (the q165 extraction
    * chain) need the capture URL next to every link row; without the
    * pass-through they re-join the pages frame on doc_id just to
    * recover it — one whole exchange of link-row payload (guide §2.4:
    * remove shuffles outright). Same rows as [[edges]], one extra
    * column. */
  def edgesWithBase(df: DataFrame, id: Column, baseUrl: Column,
                    html: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("_1"), baseUrl.cast("string").as("_2"),
        html.cast("string").as("_3"))
      .as[(Long, String, String)]
      .flatMap { case (d, base, h) =>
        Html.links(h).iterator
          .map(l => (l.href, Urls.resolveRef(base, l.href), l.text))
          .filter(_._2 != null)
          .zipWithIndex
          .map { case ((href, resolved, anchor), i) =>
            (d, base, i.toLong, href, resolved, anchor)
          }
      }
      .toDF("doc_id", "base", "link_idx", "href", "resolved", "anchor")
  }

  /** Canonical-URL election per page — the crawl-dedup signal a site
    * declares itself (one page served under many URLs names its ONE
    * canonical form): the first `<link rel="canonical">` wins (the
    * browser/search-engine rule for duplicate declarations), else the
    * first `og:url` meta, else the page's own capture URL; the elected
    * href resolves against the capture URL ([[Urls.resolveRef]]) and
    * normalizes ([[Urls.normalizeUrl]]) so dedup keys on the canonical
    * FORM, not the raw string. Unresolvable declared canonicals
    * (mailto:, empty) fall through to the next source.
    *
    * Output: (doc_id, canon_src "canonical"|"og:url"|"self",
    * canonical). Per-row local parse + codegen normalization — zero
    * shuffles; the downstream dedup is one canonical-keyed aggregate.
    * Scale note: this is the CHEAP dedup key — run it before minhash
    * (q28-class) machinery, because a declared canonical collapses
    * mirror URLs without any similarity work at all. */
  def canonicalUrls(df: DataFrame, id: Column, baseUrl: Column,
                    html: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val elected = df.select(id.cast("long").as("_1"),
        baseUrl.cast("string").as("_2"), html.cast("string").as("_3"))
      .as[(Long, String, String)]
      .map { case (d, base, h) =>
        val refs = Html.headRefs(h)
        def elect(kind: String): Option[(String, String)] =
          refs.iterator.filter(_.kind == kind)
            .map(r => Urls.resolveRef(base, r.href))
            .collectFirst { case u if u != null => (kind, u) }
        val (src, url) = elect("canonical").orElse(elect("og:url"))
          .getOrElse(("self", base))
        (d, src, url)
      }
      .toDF("doc_id", "canon_src", "__raw")
    elected.select(col("doc_id"), col("canon_src"),
      Urls.normalizeUrl(col("__raw")).as("canonical"))
  }

  /** Anchor-text corpus: the top-`k` inlink anchor phrases per resolved
    * target, by inlink count — the standard web-corpus retrieval/quality
    * signal (what the rest of the web CALLS a page beats what the page
    * says about itself; anchor aggregation over [[edges]]' output is the
    * classic construction). Output: (target, rank, anchor, cnt) with
    * rank 1..k per target, ties on count toward the lexicographically
    * smaller anchor (deterministic, engine-portable).
    *
    * 100 TB shape: one (target, anchor)-keyed count aggregate (map-side
    * combine — duplicate anchors collapse before the shuffle), then the
    * BOUNDED [[Selection.topKPerGroupTagged]] election: ≤ k (count,
    * anchor) pairs per (map partition, target), no per-target window
    * sort — a mega-inlink page (every crawl has a few) costs the same
    * aggregation state as a two-inlink one. */
  def anchorCorpus(edges: DataFrame, target: Column, anchor: Column,
                   k: Int): DataFrame = {
    val cnt = edges
      .select(target.cast("string").as("target"),
        anchor.cast("string").as("anchor"))
      .filter(col("target").isNotNull)
      .groupBy("target", "anchor").agg(count(lit(1)).as("cnt"))
    electTopAnchors(cnt, k)
  }

  /** The bounded top-k election shared by [[anchorCorpus]] (one-shot)
    * and [[servedAnchorCorpus]] (artifact-served): `cnt` is
    * (target, anchor, cnt). */
  private def electTopAnchors(cnt: DataFrame, k: Int): DataFrame =
    Selection.topKPerGroupTagged(cnt, Seq("target"),
        col("cnt").cast("double"), col("anchor"), k)
      .select(col("target"), col("rank"), col("tag").as("anchor"),
        // the election score IS the count (exact in double far past any
        // real inlink count) — no join back needed
        col("score").cast("long").as("cnt"))

  // ---- incremental link-graph artifact (the ArtifactFold contract) ----
  //
  // A daily-ingest crawl re-extracts edges per arrival; recomputing the
  // domain graph and anchor corpus from all captures every day is a full
  // re-scan of the corpus. Instead each ingest batch appends its OWN
  // aggregates (domain-edge weights, anchor-phrase counts — both
  // map-side-combined, both tiny next to the pages), serving re-sums
  // across partitions, and compaction folds each subdir's per-batch
  // partitions into the reserved base partition through the SHARED
  // [[ArtifactFold]] plumbing: per-subdir `_folded_watermark` stamped
  // INTO the staged dir, so watermark and folded data become visible
  // together at the rename swap, a replayed already-folded batch no-ops
  // in the append path, and between-renames crash debris is refused
  // (never silently recreated over) by append and fold alike.

  /** Lowest batch id folded into BOTH subdirs' base partitions
    * (Long.MinValue if never compacted) — below this, [[appendLinkBatch]]
    * is a whole-batch no-op. The min of the per-subdir watermarks: a
    * crash between the two subdir folds leaves them divergent, and each
    * subdir then no-ops its own replays independently. */
  private[operators] def foldedWatermark(spark: SparkSession,
                                         dir: String): Long = {
    migrateLegacyWatermark(spark, dir)
    Seq("edges", "anchors", "srcedges")
      .map(sub => ArtifactFold.foldedWatermark(spark, s"$dir/$sub")).min
  }

  /** One-time in-place migration from the pre-[[ArtifactFold]] layout:
    * early artifacts stamped a single root-level `compacted_watermark`
    * file instead of today's per-subdir `_folded_watermark`. Ignoring
    * it would read a migrated-but-uncompacted-since artifact as "never
    * folded" and a replay of an already-folded batch (the streaming
    * restart contract: same checkpoint lineage) would re-append next to
    * the folded base and double-count. Carries the legacy value into
    * each existing subdir that has no per-subdir watermark yet, then
    * removes the root file; idempotent, no-op when no legacy file. */
  private def migrateLegacyWatermark(spark: SparkSession,
                                     dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir, "compacted_watermark")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val in = fs.open(root)
    val legacy =
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    Seq("edges", "anchors").foreach { sub =>
      val subPath = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (fs.exists(subPath) &&
          ArtifactFold.foldedWatermark(spark, s"$dir/$sub") < legacy)
        ArtifactFold.writeWatermark(spark, s"$dir/$sub", legacy)
    }
    fs.delete(root, false)
  }

  /** Append one ingest batch's link-graph aggregates. `edges` is the
    * batch's per-link frame (already extracted, redirect-canonicalized
    * and whatever else the pipeline does upstream); per batch this
    * writes
    *
    *  - `dir/edges`: (src, dst, w) — `srcDomain`→`dstDomain` counts
    *    with intra-domain edges CUT (the q165 convention: same-site
    *    links say nothing about inter-site endorsement);
    *  - `dir/anchors`: (target, anchor, cnt) — per resolved-target
    *    anchor-phrase counts, NOT domain-cut (same-site anchors are
    *    still retrieval evidence);
    *  - `dir/srcedges`: (sd, tgt, c) — source-domain → canonical-target
    *    counts, domain-cut like `edges` but keeping the TARGET URL: the
    *    trust-endorsement input ([[servedSourceTargetCounts]] — how many
    *    times each domain vouches for each URL), which `edges`'
    *    domain×domain aggregation throws away. A pre-`srcedges` artifact
    *    must be rebuilt (or backfilled batch by batch) before serving
    *    source-target counts — only batches appended after the upgrade
    *    land in the new subdir.
    *
    * Idempotence: per subdir, batches at or below its fold watermark
    * no-op (their rows live in batch_id=-1 now); a retry first deletes
    * its own batch partitions, so it is exact regardless of what it
    * emits. Refuses an artifact left in the fold's crash window
    * ([[ArtifactFold.requireNoCrashDebris]]). */
  def appendLinkBatch(edges: DataFrame, srcDomain: Column,
                      dstDomain: Column, target: Column, anchor: Column,
                      dir: String, batchId: Long): Unit = {
    val spark = edges.sparkSession
    val subs = Seq("edges", "anchors", "srcedges")
    subs.foreach(sub => ArtifactFold.requireNoCrashDebris(spark, s"$dir/$sub"))
    migrateLegacyWatermark(spark, dir)
    val pending = subs.filter(sub =>
      batchId > ArtifactFold.foldedWatermark(spark, s"$dir/$sub"))
    if (pending.isEmpty) return
    pending.foreach(sub =>
      ArtifactFold.deleteBatchPartition(spark, s"$dir/$sub", batchId))
    // one extraction feeds both aggregates
    val e = CheckpointPolicy.pin(
      edges.select(srcDomain.cast("string").as("sd"),
          dstDomain.cast("string").as("dd"),
          target.cast("string").as("tgt"),
          anchor.cast("string").as("anchor")))
    if (pending.contains("edges"))
      e.filter(col("sd") =!= col("dd"))
        .groupBy(col("sd").as("src"), col("dd").as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$dir/edges")
    if (pending.contains("anchors"))
      e.filter(col("tgt").isNotNull)
        .groupBy(col("tgt").as("target"), col("anchor"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$dir/anchors")
    if (pending.contains("srcedges"))
      e.filter(col("sd") =!= col("dd"))
        .groupBy(col("sd"), col("tgt"))
        .agg(count(lit(1)).cast("double").as("c"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$dir/srcedges")
  }

  /** Does the subdir hold any partition at all? A batch whose aggregate
    * came up EMPTY (e.g. an all-intra-domain crawl slice leaves the
    * edge-cut frame with zero rows) writes only a `_SUCCESS` marker —
    * legitimate, and schema inference on such a dir fails, so the serve
    * and fold paths must treat it as an empty artifact, not an error. */
  private def subHasData(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith("batch_id="))
  }

  private def emptyFrame(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** The domain-edge frame served FROM the artifact: per-batch partial
    * weights re-summed — drop-in for the one-shot aggregate feeding
    * [[LinkAnalysis.pageRank]]/`personalizedPageRank`. */
  def servedDomainEdges(spark: SparkSession, dir: String): DataFrame = {
    // serving must refuse the fold's crash window too: a vanished live
    // subdir with `__fold_old` debris is NOT an empty graph, and an
    // empty frame here would turn into silently-zero rankings downstream
    ArtifactFold.requireNoCrashDebris(spark, s"$dir/edges")
    if (!subHasData(spark, s"$dir/edges"))
      emptyFrame(spark, "src STRING, dst STRING, w DOUBLE")
    else spark.read.parquet(s"$dir/edges")
      .groupBy("src", "dst").agg(sum(col("w")).cast("double").as("w"))
  }

  /** The anchor corpus served FROM the artifact: per-batch counts
    * re-summed, then the same bounded top-k election as
    * [[anchorCorpus]]. */
  def servedAnchorCorpus(spark: SparkSession, dir: String,
                         k: Int): DataFrame = {
    ArtifactFold.requireNoCrashDebris(spark, s"$dir/anchors")
    if (!subHasData(spark, s"$dir/anchors"))
      emptyFrame(spark, "target STRING, rank BIGINT, anchor STRING, cnt BIGINT")
    else electTopAnchors(
      spark.read.parquet(s"$dir/anchors")
        .groupBy("target", "anchor").agg(sum(col("cnt")).as("cnt")),
      k)
  }

  /** Fold the accumulated per-batch partitions of both artifacts into
    * the reserved base partition `batch_id=-1` via
    * [[ArtifactFold.swapInFolded]] per subdir (maintenance-window
    * operation — the swap is not transactional against concurrent
    * readers or a live [[graft.streaming.CrawlStreams
    * .foreachBatchLinkIngest]] writer; stop the stream first): each
    * subdir's watermark is stamped INTO its staged dir so watermark and
    * folded rows become visible together, and a crash between the two
    * subdir folds leaves the un-swapped subdir fully intact with its
    * old watermark (its replays keep no-opping independently).
    *
    * File sizing is AQE's (`targetFiles = 0`): the edges artifact is
    * domain-graph-sized and folds to one file, but the anchors artifact
    * is (target × anchor)-shaped — corpus-scale at a real crawl — and a
    * `coalesce(1)` there would funnel the whole fold through one task
    * and one file; AQE's advisory-size coalescing keeps both honest. */
  def compactLinkArtifacts(spark: SparkSession, dir: String): Unit = {
    Seq("edges", "anchors", "srcedges").foreach(sub =>
      ArtifactFold.requireNoCrashDebris(spark, s"$dir/$sub"))
    migrateLegacyWatermark(spark, dir)
    // a subdir with no partitions has nothing to fold (and no schema to
    // read) — its replays stay guarded by the per-subdir delete-then-write
    if (subHasData(spark, s"$dir/edges"))
      ArtifactFold.swapInFolded(spark, s"$dir/edges",
        spark.read.parquet(s"$dir/edges")
          .groupBy("src", "dst").agg(sum(col("w")).cast("double").as("w")),
        targetFiles = 0)
    if (subHasData(spark, s"$dir/anchors"))
      ArtifactFold.swapInFolded(spark, s"$dir/anchors",
        spark.read.parquet(s"$dir/anchors")
          .groupBy("target", "anchor").agg(sum(col("cnt")).as("cnt")),
        targetFiles = 0)
    if (subHasData(spark, s"$dir/srcedges"))
      ArtifactFold.swapInFolded(spark, s"$dir/srcedges",
        spark.read.parquet(s"$dir/srcedges")
          .groupBy("sd", "tgt").agg(sum(col("c")).cast("double").as("c")),
        targetFiles = 0)
  }

  /** The source-domain → canonical-target count frame served FROM the
    * artifact: per-batch partial counts re-summed — drop-in for the
    * one-shot `filter(sd =!= dd).groupBy(sd, tgt).count` aggregate over
    * a fresh extraction (exact integer counts either way, so the serve
    * is digit-identical; the q177 serving convention applied to the
    * trust-endorsement input, which previously re-paid the whole
    * extraction every run). */
  def servedSourceTargetCounts(spark: SparkSession, dir: String): DataFrame = {
    ArtifactFold.requireNoCrashDebris(spark, s"$dir/srcedges")
    if (!subHasData(spark, s"$dir/srcedges"))
      emptyFrame(spark, "sd STRING, tgt STRING, c DOUBLE")
    else spark.read.parquet(s"$dir/srcedges")
      .groupBy("sd", "tgt").agg(sum(col("c")).cast("double").as("c"))
  }
}
