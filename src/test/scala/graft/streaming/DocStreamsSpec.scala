package graft.streaming

import graft.{SparkSpec, Tables}
import graft.functions.TextOps
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class DocStreamsSpec extends SparkSpec {

  /** Stage three ordered micro-batches (mod-time ordered files replayed by
    * `maxFilesPerTrigger(1)`): the two fixture halves, then a batch of
    * PLANTED exact duplicates — every half-1 doc re-arrives id+10000
    * (cross-batch dups against state/history), and the first 20 arrive a
    * second time id+20000 (in-batch dups). The fixture itself has no exact
    * duplicate texts, so without planting the dup path never fires. */
  private def stageBatches(): (String, Seq[DataFrame]) = {
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-docs2")
    val half1 = docs.filter(col("doc_id") < 250)
    val half2 = docs.filter(col("doc_id") >= 250)
    val dups = half1.select((col("doc_id") + 10000).as("doc_id"), col("text"))
      .unionByName(half1.filter(col("doc_id") < 20)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    def writeOne(df: DataFrame, name: String, modTime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-half")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = dir.resolve(name)
      java.nio.file.Files.copy(part, dest)
      dest.toFile.setLastModified(modTime)
      ()
    }
    val now = System.currentTimeMillis()
    writeOne(half1, "a.parquet", now - 120000)
    writeOne(half2, "b.parquet", now - 60000)
    writeOne(dups, "c.parquet", now)
    (dir.toString, Seq(half1, half2, dups))
  }

  test("streamingAdmitExact: state-store admission equals batch first-occurrence dedup") {
    val (dir, halves) = stageBatches()
    val streamed = DocStreams.streamingAdmitExact(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)))
    val got = EventStreams.runToMemory(spark, streamed, "admit_exact")
    assert(got.count() == 770, "every arriving doc must emit one verdict")
    // batch truth: first occurrence per content fingerprint is admitted
    // (arrival order == id order here, so first-seen == min id)
    val truth = halves.reduce(_ unionByName _)
      .select(col("doc_id"), TextOps.fingerprint64(col("text")).as("fp"))
      .withColumn("first_id", min("doc_id").over(Window.partitionBy("fp")))
      .select(col("doc_id"), col("fp"),
        when(col("doc_id") === col("first_id"), 1L).otherwise(0L).as("admitted"),
        col("first_id"))
    assert(got.select("doc_id", "fp", "admitted", "first_id")
      .exceptAll(truth).count() == 0, "stream/batch admission mismatch")
    assert(truth.exceptAll(got.select("doc_id", "fp", "admitted", "first_id"))
      .count() == 0)
    // the fixture actually exercises the dup path
    assert(got.filter(col("admitted") === 0).count() > 0)
  }

  test("foreachBatchAdmit: streaming loop equals the sequential batch replay " +
       "(full q65 gates incl. near-dup, history accumulates)") {
    val (dir, halves) = stageBatches()
    // (verdicts, history rows) of one streamed run over fresh dirs
    def stream(): (DataFrame, Long) = {
      val histDir = java.nio.file.Files.createTempDirectory("graft-hist").toString
      val admitDir = java.nio.file.Files.createTempDirectory("graft-admit").toString
      val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
      val q = DocStreams.foreachBatchAdmit(
        DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
        histDir, admitDir, maxHamming = 7, checkpointDir = Some(ckDir))
      try q.processAllAvailable() finally q.stop()
      (spark.read.parquet(admitDir)
        .select("doc_id", "exact_hist", "exact_batch", "near_hist", "admitted"),
        spark.read.parquet(histDir).count())
    }
    // at the default pins, then with every pin checkpointing reliably
    val pinDir = java.nio.file.Files.createTempDirectory("graft-pins").toString
    val runs = Seq(stream(), withCheckpointDir(pinDir)(stream()))

    // sequential batch replay of the same three ingests
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], halves.head.schema)
    val (expect, _) = halves.foldLeft(
        (Option.empty[DataFrame], empty.localCheckpoint())) {
      case ((acc, hist), b) =>
        val flags = Dedup.incrementalAdmit(b, hist, col("doc_id"), col("text"))
          .localCheckpoint()
        val admitted = b.join(flags.filter(col("admitted") === 1L)
          .select("doc_id"), Seq("doc_id"))
        (Some(acc.fold(flags)(_ unionByName flags)),
          hist.unionByName(admitted).localCheckpoint())
    }
    val exp = expect.get
      .select("doc_id", "exact_hist", "exact_batch", "near_hist", "admitted")

    for ((got, nHist) <- runs) {
      assert(got.count() == 770)
      assert(got.exceptAll(exp).count() == 0, "stream/batch gate mismatch")
      assert(exp.exceptAll(got).count() == 0)
      // history holds exactly the admitted docs
      assert(nHist == exp.filter(col("admitted") === 1L).count())
      // the planted batch exercises both dup-rejection paths
      assert(got.filter(col("admitted") === 0).count() >= 270)
    }
  }

  test("foreachBatchDrift: per-batch drift tables equal the batch monitor " +
       "against the same baseline") {
    val (dir, halves) = stageBatches()
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
    val baseDir = java.nio.file.Files.createTempDirectory("graft-base").toString
    docs.filter(col("doc_id") < 100).write.mode("overwrite").parquet(baseDir)
    val outDir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-dck").toString
    val q = DocStreams.foreachBatchDrift(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      baseDir, outDir, checkpointDir = Some(ckDir))
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(outDir)
    assert(got.select("batch_id").distinct().count() == 3)
    // each batch's table equals the batch-computed drift of the same slice
    def derived(df: DataFrame): DataFrame = {
      val t = coalesce(col("text"), lit(""))
      df.select(TextOps.tokenCount(t).as("n_tok"),
        length(t).cast("long").as("n_chars"),
        TextOps.langId(t).as("lang"), TextOps.tokens(t).as("toks"))
    }
    val baseline = spark.read.parquet(baseDir)
    halves.zipWithIndex.foreach { case (b, i) =>
      val exp = graft.operators.Profiling.drift(
        derived(baseline), derived(b),
        numeric = Seq("n_tok", "n_chars"), categorical = Seq("lang"),
        tokens = Some("toks"))
      val g = got.filter(col("batch_id").cast("long") === i.toLong)
        .drop("batch_id")
      assert(g.exceptAll(exp).count() == 0 && exp.exceptAll(g).count() == 0,
        s"drift mismatch for batch $i")
    }
    // identical-to-baseline batch scores zero drift everywhere: replay
    // batch 0 content == baseline? (baseline is half of batch 0, so not
    // zero — instead check the monitor flags a shifted batch harder than
    // an in-distribution one on the numeric PSI totals)
    val psi = got.filter(col("bucket") === "__psi" && col("column") === "n_tok")
      .select(col("batch_id").cast("long"), col("contrib"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(psi.size == 3)
  }

  test("foreachBatchCardinality: streamed sketch dir equals the batch-side " +
       "appends on the same slices") {
    val (dir, halves) = stageBatches()
    val streamOut = java.nio.file.Files.createTempDirectory("graft-hll-s").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-hck").toString
    val q = DocStreams.foreachBatchCardinality(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      Seq("doc_id", "text"), streamOut, checkpointDir = Some(ckDir))
    try q.processAllAvailable() finally q.stop()

    val batchOut = java.nio.file.Files.createTempDirectory("graft-hll-b").toString
    halves.zipWithIndex.foreach { case (b, i) =>
      graft.operators.Sketches.appendCardinalitySketches(
        b, Seq("doc_id", "text"), batchOut, i.toLong)
    }
    val s = graft.operators.Sketches.estimateCardinalities(spark, streamOut)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = graft.operators.Sketches.estimateCardinalities(spark, batchOut)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(s == b, s"stream $s != batch $b")
    assert(s.map(_._3).forall(_ == 3L)) // three micro-batches landed
  }

  test("foreachBatchFrequency: streamed CMS cells equal the batch-side appends") {
    val (dir, halves) = stageBatches()
    val streamOut = java.nio.file.Files.createTempDirectory("graft-cms-s").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-cck").toString
    val q = DocStreams.foreachBatchFrequency(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      org.apache.spark.sql.functions.col("text"), streamOut,
      checkpointDir = Some(ckDir))
    try q.processAllAvailable() finally q.stop()

    val batchOut = java.nio.file.Files.createTempDirectory("graft-cms-b").toString
    halves.zipWithIndex.foreach { case (b, i) =>
      graft.operators.Sketches.appendFrequencySketches(
        b, org.apache.spark.sql.functions.col("text"), batchOut, i.toLong)
    }
    // probe the estimates AND the raw cell tables
    val probe = halves.head.select("text").limit(3)
      .collect().map(_.getString(0)).toSeq :+ "absent-text"
    val sEst = graft.operators.Sketches.cmsEstimate(spark, streamOut, probe)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val bEst = graft.operators.Sketches.cmsEstimate(spark, batchOut, probe)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(sEst == bEst, s"stream $sEst != batch $bEst")
    val sc = spark.read.parquet(streamOut)
      .groupBy("r", "bucket").sum("cnt").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val bc = spark.read.parquet(batchOut)
      .groupBy("r", "bucket").sum("cnt").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(sc == bc, "merged cell tables differ")
  }

  test("foreachBatchHistogram: streamed histogram cells equal the batch-side appends") {
    import org.apache.spark.sql.functions.length
    val (dir, halves) = stageBatches()
    val (lo, hi, bins) = (0.0, 2000.0, 100)
    val streamOut = java.nio.file.Files.createTempDirectory("graft-hist-s").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-hkck").toString
    val q = DocStreams.foreachBatchHistogram(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      length(col("text")).cast("double"), streamOut, lo, hi, bins,
      checkpointDir = Some(ckDir))
    try q.processAllAvailable() finally q.stop()

    val batchOut = java.nio.file.Files.createTempDirectory("graft-hist-b").toString
    halves.zipWithIndex.foreach { case (b, i) =>
      graft.operators.Sketches.appendHistogramSketches(
        b, length(col("text")).cast("double"), batchOut, i.toLong, lo, hi, bins)
    }
    // quantile estimates AND the raw merged cell tables must agree
    val qs = Seq(0.1, 0.5, 0.9)
    val sEst = graft.operators.Sketches.histQuantiles(spark, streamOut, qs, lo, hi, bins)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val bEst = graft.operators.Sketches.histQuantiles(spark, batchOut, qs, lo, hi, bins)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(sEst == bEst, s"stream $sEst != batch $bEst")
    val sc = spark.read.parquet(streamOut)
      .groupBy("bin").sum("cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bc = spark.read.parquet(batchOut)
      .groupBy("bin").sum("cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sc == bc, "merged histogram cell tables differ")
  }

  test("foreachBatchKmv: streamed KMV sketch equals the batch-side appends") {
    val (dir, halves) = stageBatches()
    val streamOut = java.nio.file.Files.createTempDirectory("graft-kmv-s").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-kck").toString
    val q = DocStreams.foreachBatchKmv(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      col("text"), streamOut, k = 64, checkpointDir = Some(ckDir))
    try q.processAllAvailable() finally q.stop()

    val batchOut = java.nio.file.Files.createTempDirectory("graft-kmv-b").toString
    halves.zipWithIndex.foreach { case (b, i) =>
      graft.operators.Sketches.appendKmvSketches(
        b, col("text"), batchOut, i.toLong, k = 64)
    }
    val sEst = graft.operators.Sketches.kmvEstimate(spark, streamOut, k = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val bEst = graft.operators.Sketches.kmvEstimate(spark, batchOut, k = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(sEst == bEst, s"stream $sEst != batch $bEst")
    // the overlap serve path sees identical sketches too (self-overlap
    // of stream vs batch dirs: everything in both)
    val ov = graft.operators.Sketches.kmvOverlap(spark, streamOut, batchOut, k = 64)
      .collect()(0)
    assert(ov.getLong(0) == ov.getLong(1), "stream and batch sketches differ")
  }

  test("foreachBatchRank: streamed rank sketch serves identical quantiles " +
      "to the batch-side appends") {
    val (dir, halves) = stageBatches()
    val streamOut = java.nio.file.Files.createTempDirectory("graft-rank-s").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-rck").toString
    val q = DocStreams.foreachBatchRank(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      length(coalesce(col("text"), lit(""))), col("doc_id"),
      streamOut, k = 64, checkpointDir = Some(ckDir))
    try q.processAllAvailable() finally q.stop()

    val batchOut = java.nio.file.Files.createTempDirectory("graft-rank-b").toString
    halves.zipWithIndex.foreach { case (b, i) =>
      graft.operators.Sketches.appendRankSketches(
        b, length(coalesce(col("text"), lit(""))), col("doc_id"),
        batchOut, i.toLong, k = 64)
    }
    val qs = Seq(0.1, 0.5, 0.9)
    val sQ = graft.operators.Sketches.rankQuantiles(spark, streamOut, qs, k = 64)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val bQ = graft.operators.Sketches.rankQuantiles(spark, batchOut, qs, k = 64)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(sQ == bQ, s"stream $sQ != batch $bQ")
  }

  test("foreachBatchSegmentDedup: streaming loop equals the sequential batch replay " +
       "(cross-batch duplicated segments dropped from later batches)") {
    import spark.implicits._
    // batch 1: doc 0/1 share a segment; batch 2: doc 10 re-uses doc 0's
    // segment (cross-batch hit) and doc 11 is fresh; batch 3: doc 20 is a
    // full copy of doc 11 (its segments cross the threshold now)
    val b1 = Seq((0L, "a b c d e f"), (1L, "a b c x y z")).toDF("doc_id", "text")
    val b2 = Seq((10L, "q r s a b c"), (11L, "m n o p q u")).toDF("doc_id", "text")
    val b3 = Seq((20L, "m n o p q u")).toDF("doc_id", "text")
    val halves = Seq(b1, b2, b3)
    val dir = stageFiles(halves, "graft-stream-segdedup")
    val histDir = java.nio.file.Files.createTempDirectory("graft-seghist").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-segout").toString
    val q = DocStreams.foreachBatchSegmentDedup(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      histDir, outDir, segLen = 3, maxDocs = 1)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outDir)
      .select("doc_id", "n_tokens", "n_segments", "n_dropped_segments",
        "n_kept_tokens", "kept_md5")

    // sequential replay with the batch operator
    val emptyCounts = Seq.empty[(Long, Long)].toDF("h", "n_docs")
    val (exp, _) = halves.foldLeft(
        (Option.empty[DataFrame], emptyCounts.localCheckpoint())) {
      case ((acc, hist), b) =>
        val (cleaned, counts) = Dedup.segmentDedupAgainstHistory(b,
          col("doc_id"), TextOps.tokens(coalesce(col("text"), lit(""))),
          hist, segLen = 3, maxDocs = 1)
        (Some(acc.fold(cleaned.localCheckpoint())(_ unionByName cleaned.localCheckpoint())),
          hist.unionByName(counts).localCheckpoint())
    }
    assert(got.count() == 5)
    assert(got.exceptAll(exp.get.select(got.columns.toSeq.map(col): _*)).count() == 0,
      "stream/batch segment-dedup mismatch")
    // cross-batch semantics: doc 10 loses the [a b c] segment seen in
    // batch 1; doc 20 (copy of doc 11) loses BOTH its segments
    val byId = got.as[(Long, Long, Long, Long, Long, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(byId(10L)._4 == 1L, s"doc 10 must drop the history segment: ${byId(10L)}")
    assert(byId(20L)._4 == 2L && byId(20L)._5 == 0L,
      s"doc 20 must be emptied: ${byId(20L)}")
    // but batch-1/2 docs already emitted keep their original shape
    assert(byId(11L)._4 == 0L, s"doc 11 was first owner: ${byId(11L)}")
  }

  /** Mod-time-ordered parquet files, one per micro-batch (the stageBatches
    * device generalized to any frame sequence). */
  test("compactHistory: folded history serves identically; folded-batch replays no-op") {
    import spark.implicits._
    val (dir, halves) = stageBatches()
    val histDir = java.nio.file.Files.createTempDirectory("graft-chist").toString
    val admitDir = java.nio.file.Files.createTempDirectory("graft-cadmit").toString
    val ck1 = java.nio.file.Files.createTempDirectory("graft-cck1").toString
    val q = DocStreams.foreachBatchAdmit(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      histDir, admitDir, maxHamming = 7, checkpointDir = Some(ck1))
    try q.processAllAvailable() finally q.stop()

    def historyRows() = spark.read.parquet(histDir)
      .select("doc_id", "text").collect().map(_.toSeq).toSet
    def admitRows() = spark.read.parquet(admitDir)
      .select("doc_id", "admitted").collect().map(_.toSeq).toSet
    def partitions() = {
      val f = new java.io.File(histDir)
      f.listFiles().count(_.getName.startsWith("batch_id="))
    }
    val (histBefore, admitBefore, partsBefore) =
      (historyRows(), admitRows(), partitions())
    // keep an unfolded copy to compare next-batch verdicts against
    val unfolded = java.nio.file.Files.createTempDirectory("graft-chist2").toString
    spark.read.parquet(histDir).write.mode("overwrite")
      .partitionBy("batch_id").parquet(unfolded)

    DocStreams.compactHistory(spark, histDir, targetFiles = 2)
    assert(historyRows() == histBefore, "fold changed the history row set")
    // the all-duplicates batch admits nothing and writes no partition, so
    // 2 per-batch partitions fold into the single base partition
    assert(partitions() == 1 && partsBefore == 2,
      s"expected 2 -> 1 partitions, got $partsBefore -> ${partitions()}")

    // a NEW batch sees identical verdicts against folded vs unfolded history
    val next = Seq((90000L, "a brand new document"),
      (90001L, halves.head.orderBy("doc_id").select("text")
        .first().getString(0))).toDF("doc_id", "text")
    def verdicts(hdir: String) = graft.operators.Dedup.incrementalAdmit(
        next, spark.read.parquet(hdir).select("doc_id", "text"),
        col("doc_id"), col("text"))
      .select("doc_id", "exact_hist", "exact_batch", "near_hist", "admitted")
      .collect().map(_.toSeq).toSet
    assert(verdicts(histDir) == verdicts(unfolded),
      "folded history changed admission verdicts")

    // a fresh-checkpoint rerun over the SAME files replays batches 0..2 —
    // all ≤ the fold watermark, so every one must no-op (without the
    // guard, a folded batch's own docs would read as already-in-history
    // and self-collide)
    val ck2 = java.nio.file.Files.createTempDirectory("graft-cck2").toString
    val q2 = DocStreams.foreachBatchAdmit(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      histDir, admitDir, maxHamming = 7, checkpointDir = Some(ck2))
    try q2.processAllAvailable() finally q2.stop()
    assert(historyRows() == histBefore, "folded-batch replay mutated history")
    assert(admitRows() == admitBefore, "folded-batch replay mutated verdicts")
  }

  test("compactSegmentHistory: count-sum fold serves identically; new batches keep working") {
    import spark.implicits._
    val b1 = Seq((0L, "a b c d e f"), (1L, "a b c x y z")).toDF("doc_id", "text")
    val b2 = Seq((10L, "q r s a b c"), (11L, "m n o p q u")).toDF("doc_id", "text")
    val b3 = Seq((20L, "m n o p q u")).toDF("doc_id", "text")
    val dir = stageFiles(Seq(b1, b2), "graft-segcmp")
    val histDir = java.nio.file.Files.createTempDirectory("graft-seghc").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-segoc").toString
    val ck1 = java.nio.file.Files.createTempDirectory("graft-segck1").toString
    val q = DocStreams.foreachBatchSegmentDedup(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      histDir, outDir, segLen = 3, maxDocs = 1, checkpointDir = Some(ck1))
    try q.processAllAvailable() finally q.stop()

    def counts() = spark.read.parquet(histDir)
      .groupBy("h").agg(org.apache.spark.sql.functions.sum("n_docs"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = counts()
    DocStreams.compactSegmentHistory(spark, histDir)
    assert(counts() == before, "fold changed the merged segment counts")

    // new file + fresh checkpoint: old files replay as folded batches 0-1
    // (no-ops), the new file lands as batch 2 > watermark and dedups
    // against the folded counts exactly like the sequential replay
    val now = System.currentTimeMillis()
    val tmp = java.nio.file.Files.createTempDirectory("graft-segnew")
    b3.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val dest = java.nio.file.Paths.get(dir).resolve("2.parquet")
    java.nio.file.Files.copy(part, dest)
    dest.toFile.setLastModified(now + 60000)
    val outBefore = spark.read.parquet(outDir).count()
    val ck2 = java.nio.file.Files.createTempDirectory("graft-segck2").toString
    val q2 = DocStreams.foreachBatchSegmentDedup(
      DocStreams.readDocs(spark, dir, maxFilesPerTrigger = Some(1)),
      histDir, outDir, segLen = 3, maxDocs = 1, checkpointDir = Some(ck2))
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == outBefore + 1, "new batch must emit exactly doc 20")
    // doc 20 copies doc 11: its segments now cross maxDocs=1 → all dropped
    val d20 = out.filter(col("doc_id") === 20L)
      .select("n_dropped_segments", "n_kept_tokens").head()
    assert(d20.getLong(0) == 2L && d20.getLong(1) == 0L,
      s"doc 20 should lose both duplicated segments, got $d20")
  }

  private def stageFiles(dfs: Seq[DataFrame], prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    val now = System.currentTimeMillis()
    dfs.zipWithIndex.foreach { case (df, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"$prefix-part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = dir.resolve(s"$i.parquet")
      java.nio.file.Files.copy(part, dest)
      dest.toFile.setLastModified(now - (dfs.size - 1 - i) * 60000)
      ()
    }
    dir.toString
  }

  test("foreachBatchAdmitEmbeddings: streaming semantic loop equals the " +
       "sequential batch replay (planted twins, copies, in-batch dups)") {
    val e = Tables.embeddings(spark, sf001)
      .select(col("vec_id").cast("long").as("doc_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val half1 = e.filter(col("doc_id") < 250)
    val half2 = e.filter(col("doc_id") >= 250)
    // planted third batch: multiplicative near-dup twins of every 10th
    // half-1 vector (the q74/q77 distortion — cosine ≈ 0.98 vs base),
    // bit-exact copies of every 7th, and a within-batch duplicate of every
    // other twin
    val twins = half1.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(1.0) + lit(0.2) * ((i % 3) - 1).cast("double"))).as("embedding"))
    val copies = half1.filter(col("doc_id") % 7 === 1)
      .select((col("doc_id") + 20000).as("doc_id"), col("embedding"))
    val batchDups = twins.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 30000).as("doc_id"), col("embedding"))
    val batch3 = twins.unionByName(copies).unionByName(batchDups)
      .localCheckpoint()
    val halves = Seq(half1, half2, batch3)
    val dir = stageFiles(halves, "graft-stream-emb")
    val histDir = java.nio.file.Files.createTempDirectory("graft-ehist").toString
    val admitDir = java.nio.file.Files.createTempDirectory("graft-eadmit").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-eck").toString
    val q = DocStreams.foreachBatchAdmitEmbeddings(
      DocStreams.readEmbeddings(spark, dir, maxFilesPerTrigger = Some(1)),
      histDir, admitDir, threshold = 0.95, checkpointDir = Some(ckDir))
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(admitDir)
      .select("doc_id", "exact_hist", "exact_batch", "near_hist", "admitted")

    // sequential batch replay of the same three ingests
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], half1.schema)
    val (expect, _) = halves.foldLeft(
        (Option.empty[DataFrame], empty.localCheckpoint())) {
      case ((acc, hist), b) =>
        val flags = Dedup.embeddingIncrementalAdmit(b, hist,
            col("doc_id"), col("embedding"), threshold = 0.95)
          .localCheckpoint()
        val admitted = b.join(flags.filter(col("admitted") === 1L)
          .select("doc_id"), Seq("doc_id"))
        (Some(acc.fold(flags)(_ unionByName flags)),
          hist.unionByName(admitted).localCheckpoint())
    }
    val exp = expect.get
      .select("doc_id", "exact_hist", "exact_batch", "near_hist", "admitted")

    assert(got.count() == halves.map(_.count()).sum,
      "every arriving vector must emit one verdict")
    assert(got.exceptAll(exp).count() == 0, "stream/batch semantic gate mismatch")
    assert(exp.exceptAll(got).count() == 0)
    // history holds exactly the admitted vectors
    assert(spark.read.parquet(histDir).count() ==
      exp.filter(col("admitted") === 1L).count())
    // the planted batch exercises every rejection path
    assert(got.filter(col("near_hist") === 1L).count() > 0, "no near rejections")
    assert(got.filter(col("exact_hist") === 1L).count() > 0, "no exact-hist rejections")
    assert(got.filter(col("exact_batch") === 1L).count() > 0, "no in-batch rejections")
  }
}
