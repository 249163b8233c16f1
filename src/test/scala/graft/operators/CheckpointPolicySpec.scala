package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class CheckpointPolicySpec extends SparkSpec {
  import spark.implicits._

  test("clusters: Reliable policy matches Local bit-for-bit and writes the dir") {
    // chain + separate component + singletons — exercises multiple rounds
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("id_a", "id_b")
    val ids = (0L to 7L).toDF("doc_id")
    val local = Dedup.clusters(pairs, ids)
      .as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val reliable = Dedup.clusters(pairs, ids,
        policy = CheckpointPolicy.Reliable(dir))
      .as[(Long, Long)].collect().toMap
    assert(reliable == local, "reliable-mode labels diverged from local mode")
    // the pins really went to reliable storage: the context's checkpoint
    // dir is seeded and holds rdd checkpoint data
    val ckptRoot = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
    def countFiles(f: java.io.File): Int =
      if (f.isFile) 1 else Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0)
    assert(countFiles(ckptRoot) > 0, s"no checkpoint files under $ckptRoot")
  }

  test("q44 runs in reliable mode via spark.graft.checkpoint.dir and matches local") {
    val localRows = SparkEntry.queries("q44_dedup_clusters")(spark, sf001)
      .as[(Long, Long)].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_q44_").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val reliableRows = SparkEntry.queries("q44_dedup_clusters")(spark, sf001)
        .as[(Long, Long)].collect().toSeq
      assert(reliableRows == localRows,
        "q44 reliable-mode output diverged from local mode")
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("round-7 converted pins: parity across policies for every operator") {
    // one Reliable dir serves all runs (first pin seeds the context dir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_r7_").toString
    val rel = CheckpointPolicy.Reliable(dir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted

    // hammingNearDupPairs (covers simhash/image/audio dedup)
    val fps = Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 255L))
      .toDF("doc_id", "sh")
    assert(rows(Dedup.hammingNearDupPairs(fps, 2, policy = rel)) ==
      rows(Dedup.hammingNearDupPairs(fps, 2)))

    // ngramJaccardPairs
    val docs = Seq((0L, "abcabcabc"), (1L, "abcabcabcabc"), (2L, "zzzz"))
      .toDF("doc_id", "text")
    assert(rows(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, threshold = 0.3, policy = rel)) ==
      rows(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, threshold = 0.3)))

    // text incremental admission
    val batch = Seq((10L, "the same text"), (11L, "something fresh"))
      .toDF("doc_id", "text")
    val hist = Seq((0L, "the same text")).toDF("doc_id", "text")
    assert(rows(Dedup.incrementalAdmit(batch, hist, col("doc_id"),
        col("text"), policy = rel)) ==
      rows(Dedup.incrementalAdmit(batch, hist, col("doc_id"), col("text"))))

    // embedding near-dup + incremental admission
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.001)),
      (2L, Seq(0.0, 1.0))).toDF("vec_id", "v")
    assert(rows(Dedup.embeddingNearDupPairs(vecs, col("vec_id"), col("v"),
        threshold = 0.9, policy = rel)) ==
      rows(Dedup.embeddingNearDupPairs(vecs, col("vec_id"), col("v"),
        threshold = 0.9)))
    val vbatch = Seq((10L, Seq(1.0, 0.0)), (11L, Seq(0.0, -1.0)))
      .toDF("vec_id", "v")
    assert(rows(Dedup.embeddingIncrementalAdmit(vbatch, vecs, col("vec_id"),
        col("v"), threshold = 0.9, policy = rel)) ==
      rows(Dedup.embeddingIncrementalAdmit(vbatch, vecs, col("vec_id"),
        col("v"), threshold = 0.9)))

    // q50's word-count pin follows the session policy conf
    val localQ50 = rows(SparkEntry.queries("q50_heavy_hitters")(spark, sf001))
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try assert(rows(SparkEntry.queries("q50_heavy_hitters")(spark, sf001)) ==
      localQ50, "q50 reliable-mode output diverged")
    finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("curate parity across policies on a duplicate-heavy corpus") {
    val base = "repeated words about streams and windows flowing through the " +
      "engine with enough length to clear the gopher word count gate easily " +
      "and some more filler words to be safe for every rule in the set today"
    val docs = Seq(
      (1L, base, "src0"), (2L, base + " extra", "src0"), (3L, base, "src1"),
      (4L, "a completely different document describing broadcast joins and " +
        "partition pruning with plenty of ordinary words spread across the " +
        "sentence so the quality rules keep it in the corpus for the test", "src1"))
      .toDF("doc_id", "text", "source")
    val local = CorpusPipeline.curate(docs, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_cur_").toString
    val reliable = CorpusPipeline.curate(docs, col("doc_id"), col("text"),
        policy = CheckpointPolicy.Reliable(dir))
      .select("doc_id").as[Long].collect().toSet
    assert(reliable == local, "curate reliable-mode keepers diverged")
  }
}
