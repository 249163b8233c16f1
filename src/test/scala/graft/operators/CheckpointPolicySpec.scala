package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardWatchEventKinds}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

class CheckpointPolicySpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `body`'s result and the `rdd-*` dirs created under the context's
    * checkpoint root while it ran — one per reliable pin. Read from
    * filesystem events, so a dir the ContextCleaner reclaims before `body`
    * returns (its pinned frame already unreachable) still counts. Seeds the
    * root from `dir` if no reliable pin has yet, as the first one would. */
  private def reliablePins[T](dir: String)(body: => T): (T, Set[String]) = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    val root = Paths.get(new java.net.URI(sc.getCheckpointDir.get).getPath)
    val watcher = root.getFileSystem.newWatchService()
    try {
      root.register(watcher, StandardWatchEventKinds.ENTRY_CREATE)
      val out = body
      var created = Set.empty[String]
      var key = watcher.poll(500, TimeUnit.MILLISECONDS)
      while (key != null) {
        created ++= key.pollEvents().asScala.map(_.context().toString)
          .filter(_.startsWith("rdd-"))
        key.reset()
        key = watcher.poll(500, TimeUnit.MILLISECONDS)
      }
      (out, created)
    } finally watcher.close()
  }

  test("clusters: Reliable policy matches Local bit-for-bit and writes the dir") {
    // chain + separate component + singletons — exercises multiple rounds
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("id_a", "id_b")
    val ids = (0L to 7L).toDF("doc_id")
    val local = Dedup.clusters(pairs, ids)
      .as[(Long, Long)].collect().toMap
    val reliable = withCheckpointDir(tempDir("graft_ckpt_")) {
      Dedup.clusters(pairs, ids).as[(Long, Long)].collect().toMap
    }
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
    val dir = tempDir("graft_ckpt_q44_")
    val (reliableRows, q44Pins) = withCheckpointDir(dir)(reliablePins(dir) {
      SparkEntry.queries("q44_dedup_clusters")(spark, sf001)
        .as[(Long, Long)].collect().toSeq
    })
    assert(reliableRows == localRows,
      "q44 reliable-mode output diverged from local mode")
    assert(q44Pins.nonEmpty, "q44 made no reliable checkpoint")
    // queries whose operators take the conf without the query naming it
    for (q <- Seq("q123_pagerank", "q121_allpairs_jaccard",
        "q77_semantic_keepers")) {
      val local = rows(SparkEntry.queries(q)(spark, sf001))
      val (reliable, pins) = withCheckpointDir(dir)(reliablePins(dir) {
        rows(SparkEntry.queries(q)(spark, sf001))
      })
      assert(reliable == local, s"$q reliable-mode output diverged from local mode")
      assert(pins.nonEmpty, s"$q made no reliable checkpoint")
    }
  }

  test("round-7 converted pins: parity across policies for every operator") {
    // one dir serves all reliable runs (first pin seeds the context dir)
    val dir = tempDir("graft_ckpt_r7_")
    def assertParity(run: => DataFrame): Unit =
      assert(withCheckpointDir(dir)(rows(run)) == rows(run))

    // hammingNearDupPairs (covers simhash/image/audio dedup)
    val fps = Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 255L))
      .toDF("doc_id", "sh")
    assertParity(Dedup.hammingNearDupPairs(fps, 2))

    // ngramJaccardPairs
    val docs = Seq((0L, "abcabcabc"), (1L, "abcabcabcabc"), (2L, "zzzz"))
      .toDF("doc_id", "text")
    assertParity(Dedup.ngramJaccardPairs(docs, col("doc_id"),
      col("text"), n = 3, threshold = 0.3))

    // text incremental admission
    val batch = Seq((10L, "the same text"), (11L, "something fresh"))
      .toDF("doc_id", "text")
    val hist = Seq((0L, "the same text")).toDF("doc_id", "text")
    assertParity(Dedup.incrementalAdmit(batch, hist,
      col("doc_id"), col("text")))

    // embedding near-dup + incremental admission
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.001)),
      (2L, Seq(0.0, 1.0))).toDF("vec_id", "v")
    assertParity(Dedup.embeddingNearDupPairs(vecs,
      col("vec_id"), col("v"), threshold = 0.9))
    val vbatch = Seq((10L, Seq(1.0, 0.0)), (11L, Seq(0.0, -1.0)))
      .toDF("vec_id", "v")
    assertParity(Dedup.embeddingIncrementalAdmit(vbatch, vecs,
      col("vec_id"), col("v"), threshold = 0.9))

    // q50's word-count pin follows the session conf
    val localQ50 = rows(SparkEntry.queries("q50_heavy_hitters")(spark, sf001))
    assert(withCheckpointDir(dir)(
      rows(SparkEntry.queries("q50_heavy_hitters")(spark, sf001))) ==
      localQ50, "q50 reliable-mode output diverged")
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
    def keepers(): Set[Long] =
      CorpusPipeline.curate(docs, col("doc_id"), col("text"))
        .select("doc_id").as[Long].collect().toSet
    val local = keepers()
    val reliable = withCheckpointDir(tempDir("graft_ckpt_cur_"))(keepers())
    assert(reliable == local, "curate reliable-mode keepers diverged")
  }
}
