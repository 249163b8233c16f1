package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vectors: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(11)
    (0L until 60L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
  }
  private lazy val df = vectors.toDF("vec_id", "embedding")

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
    val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
  }

  test("bruteForceTopK matches naive exact computation") {
    val queries = df.filter(col("vec_id") < 3)
    val got = Ann.bruteForceTopK(df, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

    for (q <- 0L until 3L) {
      val qv = vectors(q.toInt)._2
      val expected = vectors.map { case (id, v) => (id, cosine(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
      assert(got(q) == expected, s"query $q: got ${got(q)}, want $expected")
    }
    // self is always rank 1 with score 1
    assert((0L until 3L).forall(q => got(q).head == q))
  }

  test("TopKAggregator keeps k best with tie-break on smaller id") {
    val data = Seq(ScoredId(1.0, 5L), ScoredId(1.0, 2L), ScoredId(0.5, 1L),
      ScoredId(2.0, 9L), ScoredId(0.1, 0L))
    val agg = new TopKAggregator(3)
    val buf = data.foldLeft(agg.zero)(agg.reduce)
    val out = agg.finish(buf)
    assert(out.map(_.id) == Seq(9L, 2L, 5L))
    // merge of split halves gives same answer
    val (l, r) = data.splitAt(2)
    val merged = agg.finish(agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
    assert(merged.map(_.id) == Seq(9L, 2L, 5L))
  }

  test("TopKAggregator splice insert equals full-sort reference on random streams") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 100) {
      val k = 1 + rnd.nextInt(8)
      val n = rnd.nextInt(60)
      // small score/id domains force heavy ties and exact duplicates
      val data = Seq.fill(n)(ScoredId(rnd.nextInt(6) / 2.0, rnd.nextInt(12).toLong))
      val agg = new TopKAggregator(k)
      val (l, r) = data.splitAt(if (n == 0) 0 else rnd.nextInt(n + 1))
      val out = agg.finish(agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce)))
      val expect = data.sortBy(x => (-x.score, x.id)).take(k)
      assert(out == expect, s"trial $trial k=$k data=$data")
    }
  }

  test("ivfTopK recall@5 vs brute force is reasonable on fixture embeddings") {
    val e = graft.Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 10)
    def neighborSets(res: org.apache.spark.sql.DataFrame) = res
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = neighborSets(Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 5))
    val approx = neighborSets(Ann.ivfTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 5, nlist = 8, nprobe = 3))
    val recalls = exact.keys.toSeq.map { q =>
      approx.get(q).map(a => (a & exact(q)).size.toDouble / exact(q).size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@5 = $mean (want >= 0.5 at nprobe=3/8)")
  }

  test("ivfTopK returns self as top hit and plausible neighbors") {
    val queries = df.filter(col("vec_id") < 3)
    val got = Ann.ivfTopK(df, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 5, nlist = 4, nprobe = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for (q <- 0L until 3L) {
      assert(got(q).nonEmpty && got(q).head == q,
        s"query $q should find itself first: ${got.get(q)}")
    }
  }
  test("PqAdc equals the explicit LUT sum and stays in codegen") {
    import graft.functions.PqExprs
    // tiny hand model: dim 4, m 2, k 2; codebook[(m*2+j)*2+t]
    val cb = Array(0.0, 0.0, 1.0, 1.0, /* m0: c0=(0,0) c1=(1,1) */
                   0.5, 0.5, 2.0, 2.0) /* m1: c0=(.5,.5) c1=(2,2) */
    val df = Seq((1L, Seq(0.9, 1.1, 0.4, 0.6)), (2L, Seq(0.1, 0.0, 1.9, 2.1)))
      .toDF("id", "v")
    val coded = df.select(col("id"),
      PqExprs.pqEncode(col("v"), cb, 2, 2).as("codes"),
      PqExprs.pqLut(col("v"), cb, 2, 2).as("lut"))
    val rows = coded.select(col("id"), col("codes"), col("lut"),
        PqExprs.pqAdc(col("codes"), col("lut")).as("adc"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getSeq[Double](2), r.getDouble(3))).toMap
    // row 1: (0.9,1.1) nearest (1,1) -> code 1; (0.4,0.6) nearest (.5,.5) -> code 0
    assert(rows(1L)._1 == Seq(1, 0))
    // row 2: (0.1,0.0) -> code 0; (1.9,2.1) -> code 1
    assert(rows(2L)._1 == Seq(0, 1))
    rows.values.foreach { case (codes, lut, adc) =>
      val expected = codes.zipWithIndex.map { case (c, m) => lut(m * 2 + c) }.sum
      assert(math.abs(adc - expected) < 1e-12)
    }
    // lut entries are plain inner products
    assert(math.abs(rows(1L)._2(1) - (0.9 * 1.0 + 1.1 * 1.0)) < 1e-12)
  }

  test("pqTrain is deterministic and reconstruction improves with codebook size") {
    val e = graft.Tables.embeddings(spark, sf001)
    val m1 = Ann.pqTrain(e, col("vec_id"), col("embedding"), m = 8, k = 4)
    val m2 = Ann.pqTrain(e, col("vec_id"), col("embedding"), m = 8, k = 4)
    assert(m1.codebook.sameElements(m2.codebook), "same data+seed -> same model")
    // quantization error (sample MSE to nearest centroid) shrinks as k grows
    def mse(k: Int): Double = {
      val model = Ann.pqTrain(e, col("vec_id"), col("embedding"), m = 8, k = k)
      val sub = model.dim / model.m
      val vecs = e.select(col("embedding").cast("array<double>"))
        .limit(200).collect().map(_.getSeq[Double](0).toArray)
      vecs.map { v =>
        (0 until model.m).map { mm =>
          (0 until k).map { j =>
            (0 until sub).map { t =>
              val d = v(mm * sub + t) - model.codebook((mm * k + j) * sub + t); d * d
            }.sum
          }.min
        }.sum
      }.sum / vecs.length
    }
    val coarse = mse(2); val fine = mse(16)
    assert(fine < coarse, s"mse k=16 ($fine) must beat k=2 ($coarse)")
  }

  test("pqTopK recall@10 vs brute force clears the q57 gate on the fixture") {
    val e = graft.Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 8)
    def pairs(res: org.apache.spark.sql.DataFrame) = res
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10))
    val pqRaw = pairs(Ann.pqTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10))
    val rawRecall = (exact intersect pqRaw).size.toDouble / exact.size
    info(s"PQ ADC-only recall@10 = $rawRecall (${(exact intersect pqRaw).size}/${exact.size})")
    val pq = pairs(Ann.pqTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10, refine = 50))
    val recall = (exact intersect pq).size.toDouble / exact.size
    info(s"PQ refined recall@10 = $recall (${(exact intersect pq).size}/${exact.size})")
    assert(recall >= 0.8, s"recall $recall")
    assert(recall >= rawRecall, "rescoring must not hurt recall")
    // the q57 driver gate must also hold on the biggest fixture (2000
    // vectors, same worst-case uniform distribution, refine = 100)
    val r01 = SparkEntry.queries("q57_ann_pq")(spark, "/root/testdata/sf0.1").head()
    assert(r01.getLong(0) == 1L, "q57 recall gate at sf0.1")
    // the PQ scan moved codes, not vectors: 16 ints vs 64 doubles per row
  }

  test("ivfPqTopK recall@10 clears the q64 gate at both fixture scales") {
    val e = graft.Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 8)
    def pairs(res: org.apache.spark.sql.DataFrame) = res
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10))
    val ivfpq = pairs(Ann.ivfPqTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10,
      nlist = 16, nprobe = 8, refine = 100))
    val recall = (exact intersect ivfpq).size.toDouble / exact.size
    info(s"IVF-PQ recall@10 = $recall (${(exact intersect ivfpq).size}/${exact.size})")
    // both approximations stack (cells drop candidates, codes blur ranks):
    // gate at 0.6 with margin; q64's driver threshold is 48/80
    assert(recall >= 0.6, s"recall $recall")
    // ranked output shape matches the other ANN variants
    val out = Ann.ivfPqTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10,
      nlist = 16, nprobe = 8, refine = 100)
    assert(out.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "score"))
    // the driver gate must hold on the biggest fixture too
    val r01 = SparkEntry.queries("q64_ann_ivfpq")(spark, "/root/testdata/sf0.1").head()
    assert(r01.getLong(0) == 1L, "q64 recall gate at sf0.1")
  }

  test("jlTopK clears the q152 gate at both fixture scales and is " +
      "deterministic (md5 signs, no RNG state)") {
    val e = graft.Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 8)
    def pairs(res: org.apache.spark.sql.DataFrame) = res
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10))
    def run() = Ann.jlTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"),
      inDim = 64, jlDim = 32, kCand = 256, k = 10)
    val jl = pairs(run())
    val recall = (exact intersect jl).size.toDouble / exact.size
    info(s"JL recall@10 = $recall (${(exact intersect jl).size}/${exact.size})")
    assert(recall >= 0.7, s"recall $recall")
    assert(pairs(run()) == jl, "projection search must be run-deterministic")
    assert(run().columns.toSeq == Seq("query_id", "rank", "neighbor_id", "score"))
    // re-ranked scores are ORIGINAL-space cosines: the self-hit is ~1.0
    val self = run().filter(col("query_id") === col("neighbor_id"))
      .select("score").as[Double].collect()
    assert(self.length == 8 && self.forall(s => math.abs(s - 1.0) < 1e-6))
    val r01 = SparkEntry.queries("q152_jl_ann")(spark, "/root/testdata/sf0.1").head()
    assert(r01.getLong(0) == 1L, "q152 recall gate at sf0.1")
  }

  test("jlIvfTopK clears the q153 gate; the candidate scan touches exactly " +
      "the probed compressed cells, never the whole corpus") {
    val e = graft.Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 8)
    def pairs(res: org.apache.spark.sql.DataFrame) = res
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10))
    def run() = Ann.jlIvfTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"),
      inDim = 64, jlDim = 32, kCand = 256, k = 10, nlist = 16, nprobe = 8)
    val got = pairs(run())
    val recall = (exact intersect got).size.toDouble / exact.size
    info(s"JL-IVF recall@10 = $recall (${(exact intersect got).size}/${exact.size})")
    assert(recall >= 0.7, s"recall $recall")
    assert(pairs(run()) == got, "compressed IVF must be run-deterministic")
    // Pruning contract: the scored candidate frame holds one row per
    // (query, vector-in-probed-cell) pair — recomputed independently from
    // the same deterministic centroids — and strictly fewer than Q·N.
    val pc = RandomProjection.project(e, col("vec_id"), col("embedding"), 64, 32)
      .select(col("id").as("nid"), col("proj").cast("array<double>").as("cv"))
    val pq = RandomProjection.project(queries, col("vec_id"), col("embedding"), 64, 32)
      .select(col("id").as("query_id"), col("proj").cast("array<double>").as("qv"))
    val scoredN = Ann.ivfScoredPairs(pc, pq, nlist = 16, nprobe = 8,
      seed = 42, refineIters = 1).count()
    val cents = Ann.trainIvfCentroids(pc.select(col("nid"), col("cv")), 16, 42, 1)
    val centArr = typedLit(cents.map(_.toSeq).toSeq)
    val cellSizes = pc.select(Ann.ivfCellOf(centArr, col("cv")).as("cell"))
      .groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = pq
      .select(explode(Ann.ivfProbesOf(centArr, col("qv"), 8)).as("cell"))
      .collect().map(r => cellSizes.getOrElse(r.getInt(0), 0L)).sum
    assert(scoredN == expected,
      s"candidate rows $scoredN != sum of probed cell sizes $expected")
    val n = e.count()
    assert(scoredN < 8 * n, s"scan must prune: $scoredN vs Q*N = ${8 * n}")
  }

  test("ivfPqTopKIndexed over persisted artifacts equals inline ivfPqTopK bit-for-bit") {
    val e = graft.Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec_").toString
    Ann.writeIvfPqIndex(e, col("vec_id"), col("embedding"), dir, nlist = 16)
    // training is deterministic (hash-ordered samples, fixed iterations), so
    // the persisted-artifact serve path must reproduce the inline result
    // EXACTLY — any drift in the write/read roundtrip (codes, partition
    // typing, codebook precision) breaks row equality
    val inline = Ann.ivfPqTopK(e, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 10,
        nlist = 16, nprobe = 8, refine = 100)
      .collect().toSet
    val indexed = Ann.ivfPqTopKIndexed(e, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), dir, k = 10,
        nprobe = 8, refine = 100)
      .collect().toSet
    assert(indexed == inline, "indexed serve diverged from inline ivfPqTopK")
    // the probe filter must reach the codes scan as a PARTITION filter —
    // the layout, not a post-scan filter, enforces the nprobe/nlist read
    val plan = Ann.readIvfPqCodes(spark, dir)
      .filter(col("cell").isInCollection(Seq(0, 1)))
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"cell filter not pushed to partition pruning:\n$plan")
    // meta roundtrip: layout + codebook shapes survive parquet
    val meta = Ann.readIvfPqIndexMeta(spark, dir)
    assert(meta.nlist == 16 && meta.centroids.size == 16 &&
      meta.codebook.size == meta.m * meta.codesPerSub * (meta.dim / meta.m))
  }


  test("appendToIvfPqIndex: batch-split invariance, retry idempotence, appended rows serve") {
    val e = graft.Tables.embeddings(spark, sf001)
    val queries = e.filter(col("vec_id") < 8)
    val base = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val oddA = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val oddB = e.filter(pmod(col("vec_id"), lit(4)) === 3)

    def serve(dir: String) = Ann.ivfPqTopKIndexed(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), dir, k = 10, nprobe = 8,
      refine = 100).collect().toSet

    // one append batch vs the same rows split across two batches: the
    // model is identical (frozen at base build), so serving must match
    // bit-for-bit — batching is an ingest detail, not a semantic one
    val dir1 = java.nio.file.Files.createTempDirectory("graft_annapp1_").toString
    Ann.writeIvfPqIndex(base, col("vec_id"), col("embedding"), dir1, nlist = 16)
    Ann.appendToIvfPqIndex(oddA.unionByName(oddB), col("vec_id"), col("embedding"), dir1, 1L)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_annapp2_").toString
    Ann.writeIvfPqIndex(base, col("vec_id"), col("embedding"), dir2, nlist = 16)
    Ann.appendToIvfPqIndex(oddA, col("vec_id"), col("embedding"), dir2, 1L)
    Ann.appendToIvfPqIndex(oddB, col("vec_id"), col("embedding"), dir2, 2L)
    val r1 = serve(dir1)
    assert(r1 == serve(dir2), "append batching changed serving results")

    // a retried batch replaces its own partitions exactly
    Ann.appendToIvfPqIndex(oddB, col("vec_id"), col("embedding"), dir2, 2L)
    assert(serve(dir2) == r1, "retried append batch changed serving results")

    // appended vectors genuinely serve: every odd vec_id < 8 query must
    // find ITSELF (cosine 1.0) — impossible unless appended codes are
    // probed and the rescore sees them
    val selfHits = r1.collect {
      case row if row.getLong(0) % 2 == 1 &&
        row.getLong(0) == row.getLong(1) => row.getLong(0)
    }
    val oddQueries = queries.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(oddQueries.nonEmpty && selfHits.toSet == oddQueries,
      s"appended self-hits $selfHits != odd queries $oddQueries")

    // appends must refuse the reserved base batch id
    intercept[IllegalArgumentException](
      Ann.appendToIvfPqIndex(oddA, col("vec_id"), col("embedding"), dir2, 0L))
  }

  test("compactIvfPqIndex: folded index serves bit-identically; folded replays no-op; appends continue") {
    val e = graft.Tables.embeddings(spark, sf001)
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val b1 = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val b2 = e.filter(pmod(col("vec_id"), lit(4)) === 2)
    val b3 = e.filter(pmod(col("vec_id"), lit(4)) === 3)
    val queries = e.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_anncmp_").toString
    Ann.writeIvfPqIndex(base, col("vec_id"), col("embedding"), dir, nlist = 16)
    Ann.appendToIvfPqIndex(b1, col("vec_id"), col("embedding"), dir, 1L)
    Ann.appendToIvfPqIndex(b2, col("vec_id"), col("embedding"), dir, 2L)
    def serve() = Ann.ivfPqTopKIndexed(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), dir, k = 10, nprobe = 8,
      refine = 100).collect().map(_.toSeq).toSet
    def codeFiles(): Long = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/codes"))
      try walk.filter(f => f.toString.endsWith(".parquet")).count()
      finally walk.close()
    }
    val before = serve()
    val filesBefore = codeFiles()
    Ann.compactIvfPqIndex(spark, dir)
    assert(serve() == before, "compaction changed serving results")
    assert(codeFiles() < filesBefore,
      s"no file-count drop: $filesBefore -> ${codeFiles()}")
    // a replayed, already-folded batch must be a no-op (its codes live in
    // the base partitions now)
    Ann.appendToIvfPqIndex(b2, col("vec_id"), col("embedding"), dir, 2L)
    assert(serve() == before, "folded-batch replay double-counted")
    // a NEW batch after compaction serves (its self-hits appear) and its
    // own retry still replaces rather than duplicates
    Ann.appendToIvfPqIndex(b3, col("vec_id"), col("embedding"), dir, 3L)
    val after = serve()
    val b3SelfHits = after.collect {
      case row if row(0).asInstanceOf[Long] % 4 == 3 &&
        row(0) == row(1) => row(0)
    }
    assert(b3SelfHits.nonEmpty, "post-compaction append did not serve")
    Ann.appendToIvfPqIndex(b3, col("vec_id"), col("embedding"), dir, 3L)
    assert(serve() == after, "post-compaction retry double-counted")
  }

  test("appendToIvfPqIndex: a retry whose input lost a cell leaves no stale partitions") {
    // dynamic partition overwrite only replaces (cell, batch_id) partitions
    // present in the retry's output — if the retry's input shrank (upstream
    // change between attempts), cells only the FIRST attempt populated
    // would survive and double-count; the batch-prefix delete must win
    val e = graft.Tables.embeddings(spark, sf001)
    val base = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val oddA = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val both = e.filter(pmod(col("vec_id"), lit(2)) === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_annlost_").toString
    Ann.writeIvfPqIndex(base, col("vec_id"), col("embedding"), dir, nlist = 16)
    Ann.appendToIvfPqIndex(both, col("vec_id"), col("embedding"), dir, 1L)
    Ann.appendToIvfPqIndex(oddA, col("vec_id"), col("embedding"), dir, 1L)
    val served = Ann.readIvfPqCodes(spark, dir)
      .filter(col("batch_id") === 1).select("nid").as[Long].collect().toSet
    val expect = oddA.select(col("vec_id").cast("long")).as[Long].collect().toSet
    assert(served == expect,
      s"stale rows survived the shrunk retry: ${(served -- expect).take(5)}")
  }
}
