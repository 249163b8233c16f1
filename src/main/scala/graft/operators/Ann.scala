package graft.operators

import graft.functions.{PqExprs, VectorExprs, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

case class ScoredId(score: Double, id: Long)

/** Bounded top-k aggregate over (score, id) pairs. Buffer = ascending-sorted
  * vector capped at k, so `groupBy(query).agg(topK)` does map-side partial
  * top-k per partition and shuffles at most k rows per (partition, query) —
  * the shape that makes brute-force scoring of a 100 TB corpus against Q
  * queries a single scan + tiny exchange, instead of a window over a
  * corpus×Q shuffle. Insert is a binary search + one array splice (O(log k)
  * compares + O(k) copy, and O(1) outright rejection of the typical
  * below-the-bar row) — not a per-row re-sort, which at refine-sized k over
  * billions of scored rows was measurable CPU in the hottest ANN aggregate. */
class TopKAggregator(k: Int) extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {
  require(k > 0)
  def zero: Seq[ScoredId] = Vector.empty

  // ascending (score, −id): among equal scores the larger id sorts FIRST,
  // so the head is always the element top-k preference evicts next — same
  // order and tie-breaks as the original sortBy(x => (x.score, -x.id))
  private def less(a: ScoredId, b: ScoredId): Boolean =
    a.score < b.score || (a.score == b.score && a.id > b.id)

  private def insert(buf: Seq[ScoredId], s: ScoredId): Seq[ScoredId] = {
    val n = buf.length
    if (n >= k && !less(buf.head, s)) buf
    else {
      val drop = if (n >= k) 1 else 0 // at capacity: evict the head (worst)
      val arr = new Array[ScoredId](n - drop + 1)
      var lo = drop
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (less(buf(mid), s)) lo = mid + 1 else hi = mid
      }
      var i = drop
      while (i < lo) { arr(i - drop) = buf(i); i += 1 }
      arr(lo - drop) = s
      while (lo < n) { arr(lo - drop + 1) = buf(lo); lo += 1 }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
    }
  }

  def reduce(buf: Seq[ScoredId], in: ScoredId): Seq[ScoredId] = insert(buf, in)
  def merge(a: Seq[ScoredId], b: Seq[ScoredId]): Seq[ScoredId] = b.foldLeft(a)(insert)
  def finish(buf: Seq[ScoredId]): Seq[ScoredId] = buf.reverse
  def bufferEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder[Seq[ScoredId]]()
  def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder[Seq[ScoredId]]()
}

case class ScoredTag(score: Double, tag: String)

/** [[TopKAggregator]] with a STRING payload — for top-k elections whose
  * identity is text (anchor phrases, tokens, titles) and no long-id
  * dictionary exists. Same bounded ascending buffer, same map-side
  * partial top-k; ties on score break toward the LEXICOGRAPHICALLY
  * SMALLER tag (deterministic without any id). */
class TopKTagAggregator(k: Int)
    extends Aggregator[ScoredTag, Seq[ScoredTag], Seq[ScoredTag]] {
  require(k > 0)
  def zero: Seq[ScoredTag] = Vector.empty

  // ascending (score, reversed-tag): the head is always the element a
  // full buffer evicts next — lowest score, largest tag among equals
  private def less(a: ScoredTag, b: ScoredTag): Boolean =
    a.score < b.score || (a.score == b.score && a.tag > b.tag)

  private def insert(buf: Seq[ScoredTag], s: ScoredTag): Seq[ScoredTag] = {
    val n = buf.length
    if (n >= k && !less(buf.head, s)) buf
    else {
      val drop = if (n >= k) 1 else 0
      val arr = new Array[ScoredTag](n - drop + 1)
      var lo = drop
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (less(buf(mid), s)) lo = mid + 1 else hi = mid
      }
      var i = drop
      while (i < lo) { arr(i - drop) = buf(i); i += 1 }
      arr(lo - drop) = s
      while (lo < n) { arr(lo - drop + 1) = buf(lo); lo += 1 }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
    }
  }

  def reduce(buf: Seq[ScoredTag], in: ScoredTag): Seq[ScoredTag] = insert(buf, in)
  def merge(a: Seq[ScoredTag], b: Seq[ScoredTag]): Seq[ScoredTag] = b.foldLeft(a)(insert)
  def finish(buf: Seq[ScoredTag]): Seq[ScoredTag] = buf.reverse
  def bufferEncoder: Encoder[Seq[ScoredTag]] = ExpressionEncoder[Seq[ScoredTag]]()
  def outputEncoder: Encoder[Seq[ScoredTag]] = ExpressionEncoder[Seq[ScoredTag]]()
}

/** Approximate / exact nearest-neighbor search over an embedding column. */
object Ann {

  /** Brute-force cosine top-k: every (query, corpus) pair is scored in one
    * projection over the corpus scan (queries ride along as a broadcast
    * cross join — Q rows), then [[TopKAggregator]] reduces to k neighbors
    * per query with map-side combine. Exact; the baseline the approximate
    * variants are judged against.
    *
    * Output: (query_id, rank, neighbor_id, score).
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                     queries: DataFrame, queryId: Column, queryVec: Column,
                     k: Int): DataFrame = {
    val c = corpus.select(corpusId.cast("long").as("nid"),
      corpusVec.cast("array<double>").as("cv"))
    val q = queries.select(queryId.cast("long").as("query_id"),
      queryVec.cast("array<double>").as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("nid"),
        VectorOps.cosine(col("cv"), col("qv")).as("score"))
    topKFromScores(scored, k)
  }

  /** groupBy(query).agg(TopKAggregator) + explode to ranked rows
    * (query_id, rank, neighbor_id, score). The udaf takes the flattened
    * (score, id) input pair. */
  private def topKFromScores(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k), Encoders.product[ScoredId])
    scored
      .groupBy("query_id")
      .agg(topk(col("score"), col("nid")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("rank0", "n")))
      .select(col("query_id"), (col("rank0") + 1).cast("long").as("rank"),
        col("n.id").as("neighbor_id"), round(col("n.score"), 6).as("score"))
  }

  /** Compressed-space ANN via [[RandomProjection]] — the
    * project-once / search-compressed / verify-original recipe:
    * corpus and queries JL-project to `jlDim` Rademacher coordinates,
    * candidates come from brute-force cosine top-`kCand` in the
    * compressed space (scoring cost ÷ inDim/jlDim, and at ingest the
    * projection is stored so the original vectors never enter the
    * scoring scan), survivors re-rank by ORIGINAL-space cosine and the
    * top-`k` emerge. Distance distortion is the JL bound, and the
    * kCand > k refine margin absorbs it — the same refine argument as
    * [[ivfPqTopK]], with a data-independent (model-free, merge-free)
    * index. 100 TB shape: one compressed scan with the bounded top-k
    * aggregate; the re-rank joins touch Q·kCand candidate rows against
    * the corpus by id (broadcast of the candidate side). */
  def jlTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
             queries: DataFrame, queryId: Column, queryVec: Column,
             inDim: Int, jlDim: Int, kCand: Int, k: Int): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    val pc = RandomProjection.project(corpus, corpusId, corpusVec, inDim, jlDim)
      .select(col("id"), col("proj"))
    val pq = RandomProjection.project(queries, queryId, queryVec, inDim, jlDim)
      .select(col("id"), col("proj"))
    val cand = bruteForceTopK(pc, col("id"), col("proj"),
      pq, col("id"), col("proj"), kCand)
    rerankOriginal(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      cand, k)
  }

  /** Shared refine tail of the compressed-space searches: re-score the
    * Q·kCand candidate (query, neighbor) pairs by ORIGINAL-space cosine
    * and keep the top-k. The candidate side broadcasts (bounded by
    * Q·kCand ids), so the corpus is touched by one id-keyed semi-join —
    * no second full scan of the original vectors. */
  private def rerankOriginal(corpus: DataFrame, corpusId: Column,
                             corpusVec: Column, queries: DataFrame,
                             queryId: Column, queryVec: Column,
                             cand: DataFrame, k: Int): DataFrame = {
    val nvec = corpus.select(corpusId.cast("long").as("neighbor_id"),
      corpusVec.cast("array<double>").as("__nv"))
    val qvec = queries.select(queryId.cast("long").as("query_id"),
      queryVec.cast("array<double>").as("__qv"))
    val scored = broadcast(cand.select("query_id", "neighbor_id"))
      .join(nvec, Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id").as("nid"),
        VectorOps.cosine(col("__nv"), col("__qv")).as("score"))
    topKFromScores(scored, k)
  }

  /** Compressed-space IVF — [[jlTopK]]'s payload cut COMPOSED with
    * [[ivfTopK]]'s cell pruning, so the 100 TB scan is sublinear AND
    * compressed: corpus and queries JL-project to `jlDim` (at ingest the
    * projection is stored; original vectors never enter the scoring
    * scan), the coarse centroids are trained IN the JL space (distance
    * distortion is the JL bound, so Voronoi structure survives
    * projection), each query scores only its `nprobe` of `nlist` cells
    * in the compressed space, and the surviving top-`kCand` re-rank by
    * original-space cosine ([[rerankOriginal]]). Per-query scoring cost:
    * (nprobe/nlist) · (jlDim/inDim) of brute force — the two dials
    * multiply — plus the id-keyed refine join. Recall loses both to cell
    * misses and to JL distortion; `kCand` ≫ `k` absorbs the latter, and
    * nprobe is the dial for the former (q153 pins the fixture gate).
    *
    * Reference scope note: `/root/reference` has no vector search; this
    * is part of the LLM-data-pipeline extension surface (brute / JL /
    * IVF / PQ / IVF-PQ family, see SURVEY.md). */
  def jlIvfTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                queries: DataFrame, queryId: Column, queryVec: Column,
                inDim: Int, jlDim: Int, kCand: Int, k: Int,
                nlist: Int = 16, nprobe: Int = 8, seed: Long = 42,
                refineIters: Int = 1): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    // Pin the projected corpus: a pure projection recomputes on EVERY
    // downstream action, and three consume it (the centroid sample
    // collect, the Lloyd refinement pass, and the scoring scan) — each
    // re-running the O(inDim·jlDim) fold per row. Measured at sf0.1:
    // 7.3 s unpinned vs ~1 s pinned (the ivfPqTopK checkpoint lesson).
    // At ingest this frame is the PERSISTED compressed column anyway.
    val pc = RandomProjection.project(corpus, corpusId, corpusVec, inDim, jlDim)
      .select(col("id"), col("proj"))
      .localCheckpoint()
    val pq = RandomProjection.project(queries, queryId, queryVec, inDim, jlDim)
      .select(col("id"), col("proj"))
    val cand = topKFromScores(ivfScoredPairs(
      pc.select(col("id").as("nid"), col("proj").cast("array<double>").as("cv")),
      pq.select(col("id").as("query_id"), col("proj").cast("array<double>").as("qv")),
      nlist, nprobe, seed, refineIters), kCand)
      .select(col("query_id"), col("neighbor_id"))
    rerankOriginal(corpus, corpusId, corpusVec, queries, queryId, queryVec,
      cand, k)
  }

  /** IVF-style ANN: partition the corpus into `nlist` Voronoi cells around
    * sampled centroids (cell id = argmax dot with a literal centroid matrix
    * — pure codegen expression), then scan only the `nprobe` cells nearest
    * each query. The cell column is computed once (in practice: persisted /
    * partitioned-by at ingest), so each query touches nprobe/nlist of the
    * data — the standard recall/throughput dial.
    */
  def ivfTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, nlist: Int = 16, nprobe: Int = 4, seed: Long = 42,
              refineIters: Int = 1): DataFrame =
    topKFromScores(ivfScoredPairs(
      corpus.select(corpusId.cast("long").as("nid"),
        corpusVec.cast("array<double>").as("cv")),
      queries.select(queryId.cast("long").as("query_id"),
        queryVec.cast("array<double>").as("qv")),
      nlist, nprobe, seed, refineIters), k)

  /** The IVF candidate-scoring frame — (query_id, nid, score) for every
    * vector in each query's `nprobe` probed cells and NOTHING else (the
    * spec-visible pruning contract: row count = Σ_query probed-cell
    * populations). `c` is (nid, cv), `q` is (query_id, qv). */
  private[operators] def ivfScoredPairs(c: DataFrame, q: DataFrame,
                                        nlist: Int, nprobe: Int, seed: Long,
                                        refineIters: Int): DataFrame = {
    val cents = trainIvfCentroids(c, nlist, seed, refineIters)
    // NB: ONE transform lambda over a 2-D centroid literal — the cosine body
    // is planned/compiled once, not nlist times (and never as a pairwise
    // when/otherwise reduce, which would duplicate subtrees exponentially).
    val centArr = typedLit(cents.map(_.toSeq).toSeq)
    val cc = c.withColumn("cell", ivfCellOf(centArr, col("cv")))
    val qq = q.withColumn("cell", explode(ivfProbesOf(centArr, col("qv"), nprobe)))
    cc.join(broadcast(qq), Seq("cell"))
      .select(col("query_id"), col("nid"),
        VectorOps.cosine(col("cv"), col("qv")).as("score"))
  }

  /** IVF coarse centroids: deterministic sample of nlist corpus vectors
    * (kmeans init), then `refineIters` Lloyd steps — each step is one
    * distributed assignment pass + a posexplode/groupBy mean (nlist x dim
    * rows back to the driver). Tighter cells raise recall at the same
    * nprobe. */
  private[operators] def trainIvfCentroids(c: DataFrame, nlist: Int, seed: Long,
                                           refineIters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = c.select(col("cv"))
      .orderBy(xxhash64(col("nid"), lit(seed)))
      .limit(nlist).collect().map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to refineIters) {
      val centArr0 = typedLit(cents.map(_.toSeq).toSeq)
      val means = c.select(col("cv"), ivfCellOf(centArr0, col("cv")).as("cell"))
        .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(avg("v").as("m"))
        .collect()
      val refined = cents.map(_.clone())
      means.foreach { r =>
        refined(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) = r.getAs[Double]("m")
      }
      cents = refined
    }
    cents
  }

  private def ivfScoredCells(centArr: Column, vec: Column): Column =
    transform(centArr, (c, i) =>
      struct(VectorOps.cosine(vec, c).as("s"), i.as("cell")))
  private[operators] def ivfCellOf(centArr: Column, vec: Column): Column =
    array_max(ivfScoredCells(centArr, vec)).getField("cell")
  private[operators] def ivfProbesOf(centArr: Column, vec: Column, nprobe: Int): Column =
    slice(reverse(array_sort(ivfScoredCells(centArr, vec))), 1, nprobe)
      .getField("cell")

  /** Product-quantization codebooks: flat layout
    * `codebook[(m·K + j)·sub + t]`, sub = dim/M (see [[graft.functions.PqEncode]]). */
  case class PqModel(m: Int, k: Int, dim: Int, codebook: Array[Double])

  /** Unit-normalize in two projections: the norm is materialized FIRST so
    * the interpreted `transform` lambda divides by a bound value instead of
    * re-evaluating the dot product once per element (the BENCH.md HOF
    * lesson). Runs once per row at ingest; zero vectors pass through. */
  private def unitNorm(df: DataFrame, id: Column, vec: Column,
                       idName: String): DataFrame =
    df.select(id.cast("long").as(idName), vec.cast("array<double>").as("__v"))
      .select(col(idName), col("__v"),
        sqrt(VectorExprs.dot(col("__v"), col("__v"))).as("__n"))
      .select(col(idName),
        when(col("__n") > 0, transform(col("__v"), x => x / col("__n")))
          .otherwise(col("__v")).as("cv"))

  /** Train PQ codebooks: per-subspace Lloyd k-means on a DETERMINISTIC
    * driver-side sample (hash-ordered ids, fixed iteration count, strict-<
    * tie-breaks, empty clusters keep their previous centroid) — bounded
    * memory (sampleN·dim doubles) like ivfTopK's centroid pull, and the
    * whole model is a pure function of the data, so gates replay. Vectors
    * are expected pre-normalized when the downstream metric is cosine. */
  def pqTrain(corpus: DataFrame, id: Column, vec: Column, m: Int, k: Int,
              sampleN: Int = 2048, iters: Int = 8, seed: Long = 42): PqModel = {
    val sample: Array[Array[Double]] = corpus
      .select(vec.cast("array<double>").as("v"))
      .orderBy(xxhash64(id.cast("string"), lit(seed)))
      .limit(sampleN).collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val sub = dim / m
    val cb = new Array[Double](m * k * sub)
    var mm = 0
    while (mm < m) {
      // init: k subvectors spread across the hash-shuffled sample
      var cents = Array.tabulate(k)(j =>
        java.util.Arrays.copyOfRange(
          sample((j.toLong * sample.length / k).toInt), mm * sub, (mm + 1) * sub))
      for (_ <- 1 to iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Int](k)
        sample.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var j = 0
          while (j < k) {
            var d = 0.0; var t = 0
            while (t < sub) {
              val diff = v(mm * sub + t) - cents(j)(t); d += diff * diff; t += 1
            }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          var t = 0
          while (t < sub) { sums(best)(t) += v(mm * sub + t); t += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(k)(j =>
          if (counts(j) == 0) cents(j) else sums(j).map(_ / counts(j)))
      }
      var j = 0
      while (j < k) {
        System.arraycopy(cents(j), 0, cb, (mm * k + j) * sub, sub)
        j += 1
      }
      mm += 1
    }
    PqModel(m, k, dim, cb)
  }

  /** PQ-compressed ANN (Jégou et al. 2011): encode the (unit-normalized)
    * corpus to M centroid codes per vector — a ×(8·dim/M) storage cut, the
    * form a 100 TB index actually keeps in memory — then score queries
    * entirely in the compressed domain: per-query LUT (M·K inner products)
    * + [[graft.functions.PqAdc]] (M adds/pair, whole-stage codegen), and
    * the same map-side-bounded [[TopKAggregator]] reduction as brute force.
    * One corpus scan, k rows/partition/query exchanged; no raw vectors move.
    * Approximate by construction — gate recall against [[bruteForceTopK]]
    * (q57), the q30 IVF precedent. Compose with IVF cell routing upstream
    * when even one compressed scan is too much (encode, then filter cells). */
  def pqTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
             queries: DataFrame, queryId: Column, queryVec: Column,
             k: Int, m: Int = 16, codesPerSub: Int = 32, refine: Int = 0,
             sampleN: Int = 2048, iters: Int = 8, seed: Long = 42): DataFrame = {
    val c = unitNorm(corpus, corpusId, corpusVec, "nid")
    val model = pqTrain(c, col("nid"), col("cv"), m, codesPerSub, sampleN, iters, seed)
    // ingest shape: after this projection only codes flow — never raw vectors
    val coded = c.select(col("nid"),
      PqExprs.pqEncode(col("cv"), model.codebook, m, codesPerSub).as("codes"))
    val qn = unitNorm(queries, queryId, queryVec, "query_id")
    val q = qn.select(col("query_id"),
      PqExprs.pqLut(col("cv"), model.codebook, m, codesPerSub).as("lut"))
    val scored = coded.crossJoin(broadcast(q))
      .select(col("query_id"), col("nid"),
        PqExprs.pqAdc(col("codes"), col("lut")).as("score"))
    if (refine <= 0) topKFromScores(scored, k)
    else rescoreShortlist(c, qn, topKFromScores(scored, refine), k)
  }

  /** Shortlist + exact rescore (the production refine stage, shared by
    * [[pqTopK]] and [[ivfPqTopK]]): ONLY the Q·refine shortlisted ids
    * fetch raw vectors for exact cosine — the corpus is never scanned in
    * raw form, and both joins broadcast (Q·refine / Q rows). */
  private def rescoreShortlist(c: DataFrame, qn: DataFrame,
                               shortlisted: DataFrame, k: Int): DataFrame = {
    val shortlist = shortlisted.select(col("query_id"), col("neighbor_id"))
    val rescored = c.join(broadcast(shortlist), col("nid") === col("neighbor_id"))
      .join(broadcast(qn.select(col("query_id"), col("cv").as("qv"))), Seq("query_id"))
      .select(col("query_id"), col("nid"),
        VectorOps.cosine(col("cv"), col("qv")).as("score"))
    topKFromScores(rescored, k)
  }

  /** IVF-PQ — the production billion-vector index shape (coarse quantizer
    * + product codes, Jégou et al. 2011): route each query to its nprobe
    * nearest IVF cells AND score candidates entirely in the compressed
    * domain (ADC over M-byte codes), then exact-rescore only the
    * per-query shortlist. Combines both throughput dials:
    * cells cut the fraction of the corpus scanned (nprobe/nlist), codes
    * cut the bytes per scanned row (×8·dim/M) — at 100 TB the index that
    * actually fits in cluster memory is exactly this one. The ingest
    * shape computes (cell, codes) once per vector; queries ship only
    * (cell, LUT) pairs via broadcast. Recall gated against
    * [[bruteForceTopK]] (q64; q30/q57 precedent). */
  def ivfPqTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                queries: DataFrame, queryId: Column, queryVec: Column,
                k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 16,
                codesPerSub: Int = 32, refine: Int = 64,
                sampleN: Int = 2048, iters: Int = 8, seed: Long = 42): DataFrame = {
    val c = unitNorm(corpus, corpusId, corpusVec, "nid")
    val cents = trainIvfCentroids(c, nlist, seed, refineIters = 1)
    val centArr = typedLit(cents.map(_.toSeq).toSeq)
    val model = pqTrain(c, col("nid"), col("cv"), m, codesPerSub, sampleN, iters, seed)
    // ingest: one projection computes the routing cell + the compressed
    // codes. The checkpoint pins it: the cell assignment is an interpreted
    // nlist-wide HOF (the plan's one expensive projection), and the final
    // action replays the scored subtree through the shortlist-broadcast
    // subjob as well as the main scan — measured 1.2 s vs 5.5 s at sf0.1
    // without the pin. (In production this materialization IS the index
    // build: (cell, codes) persist at ingest.)
    val coded = c.select(col("nid"),
        ivfCellOf(centArr, col("cv")).as("cell"),
        PqExprs.pqEncode(col("cv"), model.codebook, m, codesPerSub).as("codes"))
      .localCheckpoint()
    val qn = unitNorm(queries, queryId, queryVec, "query_id")
      .localCheckpoint() // feeds probes, LUTs, and the rescore join
    val q = qn
      .select(col("query_id"), col("cv"),
        explode(ivfProbesOf(centArr, col("cv"), nprobe)).as("cell"))
      .select(col("query_id"), col("cell"),
        PqExprs.pqLut(col("cv"), model.codebook, m, codesPerSub).as("lut"))
    val scored = coded.join(broadcast(q), Seq("cell"))
      .select(col("query_id"), col("nid"),
        PqExprs.pqAdc(col("codes"), col("lut")).as("score"))
    rescoreShortlist(c, qn, topKFromScores(scored, refine), k)
  }

  /** Everything the query path needs besides the (cell, codes) table
    * itself: quantizer layout + both codebooks. One parquet row. */
  case class IvfPqIndexMeta(nlist: Int, m: Int, codesPerSub: Int, dim: Int,
                            seed: Long, centroids: Seq[Seq[Double]],
                            codebook: Seq[Double])

  /** Build the IVF-PQ index ONCE, at ingest, as persisted artifacts — the
    * form a 100 TB corpus actually serves repeated queries from (the
    * [[Bucketed.writeBucketed]] pattern applied to ANN). [[ivfPqTopK]]
    * retrains the coarse centroids + PQ codebooks and re-encodes the whole
    * corpus on EVERY call — correct for a one-shot query, but a
    * repeated-query workload repays the two training sweeps plus a
    * full-corpus encode pass per query batch. This writes:
    *
    *  - `dir/codes`: the (nid, codes) projection parquet-PARTITIONED BY
    *    `cell`, so a query probing nprobe of nlist cells reads only those
    *    cell directories (static partition pruning — the nprobe/nlist scan
    *    fraction is enforced by the file layout, not a post-scan filter);
    *  - `dir/model`: one row of [[IvfPqIndexMeta]] (centroids + codebook).
    *
    * Training is the SAME deterministic path as [[ivfPqTopK]] (hash-ordered
    * samples, fixed iterations, strict-< tie-breaks), so
    * [[ivfPqTopKIndexed]] over these artifacts returns bit-for-bit the
    * inline result (AnnSpec gates this). */
  def writeIvfPqIndex(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                      dir: String, nlist: Int = 16, m: Int = 16,
                      codesPerSub: Int = 32, sampleN: Int = 2048,
                      iters: Int = 8, seed: Long = 42): Unit = {
    val spark = corpus.sparkSession
    val c = unitNorm(corpus, corpusId, corpusVec, "nid")
      .localCheckpoint() // feeds centroid training, PQ training, and encode
    val cents = trainIvfCentroids(c, nlist, seed, refineIters = 1)
    val centArr = typedLit(cents.map(_.toSeq).toSeq)
    val model = pqTrain(c, col("nid"), col("cv"), m, codesPerSub, sampleN, iters, seed)
    c.select(col("nid"),
        ivfCellOf(centArr, col("cv")).as("cell"),
        PqExprs.pqEncode(col("cv"), model.codebook, m, codesPerSub).as("codes"),
        lit(0L).as("batch_id")) // base build = ingest batch 0
      .write.mode("overwrite").partitionBy("cell", "batch_id")
      .parquet(s"$dir/codes")
    spark.createDataFrame(Seq(IvfPqIndexMeta(nlist, m, codesPerSub, model.dim,
        seed, cents.map(_.toSeq).toSeq, model.codebook.toSeq)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
  }

  /** Incrementally ADD vectors to a persisted [[writeIvfPqIndex]] index —
    * the faiss-`add` serving contract a continuously ingesting corpus
    * needs (the ANN twin of [[Retrieval.appendBm25Postings]] and the
    * sketch appends): centroids and PQ codebooks are FROZEN at base-build
    * time, the new batch is assigned/encoded with the persisted model (one
    * codegen pass over the batch — no training), and its (nid, codes)
    * rows land under `cell=…/batch_id=N` partitions. Serving is unchanged:
    * cell partition pruning sees base and appended rows alike.
    *
    * Contracts (shared with the BM25 appends): batch ids must be unique
    * per ingest batch and never re-ship an nid. Retry idempotence is
    * enforced, not assumed: this batch's per-cell `batch_id=N` partitions
    * are DELETED before the write (the [[Retrieval.appendBm25Postings]]
    * hardening) — dynamic partition overwrite alone only replaces
    * partitions present in the retry's output, so a retry whose input
    * lost a cell would leave the first attempt's stale partition to
    * double-count. Model drift (a corpus whose distribution leaves the
    * frozen centroids) shows up as recall decay in the q64-style gates —
    * rebuild the base index when the drift monitor (q104/q106) fires. */
  def appendToIvfPqIndex(newVectors: DataFrame, id: Column, vec: Column,
                         dir: String, batchId: Long): Unit = {
    require(batchId > 0, "batch 0 is the base build; appends start at 1")
    val spark = newVectors.sparkSession
    // a replay of a batch [[compactIvfPqIndex]] already folded into the
    // base partitions must be a no-op — its codes live under batch_id=0
    // now, so the per-cell prefix delete below would remove nothing and
    // the write would double-count (batch ids are monotone, the ingest
    // contract)
    if (batchId <= ArtifactFold.foldedWatermark(spark, s"$dir/codes")) return
    // retry safety: drop every cell's partition for THIS batch first —
    // batch_id is the inner partition level, so one listing of dir/codes
    // finds each cell=*/batch_id=N leaf
    val conf = spark.sparkContext.hadoopConfiguration
    val codesRoot = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val fs = codesRoot.getFileSystem(conf)
    if (fs.exists(codesRoot)) {
      fs.listStatus(codesRoot).filter(_.isDirectory).foreach { cellDir =>
        val stale = new org.apache.hadoop.fs.Path(
          cellDir.getPath, s"batch_id=$batchId")
        if (fs.exists(stale)) fs.delete(stale, true)
      }
    }
    val meta = readIvfPqIndexMeta(spark, dir)
    val centArr = typedLit(meta.centroids)
    val rows = unitNorm(newVectors, id, vec, "nid")
      .select(col("nid"),
        ivfCellOf(centArr, col("cv")).as("cell"),
        PqExprs.pqEncode(col("cv"), meta.codebook.toArray, meta.m,
          meta.codesPerSub).as("codes"),
        lit(batchId).as("batch_id"))
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try rows.write.mode("overwrite").partitionBy("cell", "batch_id")
      .parquet(s"$dir/codes")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Fold a grown index's per-batch code partitions back into the base:
    * every (cell, batch_id) leaf rewrites as `cell=…/batch_id=0` with ONE
    * file per cell — k daily ingests otherwise leave k files per probed
    * cell, so every query's pruned scan opens k× the files it needs.
    * Same [[ArtifactFold]] contract as the BM25/sketch/history folds:
    * watermark and folded codes become visible together, replays of
    * folded batches no-op in [[appendToIvfPqIndex]], serving layout is
    * unchanged (cell pruning sees one partition per cell). The frozen
    * model is untouched — compaction is a layout fold, never a retrain
    * (retraining is the drift-monitor rebuild, a different operation). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit = {
    val codes = s"$dir/codes"
    if (!ArtifactFold.exists(spark, codes)) return
    val maxBatch = ArtifactFold.liveMaxBatch(spark, codes)
    spark.read.parquet(codes)
      .select(col("nid"), col("codes"), col("cell"))
      .repartition(col("cell")) // one task → one file per cell value
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("cell", "batch_id")
      .parquet(ArtifactFold.stagePath(codes))
    ArtifactFold.commitFold(spark, codes, maxBatch)
  }

  def readIvfPqIndexMeta(spark: org.apache.spark.sql.SparkSession,
                         dir: String): IvfPqIndexMeta = {
    val r = spark.read.parquet(s"$dir/model").head()
    // Row array fields surface as mutable ArraySeq — copy to immutable
    IvfPqIndexMeta(r.getAs[Int]("nlist"), r.getAs[Int]("m"),
      r.getAs[Int]("codesPerSub"), r.getAs[Int]("dim"), r.getAs[Long]("seed"),
      r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("centroids")
        .map(_.toSeq).toSeq,
      r.getAs[scala.collection.Seq[Double]]("codebook").toSeq)
  }

  def readIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame =
    spark.read.parquet(s"$dir/codes")

  /** Serve top-k from a [[writeIvfPqIndex]] index instead of retraining:
    * model row read once; the Q·nprobe probe cells are computed driver-side
    * (queries are broadcast-sized by contract) and pushed as a PARTITION
    * filter on the codes table, so the scan touches only the probed cell
    * directories; ADC + shortlist rescore are identical to [[ivfPqTopK]]
    * from there (raw vectors come from the corpus table, fetched by
    * broadcast shortlist join — the codes table never stores them). */
  def ivfPqTopKIndexed(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                       queries: DataFrame, queryId: Column, queryVec: Column,
                       indexDir: String, k: Int, nprobe: Int = 4,
                       refine: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    val meta = readIvfPqIndexMeta(spark, indexDir)
    val centArr = typedLit(meta.centroids)
    val cb = meta.codebook.toArray
    val qn = unitNorm(queries, queryId, queryVec, "query_id")
      .localCheckpoint() // feeds probes, LUTs, and the rescore join
    val probed = qn.select(col("query_id"), col("cv"),
        explode(ivfProbesOf(centArr, col("cv"), nprobe)).as("cell"))
      .localCheckpoint() // feeds the cells collect AND the LUT projection
    val cells = probed.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq // Q·nprobe ints — the static pruning predicate
    val q = probed.select(col("query_id"), col("cell"),
      PqExprs.pqLut(col("cv"), cb, meta.m, meta.codesPerSub).as("lut"))
    val scored = readIvfPqCodes(spark, indexDir)
      .filter(col("cell").isInCollection(cells))
      .join(broadcast(q), Seq("cell"))
      .select(col("query_id"), col("nid"),
        PqExprs.pqAdc(col("codes"), col("lut")).as("score"))
    val c = unitNorm(corpus, corpusId, corpusVec, "nid")
    rescoreShortlist(c, qn, topKFromScores(scored, refine), k)
  }
}
