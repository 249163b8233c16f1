package graft.queries

import graft.Tables
import graft.functions.{TextOps, VectorOps}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures.bm25IndexFor

/** Retrieval and vectors: exact and approximate nearest neighbours
  * (IVF, PQ, JL), semantic dedup, chunking, BM25, hybrid fusion and MMR. */
object RetrievalQueries {

  /** Brute-force cosine top-k: queries = vec_id < 8, k = 10. Window-ranked
    * on the rounded score for deterministic cross-engine ordering. */
  def q16CosineTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val c = e.select(col("vec_id").as("nid"), col("embedding").cast("array<double>").as("cv"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("nid"),
        round(VectorOps.cosine(col("cv"), col("qv")), 6).as("score"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("nid").as("neighbor_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  // dot/norms as ordered left-folds so doubles match Spark's aggregate() HOF.
  // Length-driven (len(a), not a literal dim) so the oracle tracks the
  // fixture's actual embedding dimension.
  private def dotD(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y)"

  private def normSqD(a: String) =
    s"list_reduce(list_prepend(0.0, list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)), (x, y) -> x + y)"

  private def cosineD(a: String, b: String) =
    s"""(CASE WHEN sqrt(${normSqD(a)}) * sqrt(${normSqD(b)}) > 0
         THEN ${dotD(a, b)} / (sqrt(${normSqD(a)}) * sqrt(${normSqD(b)})) ELSE 0.0 END)"""

  def q16Sql = s"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(${cosineD("c.embedding", "q.embedding")}, 6) AS score
      FROM embeddings c, embeddings q WHERE q.vec_id < 8),
    ranked AS (
      SELECT query_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank",
             neighbor_id, score
      FROM scored)
    SELECT query_id, "rank", neighbor_id, score FROM ranked
    WHERE "rank" <= 10
    ORDER BY query_id, "rank""""

  /** Embedding near-dup pairs (exact, label-blocked, a-side sampled 1-in-10):
    * the oracle-checkable companion of the LSH variant q30. */
  def q17EmbeddingPairs(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val a = e.filter(col("vec_id") % 10 === 0)
      .select(col("label"), col("vec_id").as("id_a"), col("v").as("v_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("v_b"))
    val scored = a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(VectorOps.cosine(col("v_a"), col("v_b")), 6))
      .select(col("label"), col("id_a"), col("id_b"), col("cosine"))
    // pin: keep the threshold OUT of the join condition (the cosine would
    // re-evaluate per joined row for each of its references)
    PlanOps.pinPairScore(scored.withColumn("__lbl", col("label")),
        Seq("id_a", "id_b", "__lbl"), "cosine")
      .select(col("__lbl").as("label"), col("id_a"), col("id_b"), col("cosine"))
      .filter(col("cosine") >= 0.4)
      .orderBy("id_a", "id_b")
  }

  def q17Sql = s"""
    WITH pairs AS (
      SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
             round(${cosineD("a.embedding", "b.embedding")}, 6) AS cosine
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE a.vec_id % 10 = 0)
    SELECT label, id_a, id_b, cosine FROM pairs
    WHERE cosine >= 0.4
    ORDER BY id_a, id_b"""

  /** IVF-bucketed approximate nearest neighbors (scale path of q16),
    * registered as a recall gate: IVF top-10 (nprobe 8 of 16 cells) vs the
    * exact top-10 must agree on ≥ 70% of (query, neighbor) pairs. The gate
    * is a closed-form oracle (q33 style); the ranked-output surface itself
    * is oracle-checked via q31 (exact) and remains available from
    * Ann.ivfTopK. Threshold note: the fixture embeddings are near-uniform
    * random — IVF's worst case (neighbors spread across Voronoi cells);
    * measured recall is 0.79–0.84 across sf0.001/0.01/0.1, so 0.70 gates
    * real regressions while staying environment-robust. Clustered real
    * corpora sit far higher at the same nprobe. */
  def q30AnnIvf(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 8)
    val ivf = Ann.ivfTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 10, nlist = 16, nprobe = 8)
    val brute = Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 10)
    ivf.select("query_id", "neighbor_id")
      .join(brute.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("__hits"))
      // 1/0 BIGINT rather than boolean: checker-canonicalization-proof
      .select((col("__hits") >= lit(56L)).cast("long").as("recall_pass"),
        lit(8L).as("n_queries"), lit(10L).as("k"))
  }

  // IVF recall gate: closed-form (q33 style) — the Spark side computes
  // recall@10 of IVF vs exact and emits the pass/fail plus the constants.
  def q30Sql = """
    SELECT CAST(1 AS BIGINT) AS recall_pass, CAST(8 AS BIGINT) AS n_queries,
           CAST(10 AS BIGINT) AS k"""

  /** Exact brute-force ANN via the map-side TopKAggregator (scale shape). */
  def q31AnnTopKAgg(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      e.filter(col("vec_id") < 8), col("vec_id"), col("embedding"), k = 10)
  }

  // Exact ANN via TopKAggregator: ranked on RAW score (aggregator compares
  // unrounded doubles with smaller-id tie-break), rounded only for output.
  def q31Sql = s"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ${cosineD("c.embedding", "q.embedding")} AS score
      FROM embeddings c, embeddings q WHERE q.vec_id < 8),
    ranked AS (
      SELECT query_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank",
             neighbor_id, round(score, 6) AS score
      FROM scored)
    SELECT query_id, "rank", neighbor_id, score FROM ranked
    WHERE "rank" <= 10
    ORDER BY query_id, "rank""""

  /** Product-quantization ANN (Jégou et al. 2011) with the production
    * shortlist+rescore shape: corpus compressed to 16 byte-codes per vector
    * (×32 storage cut vs 64 doubles — the form a 100 TB index keeps in
    * memory), ADC scan in the compressed domain picks a top-100 shortlist,
    * and only those Q·100 ids fetch raw vectors for exact re-ranking.
    * Gate mirrors q30: recall@10 vs exact brute force over 8 queries,
    * threshold 56/80 = 0.7 (measured ≥0.95 refined on the worst-case
    * uniform fixture). The model is a pure function of the data (hash-
    * ordered sample, fixed Lloyd iterations, strict-< tie-breaks). */
  def q57AnnPq(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 8)
    val pq = Ann.pqTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 10, refine = 100)
    val brute = Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 10)
    pq.select("query_id", "neighbor_id")
      .join(brute.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("__hits"))
      .select((col("__hits") >= lit(56L)).cast("long").as("recall_pass"),
        lit(8L).as("n_queries"), lit(10L).as("k"))
  }

  // PQ ANN recall gate: like q30, the pass/fail flag is computed Spark-side
  // against the exact brute-force baseline; the oracle pins it.
  def q57Sql = """
    SELECT CAST(1 AS BIGINT) AS recall_pass, CAST(8 AS BIGINT) AS n_queries,
           CAST(10 AS BIGINT) AS k"""

  /** IVF-PQ recall gate (q30/q57 pattern): the combined production index —
    * coarse cells route each query to nprobe/nlist of the corpus, product
    * codes score the routed fraction in the compressed domain, and only
    * the shortlist is exactly rescored. Both approximations stack, so the
    * gate threshold carries margin below the measured recall; the pinned
    * oracle makes any recall collapse a driver-red row.
    *
    * Served from PERSISTED index artifacts ([[Ann.writeIvfPqIndex]] /
    * [[Ann.ivfPqTopKIndexed]]) built once per corpus per JVM — the
    * production shape (index at ingest, queries served from the (cell,
    * codes) table with partition-pruned probes); training determinism makes
    * this bit-identical to the inline [[Ann.ivfPqTopK]] (AnnSpec gates
    * that equality directly). Repeat calls — the bench's repeated
    * iterations — skip the build and measure the serve cost alone. */
  def q64AnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 8)
    val idxDir = ArtifactCache.dir(s, "ivfpq", d, "embeddings") { tmp =>
      Ann.writeIvfPqIndex(e, col("vec_id"), col("embedding"), tmp, nlist = 16)
    }
    val ivfpq = Ann.ivfPqTopKIndexed(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), idxDir, k = 10,
      nprobe = 8, refine = 100)
    val brute = Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 10)
    ivfpq.select("query_id", "neighbor_id")
      .join(brute.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("__hits"))
      .select((col("__hits") >= lit(48L)).cast("long").as("recall_pass"),
        lit(8L).as("n_queries"), lit(10L).as("k"))
  }

  // IVF-PQ recall gate: like q30/q57, the pass flag is computed Spark-side
  // against exact brute force; the oracle pins it.
  def q64Sql = """
    SELECT CAST(1 AS BIGINT) AS recall_pass, CAST(8 AS BIGINT) AS n_queries,
           CAST(10 AS BIGINT) AS k"""

  /** Shared planted-twin fixture for the embedding-dedup gates (q74/q77):
    * every 10th vector gets a deterministic multiplicative twin (element i
    * scaled by 1 + 0.2·((i mod 3) − 1); exact cosine 0.984–0.991 against
    * its base on this fixture, natural pair max 0.513), twin ids offset
    * past the REAL id range (scaled bench replicas reach vec_id ≥ 1e6 — a
    * fixed offset would collide). ONE definition so the two gates'
    * closed-form truth claims can never drift apart. Returns (corpus, off). */
  private def plantedTwinCorpus(s: SparkSession, d: String): (DataFrame, Long) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val off = e.agg(max("vec_id")).head().getLong(0) + 1
    val planted = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(off)).as("vec_id"),
        transform(col("v"), (x, i) =>
          x * (lit(1.0) + lit(0.2) * ((i % 3) - 1).cast("double"))).as("v"))
    (CheckpointPolicy.pin(e.unionByName(planted)), off) // feeds LSH + truth
  }

  /** ELIGIBLE planted pairs: (base, twin) whose EXACT cosine clears the
    * threshold — the ground truth both gates measure against. Twins of
    * degenerate vectors (e.g. all-zero failed-embedding sentinels, whose
    * cosine is 0 by the guard) are excluded here exactly as the operator
    * excludes them, so a weird-but-legitimate fixture can't red a gate. */
  private def plantedTruth(corpus: DataFrame, off: Long,
                           threshold: Double): DataFrame =
    corpus.filter(col("vec_id") % 10 === 0 && col("vec_id") < off)
      .alias("b")
      .join(corpus.filter(col("vec_id") >= off).alias("p"),
        col("p.vec_id") === col("b.vec_id") + lit(off))
      .select(col("b.vec_id").as("id_a"), col("p.vec_id").as("id_b"),
        VectorOps.cosine(col("b.v"), col("p.v")).as("__cos"))
      .filter(col("__cos") >= threshold)

  /** Scale-path embedding near-dup (semantic dedup) recall gate — the q30/
    * q57 pattern applied to [[Dedup.embeddingNearDupPairs]]' banded
    * multi-table hyperplane LSH. Ground truth is PLANTED
    * ([[plantedTwinCorpus]]/[[plantedTruth]] — shared with q77): the
    * fixture's natural pair maximum is 0.513, so at threshold 0.95 the
    * truth set is exactly the planted (base, twin) pairs — verified by
    * exact cosine, output-sized, no all-pairs scan. LSH precision is 1.0
    * by construction (candidates are exact-cosine verified); the gate
    * checks RECALL ≥ 0.8 (expected ≥ 0.999 per pair at 16 tables × 16
    * planes: p = 1 − θ/π ≥ 0.94, 1 − (1 − p¹⁶)¹⁶). */
  def q74EmbeddingLshRecall(s: SparkSession, d: String): DataFrame = {
    val (corpus, off) = plantedTwinCorpus(s, d)
    val lsh = Dedup.embeddingNearDupPairs(corpus, col("vec_id"), col("v"),
      threshold = 0.95)
    val truth = plantedTruth(corpus, off, 0.95)
    val flagged = truth.select("id_a", "id_b")
      .join(lsh.select(col("id_a"), col("id_b"), lit(1L).as("__hit")),
        Seq("id_a", "id_b"), "left")
    flagged
      .agg(count(lit(1)).as("__n"),
        sum(coalesce(col("__hit"), lit(0L))).as("__hits"))
      .select(
        (col("__n") > 0 &&
          col("__hits").cast("double") >= col("__n").cast("double") * 0.8)
          .cast("long").as("recall_pass"),
        lit(0.8).as("gate"), lit(16L).as("tables"), lit(16L).as("planes"))
  }

  // Embedding-LSH recall gate (q30/q57/q64 pattern): truth is planted
  // Spark-side with exact-cosine verification and the pass flag is computed
  // there; the oracle pins it (a recall collapse = driver-red row).
  def q74Sql = """
    SELECT CAST(1 AS BIGINT) AS recall_pass, CAST(0.8 AS DOUBLE) AS gate,
           CAST(16 AS BIGINT) AS tables, CAST(16 AS BIGINT) AS planes"""

  /** Semantic-dedup KEEPERS — the embedding twin of q44, closing the
    * pairs → connected-components → keeper loop for vector near-dups:
    * the planted corpus runs through banded hyperplane LSH pairs and
    * min-label components; keeper = min id per component, so the
    * deduplicated corpus is `doc_id === cluster_id`. Flags are computed
    * against the ELIGIBLE truth ([[plantedTruth]]), so they hold on any
    * fixture state: ≥90% of eligible twins must be dropped (the q74
    * convention — per-pair LSH miss probability is ~4e-4 at 16×16 banding,
    * so expected recall is ≥0.999, but a 100%-recall gate would have zero
    * statistical margin and could red on a regenerated fixture with no
    * code defect); a dropped BASE doc is tolerated only if its vector is
    * bit-identical to its keeper's (the one legitimate natural
    * ≥-threshold base relation — this fixture has none, but zero-vector
    * or duplicated sentinels must not red the gate); `truth_nonempty`
    * guards vacuous passes. A recall collapse, spurious pair, or
    * component/keeper defect flips a flag. */
  def q77SemanticKeepers(s: SparkSession, d: String): DataFrame = {
    val threshold = 0.95
    val (corpus, off) = plantedTwinCorpus(s, d)
    val pairs = Dedup.embeddingNearDupPairs(corpus, col("vec_id"), col("v"),
      threshold = threshold)
    // clusters' pinned last round: feeds the twin gate AND the base-drop audit
    val labels = Dedup.clusters(pairs, corpus.select(col("vec_id").as("doc_id")))
    val eligibleTwins = plantedTruth(corpus, off, threshold)
      .select(col("id_b").as("doc_id"))
    val t = labels.join(eligibleTwins, Seq("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L)).as("kept"))
      .head()
    val b = labels.filter(col("doc_id") < off && col("doc_id") =!= col("cluster_id"))
      .join(corpus.select(col("vec_id").as("doc_id"), col("v").as("dv")), Seq("doc_id"))
      .join(corpus.select(col("vec_id").as("cluster_id"), col("v").as("kv")),
        Seq("cluster_id"))
      .agg(sum(when(col("dv") =!= col("kv"), 1L).otherwise(0L)).as("bad_drops"))
      .head()
    val dropped = t.getLong(0) - t.getLong(1)
    s.range(1).select(
      lit(if (t.getLong(0) > 0L &&
          dropped.toDouble >= t.getLong(0).toDouble * 0.9) 1L else 0L)
        .as("twins_dropped_pass"),
      lit(if (b.isNullAt(0) || b.getLong(0) == 0L) 1L else 0L).as("base_intact"),
      lit(if (t.getLong(0) > 0L) 1L else 0L).as("truth_nonempty"),
      lit(threshold).as("threshold"))
  }

  // Semantic-keeper gate (q74's planted fixture through components): the
  // flags are computed Spark-side from closed-form truth; the oracle pins
  // them — a recall collapse (>10% of eligible twins kept), spurious pair,
  // or keeper defect flips one.
  def q77Sql = """
    SELECT CAST(1 AS BIGINT) AS twins_dropped_pass,
           CAST(1 AS BIGINT) AS base_intact,
           CAST(1 AS BIGINT) AS truth_nonempty,
           CAST(0.95 AS DOUBLE) AS threshold"""

  /** Sliding-window document chunking (maxLen 64, stride 32 — 50%
    * overlap): every document split into context-window token pieces,
    * per-chunk md5 digest so the oracle checks CONTENT and position, not
    * just counts — any off-by-one in the start arithmetic, slice bounds,
    * or chunk count changes a digest. DuckDB replays the same tokenizer
    * (the q28 convention), chunk-count formula, and 1-based inclusive
    * slices. */
  def q78DocChunks(s: SparkSession, d: String): DataFrame =
    Chunking.slidingChunks(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))), maxLen = 64, stride = 32)
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  // Sliding doc chunks: q28's tokenizer + the operator's chunk-count
  // formula (1 + max(0, ceil((n-64)/32))) + 1-based inclusive list slices
  // — per-chunk md5 digests check content and position.
  def q78Sql = """
    WITH t AS (SELECT doc_id,
                      CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                           ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    c AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    nc AS (SELECT *, CASE WHEN n <= 0 THEN 0
                     ELSE 1 + greatest(0, CAST(ceil((n - 64) / 32.0) AS INTEGER))
                     END AS nchunks FROM c),
    ex AS (SELECT doc_id, toks, unnest(range(nchunks)) AS chunk_id
           FROM nc WHERE nchunks > 0),
    x AS (SELECT doc_id, chunk_id,
                 toks[(chunk_id * 32 + 1):(chunk_id * 32 + 64)] AS chunk
          FROM ex)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM x ORDER BY doc_id, chunk_id"""

  /** Incremental EMBEDDING admission gate — the semantic twin of q65,
    * closing the daily-ingest story for vector corpora
    * ([[Dedup.embeddingIncrementalAdmit]]): history = the original
    * embeddings; the batch plants three deterministic populations against
    * it — the q74/q77 twins (near-dup vs history, LSH-found), exact copies
    * of every 7th history vector (bit-identical semi-join gate), and
    * within-batch duplicates of every other twin (min-id admission gate).
    * Flags, all computed against closed-form truth:
    *  - `twins_near_pass`: ≥90% of ELIGIBLE twins ([[plantedTruth]] —
    *    exact cosine ≥ threshold vs base) get `near_hist = 1` (the q74/q77
    *    margin convention: per-pair LSH miss ~4e-4 at 16×16 banding);
    *  - `copies_exact_ok`: EVERY planted history copy gets
    *    `exact_hist = 1` — deterministic, the semi-join is bit-exact;
    *  - `batch_dup_ok`: EVERY within-batch duplicate (higher id, same
    *    vector as its twin) gets `exact_batch = 1` and `admitted = 0` —
    *    deterministic min-id semantics.
    * A recall collapse, a broken exact gate, or an admission leak flips a
    * flag (oracle pins all three). */
  def q80EmbeddingIncrementalAdmit(s: SparkSession, d: String): DataFrame = {
    val threshold = 0.95
    val (corpus, off) = plantedTwinCorpus(s, d)
    val history = corpus.filter(col("vec_id") < off)
    val twins = corpus.filter(col("vec_id") >= off)
    val copies = history.filter(col("vec_id") % 7 === 1)
      .select((col("vec_id") + lit(3 * off)).as("vec_id"), col("v"))
    val batchDups = twins.filter((col("vec_id") - off) % 20 === 0)
      .select((col("vec_id") + lit(3 * off)).as("vec_id"), col("v")) // = 4·off + base
    val batch = twins.unionByName(copies).unionByName(batchDups)
    val admit = CheckpointPolicy.pin( // feeds the three gate aggregates
      Dedup.embeddingIncrementalAdmit(batch, history,
          col("vec_id"), col("v"), threshold = threshold))
    val eligible = plantedTruth(corpus, off, threshold)
      .select(col("id_b").as("doc_id"))
    val t = admit.join(eligible, Seq("doc_id"))
      .agg(count(lit(1)).as("n"), sum("near_hist").as("near")).head()
    val c = admit.filter(col("doc_id") >= 3 * off && col("doc_id") < 4 * off)
      .agg(count(lit(1)).as("n"), sum("exact_hist").as("eh")).head()
    val dd = admit.filter(col("doc_id") >= 4 * off)
      .agg(count(lit(1)).as("n"), sum("exact_batch").as("eb"),
        sum("admitted").as("adm")).head()
    s.range(1).select(
      lit(if (t.getLong(0) > 0L &&
          t.getLong(1).toDouble >= t.getLong(0).toDouble * 0.9) 1L else 0L)
        .as("twins_near_pass"),
      lit(if (c.getLong(0) > 0L && c.getLong(1) == c.getLong(0)) 1L else 0L)
        .as("copies_exact_ok"),
      lit(if (dd.getLong(0) > 0L && dd.getLong(1) == dd.getLong(0) &&
          dd.getLong(2) == 0L) 1L else 0L)
        .as("batch_dup_ok"),
      lit(threshold).as("threshold"))
  }

  // Embedding incremental-admission gate (q74/q77 convention): flags are
  // computed Spark-side against closed-form planted truth; the oracle pins
  // them — a near-gate recall collapse, a broken bit-exact gate, or an
  // admission leak turns a flag 0 and reds the row.
  def q80Sql = """
    SELECT CAST(1 AS BIGINT) AS twins_near_pass,
           CAST(1 AS BIGINT) AS copies_exact_ok,
           CAST(1 AS BIGINT) AS batch_dup_ok,
           CAST(0.95 AS DOUBLE) AS threshold"""

  /** SemDeDup over the planted-twin corpus — the cluster-bounded semantic
    * dedup route ([[SemDedup.semdedupKeepers]]), full-verdict replay:
    * unlike the q74/q77/q80 recall GATES, the oracle re-runs the entire
    * deterministic pipeline (md5-seeded k=8 medoid init, 2 Lloyd steps,
    * rounded-cosine cell argmax, within-cell pairs at ≥0.95, min-label
    * components) in SQL and hash-compares every per-doc row — cell
    * assignment, keeper, and drop verdict all gated bit-for-bit. Twins
    * that land across a cluster boundary from their base survive by
    * design (SemDeDup's documented miss mode; 184/200 dropped at sf0.1)
    * and the replay agrees on exactly which.
    *
    * k SCALES WITH THE CORPUS — `max(8, n/256)`, mirrored in the oracle —
    * so mean cell size (and with it the within-cell pair work, O(n²/k))
    * stays bounded as the corpus grows: every oracle-graded scale lands
    * on k = 8, while the 10× bench replica gets k = 85 instead of 8
    * cells × 2750 vectors of quadratic pair scoring. */
  def q81SemdedupKeepers(s: SparkSession, d: String): DataFrame = {
    val (corpus, _) = plantedTwinCorpus(s, d)
    val k = math.max(8, (corpus.count() / 256).toInt)
    SemDedup.semdedupKeepers(corpus, col("vec_id"), col("v"),
        k = k, lloydIters = 2, threshold = 0.95)
      .orderBy("doc_id")
  }

  // SemDeDup FULL replay (not a recall gate): rebuild the planted corpus
  // (q74/q77 twin arithmetic), collapse distinct vectors, pick the
  // k = max(8, n/256) init medoids by the md5-uniform (q76 device keyed on
  // gid; k = 8 at every graded scale), run 2 Lloyd
  // steps (per-coordinate avg of each cell's DISTINCT vectors via zipped
  // unnest; empty cells keep the previous centroid), assign by
  // rounded-cosine argmax (ties to the SMALLER cell — Spark's
  // array_position finds the first max), score every within-cell pair,
  // close components with the
  // recursive min-label CTE (q44), keeper = min id. Cosines round to 9 dp
  // before every discrete decision so cross-engine float-sum order (~1e-15)
  // can't flip an assignment; all output columns are exact integers.
  def q81Sql: String = {
    val u = """(list_reduce(list_prepend(0.0,
      list_transform(generate_series(1, 13),
        k -> CAST(strpos('0123456789abcdef',
               substr(substr(md5(concat_ws('|', gid, 'semdedup')), 1, 13), k, 1)) - 1 AS DOUBLE)
             * pow(16.0, 13 - k))),
    (a, x) -> a + x) / 4503599627370496.0)"""
    def iter(i: Int, prev: String) = s"""
    asg$i AS MATERIALIZED (
      SELECT gid, v, cell FROM (
        SELECT g.gid, g.v, c.cell,
               row_number() OVER (PARTITION BY g.gid
                 ORDER BY round(${cosineD("g.v", "c.cent")}, 9) DESC, c.cell ASC) AS rn
        FROM groups g CROSS JOIN $prev c) WHERE rn = 1),
    cents$i AS MATERIALIZED (
      SELECT p.cell, coalesce(m.cent, p.cent) AS cent
      FROM $prev p LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS cent FROM (
          SELECT cell, pos, avg(val) AS m FROM (
            SELECT cell, unnest(range(len(v))) AS pos, unnest(v) AS val
            FROM asg$i) GROUP BY cell, pos) GROUP BY cell) m
      ON m.cell = p.cell)"""
    s"""
    WITH RECURSIVE off AS (SELECT max(vec_id) + 1 AS o FROM embeddings),
    corpus AS MATERIALIZED (
      SELECT vec_id AS vid,
             list_transform(generate_series(1, len(embedding)),
               i -> embedding[i]::DOUBLE) AS v
      FROM embeddings WHERE embedding IS NOT NULL
      UNION ALL
      SELECT e.vec_id + o.o,
             list_transform(generate_series(1, len(e.embedding)),
               i -> e.embedding[i]::DOUBLE * (1.0 + 0.2 * CAST((i - 1) % 3 - 1 AS DOUBLE)))
      FROM embeddings e, off o WHERE e.embedding IS NOT NULL AND e.vec_id % 10 = 0),
    groups AS MATERIALIZED (
      SELECT v, min(vid) AS gid FROM corpus GROUP BY v),
    kk AS (SELECT greatest(8, count(*) // 256) AS k FROM corpus),
    cents0 AS MATERIALIZED (
      SELECT cell, cent FROM (
        SELECT row_number() OVER (ORDER BY $u, gid) - 1 AS cell, v AS cent
        FROM groups) WHERE cell < (SELECT k FROM kk)),
    ${iter(1, "cents0")},
    ${iter(2, "cents1")},
    asgF AS MATERIALIZED (
      SELECT gid, v, cell FROM (
        SELECT g.gid, g.v, c.cell,
               row_number() OVER (PARTITION BY g.gid
                 ORDER BY round(${cosineD("g.v", "c.cent")}, 9) DESC, c.cell ASC) AS rn
        FROM groups g CROSS JOIN cents2 c) WHERE rn = 1),
    pr AS MATERIALIZED (
      SELECT a.gid AS id_a, b.gid AS id_b
      FROM asgF a JOIN asgF b ON a.cell = b.cell AND a.gid < b.gid
      WHERE round(${cosineD("a.v", "b.v")}, 9) >= 0.95),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
    lbl(id, label) AS (
        SELECT gid, gid FROM groups
      UNION
        SELECT e.src, l.label FROM edges e JOIN lbl l ON l.id = e.dst),
    keep AS (SELECT id AS gid, min(label) AS keeper FROM lbl GROUP BY id)
    SELECT c.vid AS doc_id, CAST(f.cell AS BIGINT) AS cell, k.keeper AS keeper,
           CAST(CASE WHEN c.vid <> k.keeper THEN 1 ELSE 0 END AS BIGINT) AS dropped
    FROM corpus c JOIN groups g ON c.v = g.v
    JOIN asgF f ON f.gid = g.gid
    JOIN keep k ON k.gid = g.gid
    ORDER BY doc_id"""
  }

  /** BM25 keyword retrieval ([[Retrieval.bm25TopK]]): top 20 docs for a
    * 3-term query, scored with Lucene-convention idf and tf saturation.
    * Full replay — the oracle recomputes per-doc tf (list_filter = Spark's
    * array filter), corpus N/avgdl/df, the same left-to-right 3-term sum,
    * and the (rounded score desc, doc_id) cut; the k-boundary itself is
    * part of the hash. */
  def q85Bm25TopK(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25TopK(Tables.documents(s, d), col("doc_id"),
      TextOps.tokens(coalesce(col("text"), lit(""))),
      Seq("join", "filter", "window"), k = 20)

  // BM25 top-20, FULL replay: per-doc tf via list_filter (= Spark's array
  // filter — no tokenizer divergence possible), corpus stats N/avgdl/df
  // from one aggregate, the identical left-to-right 3-term sum with the
  // Lucene idf, and the (rounded bm25 DESC, doc_id) LIMIT cut — the
  // k-boundary membership is hash-compared, not just the scores. Constants
  // inline: k1=1.2, b=0.75 => tf factor 2.2, length norm 0.25+0.75*dl/avgdl.
  def q85Sql = """
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    w AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
            CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf0,
            CAST(len(list_filter(toks, x -> x = 'filter')) AS DOUBLE) AS tf1,
            CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf2
          FROM t),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
           FROM w)
    SELECT doc_id,
           round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
    FROM w, st
    WHERE greatest(tf0, tf1, tf2) > 0
    ORDER BY bm25 DESC, doc_id LIMIT 20"""

  /** BM25 served from the PERSISTED inverted index ([[Retrieval
    * .bm25TopKIndexed]] — the repeated-query serving path; q85 is the
    * ad-hoc scan), with the index built through the full INCREMENTAL
    * lifecycle: three [[Retrieval.appendBm25Postings]] ingest batches
    * folded by [[Retrieval.compactBm25Postings]]. Index artifacts are
    * built once per fixture (signature-cached like q64's IVF-PQ index)
    * and the query reads ONLY the query terms' bucket partitions.
    * Oracle: the SAME full BM25 replay as q85 — append + compaction +
    * indexed serving must reproduce the scan path's doubles
    * bit-for-bit. */
  def q89Bm25Indexed(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25TopKIndexed(s, bm25IndexFor(s, d),
      Seq("join", "filter", "window"), k = 20)

  /** RAG-style chunk retrieval ([[Chunking.slidingChunks]] composed with
    * [[Retrieval.bm25TopK]]): the top-20 64-token/50%-overlap CHUNKS for a
    * 3-term query, scored with chunk-corpus statistics — the
    * retrieval-granularity a RAG pipeline actually serves. Chunk identity
    * rides a composite id (doc·10⁶ + chunk — aliasing-free below 10⁶
    * chunks ≈ 32M tokens per doc) through the scorer and is decoded back.
    * Full replay: the q78 chunk derivation feeding the q85 BM25
    * arithmetic, k-boundary included. */
  def q101ChunkBm25(s: SparkSession, d: String): DataFrame = {
    val chunks = Chunking.slidingChunks(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))), maxLen = 64, stride = 32)
      .select((col("doc_id") * 1000000L + col("chunk_id")).as("cid"), col("chunk"))
    Retrieval.bm25TopK(chunks, col("cid"), col("chunk"),
        Seq("join", "filter", "window"), k = 20)
      .select(expr("doc_id div 1000000").as("doc_id"),
        pmod(col("doc_id"), lit(1000000L)).cast("long").as("chunk_id"),
        col("bm25"))
  }

  // RAG chunk retrieval: the q78 chunk derivation feeding the q85 BM25
  // arithmetic over CHUNKS (composite id = doc*1000000 + chunk), k-boundary
  // included.
  def q101Sql = """
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    c AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    nc AS (SELECT *, CASE WHEN n <= 0 THEN 0
                     ELSE 1 + greatest(0, CAST(ceil((n - 64) / 32.0) AS INTEGER))
                     END AS nchunks FROM c),
    ex AS (SELECT doc_id, toks, unnest(range(nchunks)) AS chunk_id
           FROM nc WHERE nchunks > 0),
    x AS (SELECT doc_id * 1000000 + chunk_id AS cid,
                 toks[(chunk_id * 32 + 1):(chunk_id * 32 + 64)] AS chunk
          FROM ex),
    w AS (SELECT cid, CAST(len(chunk) AS DOUBLE) AS dl,
            CAST(len(list_filter(chunk, y -> y = 'join')) AS DOUBLE) AS tf0,
            CAST(len(list_filter(chunk, y -> y = 'filter')) AS DOUBLE) AS tf1,
            CAST(len(list_filter(chunk, y -> y = 'window')) AS DOUBLE) AS tf2
          FROM x),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
           FROM w),
    sc AS (SELECT cid,
             round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                 + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                 + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
           FROM w, st
           WHERE greatest(tf0, tf1, tf2) > 0
           ORDER BY bm25 DESC, cid LIMIT 20)
    SELECT CAST(cid // 1000000 AS BIGINT) AS doc_id,
           CAST(cid % 1000000 AS BIGINT) AS chunk_id, bm25
    FROM sc ORDER BY bm25 DESC, doc_id, chunk_id"""

  /** Hybrid retrieval ([[Retrieval.rrfFuse]]): reciprocal-rank fusion of
    * the persisted-index BM25 leg (q89's index, bit-identical to the scan
    * scorer) and an exact-cosine embedding leg (query = vec 0's
    * embedding) over the same id space — the standard RAG serving
    * pattern. Full replay: the oracle recomputes BOTH leg rankings (q85
    * BM25 arithmetic; q16 cosine arithmetic), the per-leg ranks, the
    * 1/(60+rank) sums, and the fused k-boundary. The approximate ANN
    * serving path stays covered by q64's recall gate; this leg is the
    * exact-cosine oracle-replayable form. */
  def q105HybridRrf(s: SparkSession, d: String): DataFrame = {
    val bm = Retrieval.bm25TopKIndexed(s, bm25IndexFor(s, d),
        Seq("join", "filter", "window"), k = 20)
      .select(col("doc_id"), col("bm25").as("score"))
    val e = Tables.embeddings(s, d)
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qv"))
    val cos = e
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("cv"))
      .crossJoin(broadcast(q0))
      .select(col("doc_id"),
        round(VectorOps.cosine(col("cv"), col("qv")), 6).as("score"))
      .orderBy(desc("score"), col("doc_id")).limit(20)
    Retrieval.rrfFuse(Seq("bm25" -> bm, "cos" -> cos), k = 20)
      .orderBy("doc_id")
  }

  // Hybrid RRF fusion, FULL replay: the BM25 leg re-derives the q85 scan
  // arithmetic (the indexed server is bit-identical by contract), the
  // cosine leg re-derives the q16 arithmetic against query vec 0, and the
  // fusion replays per-leg ranks, the 1/(60+rank) sums, and the fused
  // k-boundary (rrf desc, doc_id).
  def q105Sql: String = s"""
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
               FROM documents),
    w AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
            CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf0,
            CAST(len(list_filter(toks, x -> x = 'filter')) AS DOUBLE) AS tf1,
            CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf2
          FROM t),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
           FROM w),
    bmleg AS (SELECT doc_id,
           round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
        FROM w, st
        WHERE greatest(tf0, tf1, tf2) > 0
        ORDER BY score DESC, doc_id LIMIT 20),
    cosleg AS (SELECT c.vec_id AS doc_id,
                 round(${cosineD("c.embedding", "q.embedding")}, 6) AS score
               FROM embeddings c, (SELECT embedding FROM embeddings
                                   WHERE vec_id = 0) q
               ORDER BY score DESC, doc_id LIMIT 20),
    u AS (SELECT 'bm25' AS leg, doc_id, score FROM bmleg
          UNION ALL SELECT 'cos', doc_id, score FROM cosleg),
    r AS (SELECT leg, doc_id,
            CAST(row_number() OVER (PARTITION BY leg ORDER BY score DESC, doc_id) AS BIGINT) AS rk
          FROM u),
    f AS (SELECT doc_id,
            coalesce(max(CASE WHEN leg = 'bm25' THEN rk END), -1) AS rank_bm25,
            coalesce(max(CASE WHEN leg = 'cos' THEN rk END), -1) AS rank_cos,
            round(sum(1.0 / (60.0 + rk)), 6) AS rrf
          FROM r GROUP BY doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(rank_bm25 AS BIGINT) AS rank_bm25,
           CAST(rank_cos AS BIGINT) AS rank_cos, rrf
    FROM f ORDER BY rrf DESC, doc_id LIMIT 20"""

  /** Embedding drift ([[Profiling.drift]] over vector-derived numerics):
    * did the embedding distribution move between snapshots? Even vec_ids
    * play snapshot A, odd B; each vector contributes its cosine to a FIXED
    * reference vector (vec 0 — deterministic, unlike a mean vector whose
    * cross-partition FP sum order would diverge from the oracle) and its
    * L2 norm. Both are per-row left-to-right folds (the q16-proven device),
    * so the 10-bin PSI histograms replay exactly. The embedding twin of
    * q104's text drift — the monitor that catches an encoder change or a
    * domain shift in tomorrow's crawl. */
  def q106EmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val ref = e.filter(col("vec_id") === 0)
      .select(col("v").as("rv"))
    def snap(parity: Int) = e
      .filter(pmod(col("vec_id"), lit(2)) === parity)
      .crossJoin(broadcast(ref))
      .select(VectorOps.cosine(col("v"), col("rv")).as("cos_ref"),
        sqrt(VectorOps.dot(col("v"), col("v"))).as("norm"))
    Profiling.drift(snap(0), snap(1), numeric = Seq("cos_ref", "norm"),
        bins = 10)
      .orderBy("column", "bucket")
  }

  // Embedding drift: the q104 numeric-PSI machinery over two vector-derived
  // columns — cosine to the FIXED reference vector (vec 0) and L2 norm,
  // both per-row left-to-right folds (the q16-proven portable device).
  def q106Sql: String = s"""
    WITH b0 AS (SELECT e.vec_id % 2 AS p,
                  ${cosineD("e.embedding", "r.embedding")} AS cos_ref,
                  sqrt(${normSqD("e.embedding")}) AS norm
                FROM embeddings e,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0) r),
    nm AS (SELECT p, 'cos_ref' AS "column", cos_ref AS v FROM b0
           UNION ALL SELECT p, 'norm', norm FROM b0),
    nmv AS (SELECT * FROM nm WHERE v IS NOT NULL),
    nstats AS (SELECT "column", min(v) AS mn, max(v) AS mx,
                 CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                 CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
               FROM nmv GROUP BY "column"),
    nhist AS (SELECT nmv."column",
                CAST(CASE WHEN mx > mn
                     THEN least(floor((v - mn) / ((mx - mn) / 10.0)), 9.0)
                     ELSE 0.0 END AS BIGINT) AS bucket,
                CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
              FROM nmv JOIN nstats USING ("column") GROUP BY 1, 2),
    nframe AS (SELECT "column", na, nb, unnest(generate_series(0, 9)) AS bucket
               FROM nstats),
    nbkt AS (SELECT f."column", CAST(f.bucket AS VARCHAR) AS bucket,
               CASE WHEN f.na > 0
                    THEN CAST(coalesce(h.ca, 0) AS DOUBLE) / f.na ELSE 0.0 END AS pa,
               CASE WHEN f.nb > 0
                    THEN CAST(coalesce(h.cb, 0) AS DOUBLE) / f.nb ELSE 0.0 END AS pb
             FROM nframe f LEFT JOIN nhist h
               ON h."column" = f."column" AND h.bucket = f.bucket),
    terms AS (SELECT "column", bucket, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
                round((greatest(pa, 0.0001) - greatest(pb, 0.0001)) *
                      ln(greatest(pa, 0.0001) / greatest(pb, 0.0001)), 6) AS contrib
              FROM nbkt),
    psis AS (SELECT "column", '__psi' AS bucket, 0.0 AS p_a, 0.0 AS p_b,
               round(sum(contrib), 6) AS contrib
             FROM terms GROUP BY "column")
    SELECT * FROM (SELECT * FROM terms UNION ALL SELECT * FROM psis)
    ORDER BY "column", bucket"""

  /** MMR diversity re-ranking ([[Retrieval.mmrRerank]]): exact-cosine
    * top-12 shortlist for query vec 0, then 6 greedy MMR picks at
    * λ = 0.7. The oracle replays the shortlist, the 12×12 rounded
    * pairwise-cosine matrix, and every selection step (argmax with the
    * id tie-break) — so the driver-side loop's arithmetic must match a
    * pure-SQL re-derivation decision-for-decision. */
  def q114MmrRerank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qv"))
    val cands = e.filter(col("vec_id") > 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(VectorOps.cosine(col("embedding").cast("array<double>"),
          col("qv")), 9).as("rel"),
        col("embedding").cast("array<double>").as("v"))
      .orderBy(col("rel").desc, col("doc_id")).limit(12)
    Retrieval.mmrRerank(cands, col("doc_id"), col("rel"), col("v"),
        k = 6, lambda = 0.7)
      .select(col("mmr_rank"), col("doc_id"),
        round(col("mmr_score"), 6).as("mmr_score"))
      .orderBy("mmr_rank")
  }

  // MMR replay (q114): shortlist, pairwise cosines, and every greedy
  // selection step unrolled — penalty term is max sim to the selected-so-
  // far set, ties break to the smaller doc_id via the ORDER BY.
  private def mmrStep(i: Int): String = s"""
    ms$i AS (SELECT c.doc_id, c.rel, max(sm.sim) AS ms
             FROM mc c JOIN sm ON sm.ia = c.doc_id
             JOIN selu${i - 1} u ON sm.ib = u.doc_id
             WHERE c.doc_id NOT IN (SELECT doc_id FROM selu${i - 1})
             GROUP BY c.doc_id, c.rel),
    sel$i AS (SELECT doc_id, 0.7 * rel - (1.0 - 0.7) * ms AS score FROM ms$i
              ORDER BY 0.7 * rel - (1.0 - 0.7) * ms DESC, doc_id LIMIT 1),
    selu$i AS (SELECT * FROM selu${i - 1}
               UNION ALL SELECT doc_id, $i AS rk, score FROM sel$i)"""

  def q114Sql: String = s"""
    WITH mr AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    mc AS (SELECT e.vec_id AS doc_id,
             round(${cosineD("e.embedding", "mr.embedding")}, 9) AS rel,
             e.embedding AS v
           FROM embeddings e, mr WHERE e.vec_id > 0
           ORDER BY rel DESC, doc_id LIMIT 12),
    sm AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
             round(${cosineD("a.v", "b.v")}, 9) AS sim
           FROM mc a, mc b),
    sel1 AS (SELECT doc_id, 0.7 * rel - (1.0 - 0.7) * 0.0 AS score FROM mc
             ORDER BY 0.7 * rel - (1.0 - 0.7) * 0.0 DESC, doc_id LIMIT 1),
    selu1 AS (SELECT doc_id, 1 AS rk, score FROM sel1),
    ${mmrStep(2)},
    ${mmrStep(3)},
    ${mmrStep(4)},
    ${mmrStep(5)},
    ${mmrStep(6)}
    SELECT CAST(rk AS BIGINT) AS mmr_rank, doc_id, round(score, 6) AS mmr_score
    FROM selu6 ORDER BY rk"""

  /** Incremental ANN ingest ([[Ann.appendToIvfPqIndex]]): the index is
    * BASE-built on the even vectors only (model frozen there), then the
    * odd vectors arrive as two append batches encoded with the persisted
    * codebooks — the faiss-`add` continuous-ingest shape. Serving the
    * grown index must still clear the q64 recall gate against exact
    * brute force over the FULL corpus, which only happens if the
    * appended rows are really being probed and rescored. AnnSpec
    * additionally proves batch-split invariance and retry idempotence
    * bit-for-bit. */
  def q119AnnIncremental(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 8)
    val idxDir = ArtifactCache.dir(s, "annapp", d, "embeddings") { tmp =>
      Ann.writeIvfPqIndex(e.filter(pmod(col("vec_id"), lit(2)) === 0),
        col("vec_id"), col("embedding"), tmp, nlist = 16)
      Ann.appendToIvfPqIndex(e.filter(pmod(col("vec_id"), lit(4)) === 1),
        col("vec_id"), col("embedding"), tmp, batchId = 1L)
      Ann.appendToIvfPqIndex(e.filter(pmod(col("vec_id"), lit(4)) === 3),
        col("vec_id"), col("embedding"), tmp, batchId = 2L)
      // fold the appended batches into the base partitions — the
      // recall gate below then drives append + compaction + serving
      // through the driver gate (AnnSpec proves the fold bit-exact)
      Ann.compactIvfPqIndex(s, tmp)
    }
    val ivfpq = Ann.ivfPqTopKIndexed(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), idxDir, k = 10,
      nprobe = 8, refine = 100)
    val brute = Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 10)
    ivfpq.select("query_id", "neighbor_id")
      .join(brute.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("__hits"))
      .select((col("__hits") >= lit(48L)).cast("long").as("recall_pass"),
        lit(8L).as("n_queries"), lit(10L).as("k"))
  }

  /** q150: Johnson–Lindenstrauss random projection
    * ([[RandomProjection.project]]) — the embedding-compression scale
    * path: 64-float vectors to 16 deterministic Rademacher coordinates
    * (Achlioptas 2003), preserving pairwise distances to JL distortion at
    * a quarter of the shuffle/memory cost for the ANN and semantic-dedup
    * passes. All 16 coordinates are exact left-fold arithmetic over md5
    * sign coins, so the oracle replays every value BIT FOR BIT (no
    * rounding fence on the coordinates); the per-row norm-ratio witness
    * is fenced for display and gated in aggregate — ≥95% of rows inside
    * [0.4, 2.5] (chi²₁₆-shaped concentration leaves ~1.6% outside;
    * exact integer counting, so the flag replays exactly). */
  def q150JlProjection(s: SparkSession, d: String): DataFrame = {
    val outDim = 16
    val proj = RandomProjection.project(Tables.embeddings(s, d),
      col("vec_id"), col("embedding"), inDim = 64, outDim = outDim)
    val gate = proj.agg(count(lit(1)).as("n"),
      sum(when(col("norm_ratio").between(0.4, 2.5), 1L).otherwise(0L))
        .as("n_ok"))
    val pcols = (1 to outDim).map(j => element_at(col("proj"), j).as(f"p$j%02d"))
    proj.select(col("id").as("vec_id") +: pcols :+
        (floor(col("norm_ratio") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("norm_ratio"): _*)
      .crossJoin(broadcast(gate))
      .withColumn("gate_ok",
        (col("n_ok") * lit(100L) >= col("n") * lit(95L)).cast("long"))
      .orderBy("vec_id")
  }

  // q150: the JL projection, FULL replay — the md5 Rademacher sign matrix
  // (+1 iff the first hex digit of md5('i:j|jl') has its top bit set),
  // every coordinate's left fold over the zipped (value, sign) list, the
  // norm-ratio witness folds, and the exact-integer distortion gate. The
  // 16 coordinates are hash-compared RAW (identical IEEE association both
  // sides — no fence); only the display ratio is fenced.
  def q150Sql: String = {
    val dIn = 64; val dOut = 16
    val pivot = (1 to dOut).map(j =>
      s"max(CASE WHEN j = $j THEN p END) AS p${"%02d".format(j)}")
      .mkString(", ")
    val plist = (1 to dOut).map(j => s"p${"%02d".format(j)}").mkString(", ")
    s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    sg AS (SELECT j, list_transform(generate_series(1, $dIn),
             i -> CASE WHEN strpos('89abcdef',
                    substr(md5(CAST(i AS VARCHAR) || ':' ||
                               CAST(j AS VARCHAR) || '|jl'), 1, 1)) > 0
                  THEN 1.0 ELSE -1.0 END) AS sl
           FROM (SELECT unnest(generate_series(1, $dOut)) AS j)),
    pj AS (SELECT vec_id, j,
             list_reduce(list_prepend(0.0, list_transform(
               generate_series(1, $dIn), i -> emb[i] * sl[i])),
               (a, x) -> a + x) / sqrt(${dOut}.0) AS p
           FROM e CROSS JOIN sg),
    w AS (SELECT vec_id, $pivot FROM pj GROUP BY vec_id),
    en AS (SELECT vec_id, list_reduce(list_prepend(0.0,
             list_transform(emb, x -> x * x)), (a, x) -> a + x) AS s2
           FROM e),
    rt AS (SELECT w.vec_id, $plist,
             CASE WHEN en.s2 > 0.0 THEN
               list_reduce(list_prepend(0.0, list_transform([$plist],
                 x -> x * x)), (a, x) -> a + x) / en.s2 END AS ratio
           FROM w JOIN en ON en.vec_id = w.vec_id),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN ratio BETWEEN 0.4 AND 2.5
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
          FROM rt)
    SELECT r.vec_id, $plist,
           floor(r.ratio * 1e6 + 0.5) / 1e6 AS norm_ratio, g.n, g.n_ok,
           CAST(CASE WHEN g.n_ok * 100 >= g.n * 95 THEN 1 ELSE 0 END
                AS BIGINT) AS gate_ok
    FROM rt r CROSS JOIN g ORDER BY r.vec_id"""
  }

  /** q152: compressed-space ANN ([[Ann.jlTopK]]) — q150's projection
    * doing its actual job: candidates from brute-force cosine top-256
    * over the 32-dim JL space (2× less scoring payload than the
    * original 64-dim vectors), survivors re-ranked by original-space
    * cosine, top-10 served. Gate: recall@10 against exact original-space brute
    * force over the 8 standard queries (the q64 pinned-verdict
    * convention — the oracle pins the expected flag row, which only
    * holds if the compressed candidates genuinely contain the true
    * neighbors). Calibration note: this fixture is the HARD case for
    * projection search — i.i.d. gaussian vectors have vanishing
    * neighbor-gap structure (top-10 cosine ≈ 3σ above the bulk), so
    * jlDim 32 + refine 256 measures recall@10 of 0.96/0.96/0.80 at
    * sf0.001/0.01/0.1; clustered real-embedding corpora preserve far
    * more. Gate pinned at ≥ 0.70 (56/80). */
  def q152JlAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 8)
    val jl = Ann.jlTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"),
      inDim = 64, jlDim = 32, kCand = 256, k = 10)
    val brute = Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 10)
    jl.select("query_id", "neighbor_id")
      .join(brute.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("__hits"))
      .select((col("__hits") >= lit(56L)).cast("long").as("recall_pass"),
        lit(8L).as("n_queries"), lit(10L).as("k"))
  }

  /** q153: compressed-space IVF ([[Ann.jlIvfTopK]]) — q152's JL payload
    * cut composed with q31's cell pruning, the full 100 TB path:
    * centroids train in the 32-dim JL space, each query scores only
    * nprobe=8 of nlist=16 compressed cells (per-query scoring cost
    * (8/16)·(32/64) = 1/4 of brute force, multiplicative dials), top-256
    * survivors re-rank by original-space cosine. Same recall gate as
    * q152 (≥ 0.70 = 56/80 vs exact brute force over the 8 standard
    * queries; oracle pins the verdict row). Calibration on the
    * i.i.d.-gaussian worst-case fixture: recall@10 = 0.80/0.71/0.74 at
    * sf0.001/0.01/0.1 — the extra loss vs q152's brute-compressed-scan
    * (0.96/0.96/0.80) is cell misses, the price of the (nprobe/nlist)
    * scan cut; clustered real-embedding corpora lose far less.
    * AnnSpec additionally asserts the pruning contract: the candidate
    * scan touches exactly Σ_query probed-cell populations of the
    * compressed corpus, never all of it. */
  def q153JlIvfAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 8)
    val ann = Ann.jlIvfTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"),
      inDim = 64, jlDim = 32, kCand = 256, k = 10, nlist = 16, nprobe = 8)
    val brute = Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 10)
    ann.select("query_id", "neighbor_id")
      .join(brute.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("__hits"))
      .select((col("__hits") >= lit(56L)).cast("long").as("recall_pass"),
        lit(8L).as("n_queries"), lit(10L).as("k"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q16_cosine_topk", q16CosineTopK, () => q16Sql),
    QuerySpec("q17_embedding_pairs", q17EmbeddingPairs, () => q17Sql),
    QuerySpec("q30_ann_ivf", q30AnnIvf, () => q30Sql),
    QuerySpec("q31_ann_topk_agg", q31AnnTopKAgg, () => q31Sql),
    QuerySpec("q57_ann_pq", q57AnnPq, () => q57Sql),
    QuerySpec("q64_ann_ivfpq", q64AnnIvfPq, () => q64Sql),
    QuerySpec("q74_embedding_lsh_recall", q74EmbeddingLshRecall, () => q74Sql),
    QuerySpec("q77_semantic_keepers", q77SemanticKeepers, () => q77Sql),
    QuerySpec("q78_doc_chunks", q78DocChunks, () => q78Sql),
    QuerySpec("q80_embedding_incremental_admit",
      q80EmbeddingIncrementalAdmit, () => q80Sql),
    QuerySpec("q81_semdedup_keepers", q81SemdedupKeepers, () => q81Sql),
    QuerySpec("q85_bm25_topk", q85Bm25TopK, () => q85Sql),
    QuerySpec("q89_bm25_indexed", q89Bm25Indexed, () => q85Sql),
    QuerySpec("q101_chunk_bm25", q101ChunkBm25, () => q101Sql),
    QuerySpec("q105_hybrid_rrf", q105HybridRrf, () => q105Sql),
    QuerySpec("q106_embedding_drift", q106EmbeddingDrift, () => q106Sql),
    QuerySpec("q114_mmr_rerank", q114MmrRerank, () => q114Sql),
    // q64's pinned-gate convention: the recall check runs Spark-side
    // against exact brute force; the oracle pins the expected verdict
    QuerySpec("q119_ann_incremental", q119AnnIncremental, () => q64Sql),
    QuerySpec("q150_jl_projection", q150JlProjection, () => q150Sql),
    // q152/q153: the q64 pinned-gate convention — recall vs exact brute
    // force runs Spark-side; the oracle pins the expected verdict row
    QuerySpec("q152_jl_ann", q152JlAnn, () => q64Sql),
    QuerySpec("q153_jl_ivf_ann", q153JlIvfAnn, () => q64Sql)
  )
}
