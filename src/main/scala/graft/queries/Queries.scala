package graft.queries

import graft.Tables
import graft.functions.{Pdfs, TextOps, VectorOps}
import graft.ml.Calibration
import graft.operators._
import graft.pipelines.{ActiveSampling, ActiveSamplingConfig}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The registered query surface: every operator from SURVEY.md §2 plus the
  * training-data-pipeline extensions, each as a (SparkSession, sfDir) =>
  * DataFrame, with ANSI-SQL DuckDB oracles where SQL can express the
  * semantics (Oracles.scala). Column names and arithmetic shapes mirror the
  * oracle SQL exactly — the driver hash-compares values after sorting columns
  * by name.
  */
object Queries {

  // ---- §2.4 aggregations / profiling over the star schema -----------------

  /** TPC-H Q1-shaped pricing summary: P1 projections + A-MSE-style sums. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).cast("long").as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A-MSE / A-MVar / A-MAE convergence metrics re-expressed relationally:
    * pred = discounted price, y = price → relative error = discount. */
  def q02ErrorMetrics(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      round(avg(pow(col("l_discount"), 2)), 8).as("mse_rel"),
      round(avg(abs(col("l_discount"))), 8).as("mae_rel"),
      round(var_pop(col("l_quantity")), 4).as("var_pop_qty"),
      round(avg(col("l_quantity")), 6).as("mean_qty"))

  /** A-HIST: 32-bin equi-width histogram of l_extendedprice with density —
    * the reference's np.linspace + hist(density=True) profiling step. */
  def q03Histogram(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val stats = li.agg(min(col("l_extendedprice")).as("__mn"),
      max(col("l_extendedprice")).as("__mx"), count(lit(1)).as("__n"))
    val width = (col("__mx") - col("__mn")) / lit(32.0)
    li.crossJoin(broadcast(stats))
      .select(least(floor((col("l_extendedprice") - col("__mn")) / width), lit(31.0))
          .cast("long").as("bucket"),
        col("__n"), width.as("__w"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"),
        first("__n").as("__n"), first("__w").as("__w"))
      .select(col("bucket"), col("cnt"),
        round(col("cnt").cast("double") / col("__n") / col("__w"), 8).as("density"))
      .orderBy("bucket")
  }

  /** A-TRAPZ: trapezoidal integration of events.value over event_id —
    * the dense-index form (adjacent-pair equi-join), not the global-window
    * form, so the only single-partition step is the 1-row total. */
  def q04Trapz(s: SparkSession, d: String): DataFrame =
    Integrate.trapzByIndex(Tables.events(s, d),
        col("event_id"), col("event_id"), col("value"))
      .select(round(col("integral"), 4).as("integral"))

  /** P7 min-max scaling of o_totalprice to [0,1]. */
  def q05MinMaxScale(s: SparkSession, d: String): DataFrame =
    Integrate.minMaxScale(Tables.orders(s, d), col("o_totalprice"), "scaled")
      .select(col("o_orderkey"), round(col("scaled"), 6).as("scaled"))
      .orderBy("o_orderkey")

  /** P6 inverse-density weights (histogram-density form, SQL-expressible):
    * w ∝ 1 / bucket-count(o_totalprice), normalized to sum 1. The
    * normalizing total is a broadcast 1-row aggregate, NOT an unpartitioned
    * window (which would be a single task at scale); per-bucket counts stay
    * a partitioned window. */
  def q06InvDensityWeights(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val stats = o.agg(min(col("o_totalprice")).as("__mn"), max(col("o_totalprice")).as("__mx"))
    val width = (col("__mx") - col("__mn")) / lit(32.0)
    val withBucket = o.crossJoin(broadcast(stats))
      .withColumn("bucket",
        least(floor((col("o_totalprice") - col("__mn")) / width), lit(31.0)).cast("long"))
    val withRaw = withBucket
      .withColumn("__raw", lit(1.0) / count(lit(1)).over(Window.partitionBy("bucket")))
    val total = withRaw.agg(sum(col("__raw")).as("__total"))
    withRaw.crossJoin(broadcast(total))
      .withColumn("w", round(col("__raw") / col("__total"), 8))
      .select(col("o_orderkey"), col("bucket"), col("w"))
      .orderBy("o_orderkey")
  }

  /** P8/W3 middle-duplicate lookup: for each quantity value, the middle
    * matching row (reference tie-resolution semantics). */
  def q07MiddleLookup(s: SparkSession, d: String): DataFrame =
    Selection.middleByKey(
        Tables.lineitem(s, d).select("l_quantity", "l_orderkey", "l_linenumber"),
        col("l_quantity"), Seq(col("l_orderkey"), col("l_linenumber")))
      .orderBy("l_quantity")

  /** O-TOPK: top-20 rows by extended price, deterministic tie-break. */
  def q08TopK(s: SparkSession, d: String): DataFrame =
    Selection.topK(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice"),
        col("l_extendedprice"), 20, Seq(col("l_orderkey"), col("l_linenumber")))
      .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))

  /** J2 pool-deletion: anti-join out the top-100 priced rows, then profile
    * the remaining pool (the reference's np.delete + refit measurement). */
  def q09PoolDeletion(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val top = Selection.topK(li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
      col("l_extendedprice"), 100, Seq(col("l_orderkey"), col("l_linenumber")))
    li.join(broadcast(top.select("l_orderkey", "l_linenumber")),
        Seq("l_orderkey", "l_linenumber"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_remaining"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
  }

  // ---- dedup / text / similarity surface ----------------------------------

  /** Exact content dedup groups (md5 of normalized text, min-id keeper). */
  def q10DedupGroups(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(TextOps.fingerprintMd5(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
      .orderBy("fp")

  /** Token statistics: whitespace tokens + BPE-ish subword count. */
  def q11TokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("n_bpeish"))
      .orderBy("doc_id")

  /** Quality-scoring ratios per document. */
  def q12Quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // TokenStats in its own projection: one codegen'd pass computes the
      // three token aggregates (vs two interpreted HOF lambdas per doc)
      .select(col("doc_id"), col("text"),
        TextOps.tokenStatsOf(col("text")).as("__ts"))
      .select(col("doc_id"),
        round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextOps.digitRatio(col("text")), 6).as("digit_ratio"),
        round(when(col("__ts.n_tokens") === 0, 0.0)
          .otherwise(col("__ts.stop_hits").cast("double") /
            col("__ts.n_tokens").cast("double")), 6).as("stopword_ratio"),
        round(when(col("__ts.n_tokens") === 0, 0.0)
          .otherwise(col("__ts.sum_len").cast("double") /
            col("__ts.n_tokens").cast("double")), 6).as("mean_tok_len"))
      .orderBy("doc_id")

  /** Language-ID distribution: CJK codepoint-ratio branch first, then the
    * marker-word argmax (both SQL-expressible — the DuckDB oracle mirrors
    * the counts, tie order, and CJK thresholds exactly). */
  def q13LangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // tokens in their own projection; the multi-language consumer
      // references them >1x, so CollapseProject keeps the split materialized
      .select(col("text"), TextOps.tokens(lower(col("text"))).as("__toks"))
      .select(TextOps.langIdCjkAware(col("text"), col("__toks")).as("lang_pred"))
      .groupBy("lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang_pred")

  /** Document fingerprints (md5 + rolling polynomial hash). */
  def q14Fingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp_md5"))
      .orderBy("doc_id")

  /** N-gram Jaccard near-dup pairs within (lang, source) blocks —
    * relational semantics shared with the oracle (the LSH-blocked variants
    * are the no-oracle queries q28/q29). */
  def q15NgramJaccard(s: SparkSession, d: String): DataFrame = {
    // Pair join carrying the (distinct) n-gram sets, ONE array_intersect per
    // pair in a pinned projection. Two shapes that lose: (a) filtering on
    // the computed Jaccard without a barrier lets PushDownPredicate inline
    // the intersection into the join CONDITION — 3 interpreted evaluations
    // per pair, ~50x slower; (b) an inverted-index gram join melts down on
    // heavy-hitter trigrams (every common gram contributes |block|^2 rows).
    val g = Tables.documents(s, d)
      // normalization materialized BEFORE the n-gram lambda: HOFs are
      // interpreted, so the regex must not live inside the per-element body
      .select(col("doc_id"), col("lang"), col("source"),
        TextOps.normalized(col("text")).as("__t"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        TextOps.charNGramsHashedFromNormalized(col("__t"), 3).as("g"))
      .withColumn("n", size(col("g")))
      .localCheckpoint() // gram sets feed both join sides — compute once
    val a = g.select(col("lang"), col("source"), col("doc_id").as("id_a"),
      col("g").as("g_a"), col("n").as("n_a"))
    val b = g.select(col("lang"), col("source"), col("doc_id").as("id_b"),
      col("g").as("g_b"), col("n").as("n_b"))
    val scored = a.join(b, Seq("lang", "source"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__inter",
        graft.functions.ArrayExprs.sortedIntersectSize(col("g_a"), col("g_b")))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccardFromIntersect(col("__inter"), col("n_a"), col("n_b")).as("jaccard"))
    PlanOps.pinPairScore(scored, Seq("id_a", "id_b"), "jaccard")
      .filter(col("jaccard") >= 0.5)
      .orderBy("id_a", "id_b")
  }

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

  // ---- events: json / time / windows --------------------------------------

  /** JSON extraction from events.props. */
  def q18Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n"), round(avg(col("k")), 4).as("avg_k"))
      .orderBy("event_type")

  /** Hourly tumbling aggregation over the event stream (batch form). */
  def q19Hourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"))
      .agg(count(lit(1)).cast("long").as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("hour")

  /** Star-schema join: revenue per nation (broadcast dims). */
  def q20RevenueByNation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).cast("long").as("n_items"))
      .orderBy("n_name")
  }

  /** Per-column profile of orders (M9 / north-star profiling). Registered in
    * the exact-distinct mode so DuckDB's count(DISTINCT) replays it; exact
    * distincts run as per-column single-distinct aggregates (no Expand —
    * the q48 lesson). `approxDistinct = true` is the one-scan 100 TB path. */
  def q21ProfileOrders(s: SparkSession, d: String): DataFrame =
    Profiling.profile(Tables.orders(s, d),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority"),
      approxDistinct = false).orderBy("col_name")

  /** Validation rules over lineitem in one pass. */
  def q22Validate(s: SparkSession, d: String): DataFrame =
    Profiling.validate(Tables.lineitem(s, d), Seq(
      Profiling.inRange("l_quantity", 1, 50),
      Profiling.nonNegative("l_extendedprice"),
      Profiling.inRange("l_discount", 0.0, 0.1),
      Profiling.inRange("l_tax", 0.0, 0.08),
      Profiling.notNull("l_shipdate"))).orderBy("rule")

  /** Key-uniqueness violations (duplicate multiplicities) on lineitem. */
  def q23DupKeys(s: SparkSession, d: String): DataFrame =
    Profiling.duplicateKeys(Tables.lineitem(s, d), Seq("l_orderkey"))
      .orderBy("l_orderkey")

  /** W1 sliding-window featurization, scalar (sum) projection for the
    * oracle; the array-valued operator itself is q27. Built on the BLOCKED
    * featurizer (not a global unpartitioned window — that is a single task
    * at scale); sums are ordered left-folds over the window arrays so the
    * DuckDB oracle reproduces them bit-for-bit. */
  def q24WindowSums(s: SparkSession, d: String): DataFrame = {
    def fsum(arr: Column): Column =
      round(aggregate(arr, lit(0.0), (acc, x) => acc + x), 4)
    SlidingWindows.featurizeByIndex(Tables.events(s, d),
        col("event_id"), col("value"), history = 10, pred = 5)
      .withColumn("hist_sum", fsum(col("hist")))
      .withColumn("target_sum", fsum(col("target")))
      .select(col("win_id"), col("hist_sum"), col("target_sum"))
      .orderBy("win_id")
  }

  // ---- no-oracle operators (KDE / sampling / LSH / ANN / windows) ---------

  /** A-KDE: 1024-point Gaussian KDE of l_extendedprice on a FIXED grid and
    * bandwidth — the oracle-parity configuration (Scott's-rule bandwidth
    * stays the library default and is unit-tested; fixed parameters make
    * the density a pure deterministic function of the data, so the DuckDB
    * oracle replays the linear binning + Gaussian convolution exactly). */
  def q25Kde(s: SparkSession, d: String): DataFrame =
    Kde.fit(Tables.lineitem(s, d), col("l_extendedprice"),
        bandwidth = Some(2000.0), bounds = Some((900.0, 105000.0)))
      .toDF(s)
      .select(round(col("grid_x"), 6).as("grid_x"), round(col("pdf"), 10).as("pdf"))

  /** The reference's stage-2 informative sampling, with engine-portable
    * determinism: histogram inverse-density weights (q06 form) feed an
    * Efraimidis–Spirakis top-100 whose sampling uniform is a 52-bit md5
    * hash of the row key instead of rand(seed) — the same u on any engine
    * or partitioning, so DuckDB replays the selection exactly.
    * (Selection.weightedSample keeps the rand-seeded form; the KDE-weighted
    * variant remains the flagship pipeline, exercised by unit tests.)
    * E-S ranking: u^(1/w) desc ⇔ cnt*ln(u) desc for w = 1/cnt — the log
    * form avoids pow() underflow at large bucket counts. */
  def q26WeightedSample(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val stats = li.agg(min(col("l_extendedprice")).as("__mn"),
      max(col("l_extendedprice")).as("__mx"))
    val width = (col("__mx") - col("__mn")) / lit(32.0)
    val withBucket = li.select("l_orderkey", "l_linenumber", "l_extendedprice")
      .crossJoin(broadcast(stats))
      .withColumn("bucket",
        least(floor((col("l_extendedprice") - col("__mn")) / width), lit(31.0)).cast("long"))
    // 52-bit uniform from md5 of the row key (the canonical portable
    // construction — see TextOps.portableUniform52)
    val u = TextOps.portableUniform52(
      concat_ws("|", col("l_orderkey"), col("l_linenumber")))
    withBucket
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("bucket")))
      .withColumn("u", u)
      .withColumn("es_key", col("cnt").cast("double") * log(col("u")))
      .orderBy(desc("es_key"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("l_extendedprice"),
        col("bucket"), round(col("es_key"), 6).as("es_key"))
  }

  /** Flagship pipeline (driver smoke-check): KDE density of l_extendedprice
    * → inverse-density weights → seeded Efraimidis–Spirakis top-100 — the
    * reference's stage-2 informative sampling with its KDE weights. The
    * registered q26 is this pipeline's hash-deterministic oracle twin. */
  def flagshipKdeSample(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val kde = Kde.fit(li, col("l_extendedprice"))
    val weighted = li.withColumn("pdf", kde.interpolate(col("l_extendedprice")))
      .withColumn("w", lit(1.0) / greatest(col("pdf"), lit(1e-12)))
    Selection.weightedSample(weighted, col("w"), 100, seed = 42)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "pdf", "w")
  }

  /** W1 via the scalable blocked featurizer. The operator's output is
    * array-valued (hist[10], target[5]); the driver's checker can't hash
    * array cells, so the registered query projects a position-weighted
    * digest of each array — any misplaced/missing element changes the sum —
    * plus the endpoints. The digest is an ordered left-fold so the DuckDB
    * oracle (list_reduce over list_prepend) reproduces it bit-for-bit. */
  def q27SlidingWindows(s: SparkSession, d: String): DataFrame = {
    val wins = SlidingWindows.featurizeByIndex(Tables.events(s, d),
      col("event_id"), col("value"), history = 10, pred = 5)
    def wsum(arr: Column, n: Int): Column = {
      val weighted = zip_with(arr,
        sequence(lit(1), lit(n)).cast("array<double>"), (v, i) => v * i)
      round(aggregate(weighted, lit(0.0), (acc, x) => acc + x), 4)
    }
    wins
      // digests in their own projection (HOFs are interpreted; keep each
      // fold evaluated exactly once, not inlined into the final select)
      .withColumn("hist_wsum", wsum(col("hist"), 10))
      .withColumn("target_wsum", wsum(col("target"), 5))
      .select(col("win_id"),
        col("hist_wsum"), col("target_wsum"),
        round(element_at(col("hist"), 1), 4).as("hist_first"),
        round(element_at(col("hist"), 10), 4).as("hist_last"),
        round(element_at(col("target"), 1), 4).as("target_first"),
        round(element_at(col("target"), 5), 4).as("target_last"))
      .orderBy("win_id")
  }

  /** MinHash + LSH near-dup candidate pairs, Jaccard-verified. */
  def q28MinhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashDedupPairs(Tables.documents(s, d), col("doc_id"), col("text"),
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      policy = CheckpointPolicy.fromSession(s))
      .orderBy("id_a", "id_b")

  /** SimHash near-dup pairs within Hamming ≤ 7 of the 64-bit fingerprint.
    * Radius 7 ↔ 8×8-bit chunk blocking: the pigeonhole guarantee covers the
    * configured radius exactly (recall 1.0 — see Dedup.simhashDedupPairs).
    * Registered in PORTABLE-hash mode (md5-derived token hash,
    * [[graft.functions.PortableHash]]) so the DuckDB oracle replays the
    * fingerprints bit-for-bit and checks the blocked pipeline — candidate
    * recall included — against an all-pairs hamming ground truth; the
    * xxhash64 fast path stays the library default, covered by DedupSpec. */
  def q29SimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashDedupPairs(Tables.documents(s, d), col("doc_id"), col("text"),
      maxHamming = 7, portable = true,
      policy = CheckpointPolicy.fromSession(s))
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")

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

  /** Exact brute-force ANN via the map-side TopKAggregator (scale shape). */
  def q31AnnTopKAgg(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Ann.bruteForceTopK(e, col("vec_id"), col("embedding"),
      e.filter(col("vec_id") < 8), col("vec_id"), col("embedding"), k = 10)
  }

  /** S1 grid source + S5 synthetic label — the reference's stage-0 dataset
    * (100x100 lattice, 2-D -> scalar y), oracle-checked. */
  def q32GridSource(s: SparkSession, d: String): DataFrame =
    Sources.grid(s, Domain(Seq((-1.0, 1.0), (-1.0, 1.0))), 50)
      .withColumn("y", round(graft.functions.Pdfs.syntheticLabel(col("x1"), col("x2")), 6))
      .select(col("id"), col("x1"), col("x2"), col("y"))
      .orderBy("id")

  /** S3 Latin-hypercube source: stratification property is oracle-checked
    * structurally (one sample per stratum per dimension). The two distinct
    * counts run as separate single-distinct aggregates (two distincts in
    * one agg would take Catalyst's Expand path — q48 lesson; trivial here
    * but the plan guard holds every registered query to it). */
  def q33LhsStrata(s: SparkSession, d: String): DataFrame = {
    val n = 64
    val lhs = Sources.latinHypercube(s, Domain(Seq((0.0, 1.0), (0.0, 1.0))), n, seed = 42)
      .select(
        floor(col("x1") * n).cast("long").as("s1"),
        floor(col("x2") * n).cast("long").as("s2"))
      .localCheckpoint()
    // per dimension: every stratum [i/n,(i+1)/n) holds exactly one sample
    lhs.agg(count_distinct(col("s1")).as("d1"), count(lit(1)).as("n"))
      .crossJoin(broadcast(lhs.agg(count_distinct(col("s2")).as("d2"))))
      .select(col("d1"), col("d2"), col("n"))
  }

  /** As-of join (backward): each click event picks up the latest purchase
    * of the same user at or before its timestamp. */
  def q35AsOfJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    Joins.asOfBackward(clicks, purchases, Seq("user_id"),
        col("ts"), col("p_ts"),
        Map("p_event_id" -> "purchase_event_id", "p_value" -> "purchase_value"))
      .select(col("event_id"), col("user_id"),
        col("purchase_event_id"), round(col("purchase_value"), 2).as("purchase_value"))
      .orderBy("event_id")
  }

  /** Gap-based sessionization: 30-minute inactivity breaks a session.
    * Hash-robust output shape: session_start as unix micros (BIGINT — no
    * cross-engine timestamp formatting), sum_value summed as decimal so the
    * result is independent of partial-sum order, then rounded as double. */
  def q36Sessionize(s: SparkSession, d: String): DataFrame =
    Joins.sessionize(Tables.events(s, d), Seq("user_id"), col("ts"), gapSeconds = 1800)
      .groupBy("user_id", "session_id")
      .agg(unix_micros(min(col("ts"))).as("session_start"),
        count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2).as("sum_value"))
      .orderBy("user_id", "session_id")

  /** CUBE aggregation over returnflag x linestatus with grouping flags. */
  def q37Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"))
      .orderBy(col("g_flag"), col("g_status"),
        coalesce(col("l_returnflag"), lit("")), coalesce(col("l_linestatus"), lit("")))

  /** Window ranking surface: top-3 orders per customer with row_number /
    * rank / dense_rank (ties on price exercised by the rank variants) and a
    * global price quartile. The quartile is NOT a global `ntile(4)` window
    * (single-task sort at scale): Ranking.globalRowNumber range-partitions
    * the sort and ntileFromRank reproduces exact ntile remainder semantics
    * from the global rank — same numbers, fully parallel plan. */
  def q38Ranking(s: SparkSession, d: String): DataFrame = {
    val byPrice = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"))
    val det = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    val o = Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice")
    val withRank = Ranking.globalRowNumber(o,
      Seq(desc("o_totalprice"), col("o_orderkey")), out = "__grn")
    withRank
      .crossJoin(broadcast(withRank.agg(count(lit(1)).as("__n"))))
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        row_number().over(det).cast("long").as("rn"),
        rank().over(byPrice).cast("long").as("rnk"),
        dense_rank().over(byPrice).cast("long").as("drnk"),
        Ranking.ntileFromRank(col("__grn"), col("__n"), 4).as("price_quartile"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** Exact interpolated percentiles of quantity per return flag — the
    * labeled EXACT-percentile oracle companion of q48's sketch path (the
    * q15/q16 labeling convention): at 100 TB the registered substitute is
    * `percentile_approx`, which q48 and q51 gate against exact values;
    * this query pins the exact `percentile` ↔ `quantile_cont` parity the
    * gates rely on. Small per-group value maps here (grouped by flag). */
  def q39Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("price_p90"))
      .orderBy("l_returnflag")

  /** Left outer join with empty-group preservation: order stats per
    * customer including order-less customers. */
  def q40LeftJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).cast("long").as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spend"))
      .orderBy("c_custkey")

  /** Multi-distinct aggregation (Catalyst Expand path): several independent
    * COUNT(DISTINCT ...) in one statement. */
  def q41MultiDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      count_distinct(col("l_partkey")).as("d_parts"),
      count_distinct(col("l_suppkey")).as("d_supps"),
      count_distinct(col("l_returnflag"), col("l_linestatus")).as("d_flag_status"),
      count_distinct(col("l_quantity")).as("d_qty"),
      count(lit(1)).cast("long").as("n"))

  /** Stratified corpus sampling with exact per-cell quotas — the
    * domain-mixing step of a training-data pipeline: within every
    * (lang, source) cell take ceil(10%) of documents, chosen by a
    * deterministic md5 order so any engine reproduces the same sample.
    * Partitioned window — parallel across cells at any scale. */
  def q42StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "source")
      .withColumn("__h", md5(
        concat_ws("|", col("lang"), col("source"), col("doc_id")).cast("binary")))
    val cell = Window.partitionBy("lang", "source")
    docs
      .withColumn("rn", row_number().over(cell.orderBy("__h")))
      .withColumn("n_cell", count(lit(1)).over(cell))
      .filter(col("rn") <= ceil(col("n_cell") * lit(0.1)))
      .select("lang", "source", "doc_id")
      .orderBy("lang", "source", "doc_id")
  }

  /** Benchmark-contamination scan: which corpus documents share any word
    * 5-shingle with the benchmark set (doc_id < 10)? The benchmark's hashed
    * shingles are a broadcast set; the corpus side is one explode +
    * broadcast semi-join + per-doc distinct count — no all-pairs anything,
    * the shape that works when the corpus is 100 TB and the benchmark is
    * MB-sized. */
  def q43Contamination(s: SparkSession, d: String): DataFrame = {
    val shingled = contaminationShingles(s, d)
    val corpus = shingled.filter(col("doc_id") >= 10)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    corpus.join(broadcast(benchShingleSet(shingled)), Seq("s"))
      .groupBy("doc_id")
      .agg(count_distinct(col("s")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Shared q43/q79 construction — ONE definition of the shingle width,
    * tokenizer, and benchmark cut, so the flag query and its graded
    * companion can never drift apart. NULL text is treated as empty
    * (matching the oracles' `coalesce(text, '')`). */
  private def contaminationShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))).as("__toks"))
      .select(col("doc_id"),
        graft.functions.VectorExprs.hashedWordShingles(col("__toks"), 5).as("sh"))

  private def benchShingleSet(shingled: DataFrame): DataFrame =
    shingled.filter(col("doc_id") < 10)
      .select(explode(col("sh")).as("s")).distinct()

  /** Per-document contamination FRACTION — q43's graded companion: the
    * share of each corpus doc's distinct word-5-shingles found in the
    * benchmark set, for EVERY doc (zero-overlap rows included). A binary
    * flag treats one shared shingle like total leakage; the fraction is
    * what decontamination policies actually threshold on (drop ≥ x, audit
    * the band below). Same 100 TB shape as q43: broadcast benchmark set,
    * one explode + semi-join + per-doc aggregate, left-joined back onto
    * the per-doc shingle counts. */
  def q79ContaminationFraction(s: SparkSession, d: String): DataFrame = {
    val shingled = contaminationShingles(s, d)
      .localCheckpoint() // feeds the benchmark set AND both corpus branches
    val bench = benchShingleSet(shingled)
    val matched = shingled.filter(col("doc_id") >= 10)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(bench), Seq("s"))
      .groupBy("doc_id")
      .agg(count_distinct(col("s")).as("n_shared"))
    shingled.filter(col("doc_id") >= 10)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(matched, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shared"))
      .withColumn("frac",
        round(col("n_shared").cast("double") / col("n_shingles").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** Near-dup cluster resolution — the step that turns pair lists into a
    * deduplicated corpus: connected components over the MinHash near-dup
    * pairs (min-label propagation), emitting each document's canonical
    * cluster id (the component's min doc id; keeper = doc_id ==
    * cluster_id). The oracle replays the components with a recursive CTE
    * over the same (proven-equal) pair set. */
  def q44DedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // spark.graft.checkpoint.dir set → every lineage pin in the pair-gen +
    // clustering loop goes to reliable storage (executor-loss-safe); the
    // default stays localCheckpoint. CheckpointPolicySpec gates parity.
    val policy = CheckpointPolicy.fromSession(s)
    val pairs = Dedup.minhashDedupPairs(docs, col("doc_id"), col("text"),
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      policy = policy)
    Dedup.clusters(pairs, docs.select("doc_id"), policy = policy)
      .orderBy("doc_id")
  }

  /** Gopher-style corpus quality gate: per-document rule flags (word-count
    * bounds, mean word length, stopword evidence, punctuation density) as
    * 1/0 BIGINTs — one codegen'd projection pass, no shuffle. */
  def q45QualityGate(s: SparkSession, d: String): DataFrame =
    QualityRules.gopherFlags(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy("doc_id")

  /** Repetition ratios (Gopher's "repetitious content" rules): top-word
    * fraction + duplicate 2-/3-gram fractions per document. */
  def q46Repetition(s: SparkSession, d: String): DataFrame =
    QualityRules.repetitionStats(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy("doc_id")

  /** Interval (range) join via Joins.rangeJoin: every click landing inside
    * a 30-minute attribution window that starts at a same-user purchase.
    * The bucketized equi-join (30-min cells) replaces the quadratic
    * per-user equi-join + range-filter plan Spark would pick by default. */
  def q47RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("p_ts"))
    Joins.rangeJoin(clicks, purchases, Seq("user_id"),
        col("ts"), col("p_ts"),
        col("p_ts") + expr("INTERVAL 30 MINUTES"), bucketSeconds = 1800L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("p_ts"))).as("dt_us"))
      .orderBy("click_id", "purchase_id")
  }

  /** Interpolation join (SURVEY J3 as a general operator): for every click,
    * linearly interpolate the same user's purchase `value` series at the
    * click's timestamp — np.interp semantics (clamp at the edges, NULL for
    * users with no purchases), one shuffle. Coordinates are epoch-µs
    * doubles (exact: µs < 2^53 until year ~2255). */
  def q49InterpJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    // knots pre-aggregated per (user, ts): duplicate-timestamp purchases
    // would otherwise make the ASOF-oracle tie-break undefined
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("p_ts"))
      .agg(avg("value").as("value"))
    Joins.interpolationJoin(clicks, purchases, Seq("user_id"),
        unix_micros(col("ts")), unix_micros(col("p_ts")), col("value"))
      .select(col("event_id"), col("user_id"),
        round(col("y_interp"), 6).as("v_interp"))
      .orderBy("event_id")
  }

  /** Multimodal round-trip gate: per user, quantize the event-value series
    * to 16-bit PCM, ENCODE it as a real WAV payload, DECODE it back with
    * the byte-level WavPcmDecoder, and emit exact integer sample stats
    * (n, Σq, Σq², max q — order-independent, no fp). The oracle recomputes
    * the same stats from the raw table, so any defect in the RIFF
    * encode/parse/sample arithmetic breaks the hash equality — the decode
    * plumbing becomes driver-checked, not just unit-tested. */
  def q52WavRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // clamp BOTH ends: an unclamped negative would wrap in toShort while the
    // oracle sums the unwrapped value — latent hash break on new fixtures
    val q = greatest(least(floor(col("value") * 60), lit(32767L)), lit(-32768L))
      .cast("int")
    Tables.events(s, d)
      .select(col("user_id"), q.as("q"))
      .groupBy("user_id").agg(collect_list("q").as("qs"))
      // the decode stage is CPU-bound PER ROW, not per byte: the grouped
      // frame is only a few MB, so AQE would coalesce the exchange to 1-2
      // partitions and run the codec nearly single-threaded (measured 28x
      // instead of 10x at a 10x scale-up). An EXPLICIT partition count is
      // exempt from AQE coalescing — spread the groups across the cores.
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[Int])]
      .map { case (u, qs) =>
        val wav = Multimodal.encodeWavPcm(16000, qs.map(_.toShort).toArray)
        val (n, sq, sq2, pk) = new Multimodal.WavPcmDecoder().rawStats(wav)
        (u, n, sq, sq2, pk)
      }
      .toDF("user_id", "n_samples", "sum_q", "sum_q2", "peak_q")
      .orderBy("user_id")
  }

  /** PGM image round-trip gate — q52's image twin: per user, quantize the
    * event-value series (ordered by event_id) to 8-bit gray, ENCODE it as a
    * real binary-PGM payload, byte-DECODE it back, nearest-neighbor RESIZE
    * to width 7, and emit exact integer pixel stats of both images. The
    * oracle replays everything from the raw table — including the resize's
    * source-index arithmetic (`sx = x·w/ow`, integer division) via list
    * indexing — so any defect in the header encode/parse, pixel layout, or
    * resize mapping breaks the hash equality. */
  def q53PgmRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = greatest(least(floor(col("value")), lit(255L)), lit(0L)).cast("int")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), p.as("p"))
      .groupBy("user_id")
      // sort_array over (event_id, p) structs: deterministic pixel order
      // (event_id is unique) without a global sort
      .agg(sort_array(collect_list(struct(col("event_id"), col("p")))).as("px"))
      // per-row-CPU-bound decode stage: explicit partition count so AQE
      // can't coalesce it onto one core (see q52)
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[(Long, Int)])]
      .map { case (u, px) =>
        val pixels = px.map(_._2).toArray
        val w = pixels.length
        val img = Multimodal.encodePgm(w, 1, pixels)
        val dec = new Multimodal.PgmDecoder()
        val (n, sp, sp2, mx) = dec.rawStats(img)
        val ow = math.min(w, 7)
        val (rn, rsp, _, _) = dec.rawStats(dec.resize(img, ow, 1))
        (u, n, sp, sp2, mx, rn, rsp)
      }
      .toDF("user_id", "n_px", "sum_p", "sum_p2", "max_p",
        "n_resized", "sum_resized")
      .orderBy("user_id")
  }

  /** AIFF round-trip gate — q52's twin through the JDK's audio provider
    * chain: per user, quantize the event-value series to 16-bit PCM,
    * ENCODE it as a real big-endian AIFF via `javax.sound.sampled`, DECODE
    * it back with [[Multimodal.AudioSystemDecoder]] (container parse +
    * endianness conversion through the JRE's own codecs), and emit exact
    * integer sample stats. The oracle replays them from the raw table —
    * identical SQL to q52, so the two gates differ ONLY in which codec
    * stack produced the numbers. */
  def q56AiffRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = greatest(least(floor(col("value") * 60), lit(32767L)), lit(-32768L))
      .cast("int")
    Tables.events(s, d)
      .select(col("user_id"), q.as("q"))
      .groupBy("user_id").agg(collect_list("q").as("qs"))
      // per-row-CPU-bound decode stage: explicit partition count so AQE
      // can't coalesce it onto one core (see q52)
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[Int])]
      .map { case (u, qs) =>
        val aiff = Multimodal.encodeAudio(16000, qs.map(_.toShort).toArray, "AIFF")
        val (n, sq, sq2, pk) = new Multimodal.AudioSystemDecoder().rawStats(aiff)
        (u, n, sq, sq2, pk)
      }
      .toDF("user_id", "n_samples", "sum_q", "sum_q2", "peak_q")
      .orderBy("user_id")
  }

  /** COMPRESSED-image round-trip gate — q53's twin through a REAL codec:
    * per user, quantize the event-value series (ordered by event_id) to
    * 8-bit gray, ENCODE it as an actual PNG (JDK ImageIO writer — deflate
    * compression), DECODE it back with [[Multimodal.ImageIoDecoder]], and
    * emit exact integer pixel stats. PNG is lossless, so the oracle replays
    * the stats from the raw table and any defect in the codec plumbing,
    * the gray-raster read path, or the luma arithmetic breaks the hash
    * equality. `jpeg_ok` additionally routes the SAME pixels through the
    * lossy JPEG writer at an EXPLICIT quality 0.9 (ImageWriteParam pin —
    * not the vendor-specific default) and gates dims-exact +
    * mean-within-4-gray-levels (DCT DC quantization at 0.9 moves a block
    * mean well under one gray level; 4 leaves margin), pinned to 1 in
    * the oracle — so the JPEG read path is data-verified too. */
  def q55PngRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = greatest(least(floor(col("value")), lit(255L)), lit(0L)).cast("int")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), p.as("p"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("event_id"), col("p")))).as("px"))
      // per-row-CPU-bound decode stage: explicit partition count so AQE
      // can't coalesce it onto one core (see q52)
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[(Long, Int)])]
      .map { case (u, px) =>
        val pixels = px.map(_._2).toArray
        val w = pixels.length
        val dec = new Multimodal.ImageIoDecoder()
        val (n, sp, sp2, mx) = dec.rawStats(Multimodal.encodeImage(w, 1, pixels, "png"))
        val jf = dec.decode("jpeg", Multimodal.encodeJpeg(w, 1, pixels))
        val jpegOk = jf(0) == w.toFloat && jf(1) == 1.0f &&
          math.abs(jf(2) * 255.0 - sp.toDouble / n) <= 4.0
        (u, n, sp, sp2, mx, if (jpegOk) 1L else 0L)
      }
      .toDF("user_id", "n_px", "sum_p", "sum_p2", "max_p", "jpeg_ok")
      .orderBy("user_id")
  }

  /** MP3 metadata round-trip gate — media triage WITHOUT decode: per user,
    * derive a per-event (bitrate-index, padding) frame spec, ENCODE a
    * structurally-valid MPEG-1 Layer III stream (real header layout +
    * ID3v2 prefix), WALK it back with [[Multimodal.Mp3HeaderDecoder]], and
    * emit exact integer stream stats (frames, Σkbps, Σframe-bytes,
    * duration-ms). The oracle replays the public frame-length arithmetic
    * (`144000·kbps/44100 + pad`) from the raw table via the bitrate lookup
    * table, so any defect in the header encode, the sync walk, the table
    * indexing, or the ID3 skip breaks the hash equality. This is the
    * 100 TB first-stage shape: filter/route compressed media by metadata
    * before paying for sample decode. */
  def q58Mp3Metadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        (pmod(col("event_id"), lit(14)) + 1).cast("int").as("bi"),
        pmod(col("event_id"), lit(2)).cast("int").as("pad"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("event_id"), col("bi"),
        col("pad")))).as("fs"))
      .as[(Long, Seq[(Long, Int, Int)])]
      .mapPartitions { it =>
        val dec = new Multimodal.Mp3HeaderDecoder() // amortized per partition
        it.map { case (u, fs) =>
          val spec = fs.map(f => (f._2, f._3)).toArray
          val mp3 = Multimodal.encodeMp3Frames(spec)
          val (frames, sumKbps, sumBytes, samples, sr) = dec.walk(mp3)
          // O(1)-duration branch: the SAME stream re-encoded with a leading
          // Xing TOC frame, read back via vbrInfo ALONE (no walk) — the
          // recovered audio frame/byte counts must replay the identical
          // per-frame arithmetic the oracle computes from the raw table
          val (xf, xb) = dec.vbrInfo(
            Multimodal.encodeMp3Frames(spec, xingHeader = true))
            .getOrElse((-1L, -1L))
          // SAMPLE-decode second stage (round 9): a real Layer III stream
          // (1 + u%3 frames of silence at this user's bitrate index) runs
          // the FULL graft.operators.Mp3 decode chain — header, side info,
          // Huffman, requantize, IMDCT, polyphase synthesis. Silence is
          // exactly linear-zero through every stage, so the decoded sample
          // count AND the absolute sample sum are integer-replayable.
          val nsil = (1 + u % 3).toInt
          val silent = Mp3.decode(
            Mp3.encodeMono(
              new Array[Double](nsil * 1152), (1 + u % 14).toInt))
          var absSum = 0L
          val s16 = silent.mixedS16
          var si = 0
          while (si < s16.length) { absSum += math.abs(s16(si).toLong); si += 1 }
          (u, frames, sumKbps, sumBytes, samples * 1000L / sr,
            xf, xb, xf * 1152L * 1000L / 44100L, silent.frames.toLong, absSum)
        }
      }
      .toDF("user_id", "n_frames", "sum_kbps", "sum_bytes", "dur_ms",
        "xing_frames", "xing_bytes", "xing_dur_ms", "dec_n", "dec_abs_sum")
      .orderBy("user_id")
  }

  /** MP4 metadata round-trip gate — q58's video twin: per user, derive
    * movie duration from the event values (timescale 600 — the ISO-BMFF
    * default) and track dims from the user id, ENCODE a valid ISO-BMFF box
    * tree, WALK it back with [[Multimodal.Mp4BoxDecoder]], and emit the
    * recovered metadata (duration units, integer milliseconds, video dims,
    * codec list). The oracle replays the derivations from the raw table,
    * so any defect in the box encode, the recursive walk, the 16.16
    * fixed-point dims, or the stsd entry scan breaks the hash equality.
    * h264/aac SAMPLE decode stays stubbed (needs a codec); container
    * triage — what a 100 TB pipeline filters on — does not. */
  def q59Mp4Metadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val du = greatest(least(floor(col("value") * 100), lit(100000L)), lit(0L))
    Tables.events(s, d)
      .groupBy("user_id").agg(sum(du.cast("long")).as("dur_units"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val dec = new Multimodal.Mp4BoxDecoder() // amortized per partition
        it.map { case (u, dur) =>
          val tracks = Seq(
            ((16 + u % 1904).toInt, (16 + u % 1064).toInt, "avc1"),
            (0, 0, "mp4a"))
          // per-track sample tables: 90 kHz video at delta 3000 (30 fps),
          // 48 kHz audio at delta 1024 (AAC frame), uniform sizes derived
          // from the user id — all integer math the oracle replays
          val vN = dur * 150L / 3000L
          val aN = dur * 80L / 1024L
          val tables = Seq((90000L, 3000L, vN, 1000L + u % 5000L),
            (48000L, 1024L, aN, 128L + u % 100L))
          val m = dec.walk(Multimodal.encodeMp4Meta(600L, dur, tracks, tables))
          // stts/stsz-derived per-track rates — frame counts, byte totals,
          // and the video bitrate straight from the recovered tables
          val vKbps =
            if (m.trackDurUnits.head > 0)
              m.trackBytes.head * 8L * m.trackTimescales.head /
                m.trackDurUnits.head / 1000L
            else 0L
          (u, m.duration, m.duration * 1000L / m.timescale, m.nTracks.toLong,
            m.videoW, m.videoH, m.codecs.mkString(","),
            m.trackSamples.head, m.trackBytes.head, vKbps,
            m.trackSamples(1), m.trackBytes(1))
        }
      }
      .toDF("user_id", "dur_units", "dur_ms", "n_tracks", "video_w",
        "video_h", "codecs", "v_samples", "v_bytes", "v_kbps",
        "a_samples", "a_bytes")
      .orderBy("user_id")
  }

  /** Bloom-prefiltered decontamination — q43's 100 TB-blocklist form: build
    * a compact Bloom filter over the benchmark shingle hashes (mergeable
    * per-partition bit arrays, one distributed aggregate), prefilter the
    * corpus shingles with the codegen'd k-probe, and run the exact
    * verification join ONLY on the survivors. Bloom filters have zero
    * false negatives by construction, so this path must produce EXACTLY
    * q43's answer — and the oracle replays the direct exact computation,
    * so any dropped contaminated doc (a false negative — i.e. a broken
    * build/probe) breaks the hash. False-positive rate is a perf property,
    * asserted empirically in BloomSpec. The broadcast-join q43 stays the
    * right call while the blocklist fits as rows; this is the shape when
    * it is hundreds of millions of fingerprints (bits stay m/8 bytes). */
  def q60BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val shingled = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        graft.functions.VectorExprs.hashedWordShingles(col("__toks"), 5).as("sh"))
      .localCheckpoint() // shared by bench (twice: sizing + verify) + corpus
    val bench = shingled.filter(col("doc_id") < 10)
      .select(explode(col("sh")).as("s")).distinct()
    // sizing count: bounded driver action (one long); a production blocklist
    // ships its cardinality (or an HLL estimate — q48's sketch) with it
    val nBench = math.max(bench.count(), 1L)
    val filter = Bloom.build(bench, "s", nBench, fpp = 0.01)
    val corpus = shingled.filter(col("doc_id") >= 10)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    corpus.filter(Bloom.mightContain(filter, col("s")))
      .join(broadcast(bench), Seq("s")) // exact verify on survivors only
      .groupBy("doc_id")
      .agg(count_distinct(col("s")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Per-doc REAL BPE token counts (the learned q103 merges, shared via
    * [[bpeMergesFor]]'s cache): explode words, apply the codegen'd
    * [[Vocab.bpeSymbols]] replace chain per word occurrence, sum per doc.
    * Docs with no normalized tokens count 0. The explode+groupBy shape
    * keeps the 40-replace chain in WholeStageCodegen instead of an
    * interpreted per-doc HOF fold. */
  private def bpeDocTokenCounts(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMergesFor(s, d)
    val docs = Tables.documents(s, d)
    val occ = docs.select(col("doc_id"),
      explode(TextOps.tokens(TextOps.normalized(col("text")))).as("__w"))
    // encode chain once per DISTINCT word (q103's shape), counts re-attach
    val wlen = occ.select(col("__w")).distinct()
      .select(col("__w"),
        size(Vocab.bpeSymbols(col("__w"), merges)).cast("long").as("__k"))
    val counts = occ.join(wlen, Seq("__w"))
      .groupBy("doc_id").agg(sum("__k").as("__btok"))
    docs.select("doc_id").join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__btok"), lit(0L)).as("btok"))
  }

  /** Sequence packing (GPT-style concat-and-cut): concatenate the corpus
    * in doc_id order and cut every 512 tokens — with the budget
    * denominated in REAL BPE tokens ([[bpeDocTokenCounts]]; heuristic
    * counts miss LLM token budgets by 10–30%, so every packing number the
    * engine reports is now in the unit a dataloader actually consumes).
    * Per document: first/last training-window index and the offset inside
    * the first window. The running token sum is the range-partitioned
    * [[Ranking.globalCumSum]] (no single-task global window); the oracle
    * replays the BPE chain AND the window-cumsum arithmetic. The no-split
    * variant ([[Packing.packGreedyPerShard]]) is inherently sequential per
    * shard and is property-tested in PackingSpec. */
  def q61SequencePacking(s: SparkSession, d: String): DataFrame =
    Packing.concatAndCut(
        bpeDocTokenCounts(s, d),
        order = Seq(col("doc_id")), tok = col("btok"),
        budget = 512L)
      .select(col("doc_id"), col("n_tok"), col("first_bin"), col("last_bin"),
        col("bin_off"))
      .orderBy("doc_id")

  /** Data-mixture sampling: reweight the documents table into a training
    * mix (src0 ×2.5 upsampled, src1 ×1.0, src2 ×0.4, everything else
    * ×0.15) and expand the drawn epochs. Deterministic md5 uniforms make
    * the whole sample — which docs survive AND how many epochs each gets —
    * exactly replayable in the oracle, q26-style. */
  def q62MixtureSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val w = Mixture.weightFor(col("source"),
      Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4), default = 0.15)
    Mixture.epochs(docs, col("doc_id"), w, salt = "mix")
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Z-order layout cells: Morton-interleave two lineitem key coordinates
    * onto a 1024×1024 grid and histogram the 64 top-level z-cells (count +
    * z min/max per cell). The interleave is pure built-in bitwise
    * arithmetic ([[Layout.zValue]]), so the oracle replays it bit-for-bit;
    * the per-cell min/max columns are exactly the file statistics a
    * z-clustered table would expose to pruning ([[Layout.clusterByZ]] —
    * the pruning property itself is asserted in LayoutSpec). */
  def q63ZOrderCells(s: SparkSession, d: String): DataFrame = {
    val x = pmod(col("l_orderkey"), lit(1024L)).cast("long")
    val y = pmod(col("l_partkey"), lit(1024L)).cast("long")
    Tables.lineitem(s, d)
      .select(Layout.zValue(Seq(x, y), bits = 10).as("z"))
      .groupBy(shiftright(col("z"), 14).as("cell"))
      .agg(count(lit(1)).as("n"), min("z").as("z_min"), max("z").as("z_max"))
      .orderBy("cell")
  }

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

  /** Incremental (daily-ingest) dedup admission: docs with `doc_id % 4 == 0`
    * play the incoming batch, the rest the already-deduplicated history.
    * Each batch doc gets exact-vs-history / exact-within-batch /
    * near-vs-history flags and an admission verdict, computed WITHOUT any
    * history×history pair generation. The oracle recomputes near-dups by
    * ALL-PAIRS batch×history Hamming over the portable SimHash — so the
    * hash equality doubles as a recall-1.0 proof for the asymmetric
    * pigeonhole blocking, the q28/q29 precedent. */
  def q65IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val history = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    Dedup.incrementalAdmit(batch, history, col("doc_id"), col("text"),
        maxHamming = 7, portable = true,
        policy = CheckpointPolicy.fromSession(s))
      .orderBy("doc_id")
  }

  /** The FULL corpus-to-dataloader composition, driver-gated: docs < 10
    * play the benchmark, the rest run curate (rules → repetition → exact
    * dedup → near-dup clusters → decontamination) → mixture → packing as
    * ONE composed pipeline ([[CorpusPipeline.toDataloader]]; curate's
    * stage frames pin eagerly — the stage-table shape). The oracle replays
    * every stage from the raw table — the gate fragments of
    * q45/q46/q10/q28+q44/q43/q62/q61 chained into one WITH RECURSIVE — so
    * a defect in ANY stage, or in how the stages hand off, breaks the
    * hash. This is the q54 treatment (composition itself verified, not
    * just the pieces) applied to the library's flagship pipeline. */
  def q66CorpusToDataloader(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // curation comes from the shared audit (kept == curate's survivors by
    // construction) — one stage-chain run serves q66 AND q100
    val kept = curationAuditFor(s, d)
      .filter(col("kept") === 1L).select("doc_id")
    val curated = docs.filter(col("doc_id") >= 10)
      .join(kept, Seq("doc_id"), "left_semi")
    CorpusPipeline.toDataloaderFrom(curated, col("doc_id"), col("text"),
        sourceWeights = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4),
        defaultWeight = 0.15, source = col("source"), tokenBudget = 512L)
      .select(col("doc_id"), col("epoch"), col("n_tok"), col("first_bin"),
        col("last_bin"), col("bin_off"))
      .orderBy("doc_id", "epoch")
  }

  /** Join-key skew diagnostic over the events fan-in key: the top-5
    * hottest user_ids with exact counts and the global skew ratio — the
    * measurement that decides between a plain shuffle join, AQE skew
    * splitting, and the salted join. */
  def q67KeySkew(s: SparkSession, d: String): DataFrame =
    Profiling.keySkew(Tables.events(s, d), col("user_id"), topK = 5)

  /** Vocabulary encoding digests: build the top-100 token vocabulary
    * (deterministic cnt-desc/token-asc ids via the range-partitioned
    * global row number) and encode every document against it. The
    * position-weighted sum is an order-sensitive digest, so the oracle
    * replay catches any defect in tokenization order, vocab ranking, or
    * the UNK rule — the dataloader's final text→ids step, driver-gated. */
  def q68VocabEncode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val vocab = Vocab.build(docs, col("text"), size = 100)
    Vocab.encode(docs, col("doc_id"), col("text"), vocab, vocabSize = 100)
      .orderBy("doc_id")
  }

  /** Log compaction: the events change-stream compacts to the latest
    * event per (user_id, event_type) — versioned by (ts, event_id), the
    * unique id breaking same-timestamp ties — in one hash aggregate (no
    * per-key sort window). The oracle replays it with max_by-style
    * argmax over the same ordering. */
  def q69Compaction(s: SparkSession, d: String): DataFrame =
    Compaction.latestByKey(
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"),
            round(col("value"), 6).as("value")),
        keys = Seq("user_id", "event_type"),
        version = Seq("ts_us", "event_id"),
        payload = Seq("value"))
      .orderBy("user_id", "event_type")

  /** Equi-depth decile binning of lineitem prices (feature
    * discretization): exact ntile semantics through the range-partitioned
    * rank — no single-task window — then per-bucket count and price
    * bounds. The oracle replays with a plain ntile window, holding the
    * scale-safe construction to the exact SQL semantics (q61 precedent
    * for the cumsum; this is the rank twin). */
  def q70EquiDepthBins(s: SparkSession, d: String): DataFrame =
    Ranking.equiDepth(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_extendedprice"),
        col("l_extendedprice"),
        Seq(col("l_orderkey"), col("l_linenumber")), k = 10)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min("l_extendedprice"), 2).as("lo"),
        round(max("l_extendedprice"), 2).as("hi"))
      .orderBy("bucket")

  /** Group-limit at scale: top-3 orders by price per customer via the
    * bounded [[TopKAggregator]] — the exchange carries ≤ 3 rows per
    * customer per map partition, where the `row_number()` window form
    * (q38's shape, right for small groups) sorts every customer's full
    * history. The oracle replays with the window form, so the two
    * formulations are proven equivalent. */
  def q71GroupLimit(s: SparkSession, d: String): DataFrame =
    Selection.topKPerGroup(Tables.orders(s, d), groups = Seq("o_custkey"),
        score = col("o_totalprice"), id = col("o_orderkey"), k = 3)
      .select(col("o_custkey"), col("rank"), col("id").as("o_orderkey"),
        round(col("score"), 2).as("price"))
      .orderBy("o_custkey", "rank")

  /** PII redaction gate: plant deterministic PII (email/IPv4/phone built
    * from doc_id) into each document, scrub with [[TextOps.redactPii]],
    * and emit per-type match counts plus the md5 of the redacted text.
    * The oracle plants and scrubs with the SAME patterns in SQL, so any
    * divergence in pattern semantics, application order, or replacement
    * tokens breaks the hash — the corpus-scrub step, driver-gated. */
  def q72PiiRedaction(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1 (555) 01"), col("doc_id").cast("string"),
      lit(" node 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
      lit("."), pmod(col("doc_id"), lit(100)).cast("string"))
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.piiCounts(planted).as("__c"),
        md5(TextOps.redactPii(planted).cast("binary")).as("redacted_md5"))
      .select(col("doc_id"), col("__c.email").as("n_email"),
        col("__c.ipv4").as("n_ipv4"), col("__c.phone").as("n_phone"),
        col("redacted_md5"))
      .orderBy("doc_id")
  }

  /** UQ-calibration reliability table over a deterministic surrogate
    * scorer (q54's trick: closed-form pred/var so the oracle replays the
    * model exactly): predicted variance from exact integer arithmetic on
    * event_id, realized squared error from the 0.9-biased prediction.
    * Ten equi-depth variance bins, each reporting expected vs realized —
    * the audit of the acquisition signal the reference's whole loop
    * trusts ([[graft.ml.Calibration]]). */
  def q73Calibration(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.events(s, d)
      .select(col("event_id"),
        (lit(0.05) + pmod(col("event_id"), lit(97)).cast("double") / lit(100.0))
          .as("var_pred"),
        (col("value") * lit(0.1) * col("value") * lit(0.1)).as("sq_err"))
    Calibration.reliability(scored, col("var_pred"), col("sq_err"),
      col("event_id"), bins = 10)
  }

  /** The FLAGSHIP `ActiveSampling.run` composition, driver-gated end-to-end
    * (closing q54's scope: that query replays the selection kernel via a
    * surrogate loop; this one runs `run` ITSELF): 3 iterations over the
    * 50×50 grid fixture in the oracle-parity configuration —
    *
    *   - [[graft.ml.AnalyticScorer]] (closed-form pred/var, the q54
    *     surrogate — the tree ensemble is not SQL-replayable);
    *   - REAL binned-KDE machinery: trueKde over the pool's y (init
    *     weights + the log-pdf-error reference), and a KDE REFIT of the
    *     shrinking pool's preds every iteration feeding the us_lw explorer
    *     — bandwidth pinned 0.2, grid 256, so DuckDB replays the full
    *     fitBinned convolution 4× (q25 pattern);
    *   - md5-uniform E-S init (`portableInitSample`, the q26/q54 device).
    *
    * Emits the per-iteration convergence trace (iter, mse, mvar,
    * log_pdf_err, train_n, pool_n): every number flows through KDE fit +
    * interpolation + trapz + the 9 select-and-moves, so ANY defect in the
    * loop's composition — scoring, metrics, KDE refit, pool bookkeeping —
    * breaks the hash. */
  def q75ActiveSamplingTrace(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Domain, Sources}
    val pool = Sources.grid(s, Domain(Seq((-1.0, 1.0), (-1.0, 1.0))), 50)
      .withColumn("y", Pdfs.syntheticLabel(col("x1"), col("x2")))
    val scorer = graft.ml.AnalyticScorer(
      _ => Pdfs.syntheticLabel(col("x1") * lit(0.9), col("x2") * lit(0.9)),
      _ => lit(0.05) + lit(0.3) * (col("x1") * col("x1") + col("x2") * col("x2")))
    val (_, ms) = ActiveSampling.run(s, pool, scorer, ActiveSamplingConfig(
      initSize = 100, iterations = 3, kdeGridSize = 256,
      kdeBandwidth = Some(0.2), portableInitSample = true))
    ActiveSampling.metricsDF(s, ms).select(
      col("iter").cast("long").as("iter"),
      round(col("mse"), 6).as("mse"),
      round(col("meanVar"), 6).as("mvar"),
      round(col("logPdfError"), 6).as("log_pdf_err"),
      col("trainSize").as("train_n"),
      col("poolSize").as("pool_n"))
      .orderBy("iter")
  }

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
    (e.unionByName(planted).localCheckpoint(), off) // feeds LSH + truth
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
      threshold = threshold, policy = CheckpointPolicy.fromSession(s))
    val labels = Dedup.clusters(pairs, corpus.select(col("vec_id").as("doc_id")))
      .localCheckpoint() // feeds the twin gate AND the base-drop audit
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
    val admit = Dedup.embeddingIncrementalAdmit(batch, history,
        col("vec_id"), col("v"), threshold = threshold,
        policy = CheckpointPolicy.fromSession(s))
      .localCheckpoint() // feeds the three gate aggregates
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

  /** DSIR importance selection over documents — distribution-matching
    * data selection ([[Dsir.select]]): target = the English subset,
    * hashed-unigram bucket log-ratios, top 25% kept. Full replay: the
    * oracle recomputes bucketing (md5 fold), smoothed ratios, the ordered
    * per-doc score fold, and the (rounded score, doc_id) selection rank —
    * score AND keep flag hash-compared per doc. */
  def q82DsirSelection(s: SparkSession, d: String): DataFrame =
    Dsir.select(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))),
        col("lang") === "en", buckets = 256, frac = 0.25)
      .orderBy("doc_id")

  /** CCNet-style perplexity filter ([[LangModel.bigramCrossEntropy]]):
    * add-one bigram LM trained on the English subset, every non-empty doc
    * scored by per-token cross-entropy. Full replay — the oracle retrains
    * the identical LM in SQL (unigram/bigram counts, T, V) and re-derives
    * every per-doc log-sum; doc count, token count, and the 6-decimal
    * score all hash-compared. In-model English docs score low, other
    * languages high — the separation a perplexity-bucket filter cuts on. */
  def q83BigramCrossEntropy(s: SparkSession, d: String): DataFrame =
    LangModel.bigramCrossEntropy(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))), col("lang") === "en")
      .orderBy("doc_id")

  /** Exact duplicated-span signal ([[Dedup.duplicatedSpanStats]], the
    * Lee-et-al substring-dedup removal-mass estimate): per doc, 5-token
    * spans occurring ≥2× corpus-wide and the token fraction they cover.
    * Full replay — the oracle regenerates every positional span as a
    * STRING (so a Spark-side xxhash64 collision would hash-break), counts,
    * joins, and re-derives the interval-union coverage; all seven columns
    * hash-compared per doc. */
  def q84DuplicatedSpans(s: SparkSession, d: String): DataFrame =
    Dedup.duplicatedSpanStats(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))), n = 5)
      .orderBy("doc_id")

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

  /** Corpus-level duplicated-segment REMOVAL ([[Dedup.segmentDedup]] — the
    * C4/CCNet recipe, complementing q84 which only MEASURES duplication):
    * 8-token non-overlapping segments, any segment in >1 distinct docs
    * removed everywhere, documents reassembled. Full replay — the oracle
    * regenerates segments as STRINGS (a Spark xxhash64 collision would
    * hash-break), recomputes the distinct-doc frequency, the drop set, and
    * the reassembled text's md5 — content and position, not just counts. */
  def q86SegmentDedup(s: SparkSession, d: String): DataFrame =
    Dedup.segmentDedup(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))), segLen = 8, maxDocs = 1)
      .orderBy("doc_id")

  /** Trainable quality classifier ([[graft.ml.TextClassifier]] — the
    * fastText-style linear curation model): hashed token-count features,
    * spark.ml logistic regression, deterministic q76 hash split. The label
    * is PLANTED and linearly recoverable from token counts
    * (count("spark") ≥ count("join")), so a correct train/score path must
    * clear 90% held-out accuracy; the oracle pins the fold sizes (pure
    * md5-split arithmetic DuckDB can replay) and the accuracy flag. A
    * broken tokenizer, feature hasher, label plumbing, or optimizer reds
    * the row. */
  def q87QualityClassifier(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(coalesce(col("text"), lit("")))
    val label = (size(filter(toks, t => t === "spark"))
      >= size(filter(toks, t => t === "join"))).cast("int")
    graft.ml.TextClassifier.holdoutGate(Tables.documents(s, d),
      col("doc_id"), toks, label)
  }

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
  // one persisted BM25 index per fixture (built at first use, signature-
  // invalidated) — shared by q89 and the q105 hybrid fusion
  private def bm25IndexFor(s: SparkSession, d: String): String =
    ArtifactCache.dir(s, "bm25", d, "documents") { tmp =>
      // build the index INCREMENTALLY (3 ingest batches) and compact —
      // q89/q105's oracle hash-match then gates the whole
      // append+fold+serve path bit-for-bit against the scan replay
      // (stats partials are integer-valued doubles, so the summed
      // (n, Σdl) equal the one-shot build's exactly)
      val docs = Tables.documents(s, d)
      (0 until 3).foreach(b => Retrieval.appendBm25Postings(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))), tmp, b.toLong))
      Retrieval.compactBm25Postings(s, tmp)
    }

  def q89Bm25Indexed(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25TopKIndexed(s, bm25IndexFor(s, d),
      Seq("join", "filter", "window"), k = 20)

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

  /** Token-entropy quality signals ([[QualityRules.entropyStats]]):
    * Shannon entropy of each doc's unigram distribution, normalized
    * entropy, and type-token ratio — the information-theoretic
    * boilerplate/keyword-stuffing detectors. Full replay: DuckDB
    * recomputes the same tokenizer, per-(doc, token) counts, and the three
    * derived columns at 6 dp. */
  def q90EntropyStats(s: SparkSession, d: String): DataFrame =
    QualityRules.entropyStats(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))))
      .orderBy("doc_id")

  /** Ordered funnel ([[Funnel.funnel]] — view → click → purchase earliest
    * completion per user). Full replay: the oracle computes the k-pass
    * definition (min ts of each step strictly after the previous step's)
    * with sequential CTEs; the Spark side is the single-shuffle sorted
    * fold — the two formulations must agree on every user. */
  def q91Funnel(s: SparkSession, d: String): DataFrame =
    Funnel.funnel(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"))
      .orderBy("user_id")

  /** Retention cohorts ([[Funnel.retention]]): users cohorted by first-seen
    * UTC day, per-(cohort, day-offset) active counts and fractions. Full
    * replay: DuckDB recomputes cohort assignment, distinct (user, day)
    * activity, and the ratio at 6 dp. */
  def q92Retention(s: SparkSession, d: String): DataFrame =
    Funnel.retention(Tables.events(s, d), col("user_id"), col("ts"))
      .orderBy("cohort_day", "offset_days")

  /** Per-group percent-rank normalization ([[Ranking.groupedRowNumber]] —
    * the grouped form of the scale-safe global rank): each doc's length
    * percentile WITHIN its language, with no per-group window sort (a
    * 5-value partition key would sort whole languages in single tasks).
    * Full replay: DuckDB's plain window is the semantic oracle the
    * range-partitioned construction must reproduce exactly. */
  def q102GroupPercentRank(s: SparkSession, d: String): DataFrame = {
    val ranked = Ranking.groupedRowNumber(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
      col("lang"), Seq(col("n_chars"), col("doc_id")))
    val sizes = Tables.documents(s, d).groupBy("lang")
      .agg(count(lit(1)).as("__ng"))
    ranked.join(broadcast(sizes), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("rn"),
        round(when(col("__ng") > 1,
          (col("rn") - 1).cast("double") / (col("__ng") - 1).cast("double"))
          .otherwise(lit(0.0)), 6).as("pct_rank"))
      .orderBy("doc_id")
  }

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

  /** Explainable-curation audit ([[CorpusPipeline.curateAudit]]): per
    * input doc, every q66 curation gate's verdict in stage order (-1 =
    * never reached — stages only evaluate survivors), the kept flag, and
    * the first-failing reason. Full replay: the oracle reuses q66's stage
    * CTEs and assembles the same verdict table — a drift between curate
    * and the audit, or blame assigned to an unevaluated gate, reds rows. */
  def q100CurationAudit(s: SparkSession, d: String): DataFrame =
    curationAuditFor(s, d).orderBy("doc_id")

  // The audit IS the curation result (kept == curate's survivors) —
  // computing it once per fixture and serving q100, q66's curated set and
  // q176 from it halves the heaviest stage chain in the bench. It is kept
  // as parquet, not as the builder's pinned frame: each caller reads it in
  // its own session, so sweeping any query's pins never breaks another.
  private def curationAuditFor(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ArtifactCache.dir(s, "audit", d, "documents") { tmp =>
      val docs = Tables.documents(s, d)
      CorpusPipeline.curateAudit(
          docs.filter(col("doc_id") >= 10), col("doc_id"), col("text"),
          benchmark = Some(docs.filter(col("doc_id") < 10)),
          policy = CheckpointPolicy.fromSession(s))
        .write.mode("overwrite").parquet(tmp)
    })

  // BPE merge table per fixture (plain driver data) — q103 and the
  // BPE-budgeted packing/mixture queries share one training run.
  private[graft] def bpeMergesFor(s: SparkSession, d: String): Seq[Vocab.BpeMerge] =
    ArtifactCache.value(s, "bpe", d, "documents") {
      // batched trainer: byte-identical merge table to Vocab.bpeTrain
      // (the q103 oracle replays the SEQUENTIAL semantics) in ~batch×
      // fewer Spark jobs — the production-vocab training shape
      Vocab.bpeTrainBatched(Tables.documents(s, d), col("text"),
        nMerges = 40, policy = CheckpointPolicy.fromSession(s))
    }

  /** Real subword (BPE) tokenization, driver-gated end to end: train 40
    * merges over the corpus ([[Vocab.bpeTrain]] — distinct-word pair
    * counting, driver holds only the merge table), then encode every doc
    * through the learned merges ([[Vocab.bpeSymbols]] — one codegen'd
    * replace chain, no UDF). Output = the full merge SEQUENCE (iteration,
    * pair, winning count) plus per-doc token-id digests (token count, id
    * sum, position-weighted id sum) against the alphabetically-ranked
    * final-symbol vocabulary. The oracle replays training AND encoding
    * with an unrolled CTE chain over the same wrapped-string replace
    * device, so a defect in pair counting, tie-breaks, merge order, greedy
    * application, or id assignment reds rows. */
  def q103BpeTokenizer(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = bpeMergesFor(s, d)
    val policy = CheckpointPolicy.fromSession(s)
    val mergeDf = merges.zipWithIndex.map { case (m, i) =>
        ("merge", (i + 1).toLong, m.left, m.right, m.count, 0L, 0L) }
      .toDF("kind", "key", "lft", "rgt", "n1", "n2", "n3")
    val occ = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(TextOps.normalized(col("text"))))
          .as(Seq("wpos", "word")))
    // the 40-replace encode chain runs once per DISTINCT word (pinned —
    // 10-20x fewer evaluations than per-occurrence on natural text), and
    // occurrences re-attach by word; the exploded symbol frame is pinned
    // too, since it feeds BOTH the vocab distinct and the position window
    val wsym = policy.pin(occ.select("word").distinct()
      .select(col("word"), Vocab.bpeSymbols(col("word"), merges).as("syms")))
    val syms = policy.pin(occ.join(wsym, Seq("word"))
      .select(col("doc_id"), col("wpos"),
        posexplode(col("syms")).as(Seq("j", "sym"))))
    // final-symbol vocab is bounded by |alphabet| + nMerges (every final
    // symbol is an original char or some merge's output) — broadcast-sized
    val vocab = Ranking.globalRowNumber(
        syms.select("sym").distinct(), Seq(col("sym")), out = "__rn")
      .select(col("sym"), (col("__rn") - 1).cast("long").as("id"))
    val pos = syms.withColumn("pos", // per-doc window: bounded partitions
      row_number().over(Window.partitionBy("doc_id").orderBy("wpos", "j"))
        .cast("long"))
    val docRows = pos.join(broadcast(vocab), Seq("sym"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n1"), sum("id").as("n2"),
        sum(col("pos") * col("id")).as("n3"))
      .select(lit("doc").as("kind"), col("doc_id").cast("long").as("key"),
        lit("").as("lft"), lit("").as("rgt"), col("n1"), col("n2"), col("n3"))
    mergeDf.unionByName(docRows).orderBy("kind", "key")
  }

  /** q138: BPE encode with BYTE FALLBACK against a pruned vocabulary
    * ([[Vocab.encodeStatsBpe]] — the persisted-artifact serve path).
    * Production pretraining tokenizers must encode arbitrary UTF-8 with
    * zero OOV loss; here the q103 merges are served with the corpus
    * symbol vocabulary MINUS every 'e'-bearing symbol, so a deterministic
    * slice of real symbols has no id and must emit its UTF-8 bytes at the
    * reserved ids `|vocab| + byte` instead of an [UNK]/drop. The oracle
    * replays the whole thing: the 40-merge chain, the pruned alphabetical
    * id table, the per-symbol vocab-vs-bytes branch (hex-digit
    * arithmetic), and the flattened (word, symbol, byte) position
    * order — any defect in the fallback trigger, the byte ids, or the
    * position interleave breaks the hash. */
  def q138BpeByteFallback(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = bpeMergesFor(s, d)
    val docs = Tables.documents(s, d)
    // corpus final-symbol vocabulary (bounded by |alphabet| + nMerges —
    // a documented kilobyte driver pull), then the deterministic prune
    val symSet = docs
      .select(posexplode(TextOps.tokens(TextOps.normalized(col("text"))))
        .as(Seq("wpos", "word")))
      .select("word").distinct()
      .select(explode(Vocab.bpeSymbols(col("word"), merges)).as("sym"))
      .distinct().as[String].collect()
    val pruned = symSet.filterNot(_.contains("e")).toSeq
    Vocab.encodeStatsBpe(docs, col("doc_id"), col("text"), merges, pruned,
      policy = CheckpointPolicy.fromSession(s))
  }

  /** Corpus drift monitoring ([[Profiling.drift]]): even-doc_id docs play
    * yesterday's snapshot, odd play today's. Numeric drift (token count,
    * char count) as 10-bin PSI histograms over the combined range,
    * categorical drift (lang, source) as per-value PSI, and a
    * token-frequency KL row with add-one smoothing — the engine's log-pdf
    * error metric generalized to the ingest-monitoring shape. Full
    * replay: DuckDB recomputes the bins, every per-bucket fraction, each
    * clamped PSI term, the per-column totals, and the smoothed KL. */
  def q104CorpusDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    def snap(parity: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === parity)
      .select(
        TextOps.tokenCount(coalesce(col("text"), lit(""))).as("n_tok"),
        col("n_chars"), col("lang"), col("source"),
        TextOps.tokens(coalesce(col("text"), lit(""))).as("toks"))
    Profiling.drift(snap(0), snap(1),
        numeric = Seq("n_tok", "n_chars"),
        categorical = Seq("lang", "source"),
        tokens = Some("toks"), bins = 10,
        policy = CheckpointPolicy.fromSession(s))
      .orderBy("column", "bucket")
  }

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
        bins = 10, policy = CheckpointPolicy.fromSession(s))
      .orderBy("column", "bucket")
  }

  /** Salted skew-join gate ([[Joins.saltedJoin]] — the explicit escape
    * hatch for shapes AQE can't split): lineitem ⋈ supplier with 8-way
    * salting, aggregated to revenue per nation. The oracle is the PLAIN
    * SQL join — salting must be row-for-row invisible in the result. */
  def q99SaltedJoin(s: SparkSession, d: String): DataFrame =
    Joins.saltedJoin(
        Tables.lineitem(s, d).select(col("l_suppkey").as("suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev")),
        Tables.supplier(s, d).select(col("s_suppkey").as("suppkey"),
          col("s_nationkey")),
        Seq("suppkey"), salt = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("rev"), 2).as("revenue"))
      .orderBy("s_nationkey")

  /** Rendezvous sharding ([[Layout.rendezvousShard]]): every doc's shard
    * under 8 and under 9 shards, plus the moved flag — growing the shard
    * count must move ~1/9 of rows, all of them to the NEW shard (the HRW
    * minimal-disruption property; the oracle replays the md5 argmax and
    * both assignments row by row, so a tie-break or hash divergence reds
    * every row it touches). */
  def q98RendezvousShards(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        Layout.rendezvousShard(col("doc_id"), 8).cast("long").as("shard8"),
        Layout.rendezvousShard(col("doc_id"), 9).cast("long").as("shard9"))
      .withColumn("moved",
        when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))
      .orderBy("doc_id")

  /** Neyman-allocation stratified sampling ([[Selection.neymanSample]]):
    * a 200-doc budget split across languages ∝ Nₕ·σₕ of n_chars, selection
    * = smallest md5-uniforms per stratum via the bounded top-k aggregator.
    * Full replay: DuckDB recomputes σ, the floor allocation, the ranked
    * selection, and the sorted-id digest per stratum. */
  def q97NeymanSample(s: SparkSession, d: String): DataFrame =
    Selection.neymanSample(Tables.documents(s, d), col("lang"),
        col("n_chars"), col("doc_id"), budget = 200)
      .orderBy("stratum")

  /** Windowed funnel ([[Funnel.funnel]] with a 6-hour conversion window):
    * later steps only count within windowUs of the first step — the
    * "converted same session" variant. Oracle adds the window bound to
    * each k-pass CTE. */
  def q96FunnelWindowed(s: SparkSession, d: String): DataFrame =
    Funnel.funnel(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"),
        windowUs = Some(6L * 3600 * 1000000))
      .orderBy("user_id")

  /** Trailing-bucket z-score anomalies ([[Profiling.anomalyZScores]]):
    * each event scored against its type's previous-hour mean/std — the
    * continuous monitoring rule, shaped as groupBy + join instead of a
    * low-cardinality-partitioned window (which would sort each key's whole
    * history in one task). Full replay: DuckDB recomputes buckets,
    * avg/var_pop baselines, the shifted join, z at 6 dp, and the flag. */
  def q94AnomalyZScores(s: SparkSession, d: String): DataFrame =
    Profiling.anomalyZScores(Tables.events(s, d), col("event_id"),
        col("event_type"), col("ts"), col("value"))
      .orderBy("event_id")

  /** Audio fingerprint dedup ([[Multimodal.WavPcmDecoder.envelopeHash64]]
    * + [[Dedup.hammingNearDupPairs]]): mono PCM clips synthesized per
    * supplier from lineitem prices through the real WAV encode → decode
    * path, 33-window energy-envelope transition hash (integer Σq² — no
    * FP), PLANTED twins as ×2-amplitude copies (the hash is exactly
    * scale-invariant, so twins collide at Hamming 0), MIH pairing at
    * radius 2. Oracle replays samples, window energies, bits, and
    * all-pairs Hamming from the raw table. */
  def q95AudioFingerprintDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // signed samples in [-8000, 8000): x2 twins stay inside 16-bit range
    val q = (pmod(floor(col("l_extendedprice")).cast("long"), lit(16000L))
      - 8000L).cast("int")
    val clips = Tables.lineitem(s, d)
      .select(col("l_suppkey"), struct(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), q.as("q")).as("r"))
      .groupBy("l_suppkey").agg(sort_array(collect_list(col("r"))).as("rs"))
      .filter(size(col("rs")) >= 33)
      .select(col("l_suppkey").as("clip_id"),
        transform(col("rs"), r => r.getField("q")).as("qs"))
    val withTwins = clips.unionByName(
      clips.filter(col("clip_id") % 4 === 1)
        .select((col("clip_id") + 200000L).as("clip_id"),
          transform(col("qs"), x => x * 2).as("qs")))
    val hashed = withTwins
      .repartition(s.sparkContext.defaultParallelism, col("clip_id"))
      .as[(Long, Seq[Int])]
      .map { case (clipId, qs) =>
        val wav = Multimodal.encodeWavPcm(16000, qs.map(_.toShort).toArray)
        (clipId, new Multimodal.WavPcmDecoder().envelopeHash64(wav))
      }.toDF("doc_id", "sh")
    Dedup.hammingNearDupPairs(hashed, maxHamming = 2,
        policy = CheckpointPolicy.fromSession(s))
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Perceptual-hash image dedup ([[Multimodal.PgmDecoder.aHash64]] +
    * [[Dedup.hammingNearDupPairs]]): 8×8 grayscale images synthesized per
    * supplier from lineitem prices (real PGM binaries through the real
    * encode → decode → hash path), PLANTED near-dups as +4-brightness
    * copies (aHash is brightness-shift robust, so twins land at small
    * Hamming distance), MIH-blocked pairing at radius 4. The oracle
    * replays pixels, integer mean, per-bit threshold, and ALL-PAIRS
    * Hamming from the raw table — a defect in the encoder, decoder, hash
    * packing, or blocking recall breaks row/hash equality. */
  def q93ImagePhashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val px = pmod(floor(col("l_extendedprice")).cast("long"), lit(256L)).cast("int")
    val imgs = Tables.lineitem(s, d)
      .select(col("l_suppkey"), struct(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), px.as("px")).as("r"))
      .groupBy("l_suppkey").agg(sort_array(collect_list(col("r"))).as("rs"))
      .filter(size(col("rs")) >= 64)
      .select(col("l_suppkey").as("img_id"),
        transform(slice(col("rs"), 1, 64), r => r.getField("px")).as("ps"))
    val withTwins = imgs.unionByName(
      imgs.filter(col("img_id") % 4 === 0)
        .select((col("img_id") + 100000L).as("img_id"),
          transform(col("ps"), p => least(p + 4, lit(255))).as("ps")))
    val hashed = withTwins
      .repartition(s.sparkContext.defaultParallelism, col("img_id"))
      .as[(Long, Seq[Int])]
      .flatMap { case (imgId, ps) =>
        val img = Multimodal.encodePgm(8, 8, ps.toArray)
        // triage gates the hash path (q175's router): only routed blobs
        // reach the decoder — all fixture blobs are valid P5, so the
        // gate is semantics-preserving here and load-bearing on a real
        // corpus (bad magic/truncation costs a header peek, not decode)
        if (Multimodal.imageTriage(img).route == "decode")
          Some((imgId, new Multimodal.PgmDecoder().aHash64(img)))
        else None
      }.toDF("doc_id", "sh")
    Dedup.hammingNearDupPairs(hashed, maxHamming = 4,
        policy = CheckpointPolicy.fromSession(s))
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Token-budget mixture planner ([[Mixture.tokenBudgetPlan]] — the
    * Pile/DoReMi static-weights planning step): per-language available
    * bpe-ish tokens, target share of a 100k-token budget, implied epochs
    * (upsampling), and the capped sampling rate. Weights are FP-exact
    * powers of two so the oracle's literal arithmetic reproduces every
    * double bit-for-bit. Full replay: DuckDB recomputes the tokenizer, the
    * per-domain aggregate, and all four derived columns. */
  def q88TokenBudgetPlan(s: SparkSession, d: String): DataFrame = {
    // availability denominated in REAL BPE tokens (q103's learned merges,
    // one shared training run) — the unit the downstream dataloader
    // actually consumes, replacing the bpeish pre-tokenization heuristic
    val perDoc = bpeDocTokenCounts(s, d)
      .join(Tables.documents(s, d).select("doc_id", "lang"), Seq("doc_id"))
    Mixture.tokenBudgetPlan(perDoc, col("lang"), col("btok"),
        Map("en" -> 0.5, "zh" -> 0.125, "de" -> 0.125, "es" -> 0.125,
          "fr" -> 0.125),
        budget = 100000L)
      .orderBy("domain")
  }

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

  /** Deterministic train/val/test hash split over documents (0.8/0.1/0.1,
    * keyed by doc_id) — the assignment a pipeline makes once and must
    * never churn: stable under re-runs/retries/repartitioning AND under
    * incremental corpus growth (tomorrow's doc lands where it would have
    * landed today). Fully per-row oracle-checked: DuckDB replays the md5
    * uniform and the cumulative-cut CASE exactly. */
  def q76HashSplit(s: SparkSession, d: String): DataFrame =
    Mixture.hashSplit(Tables.documents(s, d).select("doc_id"), col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("doc_id")

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
      threshold = 0.95, policy = CheckpointPolicy.fromSession(s))
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

  /** Robust per-column outlier profile of the lineitem measures:
    * median/MAD z-scores (outliers can't drag their own threshold the way
    * mean/stddev scoring lets them). q48-pattern gate query: the EXACT
    * stats are the hash anchor (per-column concurrent single-column
    * aggregates — the oracle-parity companion, like q39), and `apx_ok`
    * gates the bounded-memory `percentile_approx` path — the mode a 100 TB
    * run uses standalone (`Profiling.robustOutliers(approx = true)`) — by
    * rank-checking the sketch medians/MADs against the data. */
  def q51RobustOutliers(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(s, d)
    // the sketch gate's 3 passes and the exact anchor's 3 passes are
    // independent until the final flag column — run them as concurrent jobs
    // on the bounded PlanOps pool (each pass is internally sequential: MAD
    // needs the median first)
    val both = PlanOps.runJobs(Seq(
      () => Left(Profiling.approxOutlierGate(li, cols)),
      () => Right(Profiling.robustOutliers(li, cols, approx = false))),
      session = Some(s))
    val gate = both.collectFirst { case Left(g) => g }.get
    val exact = both.collectFirst { case Right(e) => e }.get
    val flag = cols.foldLeft(lit(null).cast("long")) { (acc, c) =>
      when(col("column") === lit(c), lit(gate(c))).otherwise(acc)
    }
    exact.withColumn("apx_ok", flag).orderBy("column")
  }

  /** Corpus heavy hitters: exact top-20 tokens (count desc, token asc —
    * deterministic, hash-checked vs DuckDB) plus a gate on the property
    * Misra-Gries actually guarantees: every token with exact frequency
    * > n/(capacity+1) must survive the one-pass summary (capacity 1024,
    * the bounded-memory 100 TB path). Gating raw "top-20 ⊆ candidates"
    * would be data-dependent — a rank-20 token sitting below the n/(c+1)
    * threshold may legitimately be evicted. */
  def q50HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val capacity = 1024
    val docs = Tables.documents(s, d)
    // TWO corpus scans total: the word-count aggregate (pinned — it feeds
    // both the top-k and the total-count denominator, distinct-word sized)
    // and the Misra-Gries sketch pass it gates. Session-policy pin so a
    // reliable-checkpoint deployment covers this distinct-word-sized block
    // too (q44/q66 precedent).
    val counts = CheckpointPolicy.fromSession(s)
      .pin(HeavyHitters.wordCounts(docs, col("text")))
    val n = counts.agg(sum("cnt")).head().getLong(0)
    val exact = counts.orderBy(desc("cnt"), col("word")).limit(20)
    val cands = HeavyHitters.misraGriesCandidates(docs, col("text"), capacity)
    val top = exact.select("word", "cnt").collect() // ≤ 20 rows
    val mustSurvive = top.filter(_.getLong(1) > n / (capacity + 1))
      .map(_.getString(0))
    val contained = mustSurvive.forall(cands.contains)
    exact.withColumn("mg_ok", lit(if (contained) 1L else 0L))
      .orderBy(desc("cnt"), col("word"))
  }

  /** Sketch gates — the 100 TB profiling path. Exact distinct counts and
    * exact percentiles shuffle full value sets; the scale substitutes are
    * HyperLogLog++ (`approx_count_distinct`, fixed-size sketch, one pass)
    * and t-digest-style `percentile_approx`. This query anchors BOTH: the
    * exact values hash-check against DuckDB, and the sketches gate against
    * the exact values with closed-form error flags (HLL++ at rsd 0.01,
    * gated at 5% — the default 5%-rsd sketch deterministically misses that
    * gate on the sf0.001 cardinalities; percentile_approx rank error
    * n/accuracy → well under 1% in value on the price distribution). */
  def q48SketchGates(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // SEPARATE aggregations, deliberately: mixing exact count-distincts
    // with `percentile` in one agg makes Spark Expand the input x3 and
    // build the percentile value-map on every expanded branch (measured
    // 115 s at sf0.1 vs ~2 s split); even two exact distincts alone Expand
    // x3, so each runs as its own single-distinct, single-column aggregate
    // (column-pruned scan) — all four passes submitted concurrently.
    val passes = PlanOps.runJobs[Any](Seq(
      () => li.agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("h_ok"),
        approx_count_distinct(col("l_partkey"), 0.01).as("h_pk"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p_apx"))
        .head(),
      () => li.select(col("l_orderkey"))
        .agg(countDistinct(col("l_orderkey"))).head().getLong(0),
      () => li.select(col("l_partkey"))
        .agg(countDistinct(col("l_partkey"))).head().getLong(0),
      () => li.agg(expr("percentile(l_extendedprice, 0.5)")).head().getDouble(0)),
      session = Some(s))
    val sk = passes(0).asInstanceOf[org.apache.spark.sql.Row]
    val nOk = passes(1).asInstanceOf[Long]
    val nPk = passes(2).asInstanceOf[Long]
    val pEx = passes(3).asInstanceOf[Double]
    val hllOk = math.abs(sk.getLong(0).toDouble / nOk - 1.0) <= 0.05 &&
      math.abs(sk.getLong(1).toDouble / nPk - 1.0) <= 0.05
    val pctlOk = math.abs(sk.getDouble(2) / pEx - 1.0) <= 0.01
    s.range(1).select(
      lit(nOk).as("n_orderkeys"),
      lit(nPk).as("n_partkeys"),
      lit(if (hllOk) 1L else 0L).as("hll_ok"),
      lit(if (pctlOk) 1L else 0L).as("pctl_ok"))
  }

  /** The flagship BDQA active-sampling LOOP as a driver-checked trace
    * (see [[graft.pipelines.ActiveSampling.deterministicTrace]]): 3
    * iterations × 3 explorer select-and-moves after an md5-deterministic
    * inverse-density init sample on the grid fixture; DuckDB replays every
    * pick — init removal included — with a recursive CTE. */
  def q54BdqaTrace(s: SparkSession, d: String): DataFrame =
    graft.pipelines.ActiveSampling.deterministicTrace(s)
      .withColumn("score", round(col("score"), 6))
      .orderBy("iter", "explorer")

  /** A-PCA as an oracle-checkable gate (the exact basis is sign/rotation
    * ambiguous, so the eigenvectors themselves can't be SQL-compared; the
    * eigen-INVARIANTS can):
    *   - `trace_sig4`: total variance Σ var_samp(col) to 4 significant
    *     digits — computed via the SAME var_samp aggregate in both engines
    *     (a genuine cross-engine check of the covariance accumulation;
    *     fixture traces sit ≥0.22 of a quantum from the rounding boundary
    *     at every sf, so the 4-digit mantissa is environment-robust).
    *   - `eig_trace_ok`: Σ all-d eigenvalues == trace (ties the eigensolve
    *     to the hashed trace).
    *   - `ortho_ok`: ‖VᵀV − I‖∞ ≤ 1e-9 over the full basis.
    *   - `pcvar_ok`: avg(pc_j²) over the DISTRIBUTED projection equals
    *     λ_j·(n−1)/n for every component — v_j really is an eigenvector
    *     with eigenvalue λ_j, verified against the data, not the model. */
  def q34PcaProject(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val dDim = cols.size
    val li = Tables.lineitem(s, d)
    val model = Pca.fit(li, cols, dDim) // full basis: trace + per-λ checks
    val projAggs = (0 until dDim).map(j => avg(pow(col(s"pc${j + 1}"), 2))) ++
      Seq(count(lit(1)).cast("double")) ++
      cols.map(c => var_samp(col(c)))
    val r = Pca.project(li, cols, model).agg(projAggs.head, projAggs.tail: _*).head()
    val pcVar = Array.tabulate(dDim)(j => r.getDouble(j))
    val n = r.getDouble(dDim)
    val trace = (0 until dDim).map(i => r.getDouble(dDim + 1 + i)).sum
    val traceSig4 = math.round(trace / math.pow(10, math.floor(math.log10(trace)) - 3))
    val eigSum = model.eigenvalues.sum
    val eigTraceOk = math.abs(eigSum - trace) <= 1e-9 * trace
    val orthoErr = (for (a <- 0 until dDim; b <- 0 until dDim) yield {
      val dot = (0 until dDim).map(i => model.components(i)(a) * model.components(i)(b)).sum
      math.abs(dot - (if (a == b) 1.0 else 0.0))
    }).max
    val pcvarOk = (0 until dDim).forall { j =>
      math.abs(pcVar(j) - model.eigenvalues(j) * (n - 1) / n) <= 1e-6 * model.eigenvalues(0)
    }
    s.range(1).select(
      lit(n.toLong).as("n"),
      lit(traceSig4).as("trace_sig4"),
      lit(if (eigTraceOk) 1L else 0L).as("eig_trace_ok"),
      lit(if (orthoErr <= 1e-9) 1L else 0L).as("ortho_ok"),
      lit(if (pcvarOk) 1L else 0L).as("pcvar_ok"))
  }

  /** Compressed-audio round-trip gate — q52's FLAC sibling: per user,
    * quantize the event-value series to 16-bit PCM, ENCODE it as a real
    * FLAC stream ([[Flac.encode]]: fixed predictors, Rice partitions,
    * CONSTANT/VERBATIM fallbacks), DECODE it back through the
    * spec-complete [[Flac.decode]] (CRC-8 + CRC-16 enforced, in-band MD5
    * re-verified), and emit exact integer sample stats. FLAC is LOSSLESS,
    * so the oracle replays the stats from the raw table exactly like q52 —
    * any defect anywhere in the codec (bit I/O, predictor, Rice coding,
    * CRC, MD5) breaks the hash equality. `flac_ok` additionally pins
    * elementwise decoded==input and the MD5 verdict Spark-side (the oracle
    * pins 1): losslessness proven sample-for-sample, not just via
    * order-independent sums. */
  def q107FlacRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = greatest(least(floor(col("value") * 60), lit(32767L)), lit(-32768L))
      .cast("int")
    Tables.events(s, d)
      .select(col("user_id"), q.as("q"))
      .groupBy("user_id").agg(collect_list("q").as("qs"))
      // per-row-CPU-bound codec stage: explicit partition count so AQE
      // can't coalesce it onto one core (see q52)
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .as[(Long, Seq[Int])]
      .map { case (u, qs) =>
        val pcm = qs.toArray
        val flac = Flac.encode(16000, Array(pcm), 16, 4096)
        val a = Flac.decode(flac)
        val ok = a.md5Ok && a.channels.length == 1 &&
          java.util.Arrays.equals(a.channels(0), pcm)
        val (n, sq, sq2, pk) = Flac.rawStats(flac)
        (u, n, sq, sq2, pk, if (ok) 1L else 0L)
      }
      .toDF("user_id", "n_samples", "sum_q", "sum_q2", "peak_q", "flac_ok")
      .orderBy("user_id")
  }

  /** Gaussian-mixture EM (SURVEY A-GMM — the one §2 operator previously
    * left as a documented omission): 3-component diagonal GMM over
    * (l_quantity, l_tax), 3 EM iterations, md5-portable init, every score/
    * responsibility/parameter rounded inside Spark SQL ([[Gmm.fitDiag]]).
    * The oracle replays the ENTIRE trajectory — init pick, all three
    * E/M steps, final hard assignment — so any drift anywhere in the EM
    * arithmetic breaks the hash. Output: per-component weight, per-dim
    * mean/var, and the hard-assignment count under the final model. */
  def q108GmmEm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val cols = Seq("l_quantity", "l_tax")
    val model = Gmm.fitDiag(li, cols, k = 3, iters = 3,
      keyCols = Seq(col("l_orderkey"), col("l_linenumber")), salt = "gmm")
    // k rows — bounded driver pull, same class as the Pca eigen row
    val counts = Gmm.assign(li, cols, model)
      .groupBy("component").agg(count(lit(1)).as("n_assigned"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until model.k).map { c =>
      (c.toLong, model.weights(c), model.means(c)(0), model.vars(c)(0),
        model.means(c)(1), model.vars(c)(1), counts.getOrElse(c.toLong, 0L))
    }.toDF("component", "weight", "mean_qty", "var_qty", "mean_tax",
      "var_tax", "n_assigned")
      .select(col("component"), round(col("weight"), 6).as("weight"),
        round(col("mean_qty"), 6).as("mean_qty"),
        round(col("var_qty"), 6).as("var_qty"),
        round(col("mean_tax"), 6).as("mean_tax"),
        round(col("var_tax"), 6).as("var_tax"), col("n_assigned"))
      .orderBy("component")
  }

  /** Retrieval-evaluation metrics ([[graft.ml.RankingMetrics]]): treat
    * each user as a query — their events ranked by value (the stand-in
    * retrieval scoring), purchases as the graded judgments (grade
    * 1 + event_id mod 3) — and compute nDCG@10, MRR, recall@10,
    * precision@10 per query. The oracle replays every gain term, the
    * ideal-DCG ordering, and the full-ranking MRR from the raw table.
    * The operator is the TREC-shaped harness that scores the engine's own
    * retrieval stacks (BM25 q85/q89, ANN q64, RRF q105) offline. */
  def q109RankingMetrics(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val w = Window.partitionBy("qid").orderBy(col("value").desc, col("doc_id"))
    val ranked = ev.select(col("user_id").as("qid"), col("event_id").as("doc_id"),
        col("value"))
      .withColumn("rank", row_number().over(w))
      .drop("value")
    val judgments = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("qid"), col("event_id").as("doc_id"),
        (lit(1.0) + (col("event_id") % 3).cast("double")).as("grade"))
    graft.ml.RankingMetrics.evalAtK(ranked, judgments, 10).orderBy("qid")
  }

  /** Persisted mergeable cardinality sketches ([[Sketches]]): three
    * simulated ingest batches (event_id mod 3) each append one KB-sized
    * HLL sketch row per tracked column; the serve path unions the batch
    * rows. Gates: `apx_ok` pins the union estimate within 5% of the exact
    * distinct count (HLL lgK=12 ⇒ ~1.6% typical error); `merge_ok` pins
    * SPLIT-INVARIANCE exactly — a 3-way and a 2-way batching of the same
    * stream must union to bit-identical estimates, which holds because
    * the merged register state is order-independent and the union serve
    * path uses the composite estimator. (A direct single-pass build is
    * NOT a valid equality anchor: DataSketches' primary HIP estimator is
    * insertion-order-sensitive — observed 1487 vs 1495 on identical
    * sf0.1 data under different plans.) The oracle replays the exact
    * counts; the sketch side is gated by the pinned flags (the q48
    * convention for approx anchors). */
  def q111HllCardinality(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("user_id", "event_type")
    val dir = ArtifactCache.dir(s, "hll", d, "events") { tmp =>
      val ev = Tables.events(s, d)
      // the SAME stream batched two different ways (3-way under a/,
      // 2-way under b/) — serving both proves merge associativity
      (0 until 3).foreach(b => Sketches.appendCardinalitySketches(
        ev.filter(pmod(col("event_id"), lit(3)) === b), cols, s"$tmp/a", b.toLong))
      (0 until 2).foreach(b => Sketches.appendCardinalitySketches(
        ev.filter(pmod(col("event_id"), lit(2)) === b), cols, s"$tmp/b", b.toLong))
      // fold a/ into its base partition; b/ stays per-batch — the
      // merge_ok equality below then drives COMPACTION through the
      // oracle gate too (folded vs unfolded must estimate identically)
      Sketches.compactCardinalitySketches(s, s"$tmp/a")
    }
    val est = Sketches.estimateCardinalities(s, s"$dir/a")
    val est2 = Sketches.estimateCardinalities(s, s"$dir/b")
      .select(col("column"), col("estimate").as("estimate2"))
    val ev = Tables.events(s, d)
    // exact anchor, ONE column per aggregate: a single multi-distinct agg
    // would rewrite through an Expand (input ×cols); the anchors are the
    // gate harness — the production path is the sketches, one scan total
    val base = cols.map { c =>
      ev.agg(countDistinct(col(c)).as("n_exact"))
        .select(lit(c).as("column"), col("n_exact"))
    }.reduce(_ unionByName _)
    est.join(est2, Seq("column")).join(base, Seq("column"))
      .select(col("column"), col("n_rows"), col("n_batches"), col("n_exact"),
        when(abs(col("estimate") - col("n_exact").cast("double")) <=
          lit(0.05) * col("n_exact").cast("double"), 1L).otherwise(0L).as("apx_ok"),
        when(col("estimate") === col("estimate2"), 1L).otherwise(0L).as("merge_ok"))
      .orderBy("column")
  }

  /** JSONL source round-trip ([[TextSources]]): the documents table is
    * exported once per fixture as newline-delimited JSON with TWO planted
    * malformed lines, read back through the schema-enforced PERMISSIVE
    * reader, and quarantine-split. The gate: exactly the 2 planted lines
    * quarantine (require — a wrong count fails the query, the q22
    * convention) and every clean row's (doc_id, lang, md5(text)) matches
    * the parquet original — any escape/unescape/null-handling defect in
    * the export+read chain breaks the hash. */
  def q112JsonlSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = ArtifactCache.dir(s, "jsonl", d, "documents") { tmp =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      import s.implicits._
      docs.select(to_json(struct(col("doc_id"), col("lang"), col("text")))
          .as("value"))
        .unionByName(Seq("{\"doc_id\": broken", "[1, 2, 3]").toDF("value"))
        .write.mode("overwrite").text(tmp)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val (clean, bad) = TextSources.quarantineSplit(
      TextSources.readJsonl(s, dir, schema))
    val nBad = bad.count() // bounded: the quarantine side of the fixture
    require(nBad == 2, s"expected 2 quarantined lines, got $nBad")
    clean.select(col("doc_id"), col("lang"),
        md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Temperature-based mixture planning ([[Mixture.temperatureWeights]] →
    * [[Mixture.epochs]]): α = 0.5 flattens the documents table's source
    * skew toward a 10k-doc training mix; each source's realized sample
    * count comes from the deterministic epochs expansion. The oracle
    * replays the share/temperature/weight arithmetic AND every per-doc
    * md5-uniform epoch draw. */
  def q113TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val w = Mixture.temperatureWeights(docs, col("source"), alpha = 0.5,
      targetRows = 10000L)
    val sampled = Mixture.epochs(docs.join(w.select("source", "weight"),
        Seq("source")), col("doc_id"), col("weight"), salt = "temp")
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
    w.join(sampled, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("share_before"),
        col("share_after"), col("weight"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("source")
  }

  /** Count-Min frequency sketches ([[Sketches.appendFrequencySketches]]):
    * two simulated ingest batches (doc_id mod 2) each append their sparse
    * (row, bucket, cnt) sketch of the token stream; point estimates for a
    * fixed probe list (three real tokens + one absent) come from the
    * merged cells. Buckets use the engine-portable md5 device, so the
    * oracle replays the ENTIRE sketch — and because merged batch cells
    * are count-sums, the oracle's whole-corpus build equaling the
    * incremental one IS the merge-exactness proof. `n_true` rides along
    * as the exact anchor (CMS never undercounts; at this width the probe
    * estimates are near-exact). */
  def q115CmsFrequency(s: SparkSession, d: String): DataFrame = {
    val probeKeys = Seq("join", "hash", "scan", "zzz_absent_token")
    val dir = ArtifactCache.dir(s, "cms", d, "documents") { tmp =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.tokens(coalesce(col("text"), lit("")))).as("tok"))
      (0 until 2).foreach(b => Sketches.appendFrequencySketches(
        toks.filter(pmod(col("doc_id"), lit(2)) === b), col("tok"),
        tmp, b.toLong))
      // fold into the base partition: the oracle's whole-corpus build
      // must equal the folded cells — compaction is oracle-gated
      Sketches.compactFrequencySketches(s, tmp)
    }
    val est = Sketches.cmsEstimate(s, dir, probeKeys)
    val truth = Tables.documents(s, d)
      .select(explode(TextOps.tokens(coalesce(col("text"), lit("")))).as("key"))
      .filter(col("key").isin(probeKeys: _*))
      .groupBy("key").agg(count(lit(1)).as("n_true"))
    est.join(truth, Seq("key"), "left")
      .select(col("key"), col("estimate"),
        coalesce(col("n_true"), lit(0L)).as("n_true"))
      .orderBy("key")
  }

  /** Fixed-edge histogram quantile sketches
    * ([[Sketches.appendHistogramSketches]] / [[Sketches.histQuantiles]]):
    * the third mergeable ingest artifact (HLL = cardinality, CMS =
    * frequency, this = distribution). Two batches (event_id mod 2) append
    * bin-count rows over `events.value` with fixed [0, 512) edges ×256
    * bins; quantile estimates interpolate the merged histogram. The
    * oracle replays the whole sketch (whole-corpus build == merged
    * batches, the count-sum-merge argument) AND the exact quantiles;
    * `within_bin` gates the one-bin-width error bound from BOTH sides. */
  def q117HistQuantiles(s: SparkSession, d: String): DataFrame = {
    val (lo, hi, bins) = (0.0, 512.0, 256)
    val binW = (hi - lo) / bins
    val qsP = Seq(0.1, 0.5, 0.9, 0.99)
    val dir = ArtifactCache.dir(s, "hist", d, "events") { tmp =>
      val ev = Tables.events(s, d)
      (0 until 2).foreach(b => Sketches.appendHistogramSketches(
        ev.filter(pmod(col("event_id"), lit(2)) === b), col("value"),
        tmp, b.toLong, lo, hi, bins))
      // fold into the base partition: the oracle's exact quantile
      // replay must match the folded sketch — compaction oracle-gated
      Sketches.compactHistogramSketches(s, tmp)
    }
    import s.implicits._
    val est = Sketches.histQuantiles(s, dir, qsP, lo, hi, bins)
    val exact = Tables.events(s, d)
      .agg(expr(s"percentile(value, array(${qsP.mkString("D, ")}D))").as("p"))
      .select(posexplode(col("p")).as(Seq("i", "exact")))
      .join(qsP.zipWithIndex.map { case (q, i) => (i, q) }.toDF("i", "q"),
        Seq("i"))
      .select(col("q"), round(col("exact"), 6).as("exact_q"))
    est.join(exact, Seq("q"))
      .select(col("q"), col("estimate"), col("exact_q"),
        when(abs(col("estimate") - col("exact_q")) <= lit(binW), 1L)
          .otherwise(0L).as("within_bin"))
      .orderBy("q")
  }

  /** CE-driven source reweighting — the DoReMi-flavoured composition of
    * q110's Kneser–Ney census with q113's mixture machinery: per-source
    * mean cross-entropy under the English-reference LM, tilted into
    * sampling shares via `exp(−(ce − min_ce)/τ)` (τ = 0.5 — cleaner
    * sources sample MORE), expanded to realized counts with the
    * deterministic epoch draws. Full replay: census, per-source means,
    * tilt/share/weight arithmetic, every epoch draw. */
  def q118CeReweighting(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val ce = LangModel.knTrigramCrossEntropy(docs, col("doc_id"),
      TextOps.tokens(coalesce(col("text"), lit(""))), col("lang") === "en")
    // feeds the per-source stats AND the epochs expansion — pin once
    val scored = CheckpointPolicy.fromSession(s).pin(
      docs.select(col("doc_id"), col("source"))
        .join(ce.select("doc_id", "ce"), Seq("doc_id")))
    val bySrc = scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), round(avg("ce"), 9).as("mean_ce"))
    val tl = bySrc.crossJoin(broadcast(bySrc.agg(min("mean_ce").as("m"))))
      .withColumn("tilt", round(exp(-(col("mean_ce") - col("m")) / lit(0.5)), 9))
    val ww = tl.crossJoin(broadcast(tl.agg(sum("tilt").as("z"))))
      .select(col("source"), col("n_docs"), col("mean_ce"),
        round(col("tilt") / col("z"), 9).as("share"),
        round(col("tilt") / col("z") * lit(10000.0) /
          col("n_docs").cast("double"), 9).as("weight"))
    val sampled = Mixture.epochs(
        scored.join(ww.select("source", "weight"), Seq("source")),
        col("doc_id"), col("weight"), salt = "ce")
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
    ww.join(sampled, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("mean_ce"), col("share"),
        col("weight"), coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("source")
  }

  /** C4 line-level filtering ([[QualityRules.c4LineFilter]]): the fixture
    * text is single-line, so multi-line documents are DERIVED
    * deterministically (8-token chunks; every third line gets terminal
    * punctuation) and the filter then drops unterminated / short /
    * banned-word lines and reassembles the survivors. The oracle replays
    * the derivation AND the filter expression-for-expression, hashing
    * the reassembled text. */
  def q116C4LineFilter(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(coalesce(col("text"), lit("")))
    val nChunks = ceil(size(toks) / lit(8.0)).cast("int")
    val lines = transform(sequence(lit(0), greatest(nChunks - 1, lit(0))),
      i => concat(array_join(slice(toks, i * 8 + 1, lit(8)), " "),
        when(i % 3 === 0, lit(".")).otherwise(lit(""))))
    val nl = when(size(toks) === 0, lit(""))
      .otherwise(array_join(lines, "\n"))
    val derived = Tables.documents(s, d).select(col("doc_id"), nl.as("t"))
    QualityRules.c4LineFilter(derived, col("doc_id"), col("t"),
        minWords = 3, banned = Seq("slow"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("text_clean").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

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

  /** Interpolated Kneser–Ney trigram cross-entropy
    * ([[LangModel.knTrigramCrossEntropy]]) — q83's estimator upgraded to
    * the class real perplexity filters use: English docs train the count
    * tables, EVERY doc (≥3 tokens) is scored. The oracle rebuilds the
    * trigram/continuation/discount census and replays every interpolation
    * term from the raw table. */
  def q110KnTrigramCe(s: SparkSession, d: String): DataFrame =
    LangModel.knTrigramCrossEntropy(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))), col("lang") === "en")
      .orderBy("doc_id")

  /** CSV source round-trip ([[TextSources.readCsv]]) — the q112 contract
    * for the OTHER line format corpora arrive in: the documents table is
    * exported once per fixture as headerless CSV (`to_csv` — RFC-4180
    * quoting) with TWO planted malformed lines (a non-numeric doc_id and
    * an unterminated quote, both failing the BIGINT conversion), read
    * back through the schema-enforced PERMISSIVE reader, and
    * quarantine-split. The gate: exactly the 2 planted lines quarantine
    * (require — a wrong count fails the query) and every clean row's
    * (doc_id, lang, md5(text)) matches the parquet original — any
    * quote/escape/null-handling defect in the export+read chain breaks
    * the hash. */
  def q120CsvSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = ArtifactCache.dir(s, "csv", d, "documents") { tmp =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      import s.implicits._
      docs.select(to_csv(struct(col("doc_id"), col("lang"), col("text")))
          .as("value"))
        .unionByName(Seq("not_a_number,en,planted bad row",
          "\"unterminated,xx,zz").toDF("value"))
        .write.mode("overwrite").text(tmp)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val (clean, bad) = TextSources.quarantineSplit(
      TextSources.readCsv(s, dir, schema))
    val nBad = bad.count() // bounded: the quarantine side of the fixture
    require(nBad == 2, s"expected 2 quarantined lines, got $nBad")
    clean.select(col("doc_id"), col("lang"),
        md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** q122: ORC round-trip with predicate pushdown — the documents table
    * exported to ORC (sorted by doc_id for tight stripe statistics), read
    * back through the schema-enforced [[ColumnarSources.readOrc]], and
    * filtered on n_chars (an ORC-pushdown-eligible predicate — the spec
    * asserts the scan carries it as a pushed filter). The gate: every
    * surviving row's (doc_id, lang, n_chars, md5(text)) must match the
    * parquet original under the same filter — any encode/decode/pushdown
    * defect in the ORC path breaks the hash. */
  def q122OrcSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = ArtifactCache.dir(s, "orc", d, "documents") { tmp =>
      ColumnarSources.writeOrc(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars", "text"),
        tmp, layoutCols = Seq("doc_id"))
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("text", StringType)))
    ColumnarSources.readOrc(s, dir, schema)
      .filter(col("n_chars") >= 200)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** q136: Avro round-trip — the third interchange format (Kafka dumps,
    * schema-registry pipelines), through the from-scratch
    * [[AvroSources]] (this container ships avro-core, not spark-avro):
    * documents exported as sync-splittable Avro container files, read
    * back split-parallel with a PROJECTED reader schema (decode-time
    * column pruning — Avro's row blocks have no columnar skip and no
    * stats, so the n_chars filter correctly evaluates post-decode,
    * the honest contrast with q122's ORC pushdown). The gate is q122's:
    * every surviving row's (doc_id, lang, n_chars, md5(text)) must match
    * the parquet original — any encode/decode/split/projection defect
    * breaks the hash. */
  def q136AvroSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = ArtifactCache.dir(s, "avro", d, "documents") { tmp =>
      AvroSources.writeAvro(
        Tables.documents(s, d)
          .select("doc_id", "lang", "n_chars", "text", "source"),
        tmp, layoutCols = Seq("doc_id"), codec = "deflate")
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    AvroSources.readAvro(s, dir, schema,
        columns = Seq("doc_id", "lang", "n_chars", "text"))
      .filter(col("n_chars") >= 200)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** q140: WARC/WET crawl round-trip — the container web-scale text
    * corpora actually arrive in (Common Crawl), through the from-scratch
    * [[WarcSources]]: documents exported as record-per-gzip-member WET
    * conversion records (the split-parallel layout), PLUS a planted
    * corrupt shard (one truncated member, one bit-flipped member — the
    * q120 planted-malformation convention), read back via [[WarcSources
    * .readWarc]]. The gate: exactly 2 quarantine rows (require-gated, so
    * a quarantine regression fails loudly), and every clean conversion
    * record's (doc_id-from-url, content_length, md5(text)) must match the
    * parquet original — any member-framing/header-parse/content-slice
    * defect in the WARC path breaks the hash. */
  def q140WarcSource(s: SparkSession, d: String): DataFrame = {
    val dir = ArtifactCache.dir(s, "warc", d, "documents") { tmp =>
      // fanOut: one member file per partition — a single-partition
      // source would make every downstream readWarc single-task
      WarcSources.writeWarc(
        Tables.fanOut(Tables.documents(s, d), col("doc_id")).select(
          lit("conversion").as("record_type"),
          concat(lit("https://example.com/doc/"), col("doc_id")).as("url"),
          lit("2024-05-01T00:00:00Z").as("date"),
          lit("text/plain").as("content_type"),
          concat(lit("<urn:uuid:"), col("doc_id"), lit(">"))
            .as("warc_record_id"),
          encode(coalesce(col("text"), lit("")), "UTF-8").as("content")),
        tmp, layoutCols = Seq("url"))
      // planted corrupt shard: a truncated member + a bit-flipped one
      val m0 = WarcSources.gzipWrap(WarcSources.recordBytes("conversion",
        "https://example.com/corrupt/0", "2024-05-01T00:00:00Z",
        "text/plain", "<urn:uuid:c0>", "corrupt body 0".getBytes("UTF-8")))
      val m1 = WarcSources.gzipWrap(WarcSources.recordBytes("conversion",
        "https://example.com/corrupt/1", "2024-05-01T00:00:00Z",
        "text/plain", "<urn:uuid:c1>", "corrupt body 1".getBytes("UTF-8")))
        .clone()
      m1(m1.length / 2) = (m1(m1.length / 2) ^ 0x41).toByte
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "zz-corrupt.warc.gz"),
        m0.take(m0.length - 9) ++ m1)
    }
    val all = WarcSources.readWarc(s, dir)
    val nBad = all.filter(col("error").isNotNull).count()
    require(nBad == 2, s"expected 2 quarantined WARC members, got $nBad")
    all.filter(col("error").isNull && col("record_type") === "conversion" &&
        !col("url").contains("/corrupt/"))
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("content_length"),
        md5(col("content")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** The synthesized-HTML WARC dir q144 and q146 share: one `response`
    * record per document, page = every classic extractor trap around the
    * escaped doc text (see q144's scaladoc); cached per fixture
    * signature. */
  private def crawlWarcDir(s: SparkSession, d: String): String =
    ArtifactCache.dir(s, "warch", d, "documents") { tmp =>
      val esc = regexp_replace(regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")),
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val html = concat(
        lit("<!DOCTYPE html><html><HEAD><title>Doc "), col("doc_id"),
        lit("</title><style>body{color:red}</style>" +
          "<script>if(1<2){var x=\"</div>\";}</script></HEAD>" +
          "<BODY><!-- <p>ghost</p> --><P class=\"intro\">"),
        esc,
        lit(" Fish &amp; Chips &lt;deal&gt; &#8364;5 &#xA0;now.</P>" +
          "<div><a href=\"/x?q=1>2\" class='y>z'>anchor text</a></div>" +
          "<ul><li>item one</li><li>item two</li></ul></BODY></html>"))
      WarcSources.writeWarc(
        Tables.fanOut(Tables.documents(s, d), col("doc_id")).select(
          lit("response").as("record_type"),
          concat(lit("https://example.com/doc/"), col("doc_id")).as("url"),
          lit("2024-05-01T00:00:00Z").as("date"),
          lit("text/html").as("content_type"),
          concat(lit("<urn:uuid:h"), col("doc_id"), lit(">"))
            .as("warc_record_id"),
          encode(html, "UTF-8").as("content")),
        tmp, layoutCols = Seq("url"))
    }

  /** q144: raw-crawl HTML extraction ([[Html]] + [[WarcSources]] — the
    * full capture-to-corpus composition): each document is wrapped in a
    * synthesized HTML page PLANTED with every classic extractor trap —
    * quoted `>` inside attributes, a `<script>` whose body contains
    * `</div>` and a bare `<`, a `<style>` block, a comment containing
    * tags, uppercase tag names, named/decimal/hex character references,
    * an NBSP that must survive whitespace collapse — written as WARC
    * `response` records (the raw-capture shape, vs q140's WET), read
    * back split-parallel, and extracted. The oracle builds the expected
    * title and visible text CLOSED-FORM from the documents table: any
    * tag residue, entity slip, raw-text leak, or line-structure defect
    * breaks the hash. */
  def q144HtmlExtract(s: SparkSession, d: String): DataFrame = {
    val dir = crawlWarcDir(s, d)
    val recs = WarcSources.readWarc(s, dir)
      .filter(col("error").isNull && col("record_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
        decode(col("content"), "UTF-8").as("html"))
    Html.extract(recs, col("id"), col("html"))
      .select(col("doc_id"), col("title"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** q145: URL canonicalization + domain curation ([[Urls]]): every doc
    * gets a PLANTED dirty URL (uppercase scheme/host, default and
    * non-default ports, utm tracking params, unsorted params, fragments,
    * missing paths, multi-label public suffixes — all driven by doc_id
    * arithmetic), normalized via Spark's `parse_url` builtins and mapped
    * to its registered domain; `badsite.com` rows carry the blocklist
    * flag. The oracle re-derives every step with INDEPENDENT DuckDB
    * string ops (no parse_url there), so the two engines cross-check the
    * URL grammar, not a shared implementation. */
  /** q146: the END-TO-END crawl-to-corpus pipeline — every stage a
    * real-world Common-Crawl curation run chains, each individually
    * gated elsewhere, composed here through the actual container:
    * q144's WARC `response` records (split-parallel read) → doc identity
    * from the capture URL → BLOCKLIST decontamination on the planted
    * per-doc curation URL ([[Urls.decontaminateByDomain]], badsite.com
    * drops doc_id % 5 = 2) → [[Html.extract]] → [[QualityRules
    * .c4LineFilter]] (the planted anchor/list boilerplate lines fail the
    * terminal-punctuation rule and drop; the content line survives) →
    * exact dedup with keeper election (min doc_id per cleaned text).
    * The oracle rebuilds the surviving cleaned line closed-form from the
    * documents table and replays the blocklist predicate and the keeper
    * election — a defect in ANY stage (member framing, extraction,
    * entity decode, line filter, domain rule, keeper tie) breaks it. */
  def q146CrawlPipeline(s: SparkSession, d: String): DataFrame = {
    val dir = crawlWarcDir(s, d)
    val recs = WarcSources.readWarc(s, dir)
      .filter(col("error").isNull && col("record_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
        decode(col("content"), "UTF-8").as("html"))
      .withColumn("curl", plantedUrl(col("id")))
    val kept = Urls.decontaminateByDomain(recs, col("curl"), Seq("badsite.com"))
    val ext = Html.extract(kept.select(col("id"), col("html")),
      col("id"), col("html"))
    // pinned: clean feeds BOTH the keeper election and the join-back —
    // unpinned, the whole WARC-read -> extract -> line-filter chain
    // recomputes per branch (measured ~2x the chain at sf0.1)
    val clean = QualityRules.c4LineFilter(ext, col("doc_id"), col("text"),
      minWords = 3, banned = Seq.empty).localCheckpoint()
    val keepers = clean.groupBy("text_clean")
      .agg(min(col("doc_id")).as("keeper_id"))
    clean.join(keepers, Seq("text_clean"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** q147: personalized PageRank over the purchase graph
    * ([[LinkAnalysis.personalizedPageRank]]) — the TrustRank shape: the
    * restart mass is pinned to nation-0 customers (the "trusted seed
    * set"), so ranks measure proximity to the seeds, not global
    * centrality; suppliers trading mostly with nation-0 customers
    * outrank equally-connected suppliers that don't. The seed set
    * includes customers with NO orders (off-graph nodes), so the
    * dangling-restart path — a terminated walk restarts AT A SOURCE,
    * mass scaled by each node's restart weight — is exercised and
    * replayed, not just the no-dangling identity. The oracle unrolls all
    * 5 iterations as CTE blocks: per-iteration contribution sums, the
    * per-iteration dangling-mass scalar, the `(1-d)·rst + d·(in +
    * dm·rst)` association, and the 9-dp floor fence. */
  def q147PersonalizedPagerank(s: SparkSession, d: String): DataFrame = {
    val edges = LinkAnalysis.purchaseGraph(
      Tables.lineitem(s, d), Tables.orders(s, d))
    val sources = Tables.customer(s, d)
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))
    LinkAnalysis.personalizedPageRank(edges, sources, iters = 5,
        damping = 0.85)
      .orderBy("node")
  }

  /** q148: bottom-k RANK sketch quantiles ([[Sketches.appendRankSketches]]
    * / [[Sketches.rankQuantiles]]) — the fifth mergeable ingest artifact
    * (HLL = cardinality, CMS = frequency, KMV = distinct sampling,
    * histogram = fixed-range distribution, this = distribution with NO
    * prior range knowledge):
    * two batches (l_orderkey mod 2) append the k=4096 hash-smallest
    * (row-key md5, l_extendedprice) pairs, the fold compacts them, and
    * quantile estimates are the merged sample's empirical quantiles.
    * The oracle replays the WHOLE sketch — per-row 52-bit md5 uniforms,
    * the (h, v) bottom-k cut, the ⌈q·m⌉ pick — so the direct build
    * equaling the Spark side's merged per-batch builds IS the merge
    * proof (the q115 argument); it also replays the exact quantiles and
    * the corpus rank fraction of every estimate, DKW-gated: k=4096 ⇒
    * rank error ≤ √(ln(2/δ)/2k) ≈ 4.2% at δ=1e-6, gated at 4.5% (the
    * 1/m pick offset rides inside the slack). */
  def q148RankQuantiles(s: SparkSession, d: String): DataFrame = {
    val k = 4096
    val qsP = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val dir = ArtifactCache.dir(s, "rank", d, "lineitem") { tmp =>
      val li = Tables.lineitem(s, d)
      // row key: all four integer identity fields — the fixtures do
      // NOT enforce TPC-H uniqueness on (orderkey, linenumber) (23% of
      // rows collide, correlating their sampling coins); the 4-field
      // key is unique at sf0.01/0.1 and has ONE collision at sf0.001
      (0 until 2).foreach(b => Sketches.appendRankSketches(
        li.filter(pmod(col("l_orderkey"), lit(2)) === b),
        col("l_extendedprice"),
        concat_ws(":", col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")),
        tmp, b.toLong, k))
      // fold into the base partition: the oracle's direct-build replay
      // must match the folded sketch — compaction oracle-gated
      Sketches.compactRankSketches(s, tmp, k)
    }
    val estRows = Sketches.rankQuantiles(s, dir, qsP, k)
      .orderBy("q").collect().toSeq // ≤ |qsP| rows, bounded
      .map(r => (r.getDouble(0), r.getDouble(1)))
    // the percentile-array pick below indexes by position: the sorted
    // estimate rows must line up with qsP (ascending by construction)
    require(estRows.map(_._1).sameElements(qsP), "qsP must be ascending")
    // exact quantiles + the corpus rank fraction of every estimate, all
    // |qsP| conditional sums AND the percentile array in ONE
    // scan-aggregate (no join, no cartesian, no second pass)
    val v = col("l_extendedprice").cast("double")
    val aggs = (count(lit(1)).cast("double").as("__n") +:
      estRows.zipWithIndex.map { case ((_, e), i) =>
        sum(when(v <= lit(e), 1L).otherwise(0L)).cast("double").as(s"__c_$i") }) :+
      expr(s"percentile(cast(l_extendedprice as double), " +
        s"array(${qsP.mkString("D, ")}D))").as("__p")
    val one = Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
    val fences = estRows.zipWithIndex.map { case ((q, e), i) =>
      struct(lit(q).as("q"), lit(e).as("estimate"),
        round(element_at(col("__p"), i + 1), 6).as("exact_q"),
        (floor(col(s"__c_$i") / col("__n") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("rank_frac")) }
    one.select(explode(array(fences: _*)).as("s"))
      .select(col("s.q"), col("s.estimate"), col("s.exact_q"), col("s.rank_frac"),
        when(abs(col("s.rank_frac") - col("s.q")) <= lit(0.045), 1L)
          .otherwise(0L).as("dkw_ok"))
      .orderBy("q")
  }

  /** q149: the CCNet perplexity CUT ([[LangModel.perplexityBuckets]]) —
    * q83's add-one bigram cross-entropy taken to its actual filtering
    * decision: per-language equal-mass head/middle/tail thirds over the
    * (ce, doc_id) total order, keep = not-tail (Wenzek et al. 2020
    * §4.3). The oracle retrains the identical LM in SQL (the q83 CTEs),
    * re-derives every per-doc score, and replays the per-language ntile
    * and keep flag — a defect in the scoring OR the rank cut breaks the
    * hash. */
  def q149PerplexityBuckets(s: SparkSession, d: String): DataFrame =
    LangModel.perplexityBuckets(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))),
        col("lang") === "en", col("lang"))
      .orderBy("doc_id")

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

  /** q151: GROUP-WISE rank-sketch quantiles
    * ([[Sketches.groupRankQuantiles]]) — q148's bottom-k sample held PER
    * GROUP by a bounded aggregator ([[BottomKRankAggregator]]), the
    * scale-correct alternative to `row_number().over(partitionBy(group))`
    * which sorts every group's full contents through the exchange: here
    * each map partition ships at most k (hash, value) pairs per group,
    * so per-key quantiles over a 100 TB fact table cost one scan plus a
    * k-bounded shuffle. Per l_returnflag: p25/p50/p90 of
    * l_extendedprice at k=1024 (DKW rank error ≤ 8.4% at δ=1e-6, gated
    * at 9%), with exact per-group quantile anchors and the corpus rank
    * fraction of every estimate in-row. The oracle replays the per-group
    * (h, v) bottom-k cut, the ⌈q·m⌉ picks, the anchors, and the gates. */
  def q151GroupRankQuantiles(s: SparkSession, d: String): DataFrame = {
    val k = 1024
    val qsP = Seq(0.25, 0.5, 0.9)
    val li = Tables.lineitem(s, d)
    val keyCol = concat_ws(":", col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey")) // the q148 near-unique row key
    val est = Sketches.groupRankQuantiles(li, Seq("l_returnflag"),
      col("l_extendedprice"), keyCol, qsP, k)
    import s.implicits._
    val exact = li.groupBy("l_returnflag")
      .agg(expr(s"percentile(cast(l_extendedprice as double), " +
        s"array(${qsP.mkString("D, ")}D))").as("p"))
      .select(col("l_returnflag"), posexplode(col("p")).as(Seq("i", "exact")))
      .join(qsP.zipWithIndex.map { case (q, i) => (i, q) }.toDF("i", "q"),
        Seq("i"))
      .select(col("l_returnflag"), col("q"), round(col("exact"), 6).as("exact_q"))
    // rank fraction of each estimate within its own group: ONE scan, the
    // |groups|×|qs| estimate frame rides a broadcast hash join
    val rf = li
      .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("__v"))
      .join(broadcast(est), Seq("l_returnflag"))
      .groupBy("l_returnflag", "q", "estimate", "m")
      .agg((floor(
        sum(when(col("__v") <= col("estimate"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
        .as("rank_frac"))
    rf.join(exact, Seq("l_returnflag", "q"))
      .select(col("l_returnflag"), col("q"), col("estimate"), col("exact_q"),
        col("rank_frac"), col("m"),
        when(abs(col("rank_frac") - col("q")) <= lit(0.09), 1L)
          .otherwise(0L).as("dkw_ok"))
      .orderBy("l_returnflag", "q")
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

  /** q154: ADTS/AAC metadata round-trip gate — q58's AAC twin, closing
    * the triage gap for the third major compressed-audio framing: per
    * user, derive a per-event (payload-bytes, CRC) frame spec and
    * per-user stream parameters (sampling-frequency index, channel
    * config) from the raw table, ENCODE a structurally-valid ADTS
    * stream ([[Multimodal.encodeAdtsFrames]] — real 7/9-byte headers +
    * ID3v2 prefix), WALK it back with
    * [[Multimodal.AdtsHeaderDecoder]], and emit exact integer stream
    * stats. The oracle replays the header-length arithmetic
    * (payload + 7/9 by the CRC flag), the sampling-rate table lookup,
    * the 1024-samples-per-frame duration, and the CRC-frame count from
    * the raw table — any defect in the header encode, the sync walk,
    * the 13-bit length split, or the ID3 skip breaks the hash. AAC
    * SAMPLE decode stays behind the [[graft.operators.DecoderProvider]]
    * SPI; triage — what a 100 TB pipeline filters and routes on — no
    * longer does. */
  def q154AdtsMetadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        (pmod(col("event_id"), lit(200)) + 50).cast("int").as("plen"),
        pmod(col("event_id"), lit(3)).cast("int").as("crcm"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("event_id"), col("plen"),
        col("crcm")))).as("fs"))
      .as[(Long, Seq[(Long, Int, Int)])]
      .mapPartitions { it =>
        val dec = new Multimodal.AdtsHeaderDecoder() // amortized per partition
        it.map { case (u, fs) =>
          val srIdx = (3 + u % 5).toInt // 48000/44100/32000/24000/22050
          val ch = (1 + u % 2).toInt
          val spec = fs.map(f => (f._2, if (f._3 == 0) 1 else 0)).toArray
          val m = dec.walk(Multimodal.encodeAdtsFrames(spec, srIdx, ch))
          (u, m.frames, m.samples, m.sampleRate.toLong, m.channels.toLong,
            m.profile.toLong, m.sumBytes, m.crcFrames,
            m.samples * 1000L / m.sampleRate)
        }
      }
      .toDF("user_id", "n_frames", "samples", "sample_rate", "channels",
        "profile", "sum_bytes", "crc_frames", "dur_ms")
      .orderBy("user_id")
  }

  /** The planted dirty URL keyed on a document id — shared by q145 (over
    * doc_id) and q146 (over the id recovered from the WARC record). */
  private def plantedUrl(id: Column): Column = {
    val m2 = id % 2
    val m3 = id % 3
    val m4 = id % 4
    val m5 = id % 5
    val m7 = id % 7
    val scheme = when(m2 === 0, lit("HTTP")).otherwise(lit("https"))
    val hostStr = when(m5 === 0, lit("News.Example.COM"))
      .when(m5 === 1, lit("Blog.example.co.uk"))
      .when(m5 === 2, lit("SPAM.badsite.com"))
      .when(m5 === 3, lit("example.org"))
      .otherwise(lit("cdn.Site.com"))
    val port = when(m3 === 0, when(m2 === 0, lit(":80")).otherwise(lit(":443")))
      .when(m3 === 1, lit(":8080")).otherwise(lit(""))
    val path = when(m7 === 0, lit(""))
      .otherwise(concat(lit("/a/"), id))
    val query = when(m4 === 0, lit("?utm_source=x&b=2&a=1"))
      .when(m4 === 1, lit("?b=2&a=1"))
      .when(m4 === 2, lit("?utm_campaign=z"))
      .otherwise(lit(""))
    val frag = when(m2 === 1, lit("#frag")).otherwise(lit(""))
    concat(scheme, lit("://"), hostStr, port, path, query, frag)
  }

  /** q145's URL plant: [[plantedUrl]]'s normalization grid, overridden on
    * a doc_id % 11 slice with hosts that exercise each PSL rule CLASS
    * ([[graft.operators.Psl]]): the `!www.ck` exception, the `*.ck`
    * all-label wildcard, a gov.uk-class exact-2 registry, the depth-4
    * `k12.<st>.us` school hierarchy, a `*.nagoya.jp` designated-city
    * wildcard where the host IS the public suffix, and its
    * `!city.nagoya.jp` exception. q146 keeps the narrower shared plant. */
  private def q145Url(id: Column): Column = {
    val m11 = id % 11
    when(m11 === 0, lit("https://deep.www.CK/x"))
      .when(m11 === 1, lit("HTTP://shop.stores.example.ck:80/y?b=2&a=1"))
      .when(m11 === 2, lit("https://www.City.gov.uk/services?utm_source=t"))
      .when(m11 === 3, lit("http://district.k12.CA.us:8080/school"))
      .when(m11 === 4, lit("https://metro.nagoya.jp"))
      .when(m11 === 5, lit("http://www.city.Nagoya.jp/index#top"))
      .otherwise(plantedUrl(id))
  }

  /** q155: per-domain cap ([[Urls.domainCap]]) over q145's PSL-exercising
    * URL plant — the policy stage between [[Urls.domainStats]] and the
    * corpus write: at most 20 docs per registered domain, kept = the 20
    * smallest per-doc md5 coins (deterministic uniform sample; ties on
    * doc_id). Every planted domain holds ≥ 45 docs, so every domain is
    * genuinely capped and the boundary rank is exercised. The oracle
    * replays the coin and the (h, doc_id) rank as an explicit window;
    * the Spark side computes the same selection with the BOUNDED
    * topKPerGroup aggregator — no window, no per-domain sort (the 100 TB
    * point of the operator). */
  def q155DomainCap(s: SparkSession, d: String): DataFrame =
    Urls.domainCap(
      Tables.documents(s, d)
        .select(col("doc_id"), q145Url(col("doc_id")).as("url")),
      col("doc_id"), col("url"), cap = 20)
      .orderBy("doc_id")

  /** q156: robots.txt compliance ([[Robots]]) over [[plantedUrl]]'s
    * URL grid — one synthesized robots.txt per registered domain, each
    * planting a distinct protocol shape for crawler agent "GraftBot":
    * example.com exercises longest-match (`/a/` vs `/a/1`) AND the
    * allow-wins length tie (an `Allow` and a `Disallow` with the same
    * pattern); example.co.uk exercises group precedence (a specific
    * GraftBot group shadows a blanket `Disallow: /` star group) plus
    * the `*`-wildcard + `$`-anchor + query-string interplay
    * (the pattern `/a/` + `*1$` matches `?…a=1` query tails, not just
    * path tails);
    * badsite.com blankets `Disallow: /`; example.org exercises
    * multi-agent group heads, case-insensitive agent match, the
    * empty-Disallow no-op, and an ignored `Sitemap:` directive;
    * site.com has NO robots.txt (protocol default: allowed). Comments,
    * key-case variance, and `Crawl-delay` are planted too. The oracle
    * replays every verdict closed-form from the same doc_id arithmetic. */
  /** The per-domain robots.txt fixture q156 and q160 share (see q156's
    * scaladoc for what each domain plants). */
  private def plantedRobots(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("example.com",
        "# graft crawl fixture\n" +
        "User-Agent: *\n" +
        "Disallow: /a/\n" +
        "Allow: /a/1\n" +
        "disallow: /a/1\n" +
        "Crawl-delay: 10\n"),
      ("example.co.uk",
        "User-agent: GraftBot\n" +
        "Disallow: /a/*1$\n" +
        "\n" +
        "User-agent: *\n" +
        "Disallow: /\n"),
      ("badsite.com",
        "User-agent: *\nDisallow: /\n"),
      ("example.org",
        "User-agent: graftbot\n" +
        "User-agent: otherbot\n" +
        "Disallow:\n" +
        "Allow: /a/\n" +
        "Sitemap: https://example.org/sitemap.xml\n")
    ).toDF("domain", "robots_txt")
  }

  /** Row count of [[plantedRobots]], defined NEXT to the frame so the
    * broadcast-vs-shuffle size hint the WARC pipelines pass to
    * [[Robots.verdicts]] can never drift from the planted literal
    * (r14 ADVICE: the hint was hard-coded at two call sites). */
  private val plantedRobotsRows = 4L

  def q156RobotsFilter(s: SparkSession, d: String): DataFrame =
    Robots.verdicts(
      Tables.documents(s, d)
        .select(col("doc_id"), plantedUrl(col("doc_id")).as("url")),
      col("doc_id"), col("url"),
      plantedRobots(s), col("domain"), col("robots_txt"), agent = "GraftBot")
      .orderBy("doc_id")

  /** q157: text-density boilerplate classification ([[Html.blocks]] +
    * [[Boilerplate.classify]]) over a planted six-block page per doc:
    * a nav bar (4 words, ~90% anchor chars → `bad` by density), the
    * doc's body prose (`good`), a two-word teaser (`short`), prose
    * with ONE inline anchor (density ~0.2 — must survive as `good`:
    * the case a naive "has links" rule gets wrong), a four-word
    * copyright stub (`short`), and a footer link farm with ≥5 words
    * (→ `bad`: proves the density rule fires BEFORE the word rule).
    * The oracle rebuilds every block's text, char/anchor counts,
    * density fence, and class closed-form from the documents table. */
  def q157BoilerplateBlocks(s: SparkSession, d: String): DataFrame = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      coalesce(col("text"), lit("")),
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val html = concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), col("doc_id"),
      lit("</title></head><body>" +
        "<div><a href=\"/\">Home</a> <a href=\"/about\">About us</a> " +
        "<a href=\"/contact\">Contact</a></div>" +
        "<p>"), esc,
      lit(" Read the full story today.</p>" +
        "<p>Short teaser</p>" +
        "<p>See our <a href=\"/promo\">promo page</a> for the details " +
        "of the offer.</p>" +
        "<div>Copyright 2024 Example Corp</div>" +
        "<div><a href=\"/t\">Terms of service page</a> " +
        "<a href=\"/p\">Privacy policy notice</a></div>" +
        "</body></html>"))
    val b = Boilerplate.blocks(
      Tables.documents(s, d).select(col("doc_id"), html.as("html")),
      col("doc_id"), col("html"))
    Boilerplate.classify(b, minWords = 5, maxLinkDensity = 0.33)
      .select(col("doc_id"), col("block_idx"), col("words"), col("chars"),
        col("anchor_chars"), col("link_density"), col("cls"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id", "block_idx")
  }

  /** The synthesized MediaWiki dump dir q158 reads: one `<page>` per
    * document with planted entities in the title (`&quot;`), a
    * `<redirect>` attribute on every doc_id % 6 = 0 page forming a
    * RESOLUTION GRID for q167 (% 18 = 0 targets the content page
    * `Doc "{id+2}"` — depth 1; % 18 = 6 targets the % 18 = 0 redirect
    * `Doc "{id-6}"` — depth 2; % 18 = 12 keeps the `R &amp; D {id}`
    * entity plant, a BROKEN target matching no page), a revision
    * `<id>` that must NOT win over the page id, attribute-carrying and
    * self-closing `<text>` forms (doc_id % 9 = 0 → empty), a
    * missing-title quarantine plant (doc_id % 25 = 7), raw numeric/
    * named references appended OUTSIDE the escaper, and `<mediawiki>`/
    * `<siteinfo>` preamble + `</mediawiki>` tail fragments planted on
    * residue classes so non-page records appear mid-stream; written as
    * 4 plain text files (rows are full `<page>…</page>` strings, so
    * the file IS a valid record stream for the `lineSep` reader).
    * Cached per fixture signature. */
  private def wikiXmlDir(s: SparkSession, d: String): String =
    ArtifactCache.dir(s, "wikix", d, "documents") { tmp =>
      val id = col("doc_id")
      val esc = WikiXml.escapeXml(coalesce(col("text"), lit("")))
      val page = concat(
        when(id % 50 === 0, lit("<mediawiki><siteinfo><sitename>" +
          "graft</sitename></siteinfo>\n")).otherwise(lit("")),
        lit("<page>\n"),
        when(id % 25 === 7, lit(""))
          .otherwise(concat(lit("    <title>Doc &quot;"), id,
            lit("&quot;</title>\n"))),
        lit("    <ns>"), id % 4, lit("</ns>\n"),
        lit("    <id>"), id, lit("</id>\n"),
        when(id % 18 === 0,
          concat(lit("    <redirect title=\"Doc &quot;"), id + 2,
            lit("&quot;\" />\n")))
          .when(id % 18 === 6,
            concat(lit("    <redirect title=\"Doc &quot;"), id - 6,
              lit("&quot;\" />\n")))
          .when(id % 6 === 0, // % 18 = 12: broken target, &amp; plant
            concat(lit("    <redirect title=\"R &amp; D "), id,
              lit("\" />\n")))
          .otherwise(lit("")),
        lit("    <revision>\n      <id>"), id + 1000000,
        lit("</id>\n"),
        when(id % 9 === 0, lit("      <text bytes=\"0\" />\n"))
          .otherwise(concat(
            lit("      <text bytes=\"1\" xml:space=\"preserve\">"),
            esc, lit(" A&amp;B &lt;tag&gt; &#8364;5</text>\n"))),
        lit("    </revision>\n  </page>"),
        when(id % 50 === 49, lit("\n</mediawiki>")).otherwise(lit("")))
      Tables.documents(s, d).select(page.as("value"))
        .repartition(4)
        .write.mode("overwrite").text(tmp)
    }

  /** q158: MediaWiki dump XML source ([[WikiXml]]) — the round trip
    * through the REAL split mechanism: the synthesized dump reads back
    * via `lineSep="</page>"` (split-parallel, the 100 TB path), the
    * forward scanner recovers page id (FIRST `<id>`, not the planted
    * revision id), entity-decoded title and redirect target, ns, the
    * text body past the open tag's attributes (self-closing → empty),
    * and quarantines the missing-title plant without killing the scan.
    * Preamble/tail fragments must vanish. The oracle rebuilds every
    * field closed-form from the documents table. */
  def q158WikixmlSource(s: SparkSession, d: String): DataFrame = {
    WikiXml.readPages(s, wikiXmlDir(s, d))
      .select(col("page_id"), col("title"), col("ns"), col("redirect"),
        col("redirect_title"),
        md5(col("text").cast("binary")).as("text_md5"),
        coalesce(col("error"), lit("")).as("err"))
      .orderBy("page_id")
  }

  /** q159: Aho–Corasick lexicon scan ([[BlockWords]]) — the badwords
    * stage over the NATURAL corpus text (no plant): the lexicon mixes
    * unigrams, a repeated-token bigram (`batch batch`, whose overlapping
    * occurrences the fail-link walk must count: `batch batch batch` = 2),
    * a cross-token bigram (`table scan`), and a unigram (`batch`) that
    * is a PREFIX of a phrase pattern — so phrase states must also emit
    * the unigram via merged fail outputs. The oracle replays every
    * count with independent list-lambda machinery and the same
    * (count desc, name asc) top-pattern election. */
  /** q160: the crawl-to-corpus pipeline, SECOND GENERATION — q146's
    * composition upgraded with the two round-11 curation stages a
    * production pipeline runs, each individually gated elsewhere and
    * chained here through the REAL container: q144's WARC `response`
    * records (split-parallel read) → doc identity from the capture URL
    * → ROBOTS COMPLIANCE on the planted curation URL
    * ([[Robots.filterAllowed]] against [[plantedRobots]] — drops
    * badsite.com wholesale plus the example.com/example.co.uk
    * residue-class disallows q156 pins) → blocklist decontamination
    * (badsite.com — stacked after robots to prove the stages compose) →
    * BOILERPLATE REMOVAL ([[Boilerplate]] over the raw HTML: the
    * planted anchor div is 100% link density and the list items are
    * 2-word stubs, so ONLY the content block survives — vs q146, which
    * needed the C4 terminal-punct rule to kill that boilerplate) →
    * [[QualityRules.c4LineFilter]] over the cleaned text → exact dedup
    * with min-doc_id keeper election. A defect in ANY stage — robots
    * group selection, block segmentation, density arithmetic, line
    * filter, keeper tie — breaks the oracle's closed-form replay. */
  def q160CrawlPipelineV2(s: SparkSession, d: String): DataFrame = {
    val dir = crawlWarcDir(s, d)
    val recs = WarcSources.readWarc(s, dir)
      .filter(col("error").isNull && col("record_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
        decode(col("content"), "UTF-8").as("html"))
      .withColumn("curl", plantedUrl(col("id")))
      // pinned: filterAllowed consumes its input on TWO branches (the
      // verdict map and the semi-join left side), and the RDD-backed WARC
      // source has no column pruning — unpinned, the full decode runs twice
      .localCheckpoint()
    val allowed = Robots.filterAllowed(recs, col("id"), col("curl"),
      plantedRobots(s), col("domain"), col("robots_txt"), agent = "GraftBot",
      robotsSizeHint = Some(plantedRobotsRows))
    val kept = Urls.decontaminateByDomain(allowed, col("curl"),
      Seq("badsite.com"))
    val cleanDocs = Boilerplate.cleanText(Boilerplate.classify(
      Boilerplate.blocks(kept.select(col("id"), col("html")),
        col("id"), col("html")),
      minWords = 5, maxLinkDensity = 0.33))
    // pinned: clean feeds the keeper election AND the join-back (the
    // q146 convention — the robots/boilerplate chain is the query's cost)
    val clean = QualityRules.c4LineFilter(cleanDocs, col("doc_id"),
      col("text_clean"), minWords = 3, banned = Seq.empty).localCheckpoint()
    val keepers = clean.groupBy("text_clean")
      .agg(min(col("doc_id")).as("keeper_id"))
    clean.join(keepers, Seq("text_clean"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** q161: wikitext cleanup ([[WikiText]]) — each doc wrapped in the
    * markup shapes a real wiki page carries: an infobox template (whole
    * drop), an `== Heading ==` pair, bold/italic quote runs, a piped
    * wiki link (label survives), a NESTED template plant (doc_id % 4 =
    * 1 — one OUTER drop, counted once), a `*` list line, a bare wiki
    * link, an external link with label, a `<ref>` citation plant
    * (doc_id % 5 = 2), and a `[[File:…]]` thumbnail plant (doc_id % 3 =
    * 0 — dropped whole, its line vanishes). The oracle rebuilds the
    * cleaned text line-for-line and every removal counter closed-form. */
  def q161WikitextClean(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val markup = concat(
      lit("{{Infobox doc|id="), id, lit("}}\n"),
      lit("== Doc "), id, lit(" ==\n"),
      lit("'''Lead''' for [[Document processing|doc]] "), id, lit(".\n"),
      when(id % 4 === 1, lit("{{outer {{inner}} box}}\n")).otherwise(lit("")),
      lit("* first item\n"),
      coalesce(col("text"), lit("")),
      lit(" See [[pipeline]] and [http://x.example ext link]."),
      when(id % 5 === 2, lit("<ref>cite</ref>")).otherwise(lit("")),
      lit("\n"),
      when(id % 3 === 0, lit("[[File:Img.png|thumb|A caption]]\n"))
        .otherwise(lit("")),
      lit("== See also ==\n"))
    WikiText.cleanPages(
      Tables.documents(s, d).select(id, markup.as("m")),
      col("doc_id"), col("m"))
      .select(col("doc_id"), col("n_links"), col("n_ext"), col("n_tmpl"),
        col("n_files"), col("n_refs"),
        md5(col("text").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** q162: the wiki dump→corpus composition — the [[WikiXml]]/
    * [[WikiText]] twin of q146/q160, every stage through the real
    * container: the q158 dump dir read back split-parallel → CONTENT
    * pages only (clean parse, ns = 0, non-redirect — the standard wiki
    * corpus cut) → [[WikiText.clean]] over the text bodies (the planted
    * `<tag>` strips, so the cleaned line is the doc text + `A&B €5`
    * with the double space collapsed) → empty docs drop (the
    * self-closing-text plant) → exact dedup with min-id keeper
    * election. The oracle replays the page-selection arithmetic, the
    * cleanup, and the election closed-form. */
  def q162WikiCorpus(s: SparkSession, d: String): DataFrame = {
    val pages = WikiXml.readPages(s, wikiXmlDir(s, d))
      .filter(col("error").isNull && col("ns") === 0L &&
        col("redirect") === 0L)
    val cleaned = WikiText.cleanPages(pages, col("page_id"), col("text"))
      .filter(col("text") =!= "")
    val keepers = cleaned.groupBy("text")
      .agg(min(col("doc_id")).as("keeper_id"))
    cleaned.join(keepers, Seq("text"))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("clean_md5"),
        col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** q163: redirect-chain resolution ([[Redirects.resolve]], pointer
    * doubling) over a planted chain grid: doc_ids with last digit
    * 1/3/7 are redirects whose targets form chains 1→3→7→terminal
    * (depths 3/2/1), and the doc_id % 100 ∈ {41, 43} class is
    * overridden into a 2-CYCLE (41→43→41), which must report
    * terminated = 0 with masked outputs instead of looping. maxDepth 8
    * ⇒ exactly 3 doubling self-joins resolve every chain. The oracle
    * replays final target, depth, and the cycle mask closed-form. */
  def q163RedirectResolution(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val edges = Tables.documents(s, d)
      .filter(id % 10 === 1 || id % 10 === 3 || id % 10 === 7)
      .select(id.as("src"),
        when(id % 100 === 43, id - 2)
          .when(id % 10 === 1, id + 2)
          .when(id % 10 === 3, id + 4)
          .otherwise(id + 1).as("dst"))
    Redirects.resolve(edges, "src", "dst", maxDepth = 8,
        policy = CheckpointPolicy.fromSession(s))
      .orderBy("src")
  }

  /** q164: web-graph edge extraction ([[LinkGraph]]) — each doc is a
    * page at `https://site{id%5}.example/a/b/doc{id}.html` whose body
    * plants every href class a crawler's link extractor meets: an
    * absolute link with query, a protocol-relative `//host` link, a
    * rooted `/path` link, a child-relative path, a `../` parent path
    * (the RFC 3986 merge), a fragment-only self link, a COLON-bearing
    * relative ref (`watch?t=1:30` — the RFC 3986 scheme-grammar case a
    * naive first-colon test misreads as a scheme and drops), a
    * `mailto:` (no edge), and an href-less named anchor (no edge) whose
    * title value plants an `href=` TOKEN inside it (must not parse as a
    * link — the quote-aware attribute walk). Seven edges per page;
    * anchor text with an entity plant rides along. The oracle rebuilds
    * every (link_idx, href, resolved, anchor, domain) row closed-form,
    * including the PSL domain of each resolved target. */
  def q164LinkGraph(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("https://site"), id % 5, lit(".example/a/b/doc"),
      id, lit(".html"))
    val html = concat(
      lit("<html><body><div>" +
        "<a href=\"https://ext.example/page?z=1\">Abs &amp; Link</a>" +
        "<a href=\"//cdn.example/lib\">Proto Rel</a>" +
        "<a href=\"/rooted/page\">Rooted</a>" +
        "<a href=\"sub/page.html\">Child</a>" +
        "<a href=\"../up/page.html\">Up</a>" +
        "<a href=\"watch?t=1:30\">Colon Rel</a>" +
        "<a href=\"mailto:a@b.c\">Mail</a>" +
        "<a href=\"#top\">Self "), id,
      lit("</a><a name=\"anchor\" title=\"a href=decoy\">NoHref</a>" +
        "</div></body></html>"))
    val e = LinkGraph.edges(
      Tables.fanOut(Tables.documents(s, d).select(id, base.as("u"), html.as("h")),
        id),
      col("doc_id"), col("u"), col("h"))
    e.select(col("doc_id"), col("link_idx"), col("href"), col("resolved"),
        col("anchor"), Urls.registeredDomain(col("resolved")).as("domain"))
      .orderBy("doc_id", "link_idx")
  }

  /** q165: crawl→graph→centrality — the composition that makes the
    * link-graph seams FEED something: per-page link extraction (the
    * real [[LinkGraph.edges]] container) → redirect CANONICALIZATION of
    * the targets ([[Redirects.resolveKeyed]] over a planted URL-space
    * chain table: a 1-hop, a 2-hop, a self-cycle whose targets keep
    * their crawl URL, and a second 1-hop) → intra-domain edge cut
    * (navigation, not endorsement — the standard host-graph cut) →
    * registered-domain edge aggregation ([[Urls.registeredDomain]],
    * count weights) → [[LinkAnalysis.pageRank]] host centrality over
    * the ~8-node domain graph (5 iterations). The news/shop/redir hosts
    * have no out-edges, so the DANGLING redistribution term is live —
    * the first oracle-gated dangling path of the global PageRank. The
    * oracle replays the planted link classes, the chain depths, the
    * domain aggregation, and all 5 fenced iterations closed-form. */
  /** The crawl-derived registered-domain edge frame q165 and q169 rank:
    * real extractor → redirect canonicalization → intra-domain cut →
    * domain aggregation (see q165's scaladoc for the plant). */
  /** The q165/q177 page plant: every doc's capture lives on its class
    * host and links a redirect hub, a static news URL, and a local nav. */
  private def q165Pages(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("https://site"), id % 5, lit(".example/a/b/doc"),
      id, lit(".html"))
    val html = concat(
      lit("<div><a href=\"https://redir.example/r"), id % 4,
      lit("\">Hub</a><a href=\"https://news.example/static\">News</a>" +
        "<a href=\"/local/nav\">Nav</a></div>"))
    // fanOut: the HTML parse + URL resolution in LinkGraph.edges is a
    // per-row flatMap straight over the single-row-group scan (one task)
    Tables.fanOut(Tables.documents(s, d).select(id, base.as("u"), html.as("h")),
      id)
  }

  /** Per-link canonicalized rows of the q165 chain over `pages`:
    * extraction → redirect resolution → (source domain, target domain,
    * canonical target, anchor) — the frame BOTH the one-shot aggregate
    * (q165/q169) and the per-batch artifact append (q177) consume. */
  private def q165EdgeRows(s: SparkSession, pages: DataFrame): DataFrame =
    q165EdgeRowsKeyed(s, pages).drop("doc_id")

  /** [[q165EdgeRows]] with the source doc_id kept — the artifact builder
    * slices ONE extraction pass into its per-batch ingest frames. */
  private def q165EdgeRowsKeyed(s: SparkSession, pages: DataFrame): DataFrame = {
    import s.implicits._
    // base rides the flatMap (LinkGraph.edgesWithBase) — the previous
    // shape re-joined `pages` on doc_id just to recover the capture URL,
    // one whole exchange of link rows per consumer (guide §2.4)
    val e = LinkGraph.edgesWithBase(pages, col("doc_id"), col("u"), col("h"))
    val redirects = Seq(
      ("https://redir.example/r0", "https://news.example/final0"),
      ("https://redir.example/r1", "https://redir.example/r0"),
      ("https://redir.example/r2", "https://redir.example/r2"),
      ("https://redir.example/r3", "https://shop.example/final3"))
      .toDF("rsrc", "rdst")
    // PIN the 4-row resolve output: its plan nests two doubling-round
    // joins + the source semi-probe, and building the outer join's
    // broadcast from that subtree re-pays 3 sequential nested broadcast
    // builds per execution (~2.2 s/pass measured at sf0.1: full plan
    // 3.9 s vs re-pinned 1.7 s, round 15 — OPTIMIZATION_r15.md); the pin
    // is one job at construction and the broadcast then reads a
    // checkpointed leaf.
    val res = CheckpointPolicy.fromSession(s).pin(
      Redirects.resolveKeyed(redirects, "rsrc", "rdst", maxDepth = 4,
        policy = CheckpointPolicy.fromSession(s)))
    e.join(res.select(col("src").as("__rs"), col("final_dst"),
        col("terminated")), col("resolved") === col("__rs"), "left")
      .select(col("doc_id"),
        Urls.registeredDomain(col("base")).as("sd"),
        Urls.registeredDomain(
          when(col("terminated") === 1L, col("final_dst"))
            .otherwise(col("resolved"))).as("dd"),
        when(col("terminated") === 1L, col("final_dst"))
          .otherwise(col("resolved")).as("tgt"),
        col("anchor"))
  }

  private def q165DomainEdges(s: SparkSession, d: String): DataFrame = {
    val dom = q165EdgeRows(s, q165Pages(s, d))
      .filter(col("sd") =!= col("dd"))
    // PIN the aggregated edge frame: PageRank's setup consumes it on
    // four branches (node union x2, out-weights, the edge join) and a
    // pure-projection aggregate would replay the whole HTML extraction
    // per branch (measured 13.3 s -> 4 s class at sf0.1 — the shared
    // join-input convention)
    CheckpointPolicy.fromSession(s).pin(
      dom.groupBy(col("sd").as("src"), col("dd").as("dst"))
        .agg(count(lit(1)).cast("double").as("w")))
  }

  def q165CrawlGraphCentrality(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.pageRank(q165DomainEdges(s, d), iters = 5,
        policy = CheckpointPolicy.fromSession(s))
      .orderBy("node")

  /** q169: domain TRUSTRANK — the trust-seeded sibling of q165's global
    * centrality, completing the "distance from trust" quality prior
    * (Gyöngyi et al. 2004) over the REAL crawl-derived domain graph
    * instead of the synthetic purchase graph q147 pins: the
    * extractor→canonicalize→cut→aggregate edge frame SERVED from the
    * incremental link artifact ([[LinkGraph.servedDomainEdges]] — the
    * q177 convention: a daily-ingest trust gate must not re-pay the
    * whole extraction every run), ranked by
    * [[LinkAnalysis.personalizedPageRank]] with a two-host trusted seed
    * set. The plant exercises every PPR regime at once: seeds keep
    * restart mass, news.example receives from BOTH seeds (and all other
    * sites), the three sink hosts are DANGLING (their mass restarts at
    * the seeds — the PPR convention), and the unseeded site hosts have
    * no in-edges at all so they fence to exactly 0.0. The oracle
    * unrolls all 5 iterations with the q147 dg/rst arithmetic over the
    * q165 edge CTEs. */
  def q169DomainTrustRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seeds = Seq("site0.example", "site1.example").toDF("node")
    LinkAnalysis.personalizedPageRank(servedQ165Edges(s, d), seeds,
        iters = 5, policy = CheckpointPolicy.fromSession(s))
      .orderBy("node")
  }

  /** q167: wiki redirect ALIAS MAP — q162's corpus cut DROPS redirect
    * pages; this composition makes them useful instead: every redirect
    * title maps to its FINAL content page, the alias table that dedups
    * incoming links/mentions of "USA" vs "United States" to one target.
    * Chain, every stage through the real container: the q158 dump dir
    * read back split-parallel ([[WikiXml.readPages]]) → title→page_id
    * dictionary over the clean pages → redirect targets joined to the
    * dictionary (title-space edges; the planted % 18 = 12 `R &amp; D`
    * targets match no page → BROKEN aliases, reported unresolved) →
    * [[Redirects.resolve]] pointer doubling (long ids — the dictionary
    * exists, so the 8-byte-key form applies) → alias rows. The depth-2
    * chains (% 18 = 6 → % 18 = 0 → content) prove the composition
    * passes THROUGH the resolver, and a % 18 = 0 page whose content
    * target is quarantined ((id+2) % 25 = 7) or past the table end
    * breaks that edge — its 6-class parent then terminates AT the
    * broken-edged redirect page. The oracle replays the grid, the
    * dictionary joins, both chain steps, and every mask closed-form. */
  def q167WikiRedirectAliases(s: SparkSession, d: String): DataFrame = {
    val pages = WikiXml.readPages(s, wikiXmlDir(s, d))
      .filter(col("error").isNull)
    val byTitle = pages.select(col("title").as("t_title"),
      col("page_id").as("t_id"))
    val redirs = pages.filter(col("redirect") === 1L)
      .select(col("page_id").as("r_id"), col("title").as("r_title"),
        col("redirect_title"))
    val edges = redirs.join(byTitle,
        col("redirect_title") === col("t_title"))
      .select(col("r_id").as("src"), col("t_id").as("dst"))
    val res = Redirects.resolve(edges, "src", "dst", maxDepth = 8,
      policy = CheckpointPolicy.fromSession(s))
    redirs.join(res, redirs("r_id") === res("src"), "left")
      .join(pages.select(col("page_id").as("f_id"),
          col("title").as("final_title")),
        col("final_dst") === col("f_id"), "left")
      .select(col("r_id").as("page_id"), col("r_title").as("title"),
        col("redirect_title"),
        coalesce(col("final_dst"), lit(-1L)).as("final_page_id"),
        coalesce(col("final_title"), lit("")).as("final_title"),
        coalesce(col("depth"), lit(0L)).as("depth"),
        coalesce(col("terminated"), lit(0L)).as("resolved"))
      .orderBy("page_id")
  }

  /** q166: anchor-text corpus ([[LinkGraph.anchorCorpus]]) — the top-3
    * inlink anchor phrases per resolved target over a planted anchor
    * grid: every page links its class target `t{id%3}.example/page`
    * twice — once with a class anchor `A{id%4}` and once with the
    * corpus-wide `Common` — so each target elects `Common` at rank 1
    * and two of the four class anchors at ranks 2-3, with genuine
    * count TIES at the boundary (the residue classes are near-equal),
    * exercising the deterministic anchor-asc tie-break. The Spark side
    * runs the BOUNDED tagged top-k aggregator (no per-target window
    * sort); the oracle replays counts and the election with an explicit
    * window. */
  def q166AnchorCorpus(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("https://site"), id % 5, lit(".example/p/doc"),
      id, lit(".html"))
    val html = concat(
      lit("<p><a href=\"https://t"), id % 3,
      lit(".example/page\">A"), id % 4,
      lit("</a> and <a href=\"https://t"), id % 3,
      lit(".example/page\">Common</a></p>"))
    val pages = Tables.fanOut(
      Tables.documents(s, d).select(id, base.as("u"), html.as("h")), id)
    val e = LinkGraph.edges(pages, col("doc_id"), col("u"), col("h"))
    LinkGraph.anchorCorpus(e, col("resolved"), col("anchor"), k = 3)
      .orderBy("target", "rank")
  }

  /** q168: JPEG/EXIF header triage ([[Jpeg]]) — the image twin of the
    * q154 ADTS and q59 MP4 walks: per doc, ENCODE a structurally-valid
    * JPEG header stream ([[Jpeg.encode]] — SOI, EXIF APP1 in BOTH TIFF
    * byte orders by residue, a comment segment, SOF0/SOF2 by the
    * progressive residue, SOS) and WALK it back ([[Jpeg.meta]]) without
    * any pixel decode. Plants: dims from doc_id arithmetic, progressive
    * (id%4=1), EXIF orientation 1-8 (id%8) in little-endian (id%2=0) or
    * big-endian TIFF, a NO-EXIF class (id%5=3 → orientation 0), a
    * bad-magic quarantine (id%25=9), and a truncation quarantine
    * (id%25=18 — the stream cuts mid-SOS, after the dims were already
    * seen, so the walk must still report the row as broken, not
    * half-parsed). The oracle replays every field closed-form including
    * the per-class segment counts. */
  def q168JpegMetadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val bytes =
          if (id % 25 == 9) "NOTAJPEG".getBytes("US-ASCII")
          else {
            val full = Jpeg.encode(
              width = 16 + (id % 64).toInt,
              height = 16 + ((id * 7) % 64).toInt,
              progressive = id % 4 == 1,
              orientation = (1 + id % 8).toInt,
              exifLittleEndian = id % 2 == 0,
              withExif = id % 5 != 3)
            if (id % 25 == 18) full.take(full.length - 24) else full
          }
        val m = Jpeg.meta(bytes)
        (id, m.width.toLong, m.height.toLong,
          if (m.progressive) 1L else 0L, m.orientation.toLong,
          if (m.hasExif) 1L else 0L, m.nSegments.toLong,
          if (m.error == null) "" else m.error)
      }
      .toDF("doc_id", "width", "height", "progressive", "orientation",
        "has_exif", "n_segments", "err")
      .orderBy("doc_id")
  }

  /** q170: sitemap-advertised SEED LIST ([[Sitemaps]] + [[Robots]]) —
    * the discovery half of crawl politeness composed with the admission
    * half: per doc, synthesize a sitemap XML (three `<url>` entries on
    * most docs — a full entry with lastmod/changefreq/priority, a
    * minimal entry with an `&amp;` entity in the loc and the spec's
    * 0.5 priority default, and a MISSING-loc quarantine on id%7=0 — or
    * a `<sitemapindex>` with two child-sitemap entries on the id%11=5
    * class), parse it back with the forward scanner, then run every
    * advertised URL through [[Robots.verdicts]] against the q156
    * robots fixture (badsite.com blanket-disallowed; example.co.uk's
    * GraftBot `/a/` + `*1$` pattern catches exactly the last-digit-1 ids;
    * example.com's allow-wins tie admits the `/a/1` prefix). The
    * oracle rebuilds every entry AND every verdict closed-form. */
  /** The q170/q174 domain grid (the q156 robots fixture's five). */
  private def q170Domain(id: Column): Column =
    when(id % 5 === 0, lit("example.com"))
      .when(id % 5 === 1, lit("example.co.uk"))
      .when(id % 5 === 2, lit("badsite.com"))
      .when(id % 5 === 3, lit("example.org"))
      .otherwise(lit("site.com"))

  /** The q170/q174 sitemap plant: per doc a urlset (or, on the %11=5
    * class, a sitemapindex) — see q170's scaladoc for the classes. */
  private def q170SitemapXml(id: Column): Column = {
    val domain = q170Domain(id)
    val urlset = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "  <url>\n    <loc>https://"), domain, lit("/a/1?p="), id,
      lit("</loc>\n    <lastmod>2024-0"), id % 9 + 1, lit("-1"), id % 3,
      lit("</lastmod>\n    <changefreq>"),
      when(id % 4 === 0, lit("daily")).when(id % 4 === 1, lit("weekly"))
        .when(id % 4 === 2, lit("monthly")).otherwise(lit("never")),
      lit("</changefreq>\n    <priority>0."), id % 10,
      lit("</priority>\n  </url>\n  <url>\n    <loc>https://"), domain,
      lit("/b/"), id, lit("?x=1&amp;y=2</loc>\n  </url>\n"),
      when(id % 7 === 0,
        lit("  <url>\n    <lastmod>2024-01-01</lastmod>\n  </url>\n"))
        .otherwise(lit("")),
      lit("</urlset>"))
    val index = concat(
      lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n" +
        "  <sitemap>\n    <loc>https://"), domain,
      lit("/maps/m1.xml</loc>\n    <lastmod>2024-02-02</lastmod>\n" +
        "  </sitemap>\n  <sitemap>\n    <loc>https://"), domain,
      lit("/maps/m2.xml</loc>\n  </sitemap>\n</sitemapindex>"))
    when(id % 11 === 5, index).otherwise(urlset)
  }

  def q170SitemapSeeds(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ent = Sitemaps.entries(
      Tables.documents(s, d).select(id, q170SitemapXml(id).as("x")),
      col("doc_id"), col("x"))
    // admission on every advertised URL; entries re-key as
    // doc_id*4 + entry_idx (≤ 3 entries per file by construction)
    val v = Robots.verdicts(
      ent.filter(col("error") === "").select(
        (col("doc_id") * 4 + col("entry_idx")).as("eid"), col("loc")),
      col("eid"), col("loc"),
      plantedRobots(s), col("domain"), col("robots_txt"),
      agent = "GraftBot")
      .select(col("doc_id").as("__eid"), col("allowed"))
    ent.join(v, (col("doc_id") * 4 + col("entry_idx")) === col("__eid"),
        "left")
      .select(col("doc_id"), col("entry_idx"), col("kind"), col("loc"),
        col("lastmod"), col("changefreq"), col("priority"),
        coalesce(col("allowed"), lit(0L)).as("allowed"),
        col("error").as("err"))
      .orderBy("doc_id", "entry_idx")
  }

  /** q171: canonical-URL dedup ([[Html.headRefs]] +
    * [[LinkGraph.canonicalUrls]]) — the dedup signal sites declare
    * THEMSELVES, which a crawl pipeline should spend before any
    * similarity machinery: per doc, the capture URL is deliberately
    * dirty (uppercase scheme/host, default port, unsorted query) and
    * the head plants one election class per residue — an absolute
    * `rel=canonical` shared by the id%4∈{0,2} pair (with a SECOND
    * decoy canonical on id%8=0 that must lose to the first, and a
    * stylesheet link that must never win), a ROOTED-relative canonical
    * on id%8=4 (resolves against the dirty capture URL, then
    * normalizes), an `og:url` fallback with a tracking param on
    * id%4=1, an unresolvable `mailto:` canonical on id%16=3 (falls
    * through to self), and bare self on the rest. Docs then dedup by
    * the NORMALIZED canonical with min-id keeper election. The oracle
    * rebuilds every elected canonical closed-form and replays the
    * grouping. */
  def q171CanonicalDedup(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("HTTP://Site"), id % 5, lit(".Example:80/p/"),
      id, lit("?b=2&a=1"))
    val canonHref = when(id % 8 === 4, concat(lit("/c/"), id))
      .otherwise(concat(lit("https://canon.example/c/"), id - id % 4))
    val html = concat(
      lit("<html><head><link rel=\"stylesheet\" href=\"/css/x.css\">"),
      when(id % 16 === 3,
        lit("<link rel=\"canonical\" href=\"mailto:x@y.z\">"))
        .otherwise(lit("")),
      when(id % 4 === 0 || id % 4 === 2,
        concat(lit("<link rel=\"canonical\" href=\""), canonHref,
          lit("\">"))).otherwise(lit("")),
      when(id % 8 === 0, lit("<link rel=\"canonical\" href=\"/WRONG\">"))
        .otherwise(lit("")),
      when(id % 4 === 1, concat(
        lit("<meta property=\"og:url\" content=\"https://canon.example/og/"),
        id, lit("?utm_source=t&z=1\">"))).otherwise(lit("")),
      lit("</head><body><p>body</p></body></html>"))
    val pages = Tables.documents(s, d).select(id, base.as("u"), html.as("h"))
    val c = LinkGraph.canonicalUrls(pages, col("doc_id"), col("u"),
      col("h"))
    val keepers = c.groupBy("canonical")
      .agg(min(col("doc_id")).as("keeper_id"))
    c.join(keepers, Seq("canonical"))
      .select(col("doc_id"), col("canon_src"), col("canonical"),
        col("keeper_id"),
        (col("doc_id") =!= col("keeper_id")).cast("long").as("is_dup"))
      .orderBy("doc_id")
  }

  /** The q172 WARC dir: the q144 trap page with a HEAD canonical plant
    * per residue — id%4∈{0,2} declares an absolute `rel=canonical`
    * shared by the {4k, 4k+2} pair, id%4=1 declares an `og:url` with a
    * tracking param, id%4=3 declares nothing (self) — so the
    * declared-canonical dedup stage has real cross-document groups to
    * collapse. Body identical to [[crawlWarcDir]]'s (head links/metas
    * contribute no text), so the boilerplate/C4 replay is q160's.
    * Cached per fixture signature. */
  private def crawlWarcV3Dir(s: SparkSession, d: String): String =
    ArtifactCache.dir(s, "warcv3", d, "documents") { tmp =>
      val id = col("doc_id")
      val esc = regexp_replace(regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")),
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val headPlant = concat(
        when(id % 4 === 0 || id % 4 === 2,
          concat(lit("<link rel=\"canonical\" href=\"https://dup.example/c/"),
            id - id % 4, lit("\">"))).otherwise(lit("")),
        when(id % 4 === 1,
          concat(lit("<meta property=\"og:url\" content=\"https://og.example/p/"),
            id, lit("?utm_source=s\">"))).otherwise(lit("")))
      val html = concat(
        lit("<!DOCTYPE html><html><HEAD><title>Doc "), id,
        lit("</title>"), headPlant,
        lit("<style>body{color:red}</style>" +
          "<script>if(1<2){var x=\"</div>\";}</script></HEAD>" +
          "<BODY><!-- <p>ghost</p> --><P class=\"intro\">"),
        esc,
        lit(" Fish &amp; Chips &lt;deal&gt; &#8364;5 &#xA0;now.</P>" +
          "<div><a href=\"/x?q=1>2\" class='y>z'>anchor text</a></div>" +
          "<ul><li>item one</li><li>item two</li></ul></BODY></html>"))
      WarcSources.writeWarc(
        Tables.fanOut(Tables.documents(s, d), col("doc_id")).select(
          lit("response").as("record_type"),
          concat(lit("https://example.com/doc/"), id).as("url"),
          lit("2024-05-01T00:00:00Z").as("date"),
          lit("text/html").as("content_type"),
          concat(lit("<urn:uuid:v"), id, lit(">")).as("warc_record_id"),
          encode(html, "UTF-8").as("content")),
        tmp, layoutCols = Seq("url"))
    }

  /** q172's discovery side: one synthesized sitemap per registered
    * domain advertising the NORMALIZED planted URL of every id%3=0 doc
    * (XML-escaped locs, spec-shaped `<urlset>` files), parsed back
    * through [[Sitemaps.entries]] and deduplicated into the seed set —
    * the q170 machinery serving the pipeline instead of a standalone
    * demo. The per-domain XML synthesis (collect_list) is FIXTURE code:
    * a real run reads sitemap files fetched by the crawler; the
    * spec's 50k-entry/50 MB file cap keeps each file driver-safe. */
  private def q172AdvertisedLocs(s: SparkSession, d: String): DataFrame = {
    val u = plantedUrl(col("doc_id"))
    val locs = Tables.documents(s, d)
      .filter(col("doc_id") % 3 === 0)
      .select(Urls.registeredDomain(u).as("dom"),
        regexp_replace(Urls.normalizeUrl(u), "&", "&amp;").as("eloc"))
      .distinct()
    val xml = locs.groupBy("dom")
      .agg(concat_ws("", sort_array(collect_list(
        concat(lit("  <url><loc>"), col("eloc"), lit("</loc></url>\n")))))
        .as("body"))
      .select(
        when(col("dom") === "example.com", 0L)
          .when(col("dom") === "example.co.uk", 1L)
          .when(col("dom") === "badsite.com", 2L)
          .when(col("dom") === "example.org", 3L)
          .otherwise(4L).as("site"),
        concat(lit("<?xml version=\"1.0\"?>\n<urlset>\n"), col("body"),
          lit("</urlset>")).as("x"))
    Sitemaps.entries(xml, col("site"), col("x"))
      .filter(col("kind") === "url")
      .select(col("loc")).distinct()
  }

  /** q172: the crawl-to-corpus pipeline, THIRD GENERATION — q160's
    * chain with the two round-12 politeness/dedup operators composed in
    * as real stages (the r12→r13 "operator exists, pipeline doesn't see
    * it" fix, same pattern q165 applied to the link graph):
    *
    *  1. DISCOVERY ([[Sitemaps]]): per-domain sitemap files advertise
    *     the normalized planted URL of every id%3=0 doc; the seed set
    *     (parsed + entity-decoded + deduplicated) left-joins each
    *     capture's normalized URL into an `advertised` flag — coverage
    *     provenance that rides the whole chain. Membership is by URL
    *     FORM, not id: the m7=0 path-less classes collide after
    *     normalization, so an unadvertised doc sharing an advertised
    *     doc's normalized URL is advertised too (the oracle replays
    *     this with an EXISTS-by-norm, not id arithmetic).
    *  2. ADMISSION ([[Robots.filterAllowed]] with the known 4-row
    *     fixture passed as `robotsSizeHint` — zero sizing jobs) +
    *     blocklist decontamination, exactly q160's stages.
    *  3. DECLARED-CANONICAL DEDUP ([[LinkGraph.canonicalUrls]]): the
    *     cheap site-declared signal spent BEFORE any content machinery
    *     — election (first `rel=canonical`, else `og:url` sans tracking
    *     params, else normalized self), min-id keeper per canonical
    *     form, `n_variants` recording each collapsed group's size. Only
    *     keepers proceed — at crawl scale this is the stage that stops
    *     mirror URLs from ever reaching boilerplate/fingerprint cost.
    *  4. BOILERPLATE + C4 + exact content dedup over the canonical
    *     keepers — q160's tail unchanged, so content keeper ids differ
    *     from q160 wherever a duplicate's min-id doc lost the canonical
    *     election.
    *
    * The oracle replays every stage closed-form; a defect in sitemap
    * parsing, URL normalization, robots groups, canonical election,
    * block density, the line filter, or either keeper election breaks
    * it. */
  def q172CrawlPipelineV3(s: SparkSession, d: String): DataFrame = {
    val dir = crawlWarcV3Dir(s, d)
    val recs = WarcSources.readWarc(s, dir)
      .filter(col("error").isNull && col("record_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
        decode(col("content"), "UTF-8").as("html"))
      .withColumn("curl", plantedUrl(col("id")))
    val adv = q172AdvertisedLocs(s, d)
      .select(col("loc").as("__norm"), lit(1L).as("advertised"))
    val flagged = recs.withColumn("__norm", Urls.normalizeUrl(col("curl")))
      .join(adv, Seq("__norm"), "left")
      .select(col("id"), col("html"), col("curl"),
        coalesce(col("advertised"), lit(0L)).as("advertised"))
      // pinned: the q160 convention — filterAllowed reads this twice, and
      // each unpinned recompute re-pays the WARC decode + sitemap join
      .localCheckpoint()
    val allowed = Robots.filterAllowed(flagged, col("id"), col("curl"),
      plantedRobots(s), col("domain"), col("robots_txt"),
      agent = "GraftBot", robotsSizeHint = Some(plantedRobotsRows))
    // pinned: feeds the canonical election AND the keeper join-back
    val kept = Urls.decontaminateByDomain(allowed, col("curl"),
      Seq("badsite.com")).localCheckpoint()
    val canon = LinkGraph.canonicalUrls(kept, col("id"), col("curl"),
      col("html"))
    val groups = canon.groupBy("canonical")
      .agg(min(col("doc_id")).as("__ck"), count(lit(1)).as("n_variants"))
    val elected = canon.join(groups, Seq("canonical"))
      .filter(col("doc_id") === col("__ck"))
      .select(col("doc_id").as("__kid"), col("canon_src"),
        col("canonical"), col("n_variants"))
    // pinned: feeds the content stages AND the final attribute join
    val keeperPages = kept.join(elected, col("id") === col("__kid"))
      .localCheckpoint()
    val cleanDocs = Boilerplate.cleanText(Boilerplate.classify(
      Boilerplate.blocks(keeperPages.select(col("id"), col("html")),
        col("id"), col("html")),
      minWords = 5, maxLinkDensity = 0.33))
    // pinned: the q146/q160 convention — clean feeds the keeper election
    // and the join-back; unpinned it recomputes boilerplate + line filter
    val clean = QualityRules.c4LineFilter(cleanDocs, col("doc_id"),
      col("text_clean"), minWords = 3, banned = Seq.empty).localCheckpoint()
    val keepers = clean.groupBy("text_clean")
      .agg(min(col("doc_id")).as("keeper_id"))
    clean.join(keepers, Seq("text_clean"))
      .join(keeperPages.select(col("__kid"), col("advertised"),
        col("canon_src"), col("canonical"), col("n_variants")),
        col("doc_id") === col("__kid"))
      .select(col("doc_id"), col("advertised"), col("canon_src"),
        col("canonical"), col("n_variants"), col("n_lines"),
        col("n_kept"), md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** q173: anchor-text retrieval field ([[Retrieval.bm25fTopK]] fed by
    * [[LinkGraph.anchorCorpus]]) — the round-12 anchor corpus finally
    * feeding ranking, BM25F-lite style: every doc links to its 50-bucket
    * hub page, id%5=0 docs calling it "join window" and the rest "misc
    * link", so hub pages accumulate a real anchor field (phrase counts
    * riding [[LinkGraph.anchorCorpus]]'s bounded top-k election) while
    * their OWN body text stays ordinary. The q85 query terms score the
    * same corpus twice — body-only (`bm25_body`, exactly q85's BM25) and
    * fused (`bm25f`, anchor field at weight 2) — and the oracle replays
    * tokenization, both fields' tf/dl, the inlink-count weighting, the
    * body-idf choice, the per-field length normalization, the fused
    * saturation, and the rounded top-20 cut closed-form. Hub pages
    * re-rank above their body-only standing — the reason a web corpus
    * builds the anchor field at all. */
  /** The q173/q179 page plant: every doc links to its 50-bucket hub
    * page, id%5=0 docs calling it "join window" and the rest "misc
    * link" — all links INTRA-domain (the targets are corpus docs), so
    * the plant also exercises the artifact's empty-edges-subdir path
    * (the edge-cut frame is empty; only the anchors side has rows). */
  private def q173Pages(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("https://site.example/p/doc"), id, lit(".html"))
    val html = concat(
      lit("<p><a href=\"/p/doc"), id - id % 50, lit(".html\">"),
      when(id % 5 === 0, lit("join window")).otherwise(lit("misc link")),
      lit("</a></p>"))
    // NO fanOut here (reverted in r15): the r14 keyed exchange measured a
    // consistent ~0.25 s LOSS on q173 at sf0.1 (1.14/1.54 vs 0.84/1.31
    // warm across A/B reps with and without it) — the one-line-HTML
    // parse is cheaper than the added hash exchange, and edgesWithBase
    // removed the join-back the exchange reuse was meant to serve.
    Tables.documents(s, d).select(id, base.as("u"), html.as("h"))
  }

  /** Per-link rows of the q173 plant over `pages` in the
    * [[LinkGraph.appendLinkBatch]] shape (sd, dd, tgt, anchor) — the
    * frame the per-batch anchor-artifact ingest appends — with the
    * source doc_id kept (the [[q165EdgeRowsKeyed]] batch-slicing
    * convention). */
  private def q173EdgeRowsKeyed(s: SparkSession, pages: DataFrame): DataFrame = {
    val e = LinkGraph.edgesWithBase(pages, col("doc_id"), col("u"), col("h"))
    e.select(col("doc_id"),
        Urls.registeredDomain(col("base")).as("sd"),
        Urls.registeredDomain(col("resolved")).as("dd"),
        col("resolved").as("tgt"), col("anchor"))
  }

  /** Key an anchor-corpus frame (target, anchor, cnt — one-shot or
    * artifact-served) back to target doc ids — the q173/q179 anchor
    * side. */
  private def q173KeyAnchors(corpus: DataFrame): DataFrame =
    corpus.select(
      regexp_extract(col("target"), "/p/doc(\\d+)\\.html$", 1)
        .cast("long").as("aid"),
      col("anchor"), col("cnt"))

  /** The q173 anchor corpus, one-shot: real edge extraction + the
    * bounded top-k election. */
  private def q173Anchors(s: SparkSession, d: String): DataFrame =
    q173KeyAnchors(LinkGraph.anchorCorpus(
      LinkGraph.edges(q173Pages(s, d), col("doc_id"), col("u"), col("h")),
      col("resolved"), col("anchor"), k = 3))

  def q173AnchorBm25f(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25fTopK(Tables.documents(s, d), col("doc_id"),
      graft.functions.TextOps.tokens(coalesce(col("text"), lit(""))),
      q173Anchors(s, d), col("aid"), col("anchor"), col("cnt"),
      Seq("join", "filter", "window"), k = 20, wAnchor = 2.0)

  // one persisted ANCHOR-corpus link artifact per fixture, built from
  // the q173 plant through the full incremental lifecycle (three ingest
  // batches split on source doc_id + compaction + a folded-batch replay
  // that must no-op) — the linkArtifactFor convention over the OTHER
  // plant: here every link is intra-domain, so the edges subdir stays
  // empty and only the anchors side accretes
  private def anchorArtifactFor(s: SparkSession, d: String): String = {
    // one extraction pass for all three batches (the linkArtifactFor
    // convention — slicing extracted rows == extracting sliced pages)
    lazy val rows = CheckpointPolicy.fromSession(s).pin(
      q173EdgeRowsKeyed(s, q173Pages(s, d)))
    buildLinkArtifact(s, d, "anchg") { b =>
      rows.filter(col("doc_id") % 3 === b).drop("doc_id")
    }
  }

  /** The shared incremental-lifecycle builder behind [[linkArtifactFor]]
    * and [[anchorArtifactFor]]: one persisted artifact per fixture
    * signature, built through three [[LinkGraph.appendLinkBatch]]
    * ingests of `batchRows(b)` (split on doc_id%3), a
    * [[LinkGraph.compactLinkArtifacts]] fold, and a folded-batch replay
    * that must no-op — so every serve off either artifact exercises the
    * whole [[graft.operators.ArtifactFold]] contract. */
  private def buildLinkArtifact(s: SparkSession, d: String, kind: String)
      (batchRows: Int => DataFrame): String =
    ArtifactCache.dir(s, kind, d, "documents") { tmp =>
      (0 until 3).foreach { b =>
        LinkGraph.appendLinkBatch(batchRows(b), col("sd"), col("dd"),
          col("tgt"), col("anchor"), tmp, batchId = b)
      }
      LinkGraph.compactLinkArtifacts(s, tmp)
      // a replay of a folded batch MUST no-op (the ArtifactFold
      // contract) — served results would double-count otherwise
      LinkGraph.appendLinkBatch(batchRows(0), col("sd"), col("dd"),
        col("tgt"), col("anchor"), tmp, batchId = 0)
    }

  /** q179: BM25F served from PERSISTED ARTIFACTS
    * ([[Retrieval.bm25fTopKIndexed]]) — the all-artifacts serving
    * triangle closed for BOTH fields: the body field reads q89's
    * incremental inverted index (term-bucket pruning, postings tf/dl,
    * stats n/avgdl), the anchor field reads the incremental link
    * artifact ([[LinkGraph.servedAnchorCorpus]] over the q173 plant's
    * three-batch build — partial counts re-summed, then the bounded
    * election), candidates the UNION of body and anchor matches — no
    * corpus scan anywhere in the serving plan. The anchor side is
    * semi-joined to corpus doc ids per the `bm25fTopKIndexed` caller
    * contract (artifact targets may outlive corpus membership). Oracle:
    * EXACTLY q173's replay — BOTH index lifecycles (appends +
    * compaction + no-op replays) and the full-outer candidate union
    * must be invisible in every 6-dp score. */
  def q179IndexedAnchorBm25f(s: SparkSession, d: String): DataFrame = {
    val served = q173KeyAnchors(
        LinkGraph.servedAnchorCorpus(s, anchorArtifactFor(s, d), k = 3))
      .join(Tables.documents(s, d).select(col("doc_id").as("aid")),
        Seq("aid"), "left_semi")
    Retrieval.bm25fTopKIndexed(s, bm25IndexFor(s, d),
      served, col("aid"), col("anchor"), col("cnt"),
      Seq("join", "filter", "window"), k = 20, wAnchor = 2.0)
  }

  /** q175: triage-routed image decode ([[Multimodal.imageTriage]] —
    * the [[Jpeg]] header walk finally ROUTING the pixel path instead of
    * running standalone): per doc a mixed-corpus blob by residue — real
    * baseline JPEG (%6∈{0,3}, JDK writer at quality 0.9), real PNG
    * (%6=1), a bad-magic blob (%6=2 → quarantined as unknown format,
    * never decoded), a JPEG cut mid-header (%6=4 → the walk's
    * "truncated" quarantine), and a real PROGRESSIVE JPEG (%6=5 → the
    * separate decode pool) — routed by the header triage and, for
    * routed blobs only, decoded for exact (PNG, lossless) or
    * 4-gray-level-bounded (JPEG, the q55 DC-quantization argument)
    * mean agreement with the planted pixels. MultimodalSpec's counting
    * decoder proves the quarantined classes never invoke ImageIO; the
    * oracle pins every route/reason/dimension/flag closed-form. */
  def q175ImageTriageRoute(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val px = Array.tabulate(64)(i => ((id + 7L * i) % 256L).toInt)
        val blob: Array[Byte] = (id % 6) match {
          case 0 | 3 => Multimodal.encodeJpeg(8, 8, px)
          case 1     => Multimodal.encodeImage(8, 8, px, "png")
          case 2     => s"NOTANIMAGE$id".getBytes("US-ASCII")
          case 4     => Multimodal.encodeJpeg(8, 8, px).take(10)
          case _     => Multimodal.encodeJpeg(8, 8, px, progressive = true)
        }
        val (r, stats) = Multimodal.triagedImageStats(blob)
        val srcSum = px.map(_.toLong).sum
        val meanOk = stats match {
          case Some((n, s1, _, _)) if id % 6 == 1 => // PNG: exact
            if (n == 64 && s1 == srcSum) 1L else 0L
          case Some((n, s1, _, _)) => // JPEG: DC-quantization bound
            if (n == 64 &&
                math.abs(s1.toDouble / n - srcSum.toDouble / 64.0) <= 4.0)
              1L
            else 0L
          case None => 0L
        }
        (id, r.route, r.reason, r.width.toLong, r.height.toLong,
          stats.map(_._1).getOrElse(0L), meanOk)
      }
      .toDF("doc_id", "route", "reason", "w", "h", "n_px", "mean_ok")
      .orderBy("doc_id")
  }

  /** q174: sitemap coverage audit ([[Sitemaps.coverageAudit]]) — the
    * advertised-vs-captured reconciliation over the q170 plant: the
    * advertised side is the REAL parse of q170's per-doc sitemaps (url
    * entries only — index children and the missing-loc quarantine stay
    * out), the captured side plants a DIRTY half-coverage crawl (even
    * ids captured their entry-0 URL with uppercase scheme/host — the
    * normalization join the audit exists for — all fetched 2024-03-15)
    * plus an unadvertised capture class (%9=0 → `/c/` URLs). Statuses:
    * entry-0 URLs split both/advertised_only on id parity (and the %11=5
    * sitemapindex docs' captures are captured_only — nothing advertised
    * them), entry-1 URLs are advertised_only, `/c/` captured_only;
    * `stale` fires exactly on captured entry-0 rows whose planted
    * lastmod month exceeds March (d9 ≥ 3 — the string-date compare).
    * The oracle rebuilds every row and both flags closed-form. */
  def q174SitemapCoverage(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ent = Sitemaps.entries(
      Tables.documents(s, d).select(id, q170SitemapXml(id).as("x")),
      col("doc_id"), col("x"))
    val adv = ent.filter(col("kind") === "url")
      .select(col("loc"), col("lastmod"))
    val domUpper = upper(q170Domain(id))
    val captured = Tables.documents(s, d).filter(id % 2 === 0)
      .select(concat(lit("HTTPS://"), domUpper, lit("/a/1?p="), id)
        .as("curl"), lit("2024-03-15").as("fetched"))
      .unionByName(Tables.documents(s, d).filter(id % 9 === 0)
        .select(concat(lit("https://"), q170Domain(id), lit("/c/"), id)
          .as("curl"), lit("2024-03-15").as("fetched")))
    Sitemaps.coverageAudit(adv, col("loc"), col("lastmod"),
        captured, col("curl"), col("fetched"))
      .orderBy("url")
  }

  /** q176: TRUST-GATED curation ([[CorpusPipeline.curateAudit]] ×
    * [[LinkAnalysis.personalizedPageRank]]) — q169's domain TrustRank
    * finally CONSUMED: the explainable curation audit (q100's shared
    * stage chain, cache included) joined with the host-trust prior from
    * the q165 crawl-derived domain graph — served from the incremental
    * link artifact ([[LinkGraph.servedDomainEdges]], the q177
    * convention) — seeded at the q169 trusted two. Each doc's capture host is its q165 page host
    * (`site{id%5}.example`), so seed-adjacent hosts carry positive
    * trust while the unseeded site hosts fence to exactly 0.0 — and
    * admission becomes the PRODUCT of the two signals: content-kept
    * AND trusted (`admitted`), the Gyöngyi-style spam-demotion gate a
    * training-corpus pipeline runs after content curation. The oracle
    * replays the FULL q100 stage chain and the FULL 5-iteration PPR
    * unroll in one statement and joins them exactly as the query does. */
  def q176TrustGatedCuration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seeds = Seq("site0.example", "site1.example").toDF("node")
    val trust = LinkAnalysis.personalizedPageRank(servedQ165Edges(s, d),
      seeds, iters = 5, policy = CheckpointPolicy.fromSession(s))
    curationAuditFor(s, d)
      .withColumn("domain",
        concat(lit("site"), col("doc_id") % 5, lit(".example")))
      .join(trust.select(col("node").as("domain"),
        col("rank").as("trust")), Seq("domain"), "left")
      .select(col("doc_id"), col("domain"), col("kept"), col("reason"),
        coalesce(col("trust"), lit(0.0)).as("trust"),
        (col("kept") === 1L && coalesce(col("trust"), lit(0.0)) > 0.0)
          .cast("long").as("admitted"))
      .orderBy("doc_id")
  }

  // one persisted link-graph artifact per fixture, built through the
  // full incremental lifecycle (three ingest batches + compaction + a
  // folded-batch replay that must no-op) — the q89/q64 index convention
  private def linkArtifactFor(s: SparkSession, d: String): String = {
    // ONE extraction pass feeds all three ingest batches: the per-batch
    // frames are doc_id%3 slices of the same per-link rows, and filtering
    // the extracted rows commutes exactly with extracting filtered pages
    // (the chain is per-row) — r14 re-ran the whole parse+resolve+domain
    // chain per batch, ~2.5 s × 3 of the artifact's cold build at sf0.1.
    // `lazy` so a cache hit never pays the pin.
    lazy val rows = CheckpointPolicy.fromSession(s).pin(
      q165EdgeRowsKeyed(s, q165Pages(s, d)))
    buildLinkArtifact(s, d, "linkg") { b =>
      rows.filter(col("doc_id") % 3 === b).drop("doc_id")
    }
  }

  /** The q165 domain-edge frame SERVED from the incremental link
    * artifact — the frame every link-derived ranking consumes (q177
    * PageRank, q169/q176 TrustRank, q182 frontier priority): per-batch
    * partial weights re-summed, pinned once per caller (the iterative
    * rankers reference it on four branches — the q165DomainEdges
    * precedent). Must be digit-identical to the one-shot aggregate:
    * every consumer's oracle replays the one-shot chain. */
  private def servedQ165Edges(s: SparkSession, d: String): DataFrame =
    CheckpointPolicy.fromSession(s).pin(
      LinkGraph.servedDomainEdges(s, linkArtifactFor(s, d)))

  /** q177: INCREMENTAL centrality — q165's PageRank served from the
    * persisted link-graph artifact instead of a full recompute: three
    * per-batch [[LinkGraph.appendLinkBatch]] ingests (each writing only
    * its own map-side-combined domain-edge/anchor aggregates) folded by
    * [[LinkGraph.compactLinkArtifacts]], then a FOLDED-BATCH REPLAY
    * that must no-op, then [[LinkGraph.servedDomainEdges]] re-summing
    * the partial weights into the same frame the one-shot chain builds.
    * Oracle: EXACTLY q165's 5-iteration replay — batching, folding, and
    * the no-op replay must be invisible in every rank digit. (The
    * anchors side of the same artifact is gated in LinkGraphSpec
    * against the one-shot [[LinkGraph.anchorCorpus]], and standalone by
    * q181.) */
  def q177IncrementalCentrality(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.pageRank(servedQ165Edges(s, d),
        iters = 5, policy = CheckpointPolicy.fromSession(s))
      .orderBy("node")

  /** The q178 robots fixture — one `Crawl-delay` shape per domain:
    * example.com declares 10 in its `*` group; example.co.uk's GraftBot
    * group declares it TWICE (2.5 and 4 — the smallest wins) and its
    * `*` group's 99 must be shadowed; badsite.com's value is
    * non-numeric (skipped → default); example.org declares none;
    * site.com has no robots row at all. */
  private def q178Robots(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("example.com",
        "User-agent: *\nDisallow: /private/\nCrawl-delay: 10\n"),
      ("example.co.uk",
        "User-agent: GraftBot\nCrawl-delay: 2.5\ncrawl-delay: 4\n" +
        "\nUser-agent: *\nCrawl-delay: 99\n"),
      ("badsite.com",
        "User-agent: *\nCrawl-delay: oops\n"),
      ("example.org",
        "User-agent: graftbot\nDisallow:\n")
    ).toDF("domain", "robots_txt")
  }

  /** q178: politeness-scheduled crawl frontier ([[Frontier.schedule]])
    * — the stage between admission and the fetcher fleet: per-domain
    * fetch slots over [[plantedUrl]]'s URL grid, delays from the q178
    * robots fixture (group precedence, smallest repeated value,
    * invalid→default, missing-robots default — every extraction shape
    * planted), `fetch_at = slot × delay`. The oracle replays the
    * domain grid, the per-domain slot window, the delay decision
    * table, and the product closed-form. */
  def q178CrawlFrontier(s: SparkSession, d: String): DataFrame =
    Frontier.schedule(
      Tables.documents(s, d)
        .select(col("doc_id"), plantedUrl(col("doc_id")).as("url")),
      col("doc_id"), col("url"),
      q178Robots(s), col("domain"), col("robots_txt"), agent = "GraftBot")
      .orderBy("doc_id")

  /** q180: the RECRAWL WAVE — the politeness trio composed end-to-end:
    * [[Sitemaps.coverageAudit]] (q174's advertised-vs-captured frame)
    * decides WHAT to fetch — advertised-but-never-captured URLs plus
    * captured URLs whose declared lastmod postdates their fetch — and
    * [[Frontier.schedule]] decides WHEN, slotting the wave per domain
    * under the q178 robots crawl-delays. Discovery → audit → frontier:
    * each stage individually gated (q170/q174/q178), chained here
    * through real frames. URLs order by their normalized form within a
    * domain (the audit's key — a deterministic priority stand-in), via
    * a dense per-domain id assigned by the same bounded window the
    * scheduler uses. The oracle replays the audit selection, the
    * delay table, and the slot arithmetic closed-form. */
  def q180RecrawlWave(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ent = Sitemaps.entries(
      Tables.documents(s, d).select(id, q170SitemapXml(id).as("x")),
      col("doc_id"), col("x"))
    val adv = ent.filter(col("kind") === "url")
      .select(col("loc"), col("lastmod"))
    val domUpper = upper(q170Domain(id))
    val captured = Tables.documents(s, d).filter(id % 2 === 0)
      .select(concat(lit("HTTPS://"), domUpper, lit("/a/1?p="), id)
        .as("curl"), lit("2024-03-15").as("fetched"))
      .unionByName(Tables.documents(s, d).filter(id % 9 === 0)
        .select(concat(lit("https://"), q170Domain(id), lit("/c/"), id)
          .as("curl"), lit("2024-03-15").as("fetched")))
    val due = Sitemaps.coverageAudit(adv, col("loc"), col("lastmod"),
        captured, col("curl"), col("fetched"))
      .filter(col("status") === "advertised_only" || col("stale") === 1L)
    // the scheduler keys slots by an id; the wave's priority is the
    // URL's lexicographic order within its domain (deterministic), so
    // assign a dense per-domain id first (same bounded-window shape)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy("url")
    val keyed = due.withColumn("wid", row_number().over(w).cast("long"))
    Frontier.schedule(keyed, col("wid"), col("url"),
        q178Robots(s), col("domain"), col("robots_txt"),
        agent = "GraftBot")
      .join(keyed.select(col("wid").as("__w"), col("domain").as("__d"),
        col("url"), col("status"), col("stale")),
        col("doc_id") === col("__w") && col("domain") === col("__d"))
      .select(col("url"), col("domain"), col("status"), col("stale"),
        col("slot"), col("delay"), col("fetch_at"))
      .orderBy("url")
  }

  /** q181: the OTHER half of the incremental link artifact — the
    * anchor corpus served from the same per-batch aggregates q177's
    * centrality reads ([[LinkGraph.servedAnchorCorpus]]: partial
    * counts re-summed, then the bounded top-k election). Targets are
    * the REDIRECT-CANONICALIZED forms (the artifact stores what the
    * pipeline appended: hub anchors collapse onto final destinations,
    * the r2 self-cycle keeps its unterminated URL) and intra-domain
    * Nav anchors COUNT (the anchors side is not domain-cut — same-site
    * anchors are still retrieval evidence). The oracle replays the
    * residue counts and the election; the three-batch fold + no-op
    * replay must be invisible. */
  def q181IncrementalAnchorCorpus(s: SparkSession, d: String): DataFrame =
    LinkGraph.servedAnchorCorpus(s, linkArtifactFor(s, d), k = 3)
      .orderBy("target", "rank")

  /** The q182 robots fixture over the q165 crawl's TARGET domains:
    * news.example declares a GraftBot delay (5); shop.example's GraftBot
    * group holds ONLY an empty `Disallow:` — it emits nothing, yet the
    * group's existence must shadow the `*` group's 99 (the delayFor
    * group-membership gate) → caller default; redir.example has no
    * robots row at all → default. */
  private def q182Robots(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("news.example", "User-agent: GraftBot\nCrawl-delay: 5\n"),
      ("shop.example",
        "User-agent: GraftBot\nDisallow:\n\nUser-agent: *\nCrawl-delay: 99\n")
    ).toDF("domain", "robots_txt")
  }

  /** q182: TRUST-PRIORITIZED recrawl frontier — the priority key
    * [[Frontier]] documents ("discovery order, PageRank, …") finally
    * fed by centrality, the composition a real recrawl planner runs:
    * each discovered target URL's priority is its ENDORSEMENT MASS —
    * the TrustRank of every endorsing source domain (q169's PPR over
    * the artifact-served q165 domain graph, [[servedQ165Edges]])
    * weighted by that domain's inlink count to the URL (the OPIC-style
    * "trusted hosts vouch for this page" signal; a link farm of
    * zero-trust hosts contributes exactly 0). Per fetch domain the
    * wave orders by (endorsement desc, url) into politeness slots under
    * the q182 robots delays — news.example's two targets make the
    * priority window live (the all-docs `static` URL outranks the
    * m∈{0,1} redirect-canonicalized `final0`), and shop.example's
    * empty-but-present GraftBot group gates the delayFor membership
    * fix. Intra-domain nav links never reach the wave (the domain
    * cut). The oracle unrolls the full 5-iteration PPR, rebuilds the
    * per-(source, target) residue counts, fences the endorsement sum
    * to 9 dp, and replays the slot window + delay decision table
    * closed-form.
    *
    * 100 TB shape: endorsement is one (sd, tgt)-keyed count aggregate
    * (map-side combined) joined to the domain-sized trust frame, then a
    * tgt-keyed sum; the slot window is per-domain bounded (the
    * [[Frontier.schedule]] argument) — no global sort, no driver state. */
  def q182TrustFrontier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seeds = Seq("site0.example", "site1.example").toDF("node")
    val trust = LinkAnalysis.personalizedPageRank(servedQ165Edges(s, d),
      seeds, iters = 5, policy = CheckpointPolicy.fromSession(s))
    // endorsement counts SERVED from the incremental artifact (r15: the
    // same q177 convention the PPR edges already ride) — the one-shot
    // form re-paid the whole extraction chain every run (~3.7 s of the
    // query at sf0.1) to rebuild counts the ingest batches already
    // aggregated; per-batch partials re-summed are digit-identical
    // (exact integers, LinkGraphSpec gates the equality)
    val perSrc = LinkGraph.servedSourceTargetCounts(s, linkArtifactFor(s, d))
    val endo = perSrc
      .join(trust.select(col("node").as("sd"), col("rank")), Seq("sd"))
      .groupBy(col("tgt").as("url"))
      .agg((floor(sum(col("rank") * col("c")) * lit(1e9) + lit(0.5))
        / lit(1e9)).as("endorsement"))
    // dense per-domain id in priority order — the q180 convention for
    // feeding a caller-defined priority through the scheduler's id key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy(desc("endorsement"), col("url"))
    // pinned: keyed feeds BOTH the scheduler and the attribute join-back —
    // unpinned, each branch recomputes the full q165 extraction + the PPR
    // trust join (measured ~4 s per recompute at sf0.1)
    val keyed = endo
      .withColumn("domain", Urls.registeredDomain(col("url")))
      .withColumn("wid", row_number().over(w).cast("long"))
      .localCheckpoint()
    Frontier.schedule(keyed, col("wid"), col("url"), q182Robots(s),
        col("domain"), col("robots_txt"), agent = "GraftBot")
      .join(keyed.select(col("wid").as("__w"), col("domain").as("__d"),
        col("url"), col("endorsement")),
        col("doc_id") === col("__w") && col("domain") === col("__d"))
      .select(col("url"), col("domain"), col("endorsement"),
        col("slot"), col("delay"), col("fetch_at"))
      .orderBy("url")
  }

  /** q183: HITS hubs & authorities ([[LinkAnalysis.hits]]) over the
    * artifact-served q165 domain graph ([[servedQ165Edges]] — the
    * third ranking family riding the incremental link artifact, after
    * q177's PageRank and q169's TrustRank): authorities rank the
    * domains worth keeping, hubs the domains whose anchor text is worth
    * harvesting. The q165 plant exercises both degeneracies at once —
    * news/redir/shop are pure SINKS (hub fences to exactly 0.0) and the
    * site hosts are pure SOURCES (auth fences to exactly 0.0) — while
    * news.example's double inlink weight separates the authority
    * ordering. Oracle: all 5 iterations unrolled closed-form — per
    * half-step the weighted mass aggregate, the 9-dp-fenced L1 total,
    * and the fenced normalize, the [[LinkAnalysis.pageRank]] replay
    * convention applied to the two-score recurrence. */
  def q183HitsDomains(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.hits(servedQ165Edges(s, d), iters = 5,
        policy = CheckpointPolicy.fromSession(s))
      .orderBy("node")

  /** q184: centrality-blended artifact serving
    * ([[Retrieval.blendStaticPrior]]) — ALL THREE persisted artifacts
    * in ONE corpus-scan-free ranking plan: the body field from q89's
    * incremental inverted index, the anchor field from the incremental
    * link artifact's anchor corpus (the q179 serving pair), and a
    * QUERY-INDEPENDENT static prior — the artifact-served q165
    * PageRank ([[servedQ165Edges]], q177's frame) of each candidate's
    * hosting domain (doc_id%8 over the crawl's 8 hosts) — blended
    * post-scoring, pre-cut: blended = round6(raw_bm25f + 0.5·prior).
    * The classic web-ranking composition (text relevance + link
    * centrality). The blend is LIVE: news.example's rank dwarfs the
    * uniform source ranks, so its docs outrank same-bm25f site docs in
    * the final 20. Oracle: q173's BM25F replay CTEs joined to q165's
    * rank unroll, the blend and cut replayed digit-for-digit — BOTH
    * index lifecycles and the link-artifact fold must be invisible. */
  def q184CentralityBlendedServing(s: SparkSession, d: String): DataFrame = {
    val served = q173KeyAnchors(
        LinkGraph.servedAnchorCorpus(s, anchorArtifactFor(s, d), k = 3))
      .join(Tables.documents(s, d).select(col("doc_id").as("aid")),
        Seq("aid"), "left_semi")
    val scored = Retrieval.bm25fScoresIndexed(s, bm25IndexFor(s, d),
      served, col("aid"), col("anchor"), col("cnt"),
      Seq("join", "filter", "window"), wAnchor = 2.0)
    val pr = LinkAnalysis.pageRank(servedQ165Edges(s, d), iters = 5,
      policy = CheckpointPolicy.fromSession(s))
    val hosts = Seq("site0.example", "site1.example", "site2.example",
      "site3.example", "site4.example", "news.example", "redir.example",
      "shop.example")
    Retrieval.blendStaticPrior(scored, col("bm25f_raw"),
      element_at(array(hosts.map(lit): _*),
        (pmod(col("doc_id"), lit(8L)) + lit(1L)).cast("int")),
      pr, col("node"), col("rank"), lambda = 0.5, k = 20)
  }

  /** q185: WARM-START incremental re-rank ([[LinkAnalysis.pageRank]]
    * `init`) — the SCORES-side complement of the artifact increments:
    * q177 serves yesterday's EDGES incrementally; q185 re-ranks
    * today's grown graph starting FROM yesterday's ranks instead of
    * uniform, in 2 iterations instead of 5 (power-method restart near
    * the fixed point — the incremental-maintenance move a daily-ingest
    * ranker runs). "Yesterday" is the batch-0 site0/site1 slice of the
    * q165 crawl (5 hosts), ranked cold; "today" is the full
    * artifact-served graph ([[servedQ165Edges]]), whose three NEW
    * hosts (site2-4) exercise the init default: absent from
    * yesterday's vector, they start at the uniform fenced 1/n. Oracle:
    * both eras unrolled closed-form — the 5-iteration cold era over
    * the sliced plant, then 2 warm iterations whose r0 is
    * coalesce(yesterday.r5, 1/n) — batching, folding, and the warm
    * seam must be invisible in every digit. */
  def q185WarmRerank(s: SparkSession, d: String): DataFrame = {
    val pol = CheckpointPolicy.fromSession(s)
    // yesterday's graph: the batch-0 ingest slice, sites 0-1 only —
    // pinned for the same four-branch reason as q165DomainEdges
    val yEdges = pol.pin(
      q165EdgeRows(s, q165Pages(s, d)
          .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 < 2))
        .filter(col("sd") =!= col("dd"))
        .groupBy(col("sd").as("src"), col("dd").as("dst"))
        .agg(count(lit(1)).cast("double").as("w")))
    val yRanks = LinkAnalysis.pageRank(yEdges, iters = 5, policy = pol)
    LinkAnalysis.pageRank(servedQ165Edges(s, d), iters = 2,
        policy = pol, init = Some(yRanks))
      .orderBy("node")
  }

  def q159BlockwordScan(s: SparkSession, d: String): DataFrame =
    BlockWords.scan(Tables.documents(s, d), col("doc_id"), col("text"),
      Seq("spark" -> 1.0, "slow" -> 2.0, "dup" -> 5.0, "batch" -> 1.0,
          "batch batch" -> 3.0, "table scan" -> 4.0))
      .orderBy("doc_id")

  def q145UrlCuration(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), q145Url(col("doc_id")).as("url"))
      .select(col("doc_id"),
        Urls.normalizeUrl(col("url")).as("norm_url"),
        Urls.registeredDomain(col("url")).as("domain"))
      .withColumn("blocked", (col("domain") === "badsite.com").cast("long"))
      .orderBy("doc_id")
  }

  /** q143's planted byte-level content (the q87/q137 convention — the
    * fixture text is single-spaced lowercase-ish ASCII, so the shapes the
    * GPT-2 tokenizer family exists for are planted): mixed case,
    * multi-byte UTF-8 letters (é, ü) and symbol (€), a contraction, a
    * punctuation run, digits with a decimal-comma, and a significant
    * DOUBLE space (exercising the `\\s+(?!\\S)` lookahead donation).
    * Appended per doc as `rtrim(text) + Gpt2Plant + (doc_id % 7) + " "`.
    * Kept multi-space-before-LETTERS only: the oracle's RE2 fix-up is
    * exact for that shape (and for none that doesn't occur here). */
  private[graft] val Gpt2Plant = " The Café isn't  über 42!! €9,99 grp"

  private def q143Raw(s: SparkSession, d: String): DataFrame =
    // fanOut: the GPT-2 pretokenizer regex + byte-map sweep downstream is
    // per-row-heavy and would otherwise run on the one-task fixture scan
    Tables.fanOut(Tables.documents(s, d).select(col("doc_id"),
      concat(rtrim(coalesce(col("text"), lit(""))), lit(Gpt2Plant),
        (col("doc_id") % 7).cast("string"), lit(" ")).as("raw")),
      col("doc_id"))

  private[graft] def byteBpeMergesFor(s: SparkSession, d: String): Seq[Vocab.BpeMerge] =
    ArtifactCache.value(s, "bytebpe", d, "documents") {
      Vocab.bpeTrainByteLevel(q143Raw(s, d), col("raw"),
        nMerges = 40, policy = CheckpointPolicy.fromSession(s))
    }

  /** q143: BYTE-LEVEL BPE — the GPT-2 tokenizer family ([[Vocab
    * .bpeTrainByteLevel]] / [[Vocab.byteLevelSymbols]]): RAW text (no
    * normalization) pretokenized with the GPT-2 regex (java.util.regex,
    * lookahead included), every pretoken byte-mapped through the GPT-2
    * byte→unicode bijection, 40 merges trained with the batched trainer
    * over the chr(1)-wrapped table, then the corpus encoded through the
    * learned merges. Case, punctuation, multi-byte UTF-8, and the Ġ
    * space-prefix convention all participate — exactly what q103's
    * normalized-word trainer cannot express (q103/q138 unchanged). The
    * oracle replays pretokenization (RE2 + lookahead fix-up), the byte
    * bijection (hex-digit arithmetic + chr), the full merge chain, and
    * the per-doc digests. */
  def q143ByteLevelBpe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val policy = CheckpointPolicy.fromSession(s)
    val merges = byteBpeMergesFor(s, d)
    val occ = q143Raw(s, d)
      .select(col("doc_id"),
        posexplode(Vocab.gpt2Pretokens(col("raw"))).as(Seq("wpos", "word")))
    // byte-map the DISTINCT pretokens behind a typed-map boundary, then
    // run the 40-replace encode chain once per distinct word
    val mapped = occ.select("word").distinct().toDF("_1").as[String]
      .map(w => (w, Vocab.byteMap(w))).toDF("word", "mapped")
    val wsym = policy.pin(mapped.select(col("word"),
      Vocab.byteLevelSymbols(col("mapped"), merges).as("syms")))
    val syms = policy.pin(occ.join(wsym, Seq("word"))
      .select(col("doc_id"), col("wpos"),
        posexplode(col("syms")).as(Seq("j", "sym"))))
    val vocab = Ranking.globalRowNumber(
        syms.select("sym").distinct(), Seq(col("sym")), out = "__rn")
      .select(col("sym"), (col("__rn") - 1).cast("long").as("id"))
    val pos = syms.withColumn("pos",
      row_number().over(Window.partitionBy("doc_id").orderBy("wpos", "j"))
        .cast("long"))
    val docRows = pos.join(broadcast(vocab), Seq("sym"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n1"), sum("id").as("n2"),
        sum(col("pos") * col("id")).as("n3"))
      .select(lit("doc").as("kind"), col("doc_id").cast("long").as("key"),
        lit("").as("lft"), lit("").as("rgt"), col("n1"), col("n2"), col("n3"))
    val mergeDf = merges.zipWithIndex.map { case (m, i) =>
        ("merge", (i + 1).toLong, m.left, m.right, m.count, 0L, 0L) }
      .toDF("kind", "key", "lft", "rgt", "n1", "n2", "n3")
    mergeDf.unionByName(docRows).orderBy("kind", "key")
  }

  /** q142: Doulion sampled triangle estimate ([[LinkAnalysis
    * .trianglesDoulion]]) over q128's co-purchase graph at p = 1/2 — the
    * 100 TB path past exact counting's O(m^{3/2}) wedge bound (q128 scales
    * 8.6× at 10× edges; the sampled pipeline shrinks wedge mass ~p³).
    * p = 1/2 makes the 1/p³ scale-up an exact ×8 — zero float divergence —
    * and sampling is the md5-portable uniform, so the oracle replays the
    * sparsified graph and the estimate EXACTLY; the unbiasedness and
    * relative-error properties are spec-gated (LinkAnalysisSpec). */
  def q142TrianglesDoulion(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.trianglesDoulion(
      LinkAnalysis.coPurchaseGraph(Tables.lineitem(s, d)), p = 0.5,
      policy = CheckpointPolicy.fromSession(s))

  /** q141: EXACT substring dedup ([[ExactSubstring]] — the Lee et al.
    * suffix-array semantics, distributed as a hash ladder + two-anchor
    * window keys): per doc, the maximal duplicated ≥16-token spans
    * (length exact up to the 40-token cap), the covered removal mass,
    * and the md5 of the document AFTER removing every covered token.
    * The oracle replays the WHOLE computation in DuckDB over the literal
    * strings — every (position, m) window of every doc, grouped by gram
    * text — so a fingerprint collision, ladder defect, maximality error,
    * or removal slip anywhere breaks the hash. */
  def q141ExactSubstringDedup(s: SparkSession, d: String): DataFrame =
    ExactSubstring.dedupStats(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))),
        minLen = 16, maxLen = 40, policy = CheckpointPolicy.fromSession(s))
      .orderBy("doc_id")

  /** q137: TRAINED character-n-gram language ID ([[graft.ml
    * .LangClassifier]] — the fastText-langid shape, upgrading q13's
    * marker-lexicon argmax to a model with per-doc confidence; the
    * lexicon stays as the oracle-exact fallback). The fixture corpus's
    * `lang` column is uncorrelated with its text, so the query PLANTS
    * the recoverable signal (the q87 convention): each doc gets a
    * deterministic language from doc_id mod 5 and that language's
    * characteristic phrase appended to its (shared-boilerplate) text —
    * the discriminative char n-grams live only in the planted phrase, so
    * a correct sweep/hash/fit/score path must recover the language on
    * the held-out fold. The oracle replays the md5 split arithmetic per
    * class exactly and pins every recall flag. */
  def q137LangIdTrained(s: SparkSession, d: String): DataFrame = {
    val langs = graft.ml.LangPlant.langs
    val idx = pmod(col("doc_id"), lit(5)).cast("int")
    val phrase = langs.zipWithIndex
      .foldLeft(lit(""): Column) { case (acc, (code, i)) =>
        when(idx === i, lit(graft.ml.LangPlant.planted(code))).otherwise(acc) }
    // language ID keys on a bounded snippet — real fastText-style LID uses
    // ~100 chars; training on whole documents just multiplies the n-gram
    // extraction and every L-BFGS pass by the full text length (measured
    // 36.7 s warm / 110 s cold at sf0.1 before the cap, dominated by the
    // fit). 256 chars of boilerplate noise + the planted phrase keeps the
    // task identical (the oracle replays fold arithmetic and flags, not
    // the text) at a fraction of the cost.
    // fanOut BEFORE the n-gram sweep: the single-row-group fixture scan is
    // one task, and the 2+3-gram HOF featurization measured 5.0 s
    // single-threaded vs ~0.3 s at cluster width (the shuffled rows are
    // the 256-char capped snippets, not full documents)
    val planted = Tables.fanOut(Tables.documents(s, d)
      .select(col("doc_id"),
        concat_ws(" ", substring(coalesce(col("text"), lit("")), 1, 256),
          phrase).as("ptext"),
        idx.cast("double").as("lidx")),
      col("doc_id"))
    graft.ml.LangClassifier.holdoutGatePerClass(
      planted, col("doc_id"), col("ptext"), col("lidx"), langs)
  }

  /** q123: weighted PageRank over the customer↔supplier purchase graph —
    * the link-centrality quality prior crawl curation ranks hosts with
    * ([[LinkAnalysis.pageRank]]), oracle-replayed END-TO-END: the DuckDB
    * side unrolls all 5 iterations as CTE blocks with the identical
    * left-assoc contribution arithmetic and the identical 9-dp floor
    * fence, so any defect in the edge weights, out-weight normalization,
    * damping arithmetic, or iteration order breaks the hash. */
  def q123PageRank(s: SparkSession, d: String): DataFrame = {
    val edges = LinkAnalysis.purchaseGraph(
      Tables.lineitem(s, d), Tables.orders(s, d))
    LinkAnalysis.pageRank(edges, iters = 5, damping = 0.85)
      .select(col("node"), col("rank"))
      .orderBy("node")
  }

  /** q124: hourly gap fill with forward fill over the events stream
    * ([[TimeSeries.gapFill]]) — irregular events densified onto each
    * user's hourly grid, missing hours materialized with `filled = 1` and
    * the last observed hourly sum carried forward. On the user_id % 10
    * sample to bound the output grid (the q17/q121 convention). The
    * oracle replays bucket arithmetic, per-bucket aggregates, the
    * generate_series grid, and the IGNORE NULLS forward-fill window. */
  def q124GapFill(s: SparkSession, d: String): DataFrame =
    TimeSeries.gapFill(
        Tables.events(s, d).filter(col("user_id") % 10 === 0),
        col("user_id"), col("ts"), col("value"), bucketSeconds = 3600L)
      .withColumnRenamed("series_id", "user_id")
      .orderBy("user_id", "bucket")

  private[graft] def unigramVocabFor(s: SparkSession, d: String): Seq[Unigram.UPiece] =
    ArtifactCache.value(s, "unigram", d, "documents") {
      Unigram.train(Tables.documents(s, d), col("text"),
        vocabSize = 48, maxPieceLen = 4, minCount = 2, seedCap = 48,
        rounds = 2, policy = CheckpointPolicy.fromSession(s))
    }

  /** q125: unigram-LM subword tokenization ([[Unigram]] — the
    * SentencePiece model family, the second real tokenizer next to q103's
    * BPE), driver-gated END-TO-END: substring seed with cap + char
    * closure, two hard-EM rounds (Viterbi segmentation → re-count →
    * prune → re-fence log-probs), then encode every doc with the final
    * model. Output = the full final vocabulary (piece, count, fenced
    * log-prob) plus per-doc token-id digests. The oracle replays
    * EVERYTHING: seed counts, both EM rounds' unrolled Viterbi DPs (16
    * positions × 4 piece lengths, identical tie-break order) and
    * backtracks, the prune steps, every fenced log-prob, and the final
    * encode — a defect anywhere in the model trajectory reds the hash. */
  def q125UnigramTokenizer(s: SparkSession, d: String): DataFrame =
    Unigram.encodeStats(Tables.documents(s, d), col("doc_id"), col("text"),
      unigramVocabFor(s, d), maxPieceLen = 4,
      policy = CheckpointPolicy.fromSession(s))

  /** q126: EWMA smoothing over the q124 gap-filled grid
    * ([[TimeSeries.ewma]]) — the trailing baseline smoother, well-defined
    * exactly BECAUSE the fill densified the grid. α = 0.5 makes the
    * per-step fold exactly representable, so the DuckDB recursive-CTE
    * replay matches bit-for-bit with no rounding fence. */
  def q126Ewma(s: SparkSession, d: String): DataFrame =
    TimeSeries.ewma(
        TimeSeries.gapFill(
          Tables.events(s, d).filter(col("user_id") % 10 === 0),
          col("user_id"), col("ts"), col("value"), bucketSeconds = 3600L),
        alpha = 0.5)
      .withColumnRenamed("series_id", "user_id")
      .orderBy("user_id", "bucket")

  /** q127: LEAKAGE-SAFE train/val/test split — the q76 hash split keyed by
    * near-dup COMPONENT instead of document: q121's exact prefix-filter
    * pairs (COMPLETE at the threshold — no LSH miss can leak a pair) feed
    * [[Dedup.clusters]], and [[Mixture.hashSplit]] assigns the split from
    * the md5 uniform of the CLUSTER id, so a test document can never have
    * a train-side near-duplicate at Jaccard ≥ 0.8 — the
    * eval-contamination guarantee a doc-keyed split cannot give. Same
    * doc_id % 10 sample as q121 (the pair oracle's budget). */
  def q127LeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    val policy = CheckpointPolicy.fromSession(s)
    val docs = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
    val pairs = SimilarityJoin.allPairsJaccard(docs, col("doc_id"), col("text"),
      threshold = 0.8, policy = policy)
    val clusters = Dedup.clusters(pairs, docs.select("doc_id"), policy = policy)
    Mixture.hashSplit(clusters, col("cluster_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "leaksafe")
      .select("doc_id", "cluster_id", "split")
      .orderBy("doc_id")
  }

  /** q121: EXACT all-pairs word-Jaccard similarity self-join over the
    * corpus via prefix filtering (AllPairs/PPJoin) — the COMPLETE
    * counterpart of the approximate LSH paths (q28 minhash, q15 blocked
    * n-gram): every pair with Jaccard ≥ 0.8 is guaranteed emitted, no
    * blocking recall loss, yet candidates come from an equi-join on
    * rarest-first prefix tokens, never a cross join. The DuckDB oracle is
    * the brute-force all-pairs join — any dropped pair (a prefix-length
    * or ordering defect) or wrong score breaks the hash.
    *
    * Gated on the doc_id % 10 sample (the q17 convention): the fixture
    * corpus is templated and pathologically self-similar — the FULL sf0.1
    * answer at t = 0.8 is ~700k true pairs (measured), which any complete
    * algorithm must emit, so the full-corpus form is output-bound by
    * construction; the sample keeps the brute-force oracle and the bench
    * rep inside their budgets while gating the identical code path. */
  def q121AllPairsJaccard(s: SparkSession, d: String): DataFrame =
    SimilarityJoin.allPairsJaccard(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** q128: exact triangle counting + local clustering coefficients over
    * the co-purchase part graph ([[LinkAnalysis.triangles]] /
    * [[LinkAnalysis.coPurchaseGraph]]) — the community-density companion
    * to q123's PageRank centrality. Degree-ordered edge orientation
    * bounds the wedge join by O(m^{3/2}); the DuckDB oracle replays the
    * whole derivation (canonical edges, degrees, orientation, wedge +
    * closing-edge joins, per-node counts, the 6-dp fenced coefficient) —
    * a single lost or double-counted triangle breaks the hash. */
  def q128Triangles(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.triangles(
        LinkAnalysis.coPurchaseGraph(Tables.lineitem(s, d)))
      .orderBy("node")

  /** q129: KMV (k-minimum-values / theta) sketch set operations
    * ([[Sketches.appendKmvSketches]] / [[Sketches.kmvOverlap]]) — the
    * corpus-overlap audit the HLL family can't do: how much of snapshot
    * B's vocabulary is already in snapshot A, from kilobyte sketches
    * instead of a distinct-join over the corpora. The documents table
    * splits into two snapshots (doc_id parity); side A ingests in three
    * batches and is COMPACTED, side B in two (the q111 batching/fold
    * proof shape — the serve path reads folded and per-batch layouts
    * alike). KMV is deterministic (md5, no seeds), so the oracle replays
    * every estimate EXACTLY — hash distinct, k-min cut, membership
    * flags, the (k−1)/u_(k) estimator, ρ-scaling, 6-dp fences — while
    * the exact per-side/union/intersection anchors ride along in the
    * same row. */
  def q129KmvOverlap(s: SparkSession, d: String): DataFrame = {
    val k = 512
    val dir = ArtifactCache.dir(s, "kmv", d, "documents") { tmp =>
      val words = Tables.documents(s, d).select(col("doc_id"),
        explode(TextOps.tokens(coalesce(col("text"), lit("")))).as("word"))
      val a = words.filter(pmod(col("doc_id"), lit(2)) === 0)
      val b = words.filter(pmod(col("doc_id"), lit(2)) === 1)
      (0 until 3).foreach(i => Sketches.appendKmvSketches(
        a.filter(pmod(expr("doc_id div 2"), lit(3)) === i), col("word"),
        s"$tmp/a", i.toLong, k))
      (0 until 2).foreach(i => Sketches.appendKmvSketches(
        b.filter(pmod(expr("(doc_id - 1) div 2"), lit(2)) === i), col("word"),
        s"$tmp/b", i.toLong, k))
      // fold side A only: the oracle's single-build replay must equal
      // BOTH layouts — compaction rides through the correctness gate
      Sketches.compactKmvSketches(s, s"$tmp/a", k)
    }
    val estA = Sketches.kmvEstimate(s, s"$dir/a", k)
      .select(col("n_kept").as("kept_a"), col("estimate").as("est_a"))
    val estB = Sketches.kmvEstimate(s, s"$dir/b", k)
      .select(col("n_kept").as("kept_b"), col("estimate").as("est_b"))
    val ov = Sketches.kmvOverlap(s, s"$dir/a", s"$dir/b", k)
    // exact anchors, one scan: per-side distinct word sets
    val words = Tables.documents(s, d).select(col("doc_id"),
      explode(TextOps.tokens(coalesce(col("text"), lit("")))).as("word"))
    val sides = words
      .select(col("word"), pmod(col("doc_id"), lit(2)).as("side"))
      .groupBy("word")
      .agg(max(when(col("side") === 0, 1L).otherwise(0L)).as("in_a"),
        max(when(col("side") === 1, 1L).otherwise(0L)).as("in_b"))
    val exact = sides.agg(
      sum(col("in_a")).as("exact_a"), sum(col("in_b")).as("exact_b"),
      count(lit(1)).as("exact_union"),
      sum(col("in_a") * col("in_b")).as("exact_inter"))
    estA.crossJoin(estB).crossJoin(ov).crossJoin(exact)
  }

  private[graft] def wordPieceFor(s: SparkSession, d: String)
      : (Seq[WordPiece.WpMerge], Seq[String]) =
    ArtifactCache.value(s, "wordpiece", d, "documents") {
      WordPiece.trainAndPieces(Tables.documents(s, d), col("text"),
        nMerges = 30, policy = CheckpointPolicy.fromSession(s))
    }

  /** q131: exact edit-distance-1 fuzzy self-join over customer names
    * ([[SimilarityJoin.editNeighborPairs]]) — the typo-tolerant entity
    * resolution / spell-correction-candidate primitive, COMPLETE (every
    * lev ≤ 1 pair emitted) without an all-pairs product: candidates come
    * from the SymSpell deletion-key equi-join, the exact codegen
    * `levenshtein` verifies. The DuckDB oracle is the brute-force
    * all-pairs levenshtein join — a single pair missed by the blocking
    * (a deletion-key defect) breaks the hash. */
  def q131FuzzyNamePairs(s: SparkSession, d: String): DataFrame =
    SimilarityJoin.editNeighborPairs(Tables.customer(s, d), col("c_name"))
      .orderBy("word_a", "word_b")

  /** q132: SCD2 dimension build ([[Compaction.scd2Intervals]]) — the
    * history twin of q69's latest-per-key compaction: each user's
    * event_type change log becomes validity intervals
    * [valid_from, valid_to) with a NULL-closed current row and a 1..n
    * version chain, the standard warehouse dimension shape every as-of
    * question then range-joins against. Same user_id % 10 sample as
    * q124 (output is change-log-sized). The oracle replays the second
    * clamp, the (t, attr) total order, the consecutive-equal collapse,
    * and both interval windows. */
  def q132Scd2Intervals(s: SparkSession, d: String): DataFrame =
    Compaction.scd2Intervals(
        Tables.events(s, d).filter(col("user_id") % 10 === 0),
        col("user_id"), col("ts"), col("event_type"))
      .withColumnRenamed("key", "user_id")
      .orderBy("user_id", "version")

  /** q133: k-core of the co-purchase part graph ([[LinkAnalysis.kCore]])
    * — the density filter of graph curation (dense communities / spam
    * farms survive, tendrils peel) and the third graph operator next to
    * PageRank and triangles. k = 65 sits just under the fixture graph's
    * degeneracy, so the peel genuinely CASCADES (removals drop neighbors
    * below k across several rounds — 4 rounds at sf0.001) rather than
    * converging in one pass. The oracle unrolls all 24 guard rounds
    * (converged rounds no-op); the Spark side fails loudly past the
    * guard instead of diverging from the replay. */
  def q133KCore(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.kCore(
        LinkAnalysis.coPurchaseGraph(Tables.lineitem(s, d)), k = 65)
      .orderBy("node")

  /** q134: PIVOT — long-to-wide reshaping with an explicit value list
    * (deterministic schema, the production form: inferring pivot values
    * is an extra distinct scan AND nondeterministic columns): per-user
    * event counts spread across the five event types, absent combos 0.
    * One hash aggregate; the pivot is a projection shape, not a shuffle
    * multiplier. Same user_id % 10 sample as the other event queries. */
  def q134Pivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d).filter(col("user_id") % 10 === 0)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  /** q135: CUBE over lineitem with grouping flags — the OLAP subtotal
    * surface (all four grouping sets of returnflag × linestatus in ONE
    * pass; Spark plans it as a single Expand + hash aggregate, ×4 the
    * input rows map-side, not four scans). Per-dimension `grouping()`
    * flags ride out (engine-portable, unlike the combined grouping_id bit
    * order) and double the NULL group keys can't be confused with data
    * NULLs. q01's rounding conventions. Complements q37_cube, which cubes
    * the EVENTS table — this is the fact-table form. (Was briefly
    * registered as q134_cube in round 8 and dropped in the snapshot
    * renumber; restored here per the round-8 verdict.) */
  def q135Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")

  /** q130: WordPiece subword tokenization ([[WordPiece]] — the BERT
    * tokenizer family, completing the real-tokenizer trio next to q103's
    * BPE and q125's unigram LM): 30 likelihood-scored merges
    * (`cnt/(cl·cr)` argmax — NOT the BPE count argmax) trained on the
    * distinct-word table, then greedy longest-match-first encoding with
    * `##` continuation classes. The oracle replays EVERYTHING in DuckDB:
    * every iteration's pair counts, symbol counts, scored argmax and
    * merge application, the piece-inventory ids, and the unrolled
    * 16-step MaxMatch walk — the merge rows carry the score's exact
    * integer numerator/denominators, so a defect anywhere in the
    * trajectory or the greedy tie order breaks the hash. */
  def q130WordPiece(s: SparkSession, d: String): DataFrame = {
    val (m, inv) = wordPieceFor(s, d)
    WordPiece.encodeStats(Tables.documents(s, d), col("doc_id"), col("text"),
      m, inv, policy = CheckpointPolicy.fromSession(s))
  }

  /** q139: audio fingerprint dedup over COMPRESSED (Layer III) payloads —
    * q95's lossy twin, proving [[Mp3]] sample decode feeds
    * [[Dedup.hammingNearDupPairs]] end to end. Per supplier, a 33-window
    * burst clip whose window amplitudes alternate MID(16) / EXTREME(30|2)
    * on the bits of a Knuth multiplicative hash of the supplier key, so
    * every one of the 32 energy-envelope transition bits is determined by
    * supplier arithmetic with huge margins (≥3.5× energy ratios — codec
    * smearing cannot flip them). The clip is ENCODED to a real MP3 stream,
    * SAMPLE-DECODED back, delay-trimmed, and fingerprinted with the same
    * integer construction as the WAV path. Planted twins are exact
    * ×2-amplitude copies: the quantizer's global_gain shifts by exactly 4
    * (2^(gg/4) step), making the quantized spectrum IDENTICAL, the decode
    * exactly 2× — so twins collide at Hamming 0 THROUGH the lossy codec.
    * Distinct suppliers differ in ≥2 bits (each hash bit drives two
    * transitions), so radius-1 MIH pairing emits exactly the planted
    * pairs. The oracle replays the pair list AND the 32-bit arithmetic
    * fingerprint (`ah_a`) from the supplier table. */
  def q139Mp3FingerprintDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey").cast("long")).as[Long]
    // Scale guard: the planted-twin arithmetic uses only bits 0-15 of the
    // Knuth hash (keys congruent mod 65536 would collide at Hamming 0) and
    // the +200000 twin-id offset must not alias real supplier keys. TPC-H
    // supplier has 10k rows/SF, so this holds through ~sf6.5; fail loudly
    // beyond that rather than emit unplanned oracle-breaking pairs.
    val maxKey = sup.agg(max(col("s_suppkey"))).as[Long].head()
    require(maxKey < 65536L && maxKey < 200000L,
      s"q139 planted-twin fixture supports s_suppkey < 65536 (got max " +
        s"$maxKey); regenerate with a wider fingerprint for larger SF")
    val clips = sup.flatMap { k =>
      if (k % 4 == 1) Seq((k, 1.0), (k + 200000L, 2.0)) else Seq((k, 1.0))
    }
    val hashed = clips
      .repartition(s.sparkContext.defaultParallelism, col("_1"))
      .map { case (id, scale) =>
        val sk = if (id >= 200000L) id - 200000L else id
        val h = (sk * 2654435761L) & 0xFFFFFFFFL
        def amp(w: Int): Double =
          if (w % 2 == 0) 16.0
          else if (((h >> ((w - 1) / 2)) & 1L) == 1L) 30.0 else 2.0
        val freq = 500.0 + (sk % 5) * 400.0
        val n = 33 * 1152
        val x = new Array[Double](n + 1152) // one tail frame of silence
        var i = 0
        while (i < n) {
          x(i) = scale * (amp(i / 1152) / 100.0) *
            math.sin(2 * math.Pi * freq * i / 44100.0)
          i += 1
        }
        val dec = Mp3.decode(Mp3.encodeMono(x))
        val s16 = dec.mixedS16
        val trimmed = new Array[Short](n)
        System.arraycopy(s16, Mp3.CodecDelay, trimmed, 0, n)
        val mp3Hash = Multimodal.envelopeHashSamples(trimmed)
        // the arithmetic fingerprint the oracle replays: odd windows carry
        // hash bit j=(w-1)/2, even windows return to MID (inverted bit)
        var arith = 0L
        var w = 1
        while (w <= 32) {
          val bit = if (w % 2 == 1) (h >> ((w - 1) / 2)) & 1L
            else 1L - ((h >> ((w - 2) / 2)) & 1L)
          arith |= bit << (w - 1)
          w += 1
        }
        val ok = if (java.lang.Long.bitCount(mp3Hash ^ arith) <= 4) 1L else 0L
        (id, mp3Hash, arith, ok)
      }.toDF("doc_id", "sh", "ah", "ok")
    val pinned = CheckpointPolicy.fromSession(s).pin(hashed)
    val flags = pinned.select(col("doc_id"), col("ah"), col("ok"))
    Dedup.hammingNearDupPairs(pinned.select("doc_id", "sh"), maxHamming = 1,
        policy = CheckpointPolicy.fromSession(s))
      .join(flags.select(col("doc_id").as("id_a"), col("ah").as("ah_a"),
        col("ok").as("a_ok")), "id_a")
      .join(flags.select(col("doc_id").as("id_b"), col("ok").as("b_ok")), "id_b")
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"),
        col("ah_a"), col("a_ok"), col("b_ok"))
      .orderBy("id_a", "id_b")
  }
}
