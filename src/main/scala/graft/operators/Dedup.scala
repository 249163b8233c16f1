package graft.operators

import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale posture: every variant is blocked/bucketed so candidate generation
  * is an equi-join on a bucket key (hash shuffle on buckets, never an O(n²)
  * cross join). Signatures are built with codegen'd hash/array builtins in a
  * single projection over the corpus scan.
  */
object Dedup {

  /** Exact dedup on a content fingerprint: keeps the lowest-id row per
    * normalized-text hash. One hash-aggregate shuffle on the 64-bit
    * fingerprint (not the full text — at 100 TB the shuffle carries 8-byte
    * keys plus ids). */
  def exactByContent(df: DataFrame, id: Column, text: Column): DataFrame = {
    df.select(id.as("doc_id"), TextOps.fingerprint64(text).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
  }

  /** MinHash signature: for each of `numHashes` hash functions, the min
    * murmur3 over the document's shingle set. Pure expression:
    * `transform(seeds, s -> array_min(transform(shingles, sh -> hash(sh, s))))`. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      s => array_min(transform(shingles, sh => hash(sh, s))))

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`,
    * hash each band → (band index, band hash) pairs for bucket joins. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), hash(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bh")))

  /** MinHash/LSH near-duplicate pairs: docs sharing any LSH bucket are
    * candidates; candidates are verified with exact Jaccard over shingle
    * sets, keeping pairs ≥ `threshold`.
    *
    * Plan shape: projection (shingles+signature) → explode bands →
    * self-equi-join on (band, bandHash) → distinct pairs → verify. The only
    * shuffles are the bucket join and pair distinct; no cross join anywhere.
    */
  def minhashDedupPairs(df: DataFrame, id: Column, text: Column,
                        shingleSize: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Shingle sets + signatures are consumed by three plan branches (bucket
    // explode, A-side verify, B-side verify); materialize them ONCE.
    // Without this, each branch re-derives them — and if the combined
    // projection falls out of codegen, interpreted HOF evaluation recomputes
    // the tokenizer per lambda element (quadratic per doc). At scale these
    // signatures would be persisted at ingest for the same reason.
    // Token split materialized BEFORE the shingle lambda, and shingle sets
    // materialized BEFORE the 64-seed signature lambda: HOFs are interpreted
    // (CodegenFallback), so any non-attribute subexpression inside a lambda
    // body re-evaluates per element — a split in the shingle body would run
    // per shingle, and the shingle pipeline inside the signature transform
    // would run per hash seed.
    val docs = df
      .select(id.cast("long").as("doc_id"), TextOps.tokens(text).as("__toks"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        graft.functions.VectorExprs
          .hashedWordShingles(col("__toks"), shingleSize).as("sh"))
    // Collapse identical shingle SETS before LSH: duplicate-heavy corpora
    // (the realistic dedup workload) put whole duplicate clusters into the
    // same buckets, making the bucket join quadratic in CLUSTER size. Over
    // distinct sets it is quadratic only in distinct-set bucket counts;
    // signatures and verification run once per distinct set, and doc pairs
    // expand from the per-set id lists at the end (output-sized work).
    // gid = min doc id of the group — COLLISION-FREE group identity (each
    // doc belongs to exactly one shingle-set group, so min ids are distinct
    // across groups), matching the embedding path's fix below: a structural
    // hash of the set would carry a ~groups²/2⁶⁵ birthday hazard at
    // billions of distinct documents.
    val groups = CheckpointPolicy.pin(
      docs.groupBy("sh").agg(collect_list("doc_id").as("ids"))
        .withColumn("gid", array_min(col("ids"))))
    // signatures materialized too: the banding lambda would otherwise
    // inline (and re-evaluate) the 64-hash signature once per band
    val sigs = CheckpointPolicy.pin(groups.select(col("gid"),
      minhashSignature(col("sh"), numHashes).as("sig")))
    // candidate pair gids only — shingle arrays stay OUT of the bucket join
    // and the pair-dedup shuffle; they re-attach once per distinct pair
    val buckets = sigs
      .select(col("gid"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(col("gid"), col("b.band").as("band"), col("b.bh").as("bh"))
    val cand = buckets.select(col("band"), col("bh"), col("gid").as("g_a"))
      .join(buckets.select(col("band"), col("bh"), col("gid").as("g_b")),
        Seq("band", "bh"))
      .filter(col("g_a") < col("g_b"))
      .select("g_a", "g_b")
      .dropDuplicates("g_a", "g_b")
    val shA = groups.select(col("gid").as("g_a"), col("sh").as("sh_a"))
    val shB = groups.select(col("gid").as("g_b"), col("sh").as("sh_b"))
    val verified = cand.join(shA, Seq("g_a")).join(shB, Seq("g_b"))
      // separate projection so the O(n) set-intersection evaluates once
      .withColumn("__inter",
        graft.functions.ArrayExprs.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("__na", size(col("sh_a")))
      .withColumn("__nb", size(col("sh_b")))
      .select(col("g_a"), col("g_b"),
        jaccardFromIntersect(col("__inter"), col("__na"), col("__nb")).as("jaccard"))
    val passing = PlanOps.pinPairScore(verified, Seq("g_a", "g_b"), "jaccard")
      .filter(col("jaccard") >= threshold)
    // cross-group doc pairs inherit the set pair's jaccard
    val cross = passing
      .join(groups.select(col("gid").as("g_a"), col("ids").as("ids_a")), Seq("g_a"))
      .join(groups.select(col("gid").as("g_b"), col("ids").as("ids_b")), Seq("g_b"))
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("jaccard"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("jaccard"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
    // intra-group doc pairs: identical sets, jaccard exactly 1.0 (identical
    // signatures collide in every band, so the pre-collapse form always
    // surfaced these as candidates too)
    val intra = groups.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("ia"), col("ids"))
      .select(col("ia"), explode(col("ids")).as("ib"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), lit(1.0).as("jaccard"))
    cross.unionByName(intra).select("id_a", "id_b", "jaccard")
  }

  /** Jaccard from a PRE-COMPUTED intersection size. Callers must materialize
    * `size(array_intersect(...))` in its own projection exactly once —
    * inlining it here would evaluate the O(|a|+|b|) set build 3x per row
    * (numerator, denominator, null-guard), which dominated the near-dup scan
    * at bench scale. */
  def jaccardFromIntersect(inter: Column, na: Column, nb: Column): Column = {
    val uni = na + nb - inter
    round(when(uni === 0, 0.0).otherwise(inter.cast("double") / uni.cast("double")), 6)
  }

  /** Exact Jaccard over two (already-distinct) array columns — convenience
    * form for small inputs/tests; see [[jaccardFromIntersect]] for the
    * hot-path shape. */
  def jaccardArrays(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(a) + size(b) - size(array_intersect(a, b))
    when(uni === 0, 0.0).otherwise(inter / uni.cast("double"))
  }

  /** 64-bit SimHash per document: each token votes ±1 on each bit position
    * (by its xxhash64 bit); the sign of each position's total forms the
    * fingerprint.
    *
    * Shape: ONE native codegen'd expression ([[graft.functions.VectorExprs
    * .simhash64]]) over the token array — a pure projection on the corpus
    * scan with NO explode and NO shuffle. (The previous shape — explode →
    * 64 conditional sums in a hash aggregate — shuffled 64 longs per doc
    * and was the single most expensive query in the bench; the expression
    * form computes identical fingerprints, same xxhash64 seed 42.)
    * Empty-token docs are dropped, matching the exploded formulation where
    * they produced no aggregate row.
    *
    * `portable = true` swaps the token hash for the md5-derived 64-bit form
    * ([[graft.functions.PortableHash]]) that a SQL engine can replay —
    * same fingerprint structure, oracle-checkable bit-for-bit. */
  def simhashFingerprints(df: DataFrame, id: Column, text: Column,
                          portable: Boolean = false): DataFrame =
    df.select(id.cast("long").as("doc_id"),
        TextOps.tokens(TextOps.normalized(text)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"),
        graft.functions.VectorExprs.simhash64(col("__toks"), portable).as("sh"))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** (offset, width) of each blocking chunk for a given radius: maxHamming+1
    * contiguous chunks covering all 64 fingerprint bits (widths differ by at
    * most one bit) — the q=0 (exact-chunk-match) split. Exposed for the
    * pigeonhole property test; the operators use [[simhashBlockingPlan]]. */
  private[graft] def simhashChunkBounds(maxHamming: Int): Seq[(Int, Int)] = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 63]")
    chunkSplit(maxHamming + 1)
  }

  private def chunkSplit(numChunks: Int): Seq[(Int, Int)] = {
    require(numChunks >= 1 && numChunks <= 64, "need 1..64 chunks over 64 bits")
    val baseW = 64 / numChunks
    val rem = 64 % numChunks
    val widths = Array.tabulate(numChunks)(c => baseW + (if (c < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until numChunks).map(c => (offsets(c), widths(c)))
  }

  /** Blocking plan for EXACT Hamming-radius candidate generation — multi-
    * index hashing (Norouzi/Punjani/Fleet, "Fast Search in Hamming Space
    * with Multi-Index Hashing", CVPR 2012; public method): split the 64-bit
    * fingerprint into `c` contiguous chunks, each probed at per-chunk
    * radius q. Pigeonhole: if every chunk differed in ≥ q+1 bits the total
    * distance would be ≥ c·(q+1) > maxHamming, so any pair within the
    * radius collides on some chunk probe — candidate recall is exactly 1.0.
    *
    * q=1 HALVES the chunk count vs the exact-match split, which SQUARES
    * DOWN the per-bucket collision rate: at radius 7, candidates fall from
    * ~8·n²/2⁸ (8×8-bit exact chunks) to ~68·n²/2¹⁶ (4×16-bit chunks, 17
    * probes each) — a ~30× cut for a 17× probe-row expansion of 8-byte
    * keys on ONE join side (measured 31.5 s → see BENCH.md, the one
    * super-linear query at the 10× bench scale). Returns (bounds, q). */
  private[graft] def simhashBlockingPlan(maxHamming: Int): (Seq[(Int, Int)], Int) = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 63]")
    val q = if (maxHamming >= 1) 1 else 0
    val numChunks = maxHamming / (q + 1) + 1 // smallest c with c(q+1) > h
    (chunkSplit(numChunks), q)
  }

  /** Exact (chunk, value) structs of a fingerprint column — one join side. */
  private def exactChunkStructs(sh: Column,
                                bounds: Seq[(Int, Int)]): Seq[Column] =
    bounds.zipWithIndex.map { case ((off, width), c) =>
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(c).as("chunk"),
        call_function("shiftright", sh, lit(off)).bitwiseAND(lit(mask)).as("ck"))
    }

  /** Probe (chunk, value) structs: the chunk value plus every ≤q-bit flip
    * of it — the other join side (probe-expanded on ONE side only). */
  private def probeChunkStructs(sh: Column, bounds: Seq[(Int, Int)],
                                q: Int): Seq[Column] =
    bounds.zipWithIndex.flatMap { case ((off, width), c) =>
      val mask = if (width == 64) -1L else (1L << width) - 1L
      val ck = call_function("shiftright", sh, lit(off)).bitwiseAND(lit(mask))
      val base = struct(lit(c).as("chunk"), ck.as("ck"))
      val flips =
        if (q == 0) Nil
        else (0 until width).map(b =>
          struct(lit(c).as("chunk"), ck.bitwiseXOR(lit(1L << b)).as("ck")))
      base +: flips
    }

  /** SimHash near-dup pairs within `maxHamming`: multi-index-hashing
    * blocking ([[simhashBlockingPlan]]) — wide chunks probed at per-chunk
    * radius 1, so any pair within the radius collides on some chunk probe
    * (candidate recall exactly 1.0 by pigeonhole) while buckets stay
    * 2^(chunk width) wide. Candidates are verified by full Hamming
    * distance. Larger radii mean narrower chunks → bigger buckets → more
    * candidates — the inherent exact-radius cost curve, made explicit
    * here; the MinHash/hyperplane LSH paths are the sub-quadratic
    * approximate alternatives. */
  def simhashDedupPairs(df: DataFrame, id: Column, text: Column,
                        maxHamming: Int = 3, portable: Boolean = false): DataFrame =
    hammingNearDupPairs(simhashFingerprints(df, id, text, portable),
      maxHamming)

  /** Near-dup pairs at Hamming radius `maxHamming` over ANY precomputed
    * 64-bit fingerprint frame (doc_id, sh) — the blocking engine behind
    * [[simhashDedupPairs]], reused by perceptual-hash image dedup
    * ([[Multimodal]] aHash) or any other bit-sketch. Multi-index-hashing
    * candidate generation (Norouzi et al.), exact Hamming verify, doc
    * pairs expanded from distinct-fingerprint groups. */
  def hammingNearDupPairs(fps: DataFrame, maxHamming: Int): DataFrame = {
    val (bounds, q) = simhashBlockingPlan(maxHamming)
    // Collapse identical fingerprints BEFORE candidate generation: on
    // duplicate-heavy corpora (the realistic dedup workload) thousands of
    // docs share a fingerprint, and bucket-joining doc-level rows makes
    // every shared chunk value quadratic in CLUSTER size (measured 13.5M
    // candidate rows for a 40k-pair result at sf0.1). Over distinct
    // fingerprints the bucket join is quadratic only in DISTINCT-value
    // counts; doc pairs re-expand from the per-fingerprint id lists at the
    // end — output-sized work, which is the lower bound anyway.
    val groups = CheckpointPolicy.pin( // feeds the chunk explode AND both expansion joins
      fps.groupBy("sh").agg(collect_list("doc_id").as("ids")))
    // asymmetric MIH join: exact chunk values on one side, ≤q-bit probe
    // expansion on the other. Chunk distance ≤ q ⇔ the exact value lies in
    // the OTHER side's probe set, and Hamming distance is symmetric — so
    // every within-radius pair collides regardless of which side carries
    // the probes, and the < filter + dedup keep each pair once.
    val a = groups.select(col("sh").as("sh_a"),
        explode(array(exactChunkStructs(col("sh"), bounds): _*)).as("c"))
      .select(col("sh_a"), col("c.chunk").as("chunk"), col("c.ck").as("ck"))
    val b = groups.select(col("sh").as("sh_b"),
        explode(array(probeChunkStructs(col("sh"), bounds, q): _*)).as("c"))
      .select(col("sh_b"), col("c.chunk").as("chunk"), col("c.ck").as("ck"))
    val fpPairs = a.join(b, Seq("chunk", "ck"))
      .filter(col("sh_a") < col("sh_b"))
      .dropDuplicates("sh_a", "sh_b")
      .withColumn("hamming", hamming64(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
    // cross-group doc pairs: every (a-doc, b-doc) combination inherits the
    // fingerprint pair's hamming; id order normalized per doc pair
    val cross = fpPairs
      .join(groups.select(col("sh").as("sh_a"), col("ids").as("ids_a")), Seq("sh_a"))
      .join(groups.select(col("sh").as("sh_b"), col("ids").as("ids_b")), Seq("sh_b"))
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("hamming"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("hamming"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    // intra-group doc pairs: identical fingerprints, hamming 0
    val intra = groups.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("ia"), col("ids"))
      .select(col("ia"), explode(col("ids")).as("ib"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        lit(0).as("hamming"))
    cross.unionByName(intra).select("id_a", "id_b", "hamming")
  }

  /** Character-n-gram Jaccard similarity pairs, blocked by a cheap length
    * bucket + first-char key so comparisons stay within plausible near-dup
    * groups instead of all-pairs. Like the MinHash/SimHash paths, candidate
    * generation and verification run over DISTINCT n-gram sets (duplicate
    * clusters collapse); doc pairs expand from the per-set id lists. */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val docs = df.select(id.cast("long").as("doc_id"),
      TextOps.charNGramsHashed(text, n).as("g"),
      // block: docs within ±25% length and same first normalized char can match
      floor(log(greatest(length(TextOps.normalized(text)), lit(1)).cast("double")) / math.log(1.25)).as("lb"),
      substring(TextOps.normalized(text), 1, 1).as("fc"))
    // NOTE identical g does NOT imply identical block: periodic texts (e.g.
    // "buy now " ×4 vs ×5) share the distinct-n-gram set but differ in
    // length, landing in different (g, lb, fc) groups. gid must therefore be
    // unique per GROUP (g + block), or the g_a < g_b candidate filter would
    // silently drop equal-set cross-block pairs as "same group". min doc id
    // per group is exactly that — collision-free (each doc is in one group),
    // unlike a structural hash of the group key.
    val groups = CheckpointPolicy.pin( // feeds both join sides + both expansion joins
      docs.groupBy("g", "lb", "fc")
        .agg(collect_list("doc_id").as("ids"))
        .withColumn("gid", array_min(col("ids"))))
    // a-side explodes to {lb-1, lb, lb+1} against b's exact lb so any pair
    // within one length bucket matches regardless of which set has the lower
    // gid (a one-sided {lb, lb+1} explode would drop pairs where the
    // lower-gid set sits a bucket ABOVE the higher-gid one).
    val withBlocks = groups.withColumn("blk",
      explode(array(col("lb") - 1, col("lb"), col("lb") + 1)))
    val a = withBlocks.select(col("blk"), col("fc"), col("gid").as("g_a"), col("g").as("ga"))
    val b = groups.select(col("lb").as("blk"), col("fc"), col("gid").as("g_b"), col("g").as("gb"))
    val verified = a.join(b, Seq("blk", "fc"))
      .filter(col("g_a") < col("g_b"))
      .dropDuplicates("g_a", "g_b")
      .withColumn("__inter",
        graft.functions.ArrayExprs.sortedIntersectSize(col("ga"), col("gb")))
      .withColumn("__na", size(col("ga")))
      .withColumn("__nb", size(col("gb")))
      .select(col("g_a"), col("g_b"),
        jaccardFromIntersect(col("__inter"), col("__na"), col("__nb")).as("jaccard"))
    val passing = PlanOps.pinPairScore(verified, Seq("g_a", "g_b"), "jaccard")
      .filter(col("jaccard") >= threshold)
    val cross = passing
      .join(groups.select(col("gid").as("g_a"), col("ids").as("ids_a")), Seq("g_a"))
      .join(groups.select(col("gid").as("g_b"), col("ids").as("ids_b")), Seq("g_b"))
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("jaccard"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("jaccard"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
    val intra = groups.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("ia"), col("ids"))
      .select(col("ia"), explode(col("ids")).as("ib"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), lit(1.0).as("jaccard"))
    cross.unionByName(intra).select("id_a", "id_b", "jaccard")
  }

  /** Exact duplicated-span statistics — the substring-level dedup signal
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", 2021 — public method; they remove any ≥50-token substring
    * occurring twice in the corpus). Per document: how many of its n-token
    * spans occur ≥2 times ANYWHERE in the corpus (cross-doc or repeated
    * within the same doc), and what fraction of its TOKENS is covered by
    * at least one such duplicated span — the removal-mass estimate a
    * substring-dedup pass would cut.
    *
    * 100 TB shape: spans travel as 64-bit `xxhash64` fingerprints — the
    * only shuffles are a hash-keyed count and a hash-keyed join of 8-byte
    * keys; document text never leaves its scan. Token coverage is a
    * bounded per-doc fold (`collect_list` of span starts, ≤ doc length),
    * never a corpus-wide materialization.
    *
    * Output per input doc (docs shorter than n get zero spans):
    * (doc_id, n_tokens, n_spans, n_dup, dup_frac, covered, covered_frac).
    */
  def duplicatedSpanStats(df: DataFrame, id: Column, toks: Column,
                          n: Int = 5): DataFrame = {
    require(n >= 1, "span length must be >= 1")
    val base = df.select(id.cast("long").as("doc_id"),
      size(toks).cast("long").as("n_tokens"), toks.as("__toks"))
    // span fingerprints with their (1-based) start positions
    val spans = base.filter(col("n_tokens") >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), (col("n_tokens") - (n - 1)).cast("int")),
          s => xxhash64(concat_ws(" ", slice(col("__toks"), s, lit(n)))))))
      .select(col("doc_id"), (col("pos") + 1).as("s"), col("col").as("h"))
    val dupHashes = spans.groupBy("h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("h")
    val perDocDup = spans.join(dupHashes, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup"),
        size(array_distinct(flatten(transform(collect_list(col("s")),
          s => sequence(s, s + (n - 1)))))).cast("long").as("covered"))
    val perDocSpans = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(perDocSpans, Seq("doc_id"), "left")
      .join(perDocDup, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "n_dup", "covered"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"), col("n_dup"),
        round(when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_spans").cast("double")), 6)
          .as("dup_frac"),
        col("covered"),
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("covered").cast("double") / col("n_tokens").cast("double")), 6)
          .as("covered_frac"))
  }

  /** Connected components over near-dup pairs: iterative min-label
    * propagation (label starts as the doc id; each round every doc takes
    * the min of its own and its neighbors' labels) plus a pointer-jumping
    * shortcut (each doc also takes its label's label — labels are doc ids,
    * so label(label) is a plain self-join), giving O(log diameter)
    * convergence even on chain-shaped components. Each round is two joins +
    * one aggregate, checkpointed so lineage stays flat. Runs until a fixed
    * point; `maxIters` is a runaway guard that THROWS rather than return
    * partial labels (silent non-convergence would break oracle parity with
    * the recursive-CTE closure). Returns (doc_id, cluster_id) for every id
    * in `ids`, cluster_id = min doc id of the component (singletons map to
    * themselves) — the canonical keeper, so the deduplicated corpus is
    * `filter(doc_id === cluster_id)`. */
  def clusters(pairs: DataFrame, ids: DataFrame, maxIters: Int = 64): DataFrame =
    clustersWithRounds(pairs, ids, maxIters)._1

  /** [[clusters]] plus the number of rounds it ran — the rounds count lets
    * tests assert the per-round job budget (TWO jobs per round: the
    * propagate checkpoint and the jump checkpoint; the convergence test is
    * an accumulator filled INSIDE the jump job, not a third action). */
  def clustersWithRounds(pairs: DataFrame, ids: DataFrame,
                         maxIters: Int = 64): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = CheckpointPolicy.pin(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = CheckpointPolicy.pin(ids.select(col("doc_id").cast("long").as("doc_id"))
      .withColumn("cluster_id", col("doc_id")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("cluster_id").as("__nbr"))
      // feeds BOTH sides of the pointer-jump self-join below — without a
      // checkpoint the edges-join + min aggregate would run twice a round
      val propagated = CheckpointPolicy.pin(labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("__old"),
          least(col("cluster_id"), coalesce(col("__nbr"), col("cluster_id")))
            .as("cluster_id")))
      // pointer jump: cluster_id is itself a doc_id, so shortcut to its label
      val jumped = propagated.alias("l")
        .join(propagated.select(col("doc_id").as("cluster_id"),
            col("cluster_id").as("__grand")).alias("g"),
          Seq("cluster_id"), "left")
        .select(col("doc_id"), col("__old"),
          least(col("cluster_id"), coalesce(col("__grand"), col("cluster_id")))
            .as("cluster_id"))
      // convergence test rides the checkpoint job: count changed labels in an
      // accumulator while materializing. Task retries can only OVERcount —
      // a truly-unchanged round adds 0 from any retry — so `value == 0` is
      // retry-stable, which is all the loop test needs.
      val changed = spark.sparkContext.longAccumulator(s"clusters_changed_$it")
      val updated = CheckpointPolicy.pin(jumped.as[(Long, Long, Long)].mapPartitions { rows =>
        rows.map { case (docId, old, cid) =>
          if (cid != old) changed.add(1L)
          (docId, cid)
        }
      }.toDF("doc_id", "cluster_id"))
      converged = changed.value == 0
      labels = updated
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"Dedup.clusters did not converge in $maxIters rounds — component " +
          "structure is pathological; raise maxIters rather than use partial labels")
    (labels, it)
  }

  /** Embedding-cosine near-duplicate pairs — banded multi-table random-
    * hyperplane LSH (cosine LSH, Charikar 2002, banded the MinHash way):
    * `tables` independent sketch tables of `planesPerTable` (= r) sign bits
    * each; a pair is a candidate iff ALL r bits of ANY table agree.
    * Per-table collision probability is p^r with p = 1 − θ/π, so recall =
    * 1 − (1 − p^r)^tables: r dials bucket count (2^r per table — size r
    * toward log2(corpus/target-occupancy) as the corpus grows), `tables`
    * dials recall back up. Candidates are verified with ONE exact codegen'd
    * cosine per distinct-vector pair, so false candidates never reach the
    * output. (A single-table wide-r sketch has recall → 0 for anything not
    * bit-identical; a single-table narrow-r sketch — the previous shape,
    * r=8 → 256 buckets — has bucket occupancy growing linearly with the
    * corpus, i.e. O(n²/2^r) in-bucket pair work at scale. Banding is the
    * standard way out, same as the q28 MinHash path.)
    *
    * Scale shape: bit-identical vectors collapse to one group BEFORE
    * sketching (exact-dup clusters — the dominant mass of a dup-heavy
    * corpus — cost output-sized intra-group expansion at cosine 1.0, never
    * in-bucket joins); sketches are one native expression pass per distinct
    * vector; the bucket join carries (table, sketch, gid) only — vectors
    * re-attach once per distinct candidate pair; doc-id pairs expand from
    * per-group id lists at the end (output-sized). */
  def embeddingNearDupPairs(df: DataFrame, id: Column, vec: Column,
                            threshold: Double = 0.95, tables: Int = 16,
                            planesPerTable: Int = 16, seed: Long = 42): DataFrame = {
    val (groups, cand) =
      embeddingGroupsAndCandidates(df, id, vec, tables, planesPerTable, seed)
    val verified = cand
      .join(groups.select(col("gid").as("g_a"), col("v").as("v_a")), Seq("g_a"))
      .join(groups.select(col("gid").as("g_b"), col("v").as("v_b")), Seq("g_b"))
      .select(col("g_a"), col("g_b"),
        round(VectorOps.cosine(col("v_a"), col("v_b")), 6).as("cosine"))
    val passing = PlanOps.pinPairScore(verified, Seq("g_a", "g_b"), "cosine")
      .filter(col("cosine") >= threshold)
    val cross = passing
      .join(groups.select(col("gid").as("g_a"), col("ids").as("ids_a")), Seq("g_a"))
      .join(groups.select(col("gid").as("g_b"), col("ids").as("ids_b")), Seq("g_b"))
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("cosine"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("cosine"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cosine"))
    // bit-identical vectors are near-dups by definition — cosine 1.0 for
    // any nonzero vector; all-zero pairs score 0.0 (the same zero-vector
    // guard VectorOps.cosine applies), so failed-embedding sentinels never
    // cluster as "duplicates"
    val intra = groups.filter(size(col("ids")) > 1)
      .withColumn("cosine",
        when(graft.functions.VectorExprs.dot(col("v"), col("v")) > 0, lit(1.0))
          .otherwise(lit(0.0)))
      .filter(col("cosine") >= threshold)
      .select(explode(col("ids")).as("ia"), col("ids"), col("cosine"))
      .select(col("ia"), explode(col("ids")).as("ib"), col("cosine"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), col("cosine"))
    cross.unionByName(intra).select("id_a", "id_b", "cosine")
  }

  /** The collapse + banded-sketch candidate stages of
    * [[embeddingNearDupPairs]], exposed so the candidate volume itself is
    * observable (DedupSpec asserts it tracks duplicate-cluster count, not
    * corpus² — the property that makes the operator usable at 100 TB).
    * Returns (distinct-vector groups, candidate gid pairs). */
  /** Plane-matrix elements above which the sketch expression carries the
    * matrix as a BROADCAST instead of an expression-node array: 2¹⁷ doubles
    * (1 MB serialized). Below it, the literal form avoids a broadcast
    * round-trip; above it (dim=768 at 16×16 is ~3.1 MB), every task binary
    * of every stage touching the projection would re-ship the matrix. */
  private[operators] val BroadcastPlanesThreshold: Int = 1 << 17

  /** Deterministic hyperplane matrix for (seed, dim, tables, r). */
  private def hyperplaneMatrix(dim: Int, tables: Int, planesPerTable: Int,
                               seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables * planesPerTable * dim)(rnd.nextGaussian())
  }

  /** Per-JVM cache of plane-matrix broadcasts, keyed on (applicationId,
    * dim, tables, planesPerTable, seed) — the matrix is deterministic in
    * those, so ONE broadcast serves both sides of an asymmetric admit call
    * and every micro-batch of a streaming admission loop (a fresh broadcast
    * per invocation accumulated undestroyed blocks on driver + executors
    * for the stream's whole lifetime). applicationId scopes entries to the
    * live SparkContext, so a restarted context (tests) never sees a stale
    * broadcast; dead-context entries are just map keys, not blocks. */
  private val planeBcCache = new scala.collection.concurrent.TrieMap[
    (String, Int, Int, Int, Long),
    org.apache.spark.broadcast.Broadcast[Array[Double]]]()

  /** Sketch column over `vec`, choosing literal vs broadcast plane
    * transport by matrix size ([[BroadcastPlanesThreshold]]). Same sketches
    * either way (DedupSpec gates bit-equality). */
  private[operators] def hyperplaneSketchCol(df: DataFrame, vec: Column,
      dim: Int, tables: Int, planesPerTable: Int, seed: Long): Column =
    if (dim.toLong * tables * planesPerTable > BroadcastPlanesThreshold) {
      val sc = df.sparkSession.sparkContext
      val bc = planeBcCache.getOrElseUpdate(
        (sc.applicationId, dim, tables, planesPerTable, seed),
        sc.broadcast(hyperplaneMatrix(dim, tables, planesPerTable, seed)))
      graft.functions.VectorExprs.hyperplaneSketchesBc(vec, bc, tables, planesPerTable)
    } else
      graft.functions.VectorExprs.hyperplaneSketches(vec,
        hyperplaneMatrix(dim, tables, planesPerTable, seed), tables, planesPerTable)

  def embeddingGroupsAndCandidates(df: DataFrame, id: Column, vec: Column,
                                   tables: Int = 16, planesPerTable: Int = 16,
                                   seed: Long = 42): (DataFrame, DataFrame) = {
    // max-aggregate, not head(): an empty corpus (or all-null vectors) must
    // yield empty frames, not a NoSuchElementException at plan build
    val dimRow = df.agg(max(size(vec))).head()
    val dim = if (dimRow.isNullAt(0)) 1 else dimRow.getInt(0)
    val docs = df.select(id.cast("long").as("vid"),
      vec.cast("array<double>").as("v"))
    // distinct-vector collapse (the q28 distinct-shingle-set lesson):
    // groups feed sketching, BOTH verify sides, and the id expansion.
    // gid = min doc id of the group — COLLISION-FREE group identity (ids
    // partition across groups, so min ids are distinct): at billions of
    // distinct vectors a 64-bit vector-hash gid would hit birthday
    // collisions (~n²/2⁶⁵) and silently conflate two groups' pair
    // expansions; min-id costs nothing extra here.
    val groups = CheckpointPolicy.pin(
      docs.groupBy("v").agg(collect_list("vid").as("ids"))
        .withColumn("gid", array_min(col("ids"))))
    val buckets = groups.select(col("gid"),
        posexplode(hyperplaneSketchCol(groups, col("v"), dim, tables,
          planesPerTable, seed)).as(Seq("tbl", "sk")))
    val cand = buckets.select(col("tbl"), col("sk"), col("gid").as("g_a"))
      .join(buckets.select(col("tbl"), col("sk"), col("gid").as("g_b")),
        Seq("tbl", "sk"))
      .filter(col("g_a") < col("g_b"))
      .select("g_a", "g_b")
      .dropDuplicates("g_a", "g_b")
    (groups, cand)
  }

  /** Daily-ingest admission — the INCREMENTAL dedup shape: a new batch is
    * admitted against an already-deduplicated historical corpus without
    * ever generating history×history pairs, so a day's increment costs
    * O(|batch| + candidates), not another full-corpus dedup. Three gates,
    * each a flag column (1 = duplicate, doc rejected):
    *
    *  - `exact_hist`: content fingerprint already in history (semi-join on
    *    the md5 fingerprint — 16-byte keys shuffle, not text);
    *  - `exact_batch`: an earlier-id doc in the SAME batch has the same
    *    fingerprint (min-id-per-fp window — first occurrence is admitted);
    *  - `near_hist`: SimHash within `maxHamming` of ANY history doc —
    *    asymmetric pigeonhole blocking: both sides collapse to DISTINCT
    *    fingerprints (history needs only existence, so it never
    *    re-expands), chunks join batch×history only, full-Hamming verify.
    *
    * `admitted = 1` iff all three are 0. Deterministic, and with
    * `portable = true` every gate is SQL-replayable (q65). */
  def incrementalAdmit(batch: DataFrame, history: DataFrame, id: Column,
                       text: Column, maxHamming: Int = 7,
                       portable: Boolean = false): DataFrame = {
    val bFp = batch.select(id.cast("long").as("doc_id"),
      TextOps.fingerprintMd5(text).as("fp"))
    val hFp = history.select(TextOps.fingerprintMd5(text).as("fp")).distinct()
    val exactHist = bFp.join(hFp, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(1L).as("exact_hist"))
    val wFp = Window.partitionBy("fp")
    val exactBatch = bFp
      .withColumn("__min", min("doc_id").over(wFp))
      .filter(col("doc_id") > col("__min"))
      .select(col("doc_id"), lit(1L).as("exact_batch"))
    // near-dup vs history: distinct fingerprints on BOTH sides (the q29
    // duplicate-cluster lesson); history stays collapsed — only the batch
    // side re-expands to doc ids. MIH blocking (simhashBlockingPlan): the
    // probe expansion rides the BATCH side — the small one; history, the
    // side that grows forever, carries exact chunk values only.
    val (bounds, q) = simhashBlockingPlan(maxHamming)
    def probesOf(fps: DataFrame): DataFrame =
      fps.select(col("sh"),
          explode(array(probeChunkStructs(col("sh"), bounds, q): _*)).as("c"))
        .select(col("sh"), col("c.chunk").as("chunk"), col("c.ck").as("ck"))
    def exactOf(fps: DataFrame): DataFrame =
      fps.select(col("sh"),
          explode(array(exactChunkStructs(col("sh"), bounds): _*)).as("c"))
        .select(col("sh"), col("c.chunk").as("chunk"), col("c.ck").as("ck"))
    val bSh = simhashFingerprints(batch, id, text, portable)
    val bGroups = CheckpointPolicy.pin( // feeds the chunk explode AND the id re-expansion
      bSh.groupBy("sh").agg(collect_list("doc_id").as("ids")))
    val hSh = CheckpointPolicy.pin(simhashFingerprints(history, id, text, portable)
      .select("sh").distinct())
    val nearFps = probesOf(bGroups.select("sh"))
      .join(exactOf(hSh).select(col("chunk"), col("ck"), col("sh").as("sh_h")),
        Seq("chunk", "ck"))
      .filter(hamming64(col("sh"), col("sh_h")) <= maxHamming)
      .select("sh").distinct()
    val nearHist = bGroups.join(nearFps, Seq("sh"), "left_semi")
      .select(explode(col("ids")).as("doc_id"), lit(1L).as("near_hist"))
    bFp.select("doc_id")
      .join(exactHist, Seq("doc_id"), "left")
      .join(exactBatch, Seq("doc_id"), "left")
      .join(nearHist, Seq("doc_id"), "left")
      .na.fill(0L, Seq("exact_hist", "exact_batch", "near_hist"))
      .withColumn("admitted",
        when(col("exact_hist") + col("exact_batch") + col("near_hist") === 0L,
          1L).otherwise(0L))
  }

  /** Daily-ingest admission for an EMBEDDED corpus — the semantic twin of
    * [[incrementalAdmit]]: a batch of vectors is admitted against an
    * already-deduplicated embedded history without ever generating
    * history×history pairs. Same three gates, vector semantics:
    *
    *  - `exact_hist`: bit-identical vector already in history (semi-join on
    *    the vector over DISTINCT sides — at 100 TB this is the only gate
    *    that moves vectors, and only the distinct sets);
    *  - `exact_batch`: an earlier-id doc in the SAME batch has the
    *    bit-identical vector (min-id per distinct vector is admitted);
    *  - `near_hist`: exact cosine ≥ `threshold` against ANY history vector,
    *    candidates from banded multi-table hyperplane LSH applied
    *    ASYMMETRICALLY — both sides collapse to distinct vectors, history
    *    never re-expands to ids (its min id serves only as a collision-free
    *    group key), the bucket join carries (table, sketch, gid) pairs
    *    only, and every candidate is exact-cosine verified, so false
    *    candidates never reject a doc. Bit-identical batch×history vectors
    *    collide in every table and verify at cosine 1.0, mirroring the text
    *    gate's hamming-0 ⊆ near semantics (zero-vector sentinels score 0.0
    *    and stay admissible, the [[embeddingNearDupPairs]] guard).
    *
    * `admitted = 1` iff all three gates are 0. Per-batch cost is
    * O(|batch| + candidates); LSH recall (≥0.999/pair at the 16×16
    * default on near-threshold pairs) is gated by q80's planted fixture. */
  def embeddingIncrementalAdmit(batch: DataFrame, history: DataFrame,
                                id: Column, vec: Column,
                                threshold: Double = 0.95, tables: Int = 16,
                                planesPerTable: Int = 16, seed: Long = 42): DataFrame = {
    val b = batch.select(id.cast("long").as("doc_id"),
      vec.cast("array<double>").as("v"))
    // distinct-vector collapse on BOTH sides (the q29 duplicate-cluster
    // lesson); gid/hgid = min id per group — collision-free group identity
    val bGroups = CheckpointPolicy.pin( // feeds exact gates, sketches, AND id re-expansion
      b.groupBy("v").agg(collect_list("doc_id").as("ids"))
        .withColumn("gid", array_min(col("ids"))))
    val hGroups = CheckpointPolicy.pin( // feeds the exact semi-join, sketches, and verify
      history
        .select(id.cast("long").as("hid"), vec.cast("array<double>").as("v"))
        .groupBy("v").agg(min("hid").as("hgid")))
    val exactHist = bGroups.join(hGroups.select("v"), Seq("v"), "left_semi")
      .select(explode(col("ids")).as("doc_id"), lit(1L).as("exact_hist"))
    val exactBatch = bGroups
      .select(col("gid"), explode(col("ids")).as("doc_id"))
      .filter(col("doc_id") > col("gid"))
      .select(col("doc_id"), lit(1L).as("exact_batch"))
    // max-aggregate, not head(): an empty increment (a day with no new
    // vectors) or an all-null-vector batch must flow through like the text
    // twin does — head() on zero rows threw at plan-build time. With no
    // measurable dim there is nothing to sketch: the near gate is empty.
    val dimRow = b.agg(max(size(col("v")))).head()
    val nearHist: DataFrame = if (dimRow.isNullAt(0))
      b.select(col("doc_id"), lit(1L).as("near_hist")).limit(0)
    else {
      val dim = dimRow.getInt(0)
      val bBuckets = bGroups.select(col("gid"),
        posexplode(hyperplaneSketchCol(bGroups, col("v"), dim, tables,
          planesPerTable, seed)).as(Seq("tbl", "sk")))
      val hBuckets = hGroups.select(col("hgid"),
        posexplode(hyperplaneSketchCol(hGroups, col("v"), dim, tables,
          planesPerTable, seed)).as(Seq("tbl", "sk")))
      // candidate (batch group, history group) pairs — ids only in the bucket
      // join and the distinct; vectors re-attach once per distinct pair
      val cand = bBuckets.join(hBuckets, Seq("tbl", "sk"))
        .select("gid", "hgid")
        .dropDuplicates("gid", "hgid")
      val nearGids = cand
        .join(bGroups.select(col("gid"), col("v")), Seq("gid"))
        .join(hGroups.select(col("hgid"), col("v").as("hv")), Seq("hgid"))
        .withColumn("__cos", VectorOps.cosine(col("v"), col("hv")))
        .filter(col("__cos") >= threshold)
        .select("gid").distinct()
      bGroups.join(nearGids, Seq("gid"), "left_semi")
        .select(explode(col("ids")).as("doc_id"), lit(1L).as("near_hist"))
    }
    b.select("doc_id")
      .join(exactHist, Seq("doc_id"), "left")
      .join(exactBatch, Seq("doc_id"), "left")
      .join(nearHist, Seq("doc_id"), "left")
      .na.fill(0L, Seq("exact_hist", "exact_batch", "near_hist"))
      .withColumn("admitted",
        when(col("exact_hist") + col("exact_batch") + col("near_hist") === 0L,
          1L).otherwise(0L))
  }

  /** Corpus-level duplicated-segment removal (the C4/CCNet recipe: CCNet
    * drops paragraphs whose normalized hash repeats across the crawl; C4
    * drops any three-sentence span seen before — reference
    * `core/dedup.py:1` is the whole-document analogue). Documents are cut
    * into consecutive non-overlapping `segLen`-token segments (the last
    * one may be shorter); a segment whose fingerprint occurs in MORE THAN
    * `maxDocs` distinct documents is removed from every document that
    * contains it, and each document is reassembled from its surviving
    * segments in order.
    *
    * Scale shape: segment text never shuffles. Per-segment xxhash64
    * fingerprints are computed in the scan projection; corpus document
    * frequency is one partial-aggregatable distinct-count over 8-byte
    * hashes; the drop set flows back as (doc_id, dropped segment indexes)
    * — output-sized, duplicated mass only — and the rebuild slices the
    * original token array locally. Shuffled bytes are O(#segments × 16)
    * regardless of document size, and a 100 TB corpus aggregates
    * fingerprints map-side before the exchange.
    *
    * Output per document: token/segment counts, dropped-segment count,
    * kept token count, and an md5 digest of the reassembled text (content
    * check, not just counts). */
  def segmentDedup(df: DataFrame, id: Column, toks: Column,
                   segLen: Int = 8, maxDocs: Int = 1): DataFrame = {
    require(segLen >= 1, "segment length must be >= 1")
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val (base, segs) = segmented(df, id, toks, segLen)
    val dupHashes = segs.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") > maxDocs).select("h")
    rebuildDropping(base, segs, dupHashes, segLen)
  }

  /** [[segmentDedup]] against an accumulated HISTORY of segment document
    * frequencies — the continuous-ingest form: a batch segment is dropped
    * when (its distinct-doc count within the batch) + (the history count
    * for its fingerprint) exceeds `maxDocs`. Returns (cleaned docs — the
    * [[segmentDedup]] schema — and the batch's own (h, n_docs) frequency
    * frame to append to history). History never re-expands to text: it is
    * 16 bytes per distinct segment fingerprint. */
  def segmentDedupAgainstHistory(df: DataFrame, id: Column, toks: Column,
                                 historyCounts: DataFrame, segLen: Int = 8,
                                 maxDocs: Int = 1): (DataFrame, DataFrame) = {
    require(segLen >= 1, "segment length must be >= 1")
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val (base, segs) = segmented(df, id, toks, segLen)
    val batchCounts = segs.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val dupHashes = batchCounts
      .join(historyCounts.groupBy("h").agg(sum("n_docs").as("__hist")),
        Seq("h"), "left")
      .filter(col("n_docs") + coalesce(col("__hist"), lit(0L)) > maxDocs)
      .select("h")
    (rebuildDropping(base, segs, dupHashes, segLen), batchCounts)
  }

  /** (base docs with token arrays + segment counts, exploded (doc_id,
    * seg_idx, fingerprint) rows). The sequence is guarded: Spark's two-arg
    * sequence(0, -1) counts DOWN, so an empty doc must not reach it. */
  private def segmented(df: DataFrame, id: Column, toks: Column,
                        segLen: Int): (DataFrame, DataFrame) = {
    val base = df.select(id.cast("long").as("doc_id"), toks.as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("n_segments",
        ceil(col("n_tokens").cast("double") / segLen).cast("long"))
    val segs = base
      .select(col("doc_id"), posexplode(transform(segIdxCol(segLen),
        i => xxhash64(concat_ws(" ", slice(col("__toks"), i * segLen + 1, lit(segLen)))))))
      .select(col("doc_id"), col("pos").cast("int").as("seg_idx"), col("col").as("h"))
    (base, segs)
  }

  private def segIdxCol(segLen: Int): Column =
    when(col("n_segments") > 0,
      sequence(lit(0), (col("n_segments") - 1).cast("int")))
      .otherwise(array().cast("array<int>"))

  /** Join the drop set back as per-doc index arrays and reassemble each
    * document from its surviving segments (token arrays sliced locally —
    * text never shuffles). */
  private def rebuildDropping(base: DataFrame, segs: DataFrame,
                              dupHashes: DataFrame, segLen: Int): DataFrame = {
    val dropped = segs.join(dupHashes, Seq("h"))
      .groupBy("doc_id").agg(collect_set(col("seg_idx")).as("__drop"))
    val kept = flatten(transform(
      filter(segIdxCol(segLen), i => !array_contains(coalesce(col("__drop"),
        array().cast("array<int>")), i)),
      i => slice(col("__toks"), i * segLen + 1, lit(segLen))))
    base.join(dropped, Seq("doc_id"), "left")
      .withColumn("__kept", kept)
      .select(col("doc_id"), col("n_tokens"), col("n_segments"),
        coalesce(size(col("__drop")), lit(0)).cast("long").as("n_dropped_segments"),
        size(col("__kept")).cast("long").as("n_kept_tokens"),
        md5(concat_ws(" ", col("__kept")).cast("binary")).as("kept_md5"))
  }
}
