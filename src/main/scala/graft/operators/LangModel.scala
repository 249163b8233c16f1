package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model scoring — the CCNet-style quality signal: train a
  * smoothed bigram LM on a trusted reference slice of the corpus (e.g. the
  * language-ID'd high-confidence subset), then score every document by its
  * per-token cross-entropy under that model. Low cross-entropy ≈ fluent,
  * in-distribution text; high ≈ boilerplate, gibberish, or wrong-language —
  * the standard perplexity-bucket filter for pretraining corpora
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
  * from Web Crawl Data", 2020 — public method; implementation here is an
  * add-one bigram LM rather than KenLM, chosen for exact oracle
  * replayability).
  *
  * Model (Laplace / add-one smoothing, V = reference vocabulary size):
  * {{{
  *   p_uni(w)      = (c(w) + 1) / (T + V)          T = reference token count
  *   p_bi(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V)  unseen w1 → 1 / V-ish mass
  *   H(doc) = -(ln p_uni(w_1) + Σ_{i≥2} ln p_bi(w_i | w_{i-1})) / n
  * }}}
  *
  * 100 TB shape: two corpus scans (one to count, one to score) and
  * token-keyed shuffles only — the unigram/bigram count tables hold the
  * REFERENCE VOCABULARY, not the corpus, so for natural-language vocab
  * sizes AQE broadcasts them and scoring is scan-speed; at worst they
  * sort-merge join on 1–2 string keys. Totals (T, V) ride a broadcast
  * cross join, never a driver collect. Document text is exploded to
  * tokens exactly once per scan; no UDFs — `element_at`/`sequence`
  * projections keep the whole pipeline in codegen.
  */
object LangModel {

  /** Per-document cross-entropy under an add-one bigram LM trained on the
    * `isRef` rows. Output: (doc_id, n_tokens, ce) — empty-token documents
    * emit nothing (no tokens ⇒ no entropy to measure); `ce` rounded to 6
    * decimals for engine-portable comparison. */
  def bigramCrossEntropy(df: DataFrame, id: Column, toks: Column,
                         isRef: Column): DataFrame = {
    val base = df.select(id.cast("long").as("doc_id"), toks.as("__toks"),
      isRef.cast("boolean").as("__ref"))

    // --- train: reference counts -------------------------------------
    val refToks = base.filter(col("__ref"))
      .select(explode(col("__toks")).as("w"))
    val uni = refToks.groupBy("w").agg(count(lit(1)).as("cu"))
    val totals = uni.agg(sum("cu").cast("double").as("t"),
      count(lit(1)).cast("double").as("v"))

    val refBi = base.filter(col("__ref") && size(col("__toks")) >= 2)
      .select(col("__toks"),
        explode(sequence(lit(2), size(col("__toks")))).as("i"))
      .select(element_at(col("__toks"), col("i") - 1).as("w1"),
        element_at(col("__toks"), col("i")).as("w2"))
    val bi = refBi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))

    // --- score: every non-empty document ------------------------------
    val scored = base.filter(size(col("__toks")) >= 1)
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        col("__toks"))

    // first token under the unigram model
    val first = scored
      .select(col("doc_id"), element_at(col("__toks"), 1).as("w"))
      .join(uni, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (-log((coalesce(col("cu"), lit(0L)).cast("double") + 1.0) /
          (col("t") + col("v")))).as("__h1"))

    // tokens 2..n under the bigram model, conditioned on their predecessor
    val rest = scored.filter(col("n_tokens") >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(2), size(col("__toks")))).as("i"), col("__toks"))
      .select(col("doc_id"),
        element_at(col("__toks"), col("i") - 1).as("w1"),
        element_at(col("__toks"), col("i")).as("w2"))
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cu", "cu1"),
        Seq("w1"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (-log((coalesce(col("cb"), lit(0L)).cast("double") + 1.0) /
          (coalesce(col("cu1"), lit(0L)).cast("double") + col("v")))).as("__h"))
      .groupBy("doc_id").agg(sum("__h").as("__hrest"))

    scored.select(col("doc_id"), col("n_tokens"))
      .join(first, Seq("doc_id"))
      .join(rest, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round((col("__h1") + coalesce(col("__hrest"), lit(0.0))) /
          col("n_tokens").cast("double"), 6).as("ce"))
  }

  /** The CCNet CUT on top of [[bigramCrossEntropy]]: per-language
    * equal-mass perplexity buckets (Wenzek et al. 2020 §4.3 — head /
    * middle / tail thirds of the per-language cross-entropy
    * distribution; CCNet keeps head+middle and drops the tail). Bucket
    * assignment is `ntile(nBuckets)` over the deterministic total order
    * (ce, doc_id) within each language — rank-based, so it replays
    * exactly cross-engine with no threshold-interpolation convention to
    * match. Output: (doc_id, lang, n_tokens, ce, bucket ∈ 1..nBuckets,
    * keep = bucket < nBuckets as a BIGINT flag).
    *
    * 100 TB shape: scoring is [[bigramCrossEntropy]]'s scan-speed plan;
    * the cut is ONE window partitioned by language over (doc_id, ce)
    * pairs — 16 bytes of payload per doc, not the text. Languages are
    * the partition keys, so a skewed corpus (90% English) makes one big
    * sort partition: at real scale swap the exact ntile for cutoffs
    * served by the bottom-k rank sketch ([[Sketches.rankQuantiles]] per
    * language, broadcast compare — rank error ≤ 4.3% at k=4096, far
    * inside CCNet's bucket tolerance); the exact rank form here is what
    * the oracle can replay verbatim. */
  def perplexityBuckets(df: DataFrame, id: Column, toks: Column,
                        isRef: Column, lang: Column,
                        nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"nBuckets >= 2: $nBuckets")
    val ce = bigramCrossEntropy(df, id, toks, isRef)
    val langs = df.select(id.cast("long").as("doc_id"), lang.as("lang"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("ce"), col("doc_id"))
    ce.join(langs, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("ce"),
        ntile(nBuckets).over(w).cast("long").as("bucket"))
      .withColumn("keep", (col("bucket") < nBuckets).cast("long"))
  }

  /** Per-document cross-entropy under an interpolated Kneser–Ney TRIGRAM
    * LM trained on the `isRef` rows — the estimator class real
    * perplexity-bucket filters use (CCNet ships KenLM's modified KN;
    * this is standard interpolated KN with absolute discounting, chosen
    * because every quantity is an integer count or a ratio of integer
    * counts, so the whole model replays EXACTLY across engines — the gap
    * add-one smoothing leaves is real: add-one butchers the probability
    * of frequent continuations, KN's continuation counts do not).
    *
    * Model (all counts from the reference slice; trigram contexts never
    * cross document boundaries):
    * {{{
    *   D3 = n1/(n1 + 2·n2)  over trigram counts   (0.5 when no mass)
    *   D2 = n1/(n1 + 2·n2)  over the middle-order continuation counts
    *   Pc(c)       = (N2(·,c) + 1) / (B + V + 1)      B = distinct bigrams,
    *                                                  V = distinct unigrams
    *                                                  (+1s fold OOV mass)
    *   P(c | b)    = max(N3(·,b,c) − D2, 0)/N3(·,b,·)
    *                 + D2·|{c: N3(·,b,c)>0}|/N3(·,b,·) · Pc(c)
    *                 (unseen b → Pc(c))
    *   P(c | a,b)  = max(c3(a,b,c) − D3, 0)/c3(a,b,·)
    *                 + D3·|{c: c3(a,b,c)>0}|/c3(a,b,·) · P(c | b)
    *                 (unseen (a,b) → P(c | b))
    *   ce(doc) = −(Σ_{i≥3} ln P(w_i | w_{i-2}, w_{i-1})) / n_trigrams
    * }}}
    *
    * 100 TB shape: count tables are REFERENCE-VOCABULARY-sized (broadcast
    * or 1–2-key sort-merge joins), totals/discounts ride broadcast cross
    * joins, scoring is one explode + five hash joins — scan-speed like
    * [[bigramCrossEntropy]]. Documents with fewer than 3 tokens emit
    * nothing (no trigram to measure). Output:
    * (doc_id, n_trigrams, ce) with `ce` rounded to 6. */
  def knTrigramCrossEntropy(df: DataFrame, id: Column, toks: Column,
                            isRef: Column): DataFrame = {
    val base = df.select(id.cast("long").as("doc_id"), toks.as("__toks"),
      isRef.cast("boolean").as("__ref"))
    val ref = base.filter(col("__ref"))

    def ngrams(src: DataFrame, n: Int, names: Seq[String],
               keep: Column*): DataFrame =
      src.filter(size(col("__toks")) >= n)
        .select((keep :+ explode(sequence(lit(n), size(col("__toks"))))
          .as("i")) :+ col("__toks"): _*)
        .select(keep ++ names.zipWithIndex.map { case (nm, j) =>
          element_at(col("__toks"), col("i") - (n - 1 - j)).as(nm)
        }: _*)

    // --- train ---------------------------------------------------------
    // trigram counts feed the context table, the continuation table, the
    // discount census, and the scoring join — pin once
    val tri = CheckpointPolicy.pin(ngrams(ref, 3, Seq("a", "b", "c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("c3")))
    val ctx2 = tri.groupBy("a", "b")
      .agg(sum("c3").as("den3"), count(lit(1)).as("uniq3"))
    // middle order: continuation counts N3(·,b,c) = distinct preceding a
    val mid = CheckpointPolicy.pin(tri.groupBy("b", "c").agg(count(lit(1)).as("n3bc")))
    val ctx1 = mid.groupBy("b")
      .agg(sum("n3bc").as("den2"), count(lit(1)).as("uniq2"))
    val bi = CheckpointPolicy.pin(ngrams(ref, 2, Seq("b", "c"))
      .groupBy("b", "c").agg(count(lit(1)).as("cb")))
    val unic = bi.groupBy("c").agg(count(lit(1)).as("n2c"))
    val totals = bi.agg(count(lit(1)).cast("double").as("bb"))
      .crossJoin(ref.select(explode(col("__toks")).as("w"))
        .agg(countDistinct("w").cast("double").as("v")))

    def discount(counts: DataFrame, c: Column): DataFrame =
      counts.agg(
        sum(when(c === 1, 1L).otherwise(0L)).cast("double").as("n1"),
        sum(when(c === 2, 1L).otherwise(0L)).cast("double").as("n2"))
        .select(when(col("n1") + lit(2.0) * col("n2") > 0,
          col("n1") / (col("n1") + lit(2.0) * col("n2"))).otherwise(0.5).as("dd"))
    val d3 = discount(tri, col("c3")).withColumnRenamed("dd", "dd3")
    val d2 = discount(mid, col("n3bc")).withColumnRenamed("dd", "dd2")

    // --- score ---------------------------------------------------------
    val joined = ngrams(base, 3, Seq("a", "b", "c"), col("doc_id"))
      .join(tri, Seq("a", "b", "c"), "left")
      .join(ctx2, Seq("a", "b"), "left")
      .join(mid, Seq("b", "c"), "left")
      .join(ctx1, Seq("b"), "left")
      .join(unic, Seq("c"), "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(d3))
      .crossJoin(broadcast(d2))
    val p1 = (coalesce(col("n2c"), lit(0L)).cast("double") + 1.0) /
      (col("bb") + col("v") + 1.0)
    val den2 = coalesce(col("den2"), lit(0L)).cast("double")
    val p2 = when(den2 > 0,
      greatest(coalesce(col("n3bc"), lit(0L)).cast("double") - col("dd2"),
        lit(0.0)) / den2 +
        col("dd2") * coalesce(col("uniq2"), lit(0L)).cast("double") / den2 * p1)
      .otherwise(p1)
    val den3 = coalesce(col("den3"), lit(0L)).cast("double")
    val p3 = when(den3 > 0,
      greatest(coalesce(col("c3"), lit(0L)).cast("double") - col("dd3"),
        lit(0.0)) / den3 +
        col("dd3") * coalesce(col("uniq3"), lit(0L)).cast("double") / den3 * p2)
      .otherwise(p2)
    joined.select(col("doc_id"), (-log(p3)).as("__h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_trigrams"),
        round(sum("__h") / count(lit(1)).cast("double"), 6).as("ce"))
  }
}
