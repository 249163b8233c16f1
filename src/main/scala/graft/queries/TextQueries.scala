package graft.queries

import graft.Tables
import graft.functions.TextOps
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.servedQ165Edges

/** Text curation and dedup: quality rules and gates, language ID,
  * fingerprints, near-dup pairs and clusters, contamination scans, PII
  * redaction and the composed curation pipelines. */
object TextQueries {

  /** Exact content dedup groups (md5 of normalized text, min-id keeper). */
  def q10DedupGroups(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(TextOps.fingerprintMd5(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
      .orderBy("fp")

  private def normText = "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')"

  def q10Sql = s"""
    SELECT md5($normText) AS fp, min(doc_id) AS keep_id, count(*) AS dups
    FROM documents GROUP BY 1 ORDER BY 1"""

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

  // Ratios mirror TextOps: count via length-difference after class removal.
  def q12Sql = """
    WITH t AS (
      SELECT doc_id, text, length(text) AS n,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents)
    SELECT doc_id,
           round(CASE WHEN n = 0 THEN 0.0 ELSE
             (n - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE / n END, 6) AS punct_ratio,
           round(CASE WHEN n = 0 THEN 0.0 ELSE
             (n - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / n END, 6) AS digit_ratio,
           round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this','are','from'], x)))::DOUBLE
             / len(toks) END, 6) AS stopword_ratio,
           round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) END, 6) AS mean_tok_len
    FROM t ORDER BY doc_id"""

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

  // Language-ID: CJK codepoint-ratio branch + marker-word argmax, generated
  // from the SAME TextOps.LangMarkers lexicons so both sides stay in sync.
  // Tie order mirrors Spark's struct-max: highest hits, then lexicographically
  // smallest language code (the CASE checks codes in sorted order).
  def q13Sql: String = {
    val toksLower = """CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      ELSE regexp_split_to_array(trim(lower(text)), '\s+') END"""
    val langs = graft.functions.TextOps.LangMarkers.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (code, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, t -> list_contains($list, t))) AS h_$code"
    }.mkString(", ")
    val gExpr = langs.map { case (code, _) => s"h_$code" }.mkString("greatest(", ", ", ")")
    val caseArms = langs.map { case (code, _) => s"WHEN h_$code = g THEN '$code'" }.mkString(" ")
    s"""
    WITH t AS (
      SELECT $toksLower AS toks, length(text) AS n,
             length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS n_han,
             length(text) - length(regexp_replace(text, '[぀-ヿ]', '', 'g')) AS n_kana,
             length(text) - length(regexp_replace(text, '[가-힣]', '', 'g')) AS n_hang
      FROM documents),
    h AS (SELECT n, n_han, n_kana, n_hang, $hitCols FROM t),
    s AS (SELECT *, $gExpr AS g FROM h),
    pred AS (
      SELECT CASE
               WHEN n > 0 AND (n_han + n_kana + n_hang) * 10 >= n * 3 THEN
                 CASE WHEN n_kana * 20 >= n THEN 'ja'
                      WHEN n_hang > n_han THEN 'ko'
                      ELSE 'zh' END
               WHEN g = 0 THEN 'und'
               $caseArms
             END AS lang_pred
      FROM s)
    SELECT lang_pred, count(*) AS n FROM pred GROUP BY lang_pred ORDER BY lang_pred"""
  }

  /** Document fingerprints (md5 + rolling polynomial hash). */
  def q14Fingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp_md5"))
      .orderBy("doc_id")

  def q14Sql = s"""
    SELECT doc_id, md5($normText) AS fp_md5
    FROM documents ORDER BY doc_id"""

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

  private def ngrams3 = s"""
    CASE WHEN length($normText) < 3 THEN [$normText]
         ELSE list_distinct(list_transform(generate_series(1, length($normText) - 2),
                i -> substring($normText, i, 3))) END"""

  def q15Sql = s"""
    WITH g AS (SELECT doc_id, lang, source, $ngrams3 AS g FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CASE WHEN len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) = 0 THEN 0.0
                   ELSE len(list_intersect(a.g, b.g))::DOUBLE
                        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))::DOUBLE END, 6) AS jaccard
      FROM g a JOIN g b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, jaccard FROM pairs
    WHERE jaccard >= 0.5
    ORDER BY id_a, id_b"""

  /** MinHash + LSH near-dup candidate pairs, Jaccard-verified. */
  def q28MinhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashDedupPairs(Tables.documents(s, d), col("doc_id"), col("text"),
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .orderBy("id_a", "id_b")

  // MinHash near-dup pairs: the oracle is the EXACT all-pairs word-3-shingle
  // Jaccard >= 0.5 set. Equality holds because banded LSH (16 bands x 4
  // rows) catches every fixture pair at these similarities — verified per
  // scale factor; a genuinely borderline pair (j ~ 0.5) could be missed by
  // LSH with p ~ 0.36, which would surface as a red row, not silently.
  def q28Sql = """
    WITH t AS (SELECT doc_id,
                      CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                           ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
          FROM t),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS na, len(b.sh) AS nb
      FROM g a JOIN g b ON a.doc_id < b.doc_id),
    j AS (SELECT id_a, id_b,
                 round(CASE WHEN na + nb - inter = 0 THEN 0.0
                       ELSE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) END, 6) AS jaccard
          FROM pairs)
    SELECT id_a, id_b, jaccard FROM j
    WHERE jaccard >= 0.5
    ORDER BY id_a, id_b"""

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
      maxHamming = 7, portable = true)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")

  // SimHash pairs, replayed from scratch: q29 runs in portable-hash mode
  // (token hash = first 8 bytes of md5, big-endian — exactly the integer
  // parsed from the first 16 hex digits of md5(token)), so the oracle can
  // rebuild every fingerprint bit-for-bit: per-token bit votes from the hex
  // digits (bit i lives in digit 16 - i//4 at in-nibble position i%4), sign
  // of each bit's total, then ALL-PAIRS hamming ≤ 7 — an exhaustive ground
  // truth that also proves the blocked pipeline's candidate recall is 1.0.
  def q29Sql = """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(nt)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(nt), '\s+') END AS toks
      FROM (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS nt
            FROM documents)),
    tok AS (SELECT doc_id, md5(unnest(toks)) AS m FROM t WHERE len(toks) > 0),
    votes AS (
      SELECT doc_id, b.i,
             sum(CASE WHEN ((CAST(strpos('0123456789abcdef',
                              substring(m, 16 - b.i // 4, 1)) - 1 AS INT)
                             >> (b.i % 4)) & 1) = 1
                      THEN 1 ELSE -1 END) AS s
      FROM tok, generate_series(0, 63) b(i)
      GROUP BY doc_id, b.i),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN
                     CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                          ELSE CAST(CAST(1 AS BIGINT) << i AS HUGEINT) END
                   ELSE 0 END) AS BIGINT) AS sh
      FROM votes GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 7
    ORDER BY id_a, id_b"""

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

  // Contamination: corpus docs sharing any word 5-shingle with the
  // benchmark set (doc_id < 10). String shingles here; the Spark side uses
  // xxhash64 of the same shingles (distinct counts agree — 64-bit
  // collisions are ~n²/2⁶⁵).
  def q43Sql = """
    WITH t AS (SELECT doc_id,
                      CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                           ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(generate_series(1, len(toks) - 4),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) END AS sh
          FROM t),
    bench AS (SELECT DISTINCT unnest(sh) AS s FROM g WHERE doc_id < 10),
    corpus AS (SELECT doc_id, unnest(sh) AS s FROM g WHERE doc_id >= 10)
    SELECT doc_id, count(DISTINCT s) AS n_shared
    FROM corpus WHERE s IN (SELECT s FROM bench)
    GROUP BY doc_id ORDER BY doc_id"""

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
    val pairs = Dedup.minhashDedupPairs(docs, col("doc_id"), col("text"),
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
    Dedup.clusters(pairs, docs.select("doc_id"))
      .orderBy("doc_id")
  }

  // Connected components over the q28 pair set (proven equal to the LSH
  // output): recursive label closure, then min label per doc. `pairs` is
  // the q28 oracle body minus its final ORDER BY.
  def q44Sql: String = {
    val pairsBody = q28Sql.trim.stripSuffix("ORDER BY id_a, id_b").trim
    s"""
    WITH RECURSIVE pr AS ($pairsBody),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
    lbl(id, label) AS (
        SELECT doc_id, doc_id FROM documents
      UNION
        SELECT e.src, l.label FROM edges e JOIN lbl l ON l.id = e.dst
    )
    SELECT id AS doc_id, min(label) AS cluster_id
    FROM lbl GROUP BY id ORDER BY doc_id"""
  }

  /** Gopher-style corpus quality gate: per-document rule flags (word-count
    * bounds, mean word length, stopword evidence, punctuation density) as
    * 1/0 BIGINTs — one codegen'd projection pass, no shuffle. */
  def q45QualityGate(s: SparkSession, d: String): DataFrame =
    QualityRules.gopherFlags(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy("doc_id")

  // Gopher-rule flags: thresholds compare UNROUNDED ratios on both sides;
  // every ratio is an exact IEEE division of integer aggregates, so the
  // boundary decisions are bit-identical across engines.
  def q45Sql = """
    WITH t AS (
      SELECT doc_id, text, length(text) AS n,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents),
    f AS (
      SELECT doc_id, len(toks) AS nw,
             CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) END AS mwl,
             len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this','are','from'], x))) AS stop_hits,
             CASE WHEN n = 0 THEN 0.0 ELSE
               (n - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE / n END AS punct
      FROM t)
    SELECT doc_id,
           CAST(CASE WHEN nw BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS w_ok,
           CAST(CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS BIGINT) AS mwl_ok,
           CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS stop_ok,
           CAST(CASE WHEN punct <= 0.1 THEN 1 ELSE 0 END AS BIGINT) AS punct_ok,
           CAST(CASE WHEN nw BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
                      AND stop_hits >= 2 AND punct <= 0.1
                THEN 1 ELSE 0 END AS BIGINT) AS pass
    FROM f ORDER BY doc_id"""

  /** Repetition ratios (Gopher's "repetitious content" rules): top-word
    * fraction + duplicate 2-/3-gram fractions per document. */
  def q46Repetition(s: SparkSession, d: String): DataFrame =
    QualityRules.repetitionStats(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy("doc_id")

  // Repetition ratios: the Spark side distinct-counts n-grams via sorted
  // xxhash64 shingles (collision odds ~n²/2⁶⁵ — q43 precedent); the oracle
  // distinct-counts the strings themselves. Word counts aggregate exactly.
  def q46Sql = """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      FROM documents),
    nz AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
    w AS (SELECT doc_id, unnest(toks) AS w FROM nz),
    wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
    top AS (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS twf
            FROM wc GROUP BY doc_id),
    g AS (SELECT doc_id,
            CASE WHEN len(toks) < 2 THEN 0.0 ELSE
              1.0 - len(list_distinct(list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1])))::DOUBLE
                    / (len(toks) - 1)::DOUBLE END AS d2,
            CASE WHEN len(toks) < 3 THEN 0.0 ELSE
              1.0 - len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))::DOUBLE
                    / (len(toks) - 2)::DOUBLE END AS d3
          FROM nz)
    SELECT g.doc_id,
           round(twf, 6) AS top_word_frac,
           round(d2, 6) AS dup_2gram_frac,
           round(d3, 6) AS dup_3gram_frac
    FROM g JOIN top ON g.doc_id = top.doc_id
    ORDER BY g.doc_id"""

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
        maxHamming = 7, portable = true)
      .orderBy("doc_id")
  }

  // Incremental dedup admission: md5 exact gates + ALL-PAIRS batch×history
  // portable-SimHash Hamming as the near-dup ground truth (the Spark side
  // used asymmetric pigeonhole blocking — equality proves its recall).
  def q65Sql = s"""
    WITH t AS (
      SELECT doc_id, md5($normText) AS fp,
             CASE WHEN length(trim(nt)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(nt), '\\s+') END AS toks
      FROM (SELECT doc_id, text, $normText AS nt FROM documents)),
    tok AS (SELECT doc_id, md5(unnest(toks)) AS m FROM t WHERE len(toks) > 0),
    votes AS (
      SELECT doc_id, b.i,
             sum(CASE WHEN ((CAST(strpos('0123456789abcdef',
                              substring(m, 16 - b.i // 4, 1)) - 1 AS INT)
                             >> (b.i % 4)) & 1) = 1
                      THEN 1 ELSE -1 END) AS s
      FROM tok, generate_series(0, 63) b(i)
      GROUP BY doc_id, b.i),
    shf AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN
                     CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                          ELSE CAST(CAST(1 AS BIGINT) << i AS HUGEINT) END
                   ELSE 0 END) AS BIGINT) AS sh
      FROM votes GROUP BY doc_id),
    b AS (SELECT doc_id, fp FROM t WHERE doc_id % 4 = 0),
    h AS (SELECT doc_id, fp FROM t WHERE doc_id % 4 <> 0),
    flags AS (
      SELECT b.doc_id,
             CASE WHEN b.fp IN (SELECT fp FROM h) THEN 1 ELSE 0 END AS exact_hist,
             CASE WHEN EXISTS (SELECT 1 FROM b b2
                               WHERE b2.fp = b.fp AND b2.doc_id < b.doc_id)
                  THEN 1 ELSE 0 END AS exact_batch,
             CASE WHEN EXISTS (SELECT 1 FROM shf bs, shf hs
                               WHERE bs.doc_id = b.doc_id
                                 AND hs.doc_id % 4 <> 0
                                 AND bit_count(xor(bs.sh, hs.sh)) <= 7)
                  THEN 1 ELSE 0 END AS near_hist
      FROM b)
    SELECT doc_id, CAST(exact_hist AS BIGINT) AS exact_hist,
           CAST(exact_batch AS BIGINT) AS exact_batch,
           CAST(near_hist AS BIGINT) AS near_hist,
           CAST(CASE WHEN exact_hist + exact_batch + near_hist = 0
                THEN 1 ELSE 0 END AS BIGINT) AS admitted
    FROM flags ORDER BY doc_id"""

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
          benchmark = Some(docs.filter(col("doc_id") < 10)))
        .write.mode("overwrite").parquet(tmp)
    })

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

  // Corpus-to-dataloader: the q45/q46/q10/q28+q44/q43/q62/q61 fragments
  // chained into one replay of CorpusPipeline.toDataloader — rules →
  // repetition cap → exact keepers → near-dup cluster keepers →
  // decontamination → mixture epochs → concat-and-cut packing. Stage 3
  // groups by md5 where Spark groups by xxhash64: both are collision-free
  // on the fixture, so the partitions (and min-id keepers) coincide.
  private def curationPrefix = s"""
    WITH RECURSIVE
    corpus AS (SELECT doc_id, text, source FROM documents WHERE doc_id >= 10),
    g1t AS (SELECT doc_id, text, length(text) AS n,
                   CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                        ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
            FROM corpus),
    g1f AS (SELECT doc_id, len(toks) AS nw,
                   CASE WHEN len(toks) = 0 THEN 0.0 ELSE
                     list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) END AS mwl,
                   len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this','are','from'], x))) AS stop_hits,
                   CASE WHEN n = 0 THEN 0.0 ELSE
                     (n - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')))::DOUBLE / n END AS punct
            FROM g1t),
    s1 AS (SELECT doc_id FROM g1f
           WHERE nw BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
             AND stop_hits >= 2 AND punct <= 0.1),
    r2t AS (SELECT c.doc_id,
                   CASE WHEN length(trim(c.text)) = 0 THEN []::VARCHAR[]
                        ELSE regexp_split_to_array(trim(c.text), '\\s+') END AS toks
            FROM corpus c JOIN s1 USING (doc_id)),
    r2c AS (SELECT doc_id, w, count(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS w FROM r2t WHERE len(toks) > 0)
            GROUP BY doc_id, w),
    s2 AS (SELECT doc_id FROM (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS twf
                               FROM r2c GROUP BY doc_id)
           WHERE twf <= 0.5),
    e3 AS (SELECT c.doc_id, md5($normText) AS fp
           FROM corpus c JOIN s2 USING (doc_id)),
    s3 AS (SELECT min(doc_id) AS doc_id FROM e3 GROUP BY fp),
    n4g AS (SELECT t.doc_id,
                   CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                        ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
            FROM (SELECT c.doc_id,
                         CASE WHEN length(trim(c.text)) = 0 THEN []::VARCHAR[]
                              ELSE regexp_split_to_array(trim(c.text), '\\s+') END AS toks
                  FROM corpus c JOIN s3 USING (doc_id)) t),
    n4j AS (SELECT id_a, id_b FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.sh, b.sh)) AS inter,
                     len(a.sh) AS na, len(b.sh) AS nb
              FROM n4g a JOIN n4g b ON a.doc_id < b.doc_id)
            WHERE round(CASE WHEN na + nb - inter = 0 THEN 0.0
                        ELSE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
                        END, 6) >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM n4j
              UNION ALL SELECT id_b, id_a FROM n4j),
    lbl(id, label) AS (
        SELECT doc_id, doc_id FROM s3
      UNION
        SELECT e.src, l.label FROM edges e JOIN lbl l ON l.id = e.dst),
    s4 AS (SELECT id AS doc_id FROM lbl GROUP BY id HAVING id = min(label)),
    dg AS (SELECT doc_id,
                  CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                       ELSE list_distinct(list_transform(generate_series(1, len(toks) - 4),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) END AS sh
           FROM (SELECT doc_id,
                        CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                             ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
                 FROM documents) t),
    benchsh AS (SELECT DISTINCT unnest(sh) AS s5 FROM dg WHERE doc_id < 10),
    contam AS (SELECT DISTINCT doc_id
               FROM (SELECT doc_id, unnest(sh) AS s5 FROM dg WHERE doc_id >= 10) g
               JOIN benchsh USING (s5))"""

  def q66Sql = s"""
    $curationPrefix,
    curated AS (SELECT doc_id FROM s4
                WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
    mu AS (SELECT c.doc_id,
                  CASE d.source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
                       WHEN 'src2' THEN 0.4 ELSE 0.15 END AS wgt,
                  list_reduce(list_prepend(0.0,
                      list_transform(generate_series(1, 13),
                        k -> CAST(strpos('0123456789abcdef',
                               substr(substr(md5(concat_ws('|', c.doc_id, 'mix')), 1, 13), k, 1)) - 1 AS DOUBLE)
                             * pow(16.0, 13 - k))),
                    (a, x) -> a + x) / 4503599627370496.0 AS u
           FROM curated c JOIN documents d USING (doc_id)),
    ep AS (SELECT doc_id, CAST(unnest(range(nc)) AS BIGINT) AS epoch
           FROM (SELECT doc_id,
                        CAST(floor(wgt) + CASE WHEN u < wgt - floor(wgt) THEN 1 ELSE 0 END AS BIGINT) AS nc
                 FROM mu)
           WHERE nc > 0),
    tk AS (SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok
           FROM documents),
    st AS (SELECT ep.doc_id, ep.epoch, tk.tok,
                  sum(tk.tok) OVER (ORDER BY ep.epoch, ep.doc_id) AS cum
           FROM ep JOIN tk USING (doc_id))
    SELECT doc_id, epoch, CAST(tok AS BIGINT) AS n_tok,
           CAST((cum - tok) // 512 AS BIGINT) AS first_bin,
           CAST(CASE WHEN tok > 0 THEN (cum - 1) // 512
                     ELSE (cum - tok) // 512 END AS BIGINT) AS last_bin,
           CAST((cum - tok) % 512 AS BIGINT) AS bin_off
    FROM st ORDER BY doc_id, epoch"""

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

  // PII redaction: plants the same doc_id-derived PII and scrubs with the
  // same patterns in the same order ('g' = global, matching Spark's
  // replace-all default); the md5 of the redacted text breaks on any
  // pattern/order/token divergence.
  def q72Sql = """
    WITH t AS (SELECT doc_id,
                      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                      '@example.com or +1 (555) 01' || CAST(doc_id AS VARCHAR) ||
                      ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                      CAST(doc_id % 100 AS VARCHAR) AS pt
               FROM documents),
    r1 AS (SELECT doc_id, pt,
                  len(regexp_extract_all(pt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                  regexp_replace(pt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM t),
    r2 AS (SELECT doc_id, n_email,
                  len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ipv4,
                  regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IPV4>', 'g') AS t2
           FROM r1),
    r3 AS (SELECT doc_id, n_email, n_ipv4,
                  len(regexp_extract_all(t2, '\+?[0-9][0-9()\-. ]{5,}[0-9]')) AS n_phone,
                  regexp_replace(t2, '\+?[0-9][0-9()\-. ]{5,}[0-9]', '<PHONE>', 'g') AS t3
           FROM r2)
    SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
           CAST(n_ipv4 AS BIGINT) AS n_ipv4,
           CAST(n_phone AS BIGINT) AS n_phone,
           md5(t3) AS redacted_md5
    FROM r3 ORDER BY doc_id"""

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

  // Contamination fraction: q43's construction, left-joined back onto the
  // per-doc distinct-shingle counts so zero-overlap docs appear with 0.
  def q79Sql = """
    WITH t AS (SELECT doc_id,
                      CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                           ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(generate_series(1, len(toks) - 4),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) END AS sh
          FROM t),
    bench AS (SELECT DISTINCT unnest(sh) AS s FROM g WHERE doc_id < 10),
    corpus AS (SELECT doc_id, unnest(sh) AS s FROM g WHERE doc_id >= 10),
    m AS (SELECT doc_id, count(DISTINCT s) AS n_shared
          FROM corpus WHERE s IN (SELECT s FROM bench)
          GROUP BY doc_id)
    SELECT g.doc_id, CAST(len(g.sh) AS BIGINT) AS n_shingles,
           CAST(coalesce(m.n_shared, 0) AS BIGINT) AS n_shared,
           round(CAST(coalesce(m.n_shared, 0) AS DOUBLE) / CAST(len(g.sh) AS DOUBLE), 6) AS frac
    FROM g LEFT JOIN m ON m.doc_id = g.doc_id
    WHERE g.doc_id >= 10
    ORDER BY g.doc_id"""

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

  // Duplicated-span stats, FULL replay: every positional 5-token span is
  // regenerated as a STRING (Spark ships xxhash64 fingerprints — a
  // collision there would produce extra dup marks and hash-break here),
  // global occurrence counts, the ≥2 dup join, and the interval-union
  // token coverage (list_distinct over flattened generate_series = Spark's
  // array_distinct over flattened sequence) all recomputed; seven columns
  // hash-compared per doc including zero-span short docs.
  def q84Sql = """
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    base AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM t),
    sp AS (SELECT doc_id, i AS s, array_to_string(toks[i:i+4], ' ') AS sh
           FROM base, unnest(generate_series(1, n_tokens - 4)) AS u(i)
           WHERE n_tokens >= 5),
    cnt AS (SELECT sh, count(*) AS c FROM sp GROUP BY sh),
    ds AS (SELECT sp.doc_id, sp.s FROM sp JOIN cnt ON cnt.sh = sp.sh WHERE cnt.c >= 2),
    agg AS (SELECT doc_id, count(*) AS n_dup,
                   len(list_distinct(flatten(list_transform(list(s), x -> generate_series(x, x + 4))))) AS covered
            FROM ds GROUP BY doc_id),
    spn AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(spn.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(agg.n_dup, 0) AS BIGINT) AS n_dup,
           round(CASE WHEN coalesce(spn.n_spans, 0) = 0 THEN 0.0
                 ELSE CAST(coalesce(agg.n_dup, 0) AS DOUBLE) / CAST(spn.n_spans AS DOUBLE) END, 6) AS dup_frac,
           CAST(coalesce(agg.covered, 0) AS BIGINT) AS covered,
           round(CASE WHEN b.n_tokens = 0 THEN 0.0
                 ELSE CAST(coalesce(agg.covered, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE) END, 6) AS covered_frac
    FROM base b LEFT JOIN spn ON spn.doc_id = b.doc_id
    LEFT JOIN agg ON agg.doc_id = b.doc_id
    ORDER BY b.doc_id"""

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

  // Duplicated-segment removal, FULL replay: segments regenerated as
  // strings (Spark-side xxhash64 collisions would hash-break), distinct-doc
  // frequency, drop set, and the reassembled text all recomputed; the
  // kept_md5 digest compares CONTENT and order, not just counts.
  def q86Sql = """
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    b AS (SELECT doc_id, len(toks) AS n_tokens,
                 CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_segments, toks
          FROM t),
    seg AS (SELECT doc_id, i AS si, array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS s
            FROM b, unnest(generate_series(0, CAST(n_segments AS INTEGER) - 1)) AS u(i)
            WHERE n_segments > 0),
    f AS (SELECT s FROM seg GROUP BY s HAVING count(DISTINCT doc_id) > 1),
    dr AS (SELECT seg.doc_id, list(DISTINCT si) AS drop_idx
           FROM seg JOIN f ON f.s = seg.s GROUP BY seg.doc_id),
    k AS (SELECT b.doc_id, b.n_tokens, b.n_segments,
                 coalesce(len(dr.drop_idx), 0) AS n_dropped,
                 coalesce(flatten(list_transform(
                   list_filter(generate_series(0, CAST(b.n_segments AS INTEGER) - 1),
                               i -> NOT list_contains(coalesce(dr.drop_idx, []::BIGINT[]), i)),
                   i -> b.toks[(i*8+1):(i*8+8)])), []::VARCHAR[]) AS kept
          FROM b LEFT JOIN dr ON dr.doc_id = b.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_segments AS BIGINT) AS n_segments,
           CAST(n_dropped AS BIGINT) AS n_dropped_segments,
           CAST(len(kept) AS BIGINT) AS n_kept_tokens,
           md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
    FROM k ORDER BY doc_id"""

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

  // Quality-classifier gate: fold sizes replayed exactly from the q76
  // md5-uniform split (sf-independent); the held-out accuracy flag is
  // pinned — DuckDB cannot train the model, but the planted label is
  // linearly recoverable, so a correct pipeline always clears the gate.
  def q87Sql = """
    WITH u AS (
      SELECT doc_id, list_reduce(list_prepend(0.0,
          list_transform(generate_series(1, 13),
            k -> CAST(strpos('0123456789abcdef',
                   substr(substr(md5(concat_ws('|', doc_id, 'split')), 1, 13), k, 1)) - 1 AS DOUBLE)
                 * pow(16.0, 13 - k))),
        (a, x) -> a + x) / 4503599627370496.0 AS u
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN u < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN u >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(1 AS BIGINT) AS acc_ok
    FROM u"""

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

  // Token-entropy signals, FULL replay: tokenizer, per-(doc, token)
  // counts, entropy / normalized entropy / type-token ratio at 6 dp.
  def q90Sql = """
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    b AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM t),
    c AS (SELECT doc_id, n_tokens, w, CAST(count(*) AS DOUBLE) AS c
          FROM b, unnest(toks) AS u(w)
          WHERE n_tokens > 0 GROUP BY doc_id, n_tokens, w),
    h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
                 sum(-(c / n_tokens) * ln(c / n_tokens)) AS H
          FROM c GROUP BY doc_id, n_tokens)
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           coalesce(h.n_distinct, 0) AS n_distinct,
           round(coalesce(h.H, 0.0), 6) AS entropy,
           round(CASE WHEN coalesce(h.n_distinct, 0) > 1
                 THEN coalesce(h.H, 0.0) / ln(CAST(h.n_distinct AS DOUBLE))
                 ELSE 0.0 END, 6) AS norm_entropy,
           round(CASE WHEN b.n_tokens > 0
                 THEN CAST(coalesce(h.n_distinct, 0) AS DOUBLE) / b.n_tokens
                 ELSE 0.0 END, 6) AS distinct_frac
    FROM b LEFT JOIN h ON h.doc_id = b.doc_id
    ORDER BY b.doc_id"""

  /** Explainable-curation audit ([[CorpusPipeline.curateAudit]]): per
    * input doc, every q66 curation gate's verdict in stage order (-1 =
    * never reached — stages only evaluate survivors), the kept flag, and
    * the first-failing reason. Full replay: the oracle reuses q66's stage
    * CTEs and assembles the same verdict table — a drift between curate
    * and the audit, or blame assigned to an unevaluated gate, reds rows. */
  def q100CurationAudit(s: SparkSession, d: String): DataFrame =
    curationAuditFor(s, d).orderBy("doc_id")

  // Explainable-curation audit: the q66 stage CTEs, assembled per input
  // doc into gate verdicts (-1 = never reached), kept, and first reason.
  def q100Sql = s"""
    $curationPrefix
    SELECT c.doc_id,
           CAST(CASE WHEN p1.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS rule_pass,
           CAST(CASE WHEN p1.doc_id IS NULL THEN -1 WHEN p2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS rep_pass,
           CAST(CASE WHEN p2.doc_id IS NULL THEN -1 WHEN p3.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_keeper,
           CAST(CASE WHEN p3.doc_id IS NULL THEN -1 WHEN p4.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS near_keeper,
           CAST(CASE WHEN p4.doc_id IS NULL THEN -1 WHEN p5.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS contaminated,
           CAST(CASE WHEN p4.doc_id IS NOT NULL AND p5.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
           CASE WHEN p1.doc_id IS NULL THEN 'rules'
                WHEN p2.doc_id IS NULL THEN 'repetition'
                WHEN p3.doc_id IS NULL THEN 'exact_dup'
                WHEN p4.doc_id IS NULL THEN 'near_dup'
                WHEN p5.doc_id IS NOT NULL THEN 'contaminated'
                ELSE 'kept' END AS reason
    FROM corpus c
    LEFT JOIN s1 p1 ON p1.doc_id = c.doc_id
    LEFT JOIN s2 p2 ON p2.doc_id = c.doc_id
    LEFT JOIN s3 p3 ON p3.doc_id = c.doc_id
    LEFT JOIN s4 p4 ON p4.doc_id = c.doc_id
    LEFT JOIN contam p5 ON p5.doc_id = c.doc_id
    ORDER BY c.doc_id"""

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
        tokens = Some("toks"), bins = 10)
      .orderBy("column", "bucket")
  }

  // Corpus drift, FULL replay: numeric 10-bin PSI histograms over the
  // combined min/max (empty buckets included — they carry PSI mass via the
  // 1e-4 clamp), categorical per-value PSI, per-column '__psi' totals
  // (sum of the 6-dp-rounded terms, re-rounded), and the add-one-smoothed
  // token KL over the union vocabulary. Mirrors Profiling.drift term by
  // term: raw fractions are long-count divisions (engine-identical), the
  // clamp happens only inside the PSI term.
  def q104Sql = """
    WITH s AS (SELECT doc_id % 2 AS p,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
                 lang, source, n_chars
               FROM documents),
    base AS (SELECT p, CAST(len(toks) AS DOUBLE) AS n_tok,
               CAST(n_chars AS DOUBLE) AS n_chars, lang, source, toks FROM s),
    nm AS (SELECT p, 'n_tok' AS "column", n_tok AS v FROM base
           UNION ALL SELECT p, 'n_chars', n_chars FROM base),
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
    cm AS (SELECT p, 'lang' AS "column", lang AS v FROM base
           UNION ALL SELECT p, 'source', source FROM base),
    cmv AS (SELECT * FROM cm WHERE v IS NOT NULL),
    ccnt AS (SELECT "column", v,
               CAST(sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
             FROM cmv GROUP BY "column", v),
    ctot AS (SELECT "column", CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb FROM ccnt GROUP BY "column"),
    cbkt AS (SELECT c."column", c.v AS bucket,
               CASE WHEN t.na > 0 THEN CAST(c.ca AS DOUBLE) / t.na ELSE 0.0 END AS pa,
               CASE WHEN t.nb > 0 THEN CAST(c.cb AS DOUBLE) / t.nb ELSE 0.0 END AS pb
             FROM ccnt c JOIN ctot t USING ("column")),
    allbkt AS (SELECT * FROM nbkt UNION ALL SELECT * FROM cbkt),
    terms AS (SELECT "column", bucket, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
                round((greatest(pa, 0.0001) - greatest(pb, 0.0001)) *
                      ln(greatest(pa, 0.0001) / greatest(pb, 0.0001)), 6) AS contrib
              FROM allbkt),
    psis AS (SELECT "column", '__psi' AS bucket, 0.0 AS p_a, 0.0 AS p_b,
               round(sum(contrib), 6) AS contrib
             FROM terms GROUP BY "column"),
    tka AS (SELECT w, CAST(count(*) AS BIGINT) AS ca
            FROM (SELECT unnest(toks) AS w FROM base WHERE p = 0) GROUP BY w),
    tkb AS (SELECT w, CAST(count(*) AS BIGINT) AS cb
            FROM (SELECT unnest(toks) AS w FROM base WHERE p = 1) GROUP BY w),
    tkj AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
            FROM tka FULL OUTER JOIN tkb USING (w)),
    tkstats AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb,
                  CAST(count(*) AS BIGINT) AS v FROM tkj),
    klrow AS (SELECT 'toks' AS "column", '__kl' AS bucket, 0.0 AS p_a, 0.0 AS p_b,
                round(sum(pa * ln(pa / pb)), 6) AS contrib
              FROM (SELECT CAST(ca + 1 AS DOUBLE) / (ta + v) AS pa,
                           CAST(cb + 1 AS DOUBLE) / (tb + v) AS pb
                    FROM tkj CROSS JOIN tkstats))
    SELECT * FROM (SELECT * FROM terms UNION ALL SELECT * FROM psis
                   UNION ALL SELECT * FROM klrow)
    ORDER BY "column", bucket"""

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

  // C4 line filter (q116): replay the deterministic multi-line derivation
  // (8-token chunks, terminal '.' on every 3rd line) and the keep rule
  // (terminal punctuation + >=3 words + no banned substring)
  // expression-for-expression, then hash the reassembled text.
  def q116Sql = """
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    ln AS (SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN ''
                  ELSE array_to_string(
                    list_transform(range(CAST(ceil(len(toks) / 8.0) AS BIGINT)),
                      i -> array_to_string(toks[i*8+1 : i*8+8], ' ') ||
                           CASE WHEN i % 3 = 0 THEN '.' ELSE '' END),
                    chr(10)) END AS t2
           FROM t),
    sp AS (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM ln),
    k AS (SELECT doc_id, len(ls) AS n_lines,
            list_filter(ls, l -> right(rtrim(l), 1) IN ('.', '!', '?', '"')
              AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
              AND NOT contains(lower(l), 'slow')) AS kept
          FROM sp)
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
    FROM k ORDER BY doc_id"""

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

  // q121: brute-force all-pairs word-set Jaccard — the exactness oracle for
  // the prefix-filtered similarity join, on the doc_id % 10 sample (the
  // q17 convention; see the query's scaladoc). Tokenization mirrors
  // TextOps.normalized + whitespace split; empty token sets drop out.
  def q121Sql = """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS nt
      FROM documents WHERE doc_id % 10 = 0),
    t AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(nt, ' +'))) AS tok
      FROM norm WHERE length(nt) > 0),
    sizes AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
    o AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ov
          FROM t a JOIN t b USING (tok)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    p AS (SELECT ia AS id_a, ib AS id_b,
                 round(ov::DOUBLE / (sa.n + sb.n - ov)::DOUBLE, 6) AS jaccard
          FROM o JOIN sizes sa ON sa.doc_id = o.ia
                 JOIN sizes sb ON sb.doc_id = o.ib)
    SELECT id_a, id_b, jaccard FROM p
    WHERE jaccard >= 0.8
    ORDER BY id_a, id_b"""

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

  // q137: trained char-n-gram language ID — the q87 posture, PER CLASS:
  // the planted language is doc_id mod 5, the folds are the same md5-
  // uniform split arithmetic, and every class's held-out recall flag is
  // pinned (the planted phrase makes each class linearly recoverable, so
  // a correct n-gram sweep + hasher + multinomial fit always clears it).
  def q137Sql = """
    WITH u AS (
      SELECT doc_id, list_reduce(list_prepend(0.0,
          list_transform(generate_series(1, 13),
            k -> CAST(strpos('0123456789abcdef',
                   substr(substr(md5(concat_ws('|', doc_id, 'split')), 1, 13), k, 1)) - 1 AS DOUBLE)
                 * pow(16.0, 13 - k))),
        (a, x) -> a + x) / 4503599627370496.0 AS u,
        CASE CAST(doc_id % 5 AS INTEGER)
          WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es'
          WHEN 3 THEN 'fr' ELSE 'zh' END AS lang
      FROM documents)
    SELECT lang,
           CAST(sum(CASE WHEN u < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN u >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(1 AS BIGINT) AS recall_ok
    FROM u GROUP BY lang ORDER BY lang"""

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
        minLen = 16, maxLen = 40)
      .orderBy("doc_id")

  /** q141: exact substring dedup — brute-force replay over the literal
    * strings: EVERY (position, m) window for m in [16, n] — UNCAPPED, so
    * the Spark side's anchor-doubling extension past its band cap is
    * gated against true string equality — grouped by gram TEXT (not
    * fingerprints), maxdup per position, the exact left-maximality lag
    * (no cap-absorption clause), the coverage union, and the
    * post-removal string_agg digest. */
  def q141Sql = """
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    base AS (SELECT doc_id, len(toks) AS n, toks FROM t),
    gr AS (SELECT doc_id, p, m, array_to_string(toks[p:p+m-1], ' ') AS g
           FROM base,
                unnest(generate_series(1, n)) AS s(p),
                unnest(generate_series(16, n)) AS mm(m)
           WHERE p + m - 1 <= n),
    cnt AS (SELECT m, g FROM gr GROUP BY m, g HAVING count(*) >= 2),
    md AS (SELECT gr.doc_id, gr.p, max(gr.m) AS len
           FROM gr JOIN cnt ON cnt.m = gr.m AND cnt.g = gr.g
           GROUP BY gr.doc_id, gr.p),
    lm AS (SELECT doc_id, p, len,
             CASE WHEN lag(p) OVER w IS NULL OR lag(p) OVER w != p - 1
                       OR NOT (lag(len) OVER w >= len + 1)
                  THEN 1 ELSE 0 END AS left_max
           FROM md WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
    spn AS (SELECT doc_id, sum(left_max) AS n_spans, max(len) AS max_len
            FROM lm GROUP BY doc_id),
    covi AS (SELECT DISTINCT doc_id, i
             FROM (SELECT doc_id, unnest(generate_series(p, p + len - 1)) AS i
                   FROM md)),
    cv AS (SELECT doc_id, count(*) AS covered FROM covi GROUP BY doc_id),
    pos AS (SELECT doc_id, i, toks[i] AS w
            FROM base, unnest(generate_series(1, n)) AS s(i)),
    kept AS (SELECT pos.doc_id,
                    md5(coalesce(string_agg(pos.w, ' ' ORDER BY pos.i), ''))
                      AS kept_md5
             FROM pos ANTI JOIN covi USING (doc_id, i)
             GROUP BY pos.doc_id)
    SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
           CAST(coalesce(spn.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(spn.max_len, 0) AS BIGINT) AS max_len,
           CAST(coalesce(cv.covered, 0) AS BIGINT) AS covered,
           round(CASE WHEN b.n = 0 THEN 0.0
                 ELSE CAST(coalesce(cv.covered, 0) AS DOUBLE) / CAST(b.n AS DOUBLE)
                 END, 6) AS covered_frac,
           coalesce(kept.kept_md5, md5('')) AS kept_md5
    FROM base b
    LEFT JOIN spn USING (doc_id)
    LEFT JOIN cv USING (doc_id)
    LEFT JOIN kept USING (doc_id)
    ORDER BY b.doc_id"""

  /** q159: Aho–Corasick lexicon scan ([[BlockWords]]) — the badwords
    * stage over the NATURAL corpus text (no plant): the lexicon mixes
    * unigrams, a repeated-token bigram (`batch batch`, whose overlapping
    * occurrences the fail-link walk must count: `batch batch batch` = 2),
    * a cross-token bigram (`table scan`), and a unigram (`batch`) that
    * is a PREFIX of a phrase pattern — so phrase states must also emit
    * the unigram via merged fail outputs. The oracle replays every
    * count with independent list-lambda machinery and the same
    * (count desc, name asc) top-pattern election. */
  def q159BlockwordScan(s: SparkSession, d: String): DataFrame =
    BlockWords.scan(Tables.documents(s, d), col("doc_id"), col("text"),
      Seq("spark" -> 1.0, "slow" -> 2.0, "dup" -> 5.0, "batch" -> 1.0,
          "batch batch" -> 3.0, "table scan" -> 4.0))
      .orderBy("doc_id")

  /** q159: lexicon scan — INDEPENDENT machinery (list lambdas over the
    * token array, bigrams as position filters counting overlaps), the
    * weighted score under the 6-dp fence, and the (count desc, name
    * asc) top-pattern election via a struct sort on (-count, name). */
  def q159Sql = """
    WITH t AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(coalesce(text, '')),
          '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
    c AS (SELECT doc_id,
        len(list_filter(toks, x -> x = 'spark')) AS c_spark,
        len(list_filter(toks, x -> x = 'slow')) AS c_slow,
        len(list_filter(toks, x -> x = 'dup')) AS c_dup,
        len(list_filter(toks, x -> x = 'batch')) AS c_batch,
        len(list_filter(range(1, len(toks)),
          i -> toks[i] = 'batch' AND toks[i+1] = 'batch')) AS c_bb,
        len(list_filter(range(1, len(toks)),
          i -> toks[i] = 'table' AND toks[i+1] = 'scan')) AS c_ts
      FROM t),
    s AS (SELECT doc_id,
        CAST(c_spark + c_slow + c_dup + c_batch + c_bb + c_ts AS BIGINT)
          AS n_hits,
        CAST((CASE WHEN c_spark > 0 THEN 1 ELSE 0 END) +
             (CASE WHEN c_slow > 0 THEN 1 ELSE 0 END) +
             (CASE WHEN c_dup > 0 THEN 1 ELSE 0 END) +
             (CASE WHEN c_batch > 0 THEN 1 ELSE 0 END) +
             (CASE WHEN c_bb > 0 THEN 1 ELSE 0 END) +
             (CASE WHEN c_ts > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_patterns,
        floor((1.0*c_spark + 2.0*c_slow + 5.0*c_dup + 1.0*c_batch +
               3.0*c_bb + 4.0*c_ts) * 1e6 + 0.5) / 1e6 AS score,
        (list_sort([
           {'k': -c_spark, 'n': 'spark'},
           {'k': -c_slow, 'n': 'slow'},
           {'k': -c_dup, 'n': 'dup'},
           {'k': -c_batch, 'n': 'batch'},
           {'k': -c_bb, 'n': 'batch batch'},
           {'k': -c_ts, 'n': 'table scan'}]))[1] AS top
      FROM c)
    SELECT doc_id, n_hits, n_patterns, score,
      CASE WHEN top.k = 0 THEN '' ELSE top.n END AS top_pattern
    FROM s ORDER BY doc_id"""

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
      seeds, iters = 5)
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

  /** q176: trust-gated curation — the q100 stage-chain replay (same
    * `curationPrefix` CTEs, same kept/reason derivation) composed with
    * the q169 PPR unroll (CTEs t-prefixed to avoid the `edges`/`dg`
    * collisions), joined on the doc's planted q165 host; `admitted` is
    * the literal AND of the two signals and `trust` the 9-dp-fenced
    * r5 rank itself (0.0 for the unseeded, unreachable site hosts). */
  def q176Sql: String = {
    val head = s"""
    $curationPrefix,
    tb AS (SELECT doc_id % 5 AS k, doc_id % 4 AS m FROM documents),
    tde AS (
      SELECT 'site' || CAST(k AS VARCHAR) || '.example' AS src,
             CASE WHEN m IN (0, 1) THEN 'news.example'
                  WHEN m = 2 THEN 'redir.example'
                  ELSE 'shop.example' END AS dst
      FROM tb
      UNION ALL
      SELECT 'site' || CAST(k AS VARCHAR) || '.example', 'news.example'
      FROM tb),
    tedges AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
               FROM tde GROUP BY 1, 2),
    tsrcs AS (SELECT 'site0.example' AS node
              UNION ALL SELECT 'site1.example'),
    tgnodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM tedges UNION ALL SELECT dst FROM tedges)),
    tnodes AS (SELECT DISTINCT node FROM (
      SELECT node FROM tgnodes UNION ALL SELECT node FROM tsrcs)),
    tns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tsrcs),
    toutw AS (SELECT src, sum(w) AS ow FROM tedges GROUP BY src),
    tnr AS (SELECT tnodes.node,
              CASE WHEN s.node IS NOT NULL THEN 1.0 / tns.n
                   ELSE 0.0 END AS rst
            FROM tnodes CROSS JOIN tns
            LEFT JOIN tsrcs s ON s.node = tnodes.node),
    tr0 AS (SELECT node, rst, floor(rst * 1e9 + 0.5) / 1e9 AS rnk
            FROM tnr)"""
    val its = (1 to 5).map { i =>
      s"""
    tc$i AS (SELECT e.dst AS node, sum(r.rnk * e.w / o.ow) AS inw
             FROM tedges e JOIN toutw o ON e.src = o.src
             JOIN tr${i - 1} r ON r.node = e.src
             GROUP BY e.dst),
    tdg$i AS (SELECT floor(coalesce(sum(r.rnk), 0.0) * 1e9 + 0.5) / 1e9
                AS dm
              FROM tr${i - 1} r LEFT JOIN toutw o ON o.src = r.node
              WHERE o.src IS NULL),
    tr$i AS (SELECT n.node, n.rst,
               floor(((1.0 - 0.85) * n.rst
                      + 0.85 * (coalesce(c.inw, 0.0) + tdg$i.dm * n.rst))
                     * 1e9 + 0.5) / 1e9 AS rnk
             FROM tnr n CROSS JOIN tdg$i
             LEFT JOIN tc$i c ON c.node = n.node)"""
    }.mkString(",")
    head + "," + its + """
    SELECT c.doc_id,
           'site' || CAST(c.doc_id % 5 AS VARCHAR) || '.example' AS domain,
           CAST(CASE WHEN p4.doc_id IS NOT NULL AND p5.doc_id IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS kept,
           CASE WHEN p1.doc_id IS NULL THEN 'rules'
                WHEN p2.doc_id IS NULL THEN 'repetition'
                WHEN p3.doc_id IS NULL THEN 'exact_dup'
                WHEN p4.doc_id IS NULL THEN 'near_dup'
                WHEN p5.doc_id IS NOT NULL THEN 'contaminated'
                ELSE 'kept' END AS reason,
           coalesce(t.rnk, 0.0) AS trust,
           CAST(CASE WHEN p4.doc_id IS NOT NULL AND p5.doc_id IS NULL
                      AND coalesce(t.rnk, 0.0) > 0.0
                 THEN 1 ELSE 0 END AS BIGINT) AS admitted
    FROM corpus c
    LEFT JOIN s1 p1 ON p1.doc_id = c.doc_id
    LEFT JOIN s2 p2 ON p2.doc_id = c.doc_id
    LEFT JOIN s3 p3 ON p3.doc_id = c.doc_id
    LEFT JOIN s4 p4 ON p4.doc_id = c.doc_id
    LEFT JOIN contam p5 ON p5.doc_id = c.doc_id
    LEFT JOIN tr5 t ON t.node =
      'site' || CAST(c.doc_id % 5 AS VARCHAR) || '.example'
    ORDER BY c.doc_id"""
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q10_dedup_groups", q10DedupGroups, () => q10Sql),
    QuerySpec("q12_quality", q12Quality, () => q12Sql),
    QuerySpec("q13_lang_id", q13LangId, () => q13Sql),
    QuerySpec("q14_fingerprints", q14Fingerprints, () => q14Sql),
    QuerySpec("q15_ngram_jaccard", q15NgramJaccard, () => q15Sql),
    QuerySpec("q28_minhash_pairs", q28MinhashPairs, () => q28Sql),
    QuerySpec("q29_simhash_pairs", q29SimhashPairs, () => q29Sql),
    QuerySpec("q43_contamination", q43Contamination, () => q43Sql),
    QuerySpec("q44_dedup_clusters", q44DedupClusters, () => q44Sql),
    QuerySpec("q45_quality_gate", q45QualityGate, () => q45Sql),
    QuerySpec("q46_repetition", q46Repetition, () => q46Sql),
    // same exact semantics as q43 through the bloom-prefiltered path: the
    // direct-replay oracle makes any bloom false negative a hash break
    QuerySpec("q60_bloom_decontaminate", q60BloomDecontaminate, () => q43Sql),
    QuerySpec("q65_incremental_dedup", q65IncrementalDedup, () => q65Sql),
    QuerySpec("q66_corpus_to_dataloader", q66CorpusToDataloader, () => q66Sql),
    QuerySpec("q72_pii_redaction", q72PiiRedaction, () => q72Sql),
    QuerySpec("q79_contamination_fraction", q79ContaminationFraction, () => q79Sql),
    QuerySpec("q84_duplicated_spans", q84DuplicatedSpans, () => q84Sql),
    QuerySpec("q86_segment_dedup", q86SegmentDedup, () => q86Sql),
    QuerySpec("q87_quality_classifier", q87QualityClassifier, () => q87Sql),
    QuerySpec("q90_entropy_stats", q90EntropyStats, () => q90Sql),
    QuerySpec("q100_curation_audit", q100CurationAudit, () => q100Sql),
    QuerySpec("q104_corpus_drift", q104CorpusDrift, () => q104Sql),
    QuerySpec("q116_c4_line_filter", q116C4LineFilter, () => q116Sql),
    QuerySpec("q121_allpairs_jaccard", q121AllPairsJaccard, () => q121Sql),
    QuerySpec("q137_langid_trained", q137LangIdTrained, () => q137Sql),
    QuerySpec("q141_exact_substring_dedup", q141ExactSubstringDedup, () => q141Sql),
    QuerySpec("q159_blockword_scan", q159BlockwordScan, () => q159Sql),
    QuerySpec("q176_trust_gated_curation", q176TrustGatedCuration, () => q176Sql)
  )
}
