package graft.queries

import graft.Tables
import graft.functions.TextOps
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizers and language-model signals: BPE (word, byte-fallback and
  * byte-level), unigram-LM, WordPiece, vocab encoding, packing and token
  * budgets, and the n-gram LM cross-entropy filters. */
object TokenizerQueries {

  /** Token statistics: whitespace tokens + BPE-ish subword count. */
  def q11TokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("n_bpeish"))
      .orderBy("doc_id")

  def q11Sql = """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish
    FROM documents ORDER BY doc_id"""

  // BPE merge table per fixture (plain driver data) — q103 and the
  // BPE-budgeted packing/mixture queries share one training run.
  private def bpeMergesFor(s: SparkSession, d: String): Seq[Vocab.BpeMerge] =
    ArtifactCache.value(s, "bpe", d, "documents") {
      // batched trainer: byte-identical merge table to Vocab.bpeTrain
      // (the q103 oracle replays the SEQUENTIAL semantics) in ~batch×
      // fewer Spark jobs — the production-vocab training shape
      Vocab.bpeTrainBatched(Tables.documents(s, d), col("text"),
        nMerges = 40, policy = CheckpointPolicy.fromSession(s))
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

  /** The shared training-and-encoding CTE chain: d0/d1 (normalized docs →
    * token arrays), w0/s0 (distinct-word freq, wrapped), the per-iteration
    * y/p/b/s quartets, wsym (final symbols per word), d2 (per-doc word
    * positions), d3a (those joined to their symbol arrays), and bcnt (the
    * per-doc REAL BPE token count). q103 hangs digests off it; q61/q88
    * hang their budget arithmetic off bcnt. */
  private def bpeChainCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= """d0 AS (SELECT doc_id,
                  trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS norm
                FROM documents),
    d1 AS MATERIALIZED (SELECT doc_id, regexp_split_to_array(norm, '\s+') AS toks
           FROM d0 WHERE length(norm) > 0),
    w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest(toks) AS word FROM d1) GROUP BY word),
    s0 AS MATERIALIZED (SELECT word, regexp_replace(word, '(.)', '|\1|', 'g') AS w, freq FROM w0)"""
    for (i <- 1 to nMerges) {
      sb ++= s""",
    y$i AS (SELECT freq, str_split(substring(w, 2, length(w) - 2), '||') AS syms
            FROM s${i - 1}),
    p$i AS (SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
                  FROM y$i WHERE len(syms) >= 2)
            GROUP BY 1, 2),
    b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
    s$i AS MATERIALIZED (SELECT word,
              replace(w,
                coalesce((SELECT '|' || l || '||' || r || '|' FROM b$i), chr(1)),
                coalesce((SELECT '|' || l || r || '|' FROM b$i), '')) AS w,
              freq
            FROM s${i - 1})"""
    }
    sb ++= s""",
    wsym AS (SELECT word, str_split(substring(w, 2, length(w) - 2), '||') AS syms
             FROM s$nMerges),
    d2 AS (SELECT doc_id, i AS wpos, toks[i] AS word
           FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
                 FROM d1)),
    d3a AS MATERIALIZED (SELECT d2.doc_id, d2.wpos, wsym.syms
            FROM d2 JOIN wsym USING (word)),
    bcnt AS (SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS btok
             FROM d3a GROUP BY doc_id)"""
    sb.toString
  }

  // Sequence packing over REAL BPE token counts (the q103 chain's bcnt —
  // budgets denominated in what a subword tokenizer would emit, not the
  // whitespace heuristic), then the plain window-cumsum replay of the
  // range-partitioned concat-and-cut.
  def q61Sql: String = s"""
    WITH ${bpeChainCtes(40)},
    t AS (SELECT d.doc_id, coalesce(b.btok, CAST(0 AS BIGINT)) AS tok
          FROM documents d LEFT JOIN bcnt b ON b.doc_id = d.doc_id),
    c AS (SELECT doc_id, tok, sum(tok) OVER (ORDER BY doc_id) AS cum FROM t)
    SELECT doc_id,
           CAST(tok AS BIGINT) AS n_tok,
           CAST((cum - tok) // 512 AS BIGINT) AS first_bin,
           CAST(CASE WHEN tok > 0 THEN (cum - 1) // 512
                     ELSE (cum - tok) // 512 END AS BIGINT) AS last_bin,
           CAST((cum - tok) % 512 AS BIGINT) AS bin_off
    FROM c ORDER BY doc_id"""

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

  // Vocab encoding: replays the top-100 vocabulary (cnt desc, token asc
  // ids) and the per-doc digests incl. the order-sensitive
  // position-weighted sum.
  def q68Sql = """
    WITH t AS (SELECT doc_id,
                      CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                           ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    vc AS (SELECT token, count(*) AS cnt
           FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
    v AS (SELECT token, row_number() OVER (ORDER BY cnt DESC, token) - 1 AS id
          FROM vc ORDER BY cnt DESC, token LIMIT 100),
    p AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i,
                 unnest(toks) AS token
          FROM t WHERE len(toks) > 0),
    e AS (SELECT p.doc_id, p.i, coalesce(v.id, 100) AS tid
          FROM p LEFT JOIN v USING (token))
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN tid = 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
           CAST(sum(tid) AS BIGINT) AS sum_ids,
           CAST(sum(i * tid) AS BIGINT) AS possum_ids
    FROM e GROUP BY doc_id ORDER BY doc_id"""

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

  // CCNet-style bigram-LM cross-entropy, FULL replay: the oracle retrains
  // the add-one bigram LM on the same English slice (unigram counts cu,
  // bigram counts cb, totals T and V), then re-derives every per-doc
  // -ln(p) term — first token under the unigram model, tokens 2..n under
  // p(w2|w1) = (cb+1)/(cu1+V) — and the per-token average. Unordered sum
  // of ~n ln terms drifts ~1e-15 relative between engines; the 6 dp round
  // absorbs it. Doc set (non-empty only), n_tokens, and ce hash-compared.
  def q83Sql = """
    WITH t AS (SELECT doc_id, lang,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    uni AS (SELECT w, count(*) AS cu
            FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en') GROUP BY w),
    tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS v FROM uni),
    bg AS (SELECT doc_id, lang, toks[i-1] AS w1, toks[i] AS w2
           FROM t, unnest(generate_series(2, len(toks))) AS u(i)),
    bi AS (SELECT w1, w2, count(*) AS cb FROM bg WHERE lang = 'en' GROUP BY w1, w2),
    sc AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
    frst AS (SELECT s.doc_id,
                -ln((CAST(coalesce(u.cu, 0) AS DOUBLE) + 1.0) / (tot.t + tot.v)) AS h1
              FROM sc s LEFT JOIN uni u ON u.w = s.toks[1] CROSS JOIN tot),
    rest AS (SELECT doc_id, sum(h) AS hrest FROM (
               SELECT g.doc_id,
                 -ln((CAST(coalesce(b.cb, 0) AS DOUBLE) + 1.0) /
                     (CAST(coalesce(u.cu, 0) AS DOUBLE) + tot.v)) AS h
               FROM bg g
               LEFT JOIN bi b ON b.w1 = g.w1 AND b.w2 = g.w2
               LEFT JOIN uni u ON u.w = g.w1
               CROSS JOIN tot) GROUP BY doc_id)
    SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_tokens,
           round((f.h1 + coalesce(r.hrest, 0.0)) / CAST(s.n AS DOUBLE), 6) AS ce
    FROM sc s JOIN frst f ON f.doc_id = s.doc_id
    LEFT JOIN rest r ON r.doc_id = s.doc_id
    ORDER BY s.doc_id"""

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

  // Token-budget mixture plan over REAL BPE token counts; weights stay
  // FP-exact powers of two so the literal arithmetic matches Spark.
  def q88Sql: String = s"""
    WITH ${bpeChainCtes(40)},
    t AS (SELECT d.lang AS domain, coalesce(b.btok, CAST(0 AS BIGINT)) AS tk
          FROM documents d LEFT JOIN bcnt b ON b.doc_id = d.doc_id),
    a AS (SELECT domain, CAST(sum(tk) AS BIGINT) AS available_tokens,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM t GROUP BY domain),
    w AS (SELECT *, CAST(CASE domain WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.125
                         WHEN 'de' THEN 0.125 WHEN 'es' THEN 0.125
                         WHEN 'fr' THEN 0.125 ELSE 0.0 END AS DOUBLE) AS wt
          FROM a),
    e AS (SELECT *, round(wt * 100000, 2) AS target_tokens FROM w),
    f AS (SELECT *, round(CASE WHEN available_tokens > 0
                          THEN target_tokens / available_tokens
                          ELSE 0.0 END, 6) AS epochs FROM e)
    SELECT domain, available_tokens, n_docs, round(wt, 6) AS weight,
           target_tokens, epochs,
           round(least(epochs, 1.0), 6) AS sample_rate
    FROM f ORDER BY domain"""

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

  private def bpeMergeRowsSql(nMerges: Int): String =
    (1 to nMerges).map { i =>
      s"""SELECT 'merge' AS kind, CAST($i AS BIGINT) AS key, l AS lft, r AS rgt,
          cnt AS n1, CAST(0 AS BIGINT) AS n2, CAST(0 AS BIGINT) AS n3 FROM b$i"""
    }.mkString(" UNION ALL ")

  /** q103: real BPE tokenization — training AND encoding replayed as an
    * UNROLLED CTE chain (one pair-count + argmax + replace trio per merge
    * iteration, generated programmatically), over the same wrapped-symbol
    * device the Spark side uses ("abc" → "|a||b||c|"; applying merge (l,r)
    * = replace("|l||r|" → "|lr|"), whose left-to-right non-overlapping
    * scan is BPE's greedy application in both engines). chr(1) is the
    * never-matching replace pattern when an iteration finds no pair left
    * (both sides then emit no merge row and leave words unchanged).
    * Every chain CTE is MATERIALIZED: s_i is referenced twice (y_{i+1} and
    * s_{i+1}), so DuckDB's default inlining would double the plan tree per
    * iteration — 2^40 scans ("too many open files") instead of 40. */
  def bpeOracle(nMerges: Int): String =
    s"""
    WITH ${bpeChainCtes(nMerges)},
    d3 AS MATERIALIZED (SELECT doc_id, wpos, j, syms[j] AS sym
           FROM (SELECT doc_id, wpos, syms,
                   unnest(generate_series(1, len(syms))) AS j
                 FROM d3a)),
    d4 AS (SELECT doc_id, sym,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, j) AS BIGINT) AS pos
           FROM d3),
    vocab AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
              FROM (SELECT DISTINCT sym FROM d3)),
    docrows AS (SELECT 'doc' AS kind, CAST(doc_id AS BIGINT) AS key,
                  '' AS lft, '' AS rgt,
                  CAST(count(*) AS BIGINT) AS n1, CAST(sum(id) AS BIGINT) AS n2,
                  CAST(sum(pos * id) AS BIGINT) AS n3
                FROM d4 JOIN vocab USING (sym) GROUP BY doc_id)
    SELECT * FROM (${bpeMergeRowsSql(nMerges)} UNION ALL SELECT * FROM docrows)
    ORDER BY kind, key"""

  def q103Sql: String = bpeOracle(40)

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

  // Kneser-Ney trigram replay (q110): rebuild the trigram / continuation /
  // bigram count tables from the 'en' slice, re-derive both discounts from
  // the count-of-counts census, then replay every interpolation term with
  // the exact operator ordering LangModel.knTrigramCrossEntropy uses.
  // shared KN-trigram census CTEs (q110 scoring + q118 reweighting)
  private def knCtes = """t AS (SELECT doc_id, lang,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    tg AS (SELECT doc_id, lang, toks[i-2] AS a, toks[i-1] AS b, toks[i] AS c
           FROM t, unnest(generate_series(3, len(toks))) AS u(i)),
    tri AS (SELECT a, b, c, count(*) AS c3 FROM tg WHERE lang = 'en' GROUP BY a, b, c),
    ctx2 AS (SELECT a, b, sum(c3) AS den3, count(*) AS uniq3 FROM tri GROUP BY a, b),
    mid AS (SELECT b, c, count(*) AS n3bc FROM tri GROUP BY b, c),
    ctx1 AS (SELECT b, sum(n3bc) AS den2, count(*) AS uniq2 FROM mid GROUP BY b),
    bgr AS (SELECT toks[i-1] AS b, toks[i] AS c
            FROM t, unnest(generate_series(2, len(toks))) AS u(i)
            WHERE lang = 'en'),
    bi AS (SELECT b, c, count(*) AS cb FROM bgr GROUP BY b, c),
    unic AS (SELECT c, count(*) AS n2c FROM bi GROUP BY c),
    tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM bi) AS bb,
                   (SELECT CAST(count(DISTINCT w) AS DOUBLE)
                    FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')) AS v),
    d3 AS (SELECT CASE WHEN n1 + 2.0*n2 > 0 THEN n1/(n1 + 2.0*n2) ELSE 0.5 END AS dd3
           FROM (SELECT CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
                        CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2
                 FROM tri)),
    d2 AS (SELECT CASE WHEN n1 + 2.0*n2 > 0 THEN n1/(n1 + 2.0*n2) ELSE 0.5 END AS dd2
           FROM (SELECT CAST(sum(CASE WHEN n3bc = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
                        CAST(sum(CASE WHEN n3bc = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2
                 FROM mid)),
    s1 AS (SELECT g.doc_id,
             CAST(coalesce(tri.c3, 0) AS DOUBLE) AS c3v,
             CAST(coalesce(ctx2.den3, 0) AS DOUBLE) AS den3v,
             CAST(coalesce(ctx2.uniq3, 0) AS DOUBLE) AS uniq3v,
             CAST(coalesce(mid.n3bc, 0) AS DOUBLE) AS n3bcv,
             CAST(coalesce(ctx1.den2, 0) AS DOUBLE) AS den2v,
             CAST(coalesce(ctx1.uniq2, 0) AS DOUBLE) AS uniq2v,
             (CAST(coalesce(unic.n2c, 0) AS DOUBLE) + 1.0) / (tot.bb + tot.v + 1.0) AS p1,
             d3.dd3, d2.dd2
           FROM tg g
           LEFT JOIN tri ON tri.a = g.a AND tri.b = g.b AND tri.c = g.c
           LEFT JOIN ctx2 ON ctx2.a = g.a AND ctx2.b = g.b
           LEFT JOIN mid ON mid.b = g.b AND mid.c = g.c
           LEFT JOIN ctx1 ON ctx1.b = g.b
           LEFT JOIN unic ON unic.c = g.c
           CROSS JOIN tot CROSS JOIN d3 CROSS JOIN d2),
    s2 AS (SELECT *, CASE WHEN den2v > 0
             THEN greatest(n3bcv - dd2, 0.0) / den2v + dd2 * uniq2v / den2v * p1
             ELSE p1 END AS p2
           FROM s1),
    s3 AS (SELECT *, CASE WHEN den3v > 0
             THEN greatest(c3v - dd3, 0.0) / den3v + dd3 * uniq3v / den3v * p2
             ELSE p2 END AS p3
           FROM s2),
    s4 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                  round(sum(-ln(p3)) / CAST(count(*) AS DOUBLE), 6) AS ce
           FROM s3 GROUP BY doc_id)"""

  def q110Sql: String = s"""
    WITH $knCtes
    SELECT doc_id, n_trigrams, ce FROM s4 ORDER BY doc_id"""

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

  // CE-driven source reweighting (q118): per-source mean KN cross-entropy
  // tilted into sampling shares via exp(-(ce - min_ce)/tau) — the
  // DoReMi-flavoured "sample more of what the reference LM finds clean"
  // composition of q110's census with q113's epoch machinery.
  def q118Sql: String = s"""
    WITH $knCtes,
    bysrc AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
                round(avg(k.ce), 9) AS mean_ce
              FROM documents d JOIN s4 k ON k.doc_id = d.doc_id
              GROUP BY d.source),
    mn AS (SELECT min(mean_ce) AS m FROM bysrc),
    tl AS (SELECT source, n_docs, mean_ce,
             round(exp(-(mean_ce - mn.m) / 0.5), 9) AS tilt
           FROM bysrc, mn),
    zz AS (SELECT sum(tilt) AS z FROM tl),
    ww AS (SELECT source, n_docs, mean_ce,
             round(tilt / zz.z, 9) AS share,
             round(tilt / zz.z * 10000.0 / CAST(n_docs AS DOUBLE), 9) AS weight
           FROM tl, zz),
    dd AS (SELECT d.doc_id, d.source, w.weight,
                  substr(md5(concat_ws('|', d.doc_id, 'ce')), 1, 13) AS hx
           FROM documents d JOIN s4 k ON k.doc_id = d.doc_id
           JOIN ww w ON w.source = d.source),
    uu AS (SELECT *, list_reduce(list_prepend(0.0,
               list_transform(generate_series(1, 13),
                 kk -> CAST(strpos('0123456789abcdef', substr(hx, kk, 1)) - 1 AS DOUBLE)
                      * pow(16.0, 13 - kk))),
             (a, x) -> a + x) / 4503599627370496.0 AS u
           FROM dd),
    ee AS (SELECT source,
                  sum(CAST(floor(weight) AS BIGINT) +
                      CASE WHEN u < weight - floor(weight) THEN 1 ELSE 0 END) AS n_sampled
           FROM uu GROUP BY source)
    SELECT w.source, w.n_docs, w.mean_ce, w.share, w.weight,
           CAST(coalesce(ee.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM ww w LEFT JOIN ee ON ee.source = w.source ORDER BY w.source"""

  private def unigramVocabFor(s: SparkSession, d: String): Seq[Unigram.UPiece] =
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

  /** q125: the unigram-LM tokenizer, trained AND applied inside one
    * generated query (the q103 convention). Mirrors [[graft.operators.Unigram]]
    * term for term: substring seed with the multi-char cap and char
    * closure, per-EM-round Viterbi DP unrolled to MaxWordLen positions ×
    * maxPieceLen candidate lengths with the exact (score desc, pieces
    * asc, lastLen desc) tie order, list-prepend backtracks, char-floored
    * recounts, prune windows, and the 6-dp floor fence on every ln —
    * fenced because libm and JVM `log` may differ in the last ulp. Every
    * chain CTE is MATERIALIZED (the bpeOracle lesson: default inlining
    * doubles the plan per stage). */
  def unigramOracle(vocabSize: Int, maxPieceLen: Int, minCount: Long,
                    seedCap: Int, rounds: Int, maxLen: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""
    WITH d0 AS (SELECT doc_id,
                  trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS norm
                FROM documents),
    d1 AS MATERIALIZED (SELECT doc_id, regexp_split_to_array(norm, '\\s+') AS toks
           FROM d0 WHERE length(norm) > 0),
    w0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest(toks) AS word FROM d1) GROUP BY word),
    sidx AS (SELECT word, freq, unnest(generate_series(1, length(word))) AS i FROM w0),
    sexp AS (SELECT word, freq, i, gl.l
             FROM sidx CROSS JOIN (SELECT unnest(generate_series(1, $maxPieceLen)) AS l) gl
             WHERE i + l - 1 <= length(word)),
    seed AS MATERIALIZED (SELECT substr(word, i, l) AS piece,
             CAST(sum(freq) AS BIGINT) AS cnt FROM sexp GROUP BY 1),
    chars0 AS MATERIALIZED (SELECT piece, cnt FROM seed WHERE length(piece) = 1),
    multi0 AS (SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM seed WHERE length(piece) > 1 AND cnt >= $minCount) WHERE rn <= $seedCap),
    vc0 AS (SELECT piece, cnt FROM chars0 UNION ALL SELECT piece, cnt FROM multi0),
    v0 AS MATERIALIZED (SELECT piece, cnt,
           floor(ln(CAST(cnt AS DOUBLE) /
                    (SELECT CAST(sum(cnt) AS DOUBLE) FROM vc0)) * 1e6 + 0.5) / 1e6 AS lp
         FROM vc0)"""
    for (p <- 0 to rounds) {
      sb ++= s""",
    dp${p}_0 AS (SELECT word, CAST(0.0 AS DOUBLE) AS s, 0 AS k, 0 AS l FROM w0)"""
      for (i <- 1 to maxLen) {
        val cands = (1 to math.min(maxPieceLen, i)).map { l =>
          s"""SELECT d.word, d.s + v.lp AS s, d.k + 1 AS k, $l AS l
              FROM dp${p}_${i - l} d JOIN v$p v
                ON v.piece = substr(d.word, ${i - l + 1}, $l)
              WHERE length(d.word) >= $i"""
        }.mkString(" UNION ALL ")
        sb ++= s""",
    dp${p}_$i AS MATERIALIZED (SELECT word, s, k, l FROM (
        SELECT word, s, k, l,
               row_number() OVER (PARTITION BY word ORDER BY s DESC, k ASC, l DESC) AS rn
        FROM ($cands)) WHERE rn = 1)"""
      }
      sb ++= s""",
    dpall$p AS MATERIALIZED (${(1 to maxLen).map(i =>
        s"SELECT word, $i AS i, l FROM dp${p}_$i").mkString(" UNION ALL ")}),
    bt${p}_0 AS (SELECT word, length(word) AS pos, CAST([] AS VARCHAR[]) AS seg FROM w0)"""
      for (j <- 1 to maxLen) {
        sb ++= s""",
    bt${p}_$j AS MATERIALIZED (
        SELECT b.word, b.pos - d.l AS pos,
               list_prepend(substr(b.word, b.pos - d.l + 1, d.l), b.seg) AS seg
        FROM bt${p}_${j - 1} b JOIN dpall$p d ON d.word = b.word AND d.i = b.pos
        WHERE b.pos > 0
        UNION ALL
        SELECT word, pos, seg FROM bt${p}_${j - 1} WHERE pos = 0)"""
      }
      sb ++= s""",
    segs$p AS MATERIALIZED (SELECT word, seg FROM bt${p}_$maxLen WHERE pos = 0)"""
      if (p < rounds) {
        sb ++= s""",
    cnt$p AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT w0.freq, unnest(s.seg) AS piece
        FROM segs$p s JOIN w0 USING (word)) GROUP BY 1),
    vc${p + 1} AS (
        SELECT c0.piece, CAST(greatest(coalesce(c.cnt, 0), 1) AS BIGINT) AS cnt
        FROM chars0 c0 LEFT JOIN cnt$p c ON c.piece = c0.piece
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
          FROM cnt$p WHERE length(piece) > 1)
        WHERE rn <= $vocabSize - (SELECT count(*) FROM chars0)),
    v${p + 1} AS MATERIALIZED (SELECT piece, cnt,
           floor(ln(CAST(cnt AS DOUBLE) /
                    (SELECT CAST(sum(cnt) AS DOUBLE) FROM vc${p + 1})) * 1e6 + 0.5) / 1e6 AS lp
         FROM vc${p + 1})"""
      }
    }
    sb ++= s""",
    vocabf AS MATERIALIZED (SELECT piece, cnt, lp,
           CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS id FROM v$rounds),
    d2 AS (SELECT doc_id, i AS wpos, toks[i] AS word
           FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
                 FROM d1)),
    d3a AS MATERIALIZED (SELECT d2.doc_id, d2.wpos, d2.word, s.seg
           FROM d2 LEFT JOIN segs$rounds s USING (word)),"""
    // A word with no lattice path never backtracks to pos = 0, so it
    // falls out of segs; the operator byte-falls-back (ids |vocabf| +
    // byte), and the oracle synthesizes the same rows from the LEFT-join
    // miss. Unreachable for q125's closed corpus (single-char closure).
    sb ++= s"""
    d3 AS (SELECT doc_id, wpos, j, seg[j] AS piece, CAST(NULL AS BIGINT) AS bid
           FROM (SELECT doc_id, wpos, seg,
                   unnest(generate_series(1, len(seg))) AS j FROM d3a
                 WHERE seg IS NOT NULL)
           UNION ALL
           SELECT doc_id, wpos, k AS j, NULL AS piece,
             CAST((SELECT count(*) FROM vocabf)
             + (strpos('0123456789abcdef',
                  substr(lower(hex(encode(word))), 2 * k - 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                  substr(lower(hex(encode(word))), 2 * k, 1)) - 1) AS BIGINT) AS bid
           FROM (SELECT doc_id, wpos, word,
                   unnest(generate_series(1, octet_length(encode(word)))) AS k
                 FROM d3a WHERE seg IS NULL)),
    d4 AS (SELECT doc_id, piece, bid,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, j) AS BIGINT) AS pos
           FROM d3),
    docrows AS (SELECT 'doc' AS kind, CAST(doc_id AS BIGINT) AS key, '' AS piece,
                  CAST(count(*) AS BIGINT) AS n1,
                  CAST(sum(COALESCE(id, bid)) AS BIGINT) AS n2,
                  CAST(sum(pos * COALESCE(id, bid)) AS BIGINT) AS n3,
                  CAST(0.0 AS DOUBLE) AS f1
                FROM d4 LEFT JOIN vocabf USING (piece) GROUP BY doc_id),
    piecerows AS (SELECT 'piece' AS kind, id AS key, piece, cnt AS n1,
                    CAST(0 AS BIGINT) AS n2, CAST(0 AS BIGINT) AS n3, lp AS f1
                  FROM vocabf)
    SELECT * FROM (SELECT * FROM piecerows UNION ALL SELECT * FROM docrows)
    ORDER BY kind, key"""
    sb.toString
  }

  def q125Sql: String = unigramOracle(vocabSize = 48, maxPieceLen = 4,
    minCount = 2, seedCap = 48, rounds = 2,
    maxLen = graft.operators.Unigram.MaxWordLen)

  private def wordPieceFor(s: SparkSession, d: String)
      : (Seq[WordPiece.WpMerge], Seq[String]) =
    ArtifactCache.value(s, "wordpiece", d, "documents") {
      WordPiece.trainAndPieces(Tables.documents(s, d), col("text"),
        nMerges = 30, policy = CheckpointPolicy.fromSession(s))
    }

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

  /** q130: WordPiece — trained AND applied inside one generated query
    * (the q103/q125 convention). Mirrors [[graft.operators.WordPiece]]
    * term for term: the `|sym|` wrap with `##` spliced at internal
    * boundaries, per-iteration pair counts + symbol counts + the
    * likelihood-score argmax (`cnt/(cl·cr)` — ONE IEEE product+quotient
    * of long-exact doubles, identical cross-engine, ties on (l, r)),
    * merge application via the same non-overlapping replace, the
    * alphabet∪merge-output piece inventory with alphabetical ids, and
    * the greedy longest-match walk unrolled to MaxWordLen steps × 16
    * candidate lengths. Every chain CTE is MATERIALIZED (the bpeOracle
    * lesson). chr(1) is the never-matching replace pattern when an
    * iteration exhausts the pair table. */
  def wordPieceOracle(nMerges: Int, maxLen: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""
    WITH d0 AS (SELECT doc_id,
                  trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS norm
                FROM documents),
    d1 AS MATERIALIZED (SELECT doc_id, regexp_split_to_array(norm, '\\s+') AS toks
           FROM d0 WHERE length(norm) > 0),
    w0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest(toks) AS word FROM d1) GROUP BY word),
    s0 AS MATERIALIZED (SELECT word, freq,
           replace(regexp_replace(word, '(.)', '|\\1|', 'g'), '||', '||##') AS w
         FROM w0)"""
    for (i <- 1 to nMerges) {
      sb ++= s""",
    y$i AS (SELECT freq, str_split(substring(w, 2, length(w) - 2), '||') AS syms
            FROM s${i - 1}),
    p$i AS (SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
                  FROM y$i WHERE len(syms) >= 2)
            GROUP BY 1, 2),
    u$i AS MATERIALIZED (SELECT sym AS s, CAST(sum(freq) AS BIGINT) AS c
            FROM (SELECT freq, unnest(syms) AS sym FROM y$i) GROUP BY 1),
    b$i AS MATERIALIZED (SELECT l, r, cnt, ul.c AS cl, ur.c AS cr
            FROM p$i JOIN u$i ul ON ul.s = p$i.l JOIN u$i ur ON ur.s = p$i.r
            ORDER BY CAST(cnt AS DOUBLE) / (CAST(ul.c AS DOUBLE) * CAST(ur.c AS DOUBLE)) DESC,
                     l, r
            LIMIT 1),
    s$i AS MATERIALIZED (SELECT word, freq,
              replace(w,
                coalesce((SELECT '|' || l || '||' || r || '|' FROM b$i), chr(1)),
                coalesce((SELECT '|' || l || substr(r, 3) || '|' FROM b$i), '')) AS w
            FROM s${i - 1})"""
    }
    sb ++= s""",
    alpha AS (SELECT DISTINCT sym AS piece FROM
        (SELECT unnest(str_split(substring(w, 2, length(w) - 2), '||')) AS sym
         FROM s0)),
    vw AS (SELECT DISTINCT piece FROM (SELECT piece FROM alpha
        ${(1 to nMerges).map(i =>
          s"UNION ALL SELECT l || substr(r, 3) AS piece FROM b$i").mkString(" ")})),
    vid AS MATERIALIZED (SELECT piece,
           CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS id FROM vw),
    g0 AS (SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS seg FROM w0)"""
    for (j <- 1 to maxLen) {
      sb ++= s""",
    g$j AS MATERIALIZED (
        SELECT word, pos, seg FROM (
          SELECT s.word, s.pos + gl.l AS pos, list_append(s.seg, v.piece) AS seg,
                 row_number() OVER (PARTITION BY s.word ORDER BY gl.l DESC) AS rn
          FROM g${j - 1} s
          CROSS JOIN (SELECT unnest(generate_series(1, $maxLen)) AS l) gl
          JOIN vid v ON v.piece =
            (CASE WHEN s.pos = 0 THEN '' ELSE '##' END) ||
            substr(s.word, s.pos + 1, gl.l)
          WHERE s.pos < length(s.word) AND s.pos + gl.l <= length(s.word)
        ) WHERE rn = 1
        UNION ALL
        SELECT word, pos, seg FROM g${j - 1} WHERE pos = length(word))"""
    }
    sb ++= s""",
    d2 AS (SELECT doc_id, i AS wpos, toks[i] AS word
           FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
                 FROM d1)),
    d3a AS MATERIALIZED (SELECT d2.doc_id, d2.wpos, d2.word, g.seg
            FROM d2 LEFT JOIN g$maxLen g USING (word)),"""
    // A word MaxMatch could not cover falls out of the g-chain (no
    // pos = length(word) row survives the walk); the operator encodes it
    // as its UTF-8 BYTES at ids |vid| + byte (byte fallback, zero-OOV),
    // so the oracle synthesizes those rows from the LEFT-join miss with
    // hex-digit arithmetic. Unreachable for q130's closed corpus, where
    // every initial symbol is in vid. (Scala comment, not SQL `--`:
    // oracle strings are whitespace-collapsed to one line.)
    sb ++= s"""
    d3 AS (SELECT doc_id, wpos, j, seg[j] AS piece, CAST(NULL AS BIGINT) AS bid
           FROM (SELECT doc_id, wpos, seg,
                   unnest(generate_series(1, len(seg))) AS j FROM d3a
                 WHERE seg IS NOT NULL)
           UNION ALL
           SELECT doc_id, wpos, k AS j, NULL AS piece,
             CAST((SELECT count(*) FROM vid)
             + (strpos('0123456789abcdef',
                  substr(lower(hex(encode(word))), 2 * k - 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                  substr(lower(hex(encode(word))), 2 * k, 1)) - 1) AS BIGINT) AS bid
           FROM (SELECT doc_id, wpos, word,
                   unnest(generate_series(1, octet_length(encode(word)))) AS k
                 FROM d3a WHERE seg IS NULL)),
    d4 AS (SELECT doc_id, piece, bid,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, j) AS BIGINT) AS pos
           FROM d3),
    docrows AS (SELECT 'doc' AS kind, CAST(doc_id AS BIGINT) AS key,
                  '' AS lft, '' AS rgt,
                  CAST(count(*) AS BIGINT) AS n1,
                  CAST(sum(COALESCE(id, bid)) AS BIGINT) AS n2,
                  CAST(sum(pos * COALESCE(id, bid)) AS BIGINT) AS n3
                FROM d4 LEFT JOIN vid USING (piece) GROUP BY doc_id),
    piecerows AS (SELECT 'piece' AS kind, id AS key, piece AS lft, '' AS rgt,
                    CAST(0 AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2,
                    CAST(0 AS BIGINT) AS n3
                  FROM vid),
    mergerows AS (${(1 to nMerges).map(i =>
        s"""SELECT 'merge' AS kind, CAST($i AS BIGINT) AS key, l AS lft,
            r AS rgt, cnt AS n1, cl AS n2, cr AS n3 FROM b$i""")
      .mkString(" UNION ALL ")})
    SELECT * FROM (SELECT * FROM mergerows UNION ALL SELECT * FROM piecerows
                   UNION ALL SELECT * FROM docrows)
    ORDER BY kind, key"""
    sb.toString
  }

  def q130Sql: String = wordPieceOracle(nMerges = 30,
    maxLen = graft.operators.WordPiece.MaxWordLen)

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

  /** q138: byte-fallback BPE encode — q103's 40-merge chain served with
    * the corpus symbol vocabulary MINUS every 'e'-bearing symbol; a
    * pruned-away symbol emits its UTF-8 bytes at ids `|vocab| + byte`
    * (hex-digit arithmetic — the md5 device pointed at `hex(encode(sym))`),
    * interleaved into the (word, symbol, byte) position order. */
  def q138Sql: String =
    s"""
    WITH ${bpeChainCtes(40)},
    d3 AS MATERIALIZED (SELECT doc_id, wpos, j, syms[j] AS sym
           FROM (SELECT doc_id, wpos, syms,
                   unnest(generate_series(1, len(syms))) AS j
                 FROM d3a)),
    vid AS MATERIALIZED (
        SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
        FROM (SELECT DISTINCT sym FROM d3) WHERE sym NOT LIKE '%e%'),
    e2 AS (SELECT d3.doc_id, d3.wpos, d3.j, 0 AS k, v.id AS tid
           FROM d3 JOIN vid v USING (sym)
           UNION ALL
           SELECT doc_id, wpos, j, k,
             (SELECT count(*) FROM vid)
             + (strpos('0123456789abcdef',
                  substr(lower(hex(encode(sym))), 2 * k - 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                  substr(lower(hex(encode(sym))), 2 * k, 1)) - 1) AS tid
           FROM (SELECT doc_id, wpos, j, sym,
                   unnest(generate_series(1, octet_length(encode(sym)))) AS k
                 FROM d3 WHERE sym NOT IN (SELECT sym FROM vid))),
    e3 AS (SELECT doc_id, CAST(tid AS BIGINT) AS tid,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, j, k) AS BIGINT) AS pos
           FROM e2),
    docrows AS (SELECT 'doc' AS kind, CAST(doc_id AS BIGINT) AS key,
                  '' AS lft, '' AS rgt,
                  CAST(count(*) AS BIGINT) AS n1, CAST(sum(tid) AS BIGINT) AS n2,
                  CAST(sum(pos * tid) AS BIGINT) AS n3
                FROM e3 GROUP BY doc_id)
    SELECT * FROM (${bpeMergeRowsSql(40)} UNION ALL SELECT * FROM docrows)
    ORDER BY kind, key"""

  /** q143's planted byte-level content (the q87/q137 convention — the
    * fixture text is single-spaced lowercase-ish ASCII, so the shapes the
    * GPT-2 tokenizer family exists for are planted): mixed case,
    * multi-byte UTF-8 letters (é, ü) and symbol (€), a contraction, a
    * punctuation run, digits with a decimal-comma, and a significant
    * DOUBLE space (exercising the `\\s+(?!\\S)` lookahead donation).
    * Appended per doc as `rtrim(text) + Gpt2Plant + (doc_id % 7) + " "`.
    * Kept multi-space-before-LETTERS only: the oracle's RE2 fix-up is
    * exact for that shape (and for none that doesn't occur here). */
  private val Gpt2Plant = " The Café isn't  über 42!! €9,99 grp"

  private def q143Raw(s: SparkSession, d: String): DataFrame =
    // fanOut: the GPT-2 pretokenizer regex + byte-map sweep downstream is
    // per-row-heavy and would otherwise run on the one-task fixture scan
    Tables.fanOut(Tables.documents(s, d).select(col("doc_id"),
      concat(rtrim(coalesce(col("text"), lit(""))), lit(Gpt2Plant),
        (col("doc_id") % 7).cast("string"), lit(" ")).as("raw")),
      col("doc_id"))

  private def byteBpeMergesFor(s: SparkSession, d: String): Seq[Vocab.BpeMerge] =
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

  /** q143: byte-level BPE — the full GPT-2-family replay. Pretokenize the
    * RAW (planted) text with the RE2-safe GPT-2 pattern + the
    * lookahead fix-up (an all-space run of length w ≥ 2 followed by a
    * token donates its last space: the run shrinks to w-1 and the next
    * token gains the ' ' prefix — verified token-for-token against
    * java.util.regex's lookahead semantics for this corpus shape, where
    * multi-space runs are always space-only and letter-followed), byte-map
    * every distinct pretoken through the GPT-2 byte→unicode bijection
    * (hex-digit byte extraction + the CASE bijection + chr), then run the
    * EXACT q103 merge-chain replay with chr(1) as the symbol separator
    * (the byte alphabet contains '|') and chr(2) as the never-matching
    * fallback. Digests: merge rows + per-doc (count, id-sum, pos-weighted
    * id-sum) against the binary-collation symbol vocabulary. */
  def byteBpeOracle(nMerges: Int, plantSqlLiteral: String): String = {
    val pat = """''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""
    val sb = new StringBuilder
    sb ++= s"""
    WITH d0 AS (SELECT doc_id,
             rtrim(coalesce(text, '')) || '$plantSqlLiteral' ||
               CAST(doc_id % 7 AS VARCHAR) || chr(32) AS raw
           FROM documents),
    tk0 AS (SELECT doc_id, regexp_extract_all(raw, '$pat') AS tks FROM d0),
    tk1 AS (SELECT doc_id, i, tks[i] AS t0, len(tks) AS nt
            FROM tk0, unnest(generate_series(1, len(tks))) AS u(i)),
    tk2 AS MATERIALIZED (SELECT doc_id, i AS wpos,
            CASE WHEN regexp_matches(t0, '^ {2,}$$') AND i < nt
                   THEN substr(t0, 1, length(t0) - 1)
                 WHEN lag(t0) OVER w IS NOT NULL
                   AND regexp_matches(lag(t0) OVER w, '^ {2,}$$')
                   THEN ' ' || t0
                 ELSE t0 END AS word
            FROM tk1 WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
    w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tk2 GROUP BY word),
    wb AS (SELECT word, k,
             (strpos('0123456789abcdef',
                substr(lower(hex(encode(word))), 2*k-1, 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                substr(lower(hex(encode(word))), 2*k, 1)) - 1) AS b
           FROM w0, unnest(generate_series(1, strlen(word))) AS u(k)),
    wm AS MATERIALIZED (SELECT word,
             string_agg(chr(1) || chr(CAST(CASE
               WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
                    OR (b BETWEEN 174 AND 255) THEN b
               WHEN b <= 32 THEN 256 + b
               WHEN b BETWEEN 127 AND 160 THEN 256 + 33 + b - 127
               ELSE 256 + 67 END AS INTEGER)) || chr(1), '' ORDER BY k) AS w
           FROM wb GROUP BY word),
    s0 AS MATERIALIZED (SELECT wm.word, wm.w, w0.freq
           FROM wm JOIN w0 USING (word))"""
    for (i <- 1 to nMerges) {
      sb ++= s""",
    y$i AS (SELECT freq, str_split(substring(w, 2, length(w) - 2),
                     chr(1) || chr(1)) AS syms
            FROM s${i - 1}),
    p$i AS (SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
            FROM (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
                  FROM y$i WHERE len(syms) >= 2)
            GROUP BY 1, 2),
    b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
    s$i AS MATERIALIZED (SELECT word,
              replace(w,
                coalesce((SELECT chr(1) || l || chr(1) || chr(1) || r || chr(1)
                          FROM b$i), chr(2)),
                coalesce((SELECT chr(1) || l || r || chr(1) FROM b$i), '')) AS w,
              freq
            FROM s${i - 1})"""
    }
    sb ++= s""",
    wsym AS (SELECT word, str_split(substring(w, 2, length(w) - 2),
                      chr(1) || chr(1)) AS syms
             FROM s$nMerges),
    d3a AS MATERIALIZED (SELECT tk2.doc_id, tk2.wpos, wsym.syms
            FROM tk2 JOIN wsym USING (word)),
    d3 AS MATERIALIZED (SELECT doc_id, wpos, j, syms[j] AS sym
           FROM (SELECT doc_id, wpos, syms,
                   unnest(generate_series(1, len(syms))) AS j
                 FROM d3a)),
    d4 AS (SELECT doc_id, sym,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, j) AS BIGINT) AS pos
           FROM d3),
    vocab AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
              FROM (SELECT DISTINCT sym FROM d3)),
    docrows AS (SELECT 'doc' AS kind, CAST(doc_id AS BIGINT) AS key,
                  '' AS lft, '' AS rgt,
                  CAST(count(*) AS BIGINT) AS n1, CAST(sum(id) AS BIGINT) AS n2,
                  CAST(sum(pos * id) AS BIGINT) AS n3
                FROM d4 JOIN vocab USING (sym) GROUP BY doc_id)
    SELECT * FROM (${bpeMergeRowsSql(nMerges)} UNION ALL SELECT * FROM docrows)
    ORDER BY kind, key"""
    sb.toString
  }

  def q143Sql: String = {
    // SQL-escape the plant; SparkEntry.oracleSql collapses every
    // whitespace run in oracle SQL to one space, so the plant's
    // significant DOUBLE space ships as chr(32) concatenation instead
    val esc = Gpt2Plant.replace("'", "''")
      .replace("  ", "' || chr(32) || chr(32) || '")
    byteBpeOracle(40, esc)
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

  // q149: q83's bigram-LM scoring CTEs verbatim, then the CCNet cut — the
  // per-language ntile(3) over the (ce, doc_id) total order and the
  // keep = not-tail flag. Only docs with >= 1 token rank (q83's sc gate);
  // lang rides from the t CTE.
  def q149Sql = """
    WITH t AS (SELECT doc_id, lang,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    uni AS (SELECT w, count(*) AS cu
            FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en') GROUP BY w),
    tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS v FROM uni),
    bg AS (SELECT doc_id, lang, toks[i-1] AS w1, toks[i] AS w2
           FROM t, unnest(generate_series(2, len(toks))) AS u(i)),
    bi AS (SELECT w1, w2, count(*) AS cb FROM bg WHERE lang = 'en' GROUP BY w1, w2),
    sc AS (SELECT doc_id, lang, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
    frst AS (SELECT s.doc_id,
                -ln((CAST(coalesce(u.cu, 0) AS DOUBLE) + 1.0) / (tot.t + tot.v)) AS h1
              FROM sc s LEFT JOIN uni u ON u.w = s.toks[1] CROSS JOIN tot),
    rest AS (SELECT doc_id, sum(h) AS hrest FROM (
               SELECT g.doc_id,
                 -ln((CAST(coalesce(b.cb, 0) AS DOUBLE) + 1.0) /
                     (CAST(coalesce(u.cu, 0) AS DOUBLE) + tot.v)) AS h
               FROM bg g
               LEFT JOIN bi b ON b.w1 = g.w1 AND b.w2 = g.w2
               LEFT JOIN uni u ON u.w = g.w1
               CROSS JOIN tot) GROUP BY doc_id),
    ce AS (SELECT s.doc_id, s.lang, CAST(s.n AS BIGINT) AS n_tokens,
             round((f.h1 + coalesce(r.hrest, 0.0)) / CAST(s.n AS DOUBLE), 6) AS ce
           FROM sc s JOIN frst f ON f.doc_id = s.doc_id
           LEFT JOIN rest r ON r.doc_id = s.doc_id),
    bk AS (SELECT doc_id, lang, n_tokens, ce,
             CAST(ntile(3) OVER (PARTITION BY lang ORDER BY ce, doc_id)
                  AS BIGINT) AS bucket
           FROM ce)
    SELECT doc_id, lang, n_tokens, ce, bucket,
           CAST(CASE WHEN bucket < 3 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM bk ORDER BY doc_id"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q11_token_stats", q11TokenStats, () => q11Sql),
    QuerySpec("q61_sequence_packing", q61SequencePacking, () => q61Sql),
    QuerySpec("q68_vocab_encode", q68VocabEncode, () => q68Sql),
    QuerySpec("q83_bigram_cross_entropy", q83BigramCrossEntropy, () => q83Sql),
    QuerySpec("q88_token_budget_plan", q88TokenBudgetPlan, () => q88Sql),
    QuerySpec("q103_bpe_tokenizer", q103BpeTokenizer, () => q103Sql),
    QuerySpec("q110_kn_trigram_ce", q110KnTrigramCe, () => q110Sql),
    QuerySpec("q118_ce_reweighting", q118CeReweighting, () => q118Sql),
    QuerySpec("q125_unigram_tokenizer", q125UnigramTokenizer, () => q125Sql),
    QuerySpec("q130_wordpiece_tokenizer", q130WordPiece, () => q130Sql),
    QuerySpec("q138_bpe_byte_fallback", q138BpeByteFallback, () => q138Sql),
    QuerySpec("q143_byte_level_bpe", q143ByteLevelBpe, () => q143Sql),
    QuerySpec("q149_perplexity_buckets", q149PerplexityBuckets, () => q149Sql)
  )
}
