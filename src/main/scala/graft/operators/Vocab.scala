package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Vocabulary build + corpus encoding — the last step between packed text
  * and a dataloader: map each token to a dense integer id (out-of-vocab →
  * the UNK id = vocab size).
  *
  * Build = one token-count aggregate + a TakeOrdered of the top `size`
  * rows, with ids assigned by the range-partitioned
  * [[Ranking.globalRowNumber]] (deterministic `cnt desc, token asc`
  * order, no single-task window). Encode = posexplode + broadcast join
  * against the (tiny) vocabulary + one per-doc aggregate — the corpus
  * shuffles (doc_id, token-count) pairs, never text, and the shape is
  * exactly SQL-replayable (q68): alongside the plain counts, the
  * position-weighted sum `Σ (pos+1)·id` is an order-sensitive digest, so
  * any defect in tokenization order, vocab ranking, or the UNK rule
  * breaks the hash. */
object Vocab {

  /** (token, id) vocabulary of the `size` most frequent tokens;
    * ids 0..size-1 in (cnt desc, token asc) order. */
  def build(docs: DataFrame, text: Column, size: Int): DataFrame = {
    val counts = docs
      .select(explode(TextOps.tokens(text)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("token")).limit(size)
    Ranking.globalRowNumber(counts, Seq(desc("cnt"), col("token")), out = "__rn")
      .select(col("token"), (col("__rn") - 1).cast("long").as("id"))
  }

  // --- byte-pair encoding (real subword tokenization) ---------------------

  /** One learned BPE merge: `left`+`right` fused into one symbol, with the
    * adjacent-pair count that won the iteration. */
  final case class BpeMerge(left: String, right: String, count: Long)

  /** A word as a boundary-wrapped symbol string: every symbol sits between
    * its own `|` pair (`"abc"` → `"|a||b||c|"`), so applying a merge (l, r)
    * is ONE builtin `replace(w, "|l||r|", "|lr|")` — string replace scans
    * left-to-right and resumes AFTER each replacement, which is exactly
    * BPE's greedy non-overlapping merge order (`"aaaa"` + (a,a) →
    * `"|aa||aa|"`), and the per-symbol wrapping makes boundary-crossing
    * false matches impossible (a match `|l||r|` with sep-free l, r can only
    * be an adjacent symbol pair). Symbols are drawn from [[TextOps
    * .normalized]] text (a-z0-9), so `|` never collides with content.
    * The same trick drives the DuckDB oracle replay — both engines' replace
    * builtins share these semantics. */
  private[graft] def bpeWrap(word: Column): Column =
    regexp_replace(word, "(.)", "|$1|")

  /** Wrapped symbol string back to the symbol array. */
  private[graft] def bpeUnwrap(w: Column): Column =
    split(w.substr(lit(2), length(w) - 2), "\\|\\|")

  /** The symbol array of `word` after applying `merges` IN ORDER — BPE
    * encoding as a single codegen'd projection (wrap → one `replace` per
    * merge → split). No UDF, no HOF: at 100 TB this runs at scan speed
    * inside WholeStageCodegen, and the merge table lives in the plan as
    * literals (the broadcast-free form of a broadcast join — the table is
    * at most vocabSize strings). */
  def bpeSymbols(word: Column, merges: Seq[BpeMerge]): Column =
    bpeUnwrap(merges.foldLeft(bpeWrap(word)) { case (w, m) =>
      replace(w, lit(s"|${m.left}||${m.right}|"), lit(s"|${m.left}${m.right}|"))
    })

  /** Per-document REAL BPE token count over normalized whitespace words —
    * the drop-in replacement for the [[TextOps.bpeishTokenCount]] heuristic
    * wherever a token budget must match what an actual subword tokenizer
    * would emit (packing, mixture planning). One interpreted-HOF sum per
    * doc; bulk callers that can explode words should prefer
    * [[bpeSymbols]] on the exploded rows (codegen). */
  def bpeTokenCount(text: Column, merges: Seq[BpeMerge]): Column = {
    val toks = TextOps.tokens(TextOps.normalized(text))
    coalesce(aggregate(toks, lit(0L),
      (acc, t) => acc + size(bpeSymbols(t, merges)).cast("long")), lit(0L))
  }

  /** Deterministic distributed BPE training (Sennrich et al.'s algorithm,
    * Spark-shaped): iterate `nMerges` times over the DISTINCT-word
    * frequency table — never the corpus — counting adjacent symbol pairs
    * (weighted by word frequency, overlapping occurrences included, the
    * subword-nmt convention) and fusing the (count desc, left asc, right
    * asc) argmax pair everywhere via the wrapped-string replace.
    *
    * Scale shape: the corpus contributes ONE explode+groupBy (the word
    * count); every training iteration then touches only the distinct-word
    * table (pinned via [[CheckpointPolicy.pin]], re-pinned every 8 merges to bound plan
    * depth) with a map-side-combined pair count, and the driver pulls ONE
    * row per iteration (the argmax). Total driver state = the merge table.
    * Training stops early if no adjacent pair remains. */
  def bpeTrain(docs: DataFrame, text: Column, nMerges: Int): Seq[BpeMerge] = {
    require(nMerges >= 1, "need at least one merge")
    var words = CheckpointPolicy.pin(bpeWords(docs, text))
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var exhausted = false
    for (i <- 1 to nMerges if !exhausted) {
      val best = topPairs(words, 1) // ONE row per iteration — the argmax pair
      if (best.isEmpty) exhausted = true
      else {
        val m = best(0)
        merges += m
        words = words.withColumn("w", replace(col("w"),
          lit(s"|${m.left}||${m.right}|"), lit(s"|${m.left}${m.right}|")))
        if (i % 8 == 0) words = CheckpointPolicy.pin(words)
      }
    }
    merges.toSeq
  }

  /** The wrapped distinct-word frequency table both trainers iterate on. */
  private def bpeWords(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextOps.tokens(TextOps.normalized(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"), bpeWrap(col("word")).as("w"))

  /** Wrapped symbol string → symbol array, for a caller-chosen sep. */
  private def unwrapSep(w: Column, sep: String): Column =
    split(w.substr(lit(2), length(w) - 2),
      java.util.regex.Pattern.quote(sep + sep))

  /** Top `n` adjacent symbol pairs of the wrapped word table, in the
    * training order (cnt desc, left asc, right asc) — ≤ n driver rows. */
  private def topPairs(words: DataFrame, n: Int,
                       sep: String = "|"): Array[BpeMerge] =
    words
      .select(col("freq"), unwrapSep(col("w"), sep).as("syms"))
      .filter(size(col("syms")) >= 2) // guard: sequence(1, 0) descends
      .select(col("freq"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1),
          j => struct(element_at(col("syms"), j).as("l"),
            element_at(col("syms"), j + lit(1)).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))
      .orderBy(desc("cnt"), col("l"), col("r"))
      .limit(n).collect()
      .map(r => BpeMerge(r.getString(0), r.getString(1), r.getLong(2)))

  /** BATCHED BPE training — byte-identical output to [[bpeTrain]] with
    * ~`batch`-fold fewer Spark jobs: each iteration pulls the top-`batch`
    * pair sample (one job) and applies the MAXIMAL PREFIX of it that is
    * provably what sequential training would have picked, checked on the
    * driver against the sample alone. A production 32k-merge vocabulary
    * needs ~32k sequential jobs under [[bpeTrain]] (days of scheduler
    * overhead at cluster scale, not compute); this runs the same
    * algorithm in thousands-fewer passes.
    *
    * Exactness argument (why the prefix is safe). Applying merge
    * h = (l,r) → s = lr changes pair counts ONLY by (a) zeroing (l,r),
    * (b) shrinking pairs ending in l or starting with r (their
    * occurrences at merge sites are consumed), (c) creating pairs
    * involving the new symbol s, each new pair's count bounded by the
    * OLD count of its parent ((X,s) ≤ (X,l); (s,Y) ≤ (r,Y)) — existing
    * pair counts never increase (unless the pair involves a symbol
    * string equal to s). So candidate k extends the prefix iff:
    *
    *  1. `count(k) > count(sample.last)` when the sample is full — every
    *     unsampled pair and hence every new pair chained off one is then
    *     STRICTLY below candidate k, so none can reach its rank (skipped
    *     when the sample returned fewer than `batch` rows: it is then
    *     the complete pair table and there is nothing unseen);
    *  2. no adjacency interaction with any prefix member h:
    *     `r_k != l_h`, `l_k != r_h` (candidate's own count must not
    *     move), `l_k != s_h`, `r_k != s_h` (a later merge whose symbol
    *     string collides with s_h could resurrect/inflate it);
    *  3. no EARLIER prefix member is a self-pair (l_h == r_h): a
    *     self-merge's new pairs ((aa,a) from runs) are bounded by its
    *     own count, which may exceed the candidate's — a self-pair may
    *     end a prefix but never sit inside one;
    *  4. no sample row AFTER k with the candidate's exact count is a
    *     parent of some prefix member's new pairs (`a.r == l_h` or
    *     `a.l == r_h`) — such a parent could spawn a new pair TYING the
    *     candidate with an unknowable tie-break. (Parents strictly above
    *     the candidate are prefix members themselves and already
    *     excluded by 2.)
    *
    * Under 1–4 the argmax after applying prefix members 1..k-1 is
    * provably candidate k with its sampled count, by induction — the
    * recorded merge table and every intermediate word state match
    * sequential training byte for byte (VocabSpec gates the equality;
    * q103's oracle replays the sequential semantics in DuckDB). */
  def bpeTrainBatched(docs: DataFrame, text: Column, nMerges: Int,
                      batch: Int = 32): Seq[BpeMerge] =
    trainBatchedCore(bpeWords(docs, text), nMerges, batch, sep = "|")

  /** The [[bpeTrainBatched]] loop over an already-wrapped word table with
    * a caller-chosen symbol separator (`"|"` for the normalized-text
    * trainer whose alphabet excludes it; [[ByteSep]] for the byte-level
    * trainer whose alphabet contains every printable ASCII char). */
  private def trainBatchedCore(words0: DataFrame, nMerges: Int, batch: Int,
                               sep: String): Seq[BpeMerge] = {
    require(nMerges >= 1, "need at least one merge")
    require(batch >= 1, "need a positive batch size")
    // Where the merge loop RUNS is a size question (the WordPiece.train
    // convention): the per-iteration state is the DISTINCT-word frequency
    // table — the classic fits-on-one-machine tokenizer-training input.
    // Under `spark.graft.bpe.localTrainMaxWords` (default 2,000,000) the
    // SEQUENTIAL argmax loop runs driver-side over the collected table —
    // one corpus scan + collect instead of one cluster job per batch
    // round — and is byte-identical to [[bpeTrain]] by construction
    // (exact integer counts, (cnt desc, l, r) argmax over a sub-surrogate
    // alphabet where Java string order == UTF8 binary order, same
    // non-overlapping replace; VocabSpec gates the equality). Past the
    // cap the batched distributed loop below takes over.
    val cap = words0.sparkSession.conf.getOption("spark.graft.bpe.localTrainMaxWords")
      .map(_.toLong).getOrElse(2000000L)
    val local = PlanOps.collectUnderCap(words0.select(col("freq"), col("w")), cap)
    if (local.isDefined)
      return trainLocalSeq(local.get.map(r => (r.getLong(0), r.getString(1))), nMerges, sep)
    var words = CheckpointPolicy.pin(words0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var exhausted = false
    var sincePin = 0
    while (merges.size < nMerges && !exhausted) {
      val sample = topPairs(words, batch, sep)
      if (sample.isEmpty) exhausted = true
      else {
        val complete = sample.length < batch // the ENTIRE pair table
        val cLast = sample.last.count
        val prefix = scala.collection.mutable.ArrayBuffer(sample.head)
        var stop = false
        while (!stop && prefix.size < sample.length &&
               merges.size + prefix.size < nMerges) {
          val k = prefix.size
          val cand = sample(k)
          val countSafe = complete || cand.count > cLast
          val noSelfPairBefore = prefix.forall(p => p.left != p.right)
          val noInteraction = prefix.forall { p =>
            val s = p.left + p.right
            cand.right != p.left && cand.left != p.right &&
              cand.left != s && cand.right != s
          }
          val noTiedParentAfter = prefix.forall { p =>
            !sample.view.slice(k + 1, sample.length).exists(a =>
              a.count == cand.count &&
                (a.right == p.left || a.left == p.right))
          }
          if (countSafe && noSelfPairBefore && noInteraction && noTiedParentAfter)
            prefix += cand
          else stop = true
        }
        merges ++= prefix
        words = words.withColumn("w", prefix.foldLeft(col("w")) { (w, m) =>
          replace(w, lit(s"$sep${m.left}$sep$sep${m.right}$sep"),
            lit(s"$sep${m.left}${m.right}$sep"))
        })
        sincePin += prefix.size
        if (sincePin >= 8) { words = CheckpointPolicy.pin(words); sincePin = 0 }
      }
    }
    merges.toSeq
  }

  /** The driver-side SEQUENTIAL merge loop — the exact arithmetic twin of
    * [[bpeTrain]] ([[topPairs]] + the `replace` application) over the
    * collected (freq, wrapped-word) table: freq-weighted adjacent pair
    * counts with overlap, (cnt desc, l asc, r asc) argmax, left-to-right
    * non-overlapping merge application (java String.replace = Spark
    * `replace` semantics). */
  private def trainLocalSeq(wordFreq: Array[(Long, String)], nMerges: Int,
                            sep: String): Seq[BpeMerge] = {
    val sepRe = java.util.regex.Pattern.quote(sep + sep)
    var words = wordFreq
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var exhausted = false
    for (_ <- 1 to nMerges if !exhausted) {
      val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (f, w) =>
        val syms = w.substring(1, w.length - 1).split(sepRe, -1)
        var i = 1
        while (i < syms.length) {
          val k = (syms(i - 1), syms(i))
          pairCnt.update(k, pairCnt.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        pairCnt.foreach { case (k @ (l, r), cnt) =>
          val better = best == null || cnt > best._2 ||
            (cnt == best._2 && (l < best._1._1 ||
              (l == best._1._1 && r < best._1._2)))
          if (better) best = (k, cnt)
        }
        val ((l, r), cnt) = best
        merges += BpeMerge(l, r, cnt)
        words = words.map { case (f, w) =>
          (f, w.replace(s"$sep$l$sep$sep$r$sep", s"$sep$l$r$sep")) }
      }
    }
    merges.toSeq
  }

  /** Persist a trained merge table as an index artifact (ordered parquet:
    * iteration, left, right, count) — the train-once-at-ingest story the
    * ANN/BM25 indexes follow: every downstream packing/mixture/encode job
    * loads the same kilobyte-sized table instead of retraining, and the
    * tokenizer version ships with the corpus it was trained on. */
  def writeBpe(spark: org.apache.spark.sql.SparkSession, dir: String,
               merges: Seq[BpeMerge]): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case (m, i) => (i + 1, m.left, m.right, m.count) }
      .toDF("iteration", "left", "right", "count")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a [[writeBpe]] artifact, in training order. */
  def readBpe(spark: org.apache.spark.sql.SparkSession,
              dir: String): Seq[BpeMerge] =
    spark.read.parquet(dir).orderBy("iteration")
      .collect() // merge table: ≤ vocabSize rows, kilobytes
      .map(r => BpeMerge(r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("count"))).toSeq

  /** Subword-encode the corpus against a TRAINED merge table + symbol
    * vocabulary (the persisted-artifact serve path — [[readBpe]] feeds
    * `merges`; q103's corpus-derived symbol set or any pruned production
    * vocabulary feeds `vocab`) and emit the q103 digest frame: merge rows
    * (kind='merge', key=iteration, lft/rgt, n1=count) and doc rows
    * (kind='doc', n1=token count, n2=id sum, n3=position-weighted id
    * sum). Ids are the alphabetical ranks of `vocab`; a final symbol NOT
    * in `vocab` emits its UTF-8 bytes at the reserved ids
    * `|vocab| + byte` ([[graft.functions.ByteFallback]] — zero-OOV on
    * arbitrary input, the production-pretraining contract). The encode
    * chain runs once per DISTINCT word (codegen replace chain), the
    * byte expansion is a codegen HOF over the unknown symbols only, and
    * the vocab join is broadcast — scan-speed at any corpus size. */
  def encodeStatsBpe(docs: DataFrame, id: Column, text: Column,
                     merges: Seq[BpeMerge], vocab: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = vocab.distinct.sorted
    val byteBase = sorted.size
    val vocabDf = sorted.zipWithIndex
      .map { case (s, i) => (s, i.toLong) }.toDF("sym", "id")
    val occ = docs.select(id.cast("long").as("doc_id"),
      posexplode(TextOps.tokens(TextOps.normalized(text))).as(Seq("wpos", "word")))
    val wsym = CheckpointPolicy.pin(occ.select("word").distinct()
      .select(col("word"), bpeSymbols(col("word"), merges).as("syms")))
    val syms = CheckpointPolicy.pin(occ.join(wsym, Seq("word"))
      .select(col("doc_id"), col("wpos"),
        posexplode(col("syms")).as(Seq("j", "sym"))))
    val tids = syms.join(broadcast(vocabDf), Seq("sym"), "left")
      .select(col("doc_id"), col("wpos"), col("j"),
        when(col("id").isNotNull, array(col("id")))
          .otherwise(graft.functions.ByteFallback.byteIds(col("sym"), byteBase))
          .as("tids"))
      .select(col("doc_id"), col("wpos"), col("j"),
        posexplode(col("tids")).as(Seq("k", "tid")))
    val pos = tids.withColumn("pos",
      row_number().over(Window.partitionBy("doc_id").orderBy("wpos", "j", "k"))
        .cast("long"))
    val docRows = pos.groupBy("doc_id")
      .agg(count(lit(1)).as("n1"), sum("tid").as("n2"),
        sum(col("pos") * col("tid")).as("n3"))
      .select(lit("doc").as("kind"), col("doc_id").cast("long").as("key"),
        lit("").as("lft"), lit("").as("rgt"), col("n1"), col("n2"), col("n3"))
    val mergeRows = merges.zipWithIndex.map { case (m, i) =>
        ("merge", (i + 1).toLong, m.left, m.right, m.count, 0L, 0L) }
      .toDF("kind", "key", "lft", "rgt", "n1", "n2", "n3")
    mergeRows.unionByName(docRows).orderBy("kind", "key")
  }

  /** Per-doc encoding digests against `vocab` (UNK id = vocab size):
    * (doc_id, n_tok, n_unk, sum_ids, possum_ids) where
    * `possum_ids = Σ (pos+1)·id` over token positions. */
  def encode(docs: DataFrame, id: Column, text: Column,
             vocab: DataFrame, vocabSize: Int): DataFrame = {
    val toks = docs.select(id.cast("long").as("doc_id"),
        posexplode(TextOps.tokens(text)).as(Seq("pos", "token")))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("id"), lit(vocabSize.toLong)).as("tid"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("tid") === vocabSize.toLong, 1L).otherwise(0L)).as("n_unk"),
        sum(col("tid")).as("sum_ids"),
        sum((col("pos") + 1).cast("long") * col("tid")).as("possum_ids"))
  }

  // --- byte-level BPE (the GPT-2 tokenizer family) -------------------------

  /** Symbol separator for byte-level wrapped strings: the byte-mapped
    * alphabet contains every printable ASCII char (including `|`), so the
    * wrap uses U+0001 — a code point the GPT-2 byte→unicode bijection can
    * never emit (its image is [33,126] ∪ [161,172] ∪ [174,255] ∪
    * [256,323]). */
  val ByteSep = "\u0001"

  /** The GPT-2 pretokenization regex (public, from the GPT-2 release —
    * Radford et al. 2019): contractions, optionally-space-prefixed
    * letter/number/punctuation runs, and whitespace (the lookahead keeps
    * one space glued to the following word). Runs on RAW text — no
    * lowercasing, no normalization: case and punctuation merges are the
    * point of the byte-level family. */
  val Gpt2Pattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  /** Pretoken array of raw `text` under [[Gpt2Pattern]] (Spark's regexp
    * functions run java.util.regex, which supports the lookahead; the
    * q143 oracle replays an RE2-safe equivalent + whitespace fix-up). */
  def gpt2Pretokens(text: Column): Column =
    regexp_extract_all(coalesce(text, lit("")), lit(Gpt2Pattern), lit(0))

  /** The GPT-2 byte→unicode bijection: bytes that are printable and not
    * whitespace-ish ([33,126] ∪ [161,172] ∪ [174,255]) map to themselves;
    * the other 68 bytes map to 256+k in first-seen order — every byte
    * gets a visible, round-trippable char, so BPE can merge across raw
    * bytes with no unk and no invisible symbols. */
  val byteToUnicode: Array[Char] = {
    val arr = new Array[Char](256)
    var next = 0
    for (b <- 0 until 256) {
      val keep = (b >= 33 && b <= 126) || (b >= 161 && b <= 172) ||
        (b >= 174 && b <= 255)
      if (keep) arr(b) = b.toChar
      else { arr(b) = (256 + next).toChar; next += 1 }
    }
    arr
  }

  /** A pretoken's UTF-8 bytes through [[byteToUnicode]] — the symbol
    * string byte-level BPE trains and encodes on. */
  def byteMap(word: String): String = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(byteToUnicode(bytes(i) & 0xFF)); i += 1 }
    sb.toString
  }

  /** The wrapped distinct-pretoken frequency table the byte-level trainer
    * iterates on: GPT-2 pretokenize the RAW text, count pretokens, then
    * byte-map the DISTINCT pretokens behind a typed-map boundary (the
    * mapping is per-byte Scala arithmetic — a tiny bounded table, not a
    * corpus pass). */
  private def byteWords(docs: DataFrame, text: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.select(explode(gpt2Pretokens(text)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    counts.select(col("word"), col("freq")).toDF("_1", "_2")
      .as[(String, Long)]
      .map { case (w, f) => (byteMap(w), f) }
      .toDF("word", "freq")
      .select(col("freq"),
        regexp_replace(col("word"), "(.)", s"$ByteSep$$1$ByteSep").as("w"))
  }

  /** Byte-level BPE training (the GPT-2 family): [[Gpt2Pattern]]
    * pretokens of the RAW text, byte-mapped, merged with the exact
    * [[bpeTrainBatched]] algorithm over the [[ByteSep]]-wrapped table —
    * same argmax order, same batched-prefix exactness proof, different
    * alphabet. Case, punctuation, and the Ġ space-prefix convention all
    * participate in merges, which is precisely what the normalized-text
    * trainer cannot express. */
  def bpeTrainByteLevel(docs: DataFrame, text: Column, nMerges: Int,
                        batch: Int = 32): Seq[BpeMerge] =
    trainBatchedCore(byteWords(docs, text), nMerges, batch, ByteSep)

  /** The byte-level symbol array of an already-[[byteMap]]ped pretoken
    * after applying `merges` in order — [[bpeSymbols]] with the
    * [[ByteSep]] wrap (one codegen'd replace chain, no UDF). */
  def byteLevelSymbols(mapped: Column, merges: Seq[BpeMerge]): Column =
    unwrapSep(merges.foldLeft(
      regexp_replace(mapped, "(.)", s"$ByteSep$$1$ByteSep")) { case (w, m) =>
      replace(w, lit(s"$ByteSep${m.left}$ByteSep$ByteSep${m.right}$ByteSep"),
        lit(s"$ByteSep${m.left}${m.right}$ByteSep"))
    }, ByteSep)
}
