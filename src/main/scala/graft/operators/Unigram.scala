package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (Kudo 2018, "Subword Regularization" —
  * the SentencePiece unigram model; public method), trained by hard-EM
  * with Viterbi segmentation — the second real subword tokenizer family
  * next to [[Vocab]]'s BPE: BPE grows a vocabulary bottom-up by merging,
  * the unigram model starts from an over-complete seed and prunes, and
  * segmentation is a per-word maximum-likelihood DP instead of greedy
  * replaces.
  *
  * Every quantity is engineered to replay cross-engine exactly (the
  * q103/q108 convention):
  *  - piece log-probs are `floor(ln(cnt/total)·1e6 + 0.5)/1e6` — the
  *    arithmetic fence kills the 1-ulp `ln` divergence between libm and
  *    the JVM;
  *  - Viterbi scores are sums of ≤ wordLen fenced doubles accumulated in
  *    the same order on both engines (dp[i−l] + logp), so comparisons are
  *    exact, and ties break on the total order (score desc, piece-count
  *    asc, last-piece-length desc) — deterministic because dp[i−l] is
  *    already unique by induction;
  *  - training is hard-EM: segment with the current model, re-estimate
  *    counts from the Viterbi segmentation (full forward-backward expected
  *    counts are the soft-EM generalization; the hard variant keeps every
  *    count an integer, which is what makes the exact replay possible).
  *
  * 100 TB shape: the corpus is touched ONCE (distinct-word frequency
  * table — the [[Vocab.bpeTrain]] device); seed-candidate counting is a
  * substring explode + hash aggregate with an immediate cap (`seedCap`
  * rarest... most-frequent survivors, the SentencePiece
  * seed_sentencepiece_size posture), so the driver only ever holds the
  * capped model (≤ seedCap + alphabet pieces); each EM round is one
  * executor-side Viterbi pass over DISTINCT words with the broadcast
  * model plus one count aggregate. Documents never leave their scan
  * except as (word, freq) pairs.
  */
object Unigram {

  /** A vocabulary piece: surface form, training count, fenced log-prob. */
  case class UPiece(piece: String, cnt: Long, logp: Double)

  /** Longest word the oracle's unrolled DP replays; enforced loudly. */
  val MaxWordLen = 16

  private[operators] def fence6(x: Double): Double =
    math.floor(x * 1e6 + 0.5) / 1e6

  /** Deterministic Viterbi segmentation of `word` under `vocab` log-probs.
    * Candidate order at each position: accept strictly-better under
    * (score desc, pieces asc, lastLen desc). Single-character closure of
    * the vocabulary guarantees a path exists. */
  private[operators] def viterbi(word: String, vocab: Map[String, Double],
                                 maxPieceLen: Int): List[String] =
    viterbiOpt(word, vocab, maxPieceLen).getOrElse(
      throw new IllegalArgumentException(
        s"word '$word' not segmentable — vocabulary lost its character closure"))

  /** [[viterbi]] without the closure requirement: None when the word has
    * no lattice path (a character outside the vocabulary) — the
    * byte-fallback trigger in [[encodeStats]]. */
  private[operators] def viterbiOpt(word: String, vocab: Map[String, Double],
                                    maxPieceLen: Int): Option[List[String]] = {
    val n = word.length
    val dpS = Array.fill(n + 1)(Double.NegativeInfinity)
    val dpK = Array.fill(n + 1)(Int.MaxValue)
    val dpL = Array.fill(n + 1)(0)
    dpS(0) = 0.0; dpK(0) = 0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        if (dpS(i - l) != Double.NegativeInfinity) {
          vocab.get(word.substring(i - l, i)) match {
            case Some(lp) =>
              val s = dpS(i - l) + lp
              val k = dpK(i - l) + 1
              if (s > dpS(i) || (s == dpS(i) && (k < dpK(i) ||
                  (k == dpK(i) && l > dpL(i))))) {
                dpS(i) = s; dpK(i) = k; dpL(i) = l
              }
            case None => ()
          }
        }
        l += 1
      }
      i += 1
    }
    if (dpS(n) == Double.NegativeInfinity) None
    else {
      var out = List.empty[String]
      var p = n
      while (p > 0) { out = word.substring(p - dpL(p), p) :: out; p -= dpL(p) }
      Some(out)
    }
  }

  /** The distinct-word frequency table (the corpus's only full scan). */
  private def wordFreq(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextOps.tokens(TextOps.normalized(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  private def withLogp(pieces: Seq[(String, Long)]): Seq[UPiece] = {
    val total = pieces.map(_._2).sum.toDouble
    pieces.map { case (p, c) => UPiece(p, c, fence6(math.log(c.toDouble / total))) }
  }

  /** Train the unigram model: seed = all substrings (≤ maxPieceLen) of the
    * distinct-word table with freq-weighted overlapping counts, capped to
    * `seedCap` multi-char pieces (count desc, piece asc) above `minCount`,
    * plus ALL single characters (the coverage closure — never pruned,
    * counts floored at 1); then `rounds` hard-EM updates: Viterbi-segment
    * every distinct word, re-count pieces weighted by word frequency, keep
    * the top (vocabSize − alphabet) multi-char pieces, re-fence log-probs.
    * Returns the final vocabulary sorted by piece. */
  def train(docs: DataFrame, text: Column, vocabSize: Int,
            maxPieceLen: Int = 4, minCount: Long = 2, seedCap: Int = 48,
            rounds: Int = 2): Seq[UPiece] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = CheckpointPolicy.pin(wordFreq(docs, text))
    val maxLen = words.agg(max(length(col("word")))).head().getInt(0)
    require(maxLen <= MaxWordLen,
      s"longest word $maxLen exceeds the replayable DP unroll $MaxWordLen")
    val seed = words
      .select(col("freq"), col("word"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("freq"), col("word"), col("i"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("word")))
      .select(col("freq"), expr("substring(word, i, l)").as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
    val chars = seed.filter(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val multi0 = seed
      .filter(length(col("piece")) > 1 && col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("piece")).limit(seedCap)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    var vocab = withLogp((chars ++ multi0).toIndexedSeq)
    val charSet = chars.map(_._1)
    require(charSet.size < vocabSize,
      s"vocabSize $vocabSize must exceed the ${charSet.size}-char alphabet")
    for (_ <- 1 to rounds) {
      val vb = spark.sparkContext.broadcast(
        vocab.map(p => p.piece -> p.logp).toMap)
      val counts = words.select(col("word"), col("freq")).as[(String, Long)]
        .flatMap { case (w, f) => viterbi(w, vb.value, maxPieceLen).map(_ -> f) }
        .toDF("piece", "freq")
        .groupBy("piece").agg(sum("freq").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val charRows = charSet.map(c => c -> math.max(counts.getOrElse(c, 0L), 1L))
      val multiRows = counts.toSeq.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }.take(vocabSize - charSet.size)
      vocab = withLogp((charRows ++ multiRows).toIndexedSeq)
    }
    vocab.sortBy(_.piece)
  }

  /** Subword-regularization sampling (the training-time use of the unigram
    * model — Kudo 2018 §3.2): draw a segmentation with probability
    * ∝ P(seg)^α via forward-filter / backward-sample over the piece
    * lattice. α → ∞ recovers [[viterbi]]'s argmax (up to its tie order);
    * α = 0 samples segmentations uniformly. DETERMINISTIC: every random
    * draw is the md5 uniform of (word, salt, position) — the
    * Efraimidis–Spirakis device the engine's samplers already use — so a
    * distributed encode pass is retry-stable and reproducible per salt.
    * Forward mass is accumulated in log space (log-sum-exp) for numeric
    * safety; the sampling itself is spec-gated, not oracle-gated (the
    * deterministic argmax path is the oracle surface). */
  def sampleSegment(word: String, vocab: Map[String, Double],
                    maxPieceLen: Int, alpha: Double,
                    salt: String = "seg"): List[String] = {
    require(alpha >= 0, s"alpha >= 0: $alpha")
    val n = word.length
    val NegInf = Double.NegativeInfinity
    def lse(a: Double, b: Double): Double =
      if (a == NegInf) b else if (b == NegInf) a
      else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }
    // forward: logF(i) = logsumexp over l of logF(i-l) + alpha * logp(piece)
    val logF = Array.fill(n + 1)(NegInf)
    logF(0) = 0.0
    for (i <- 1 to n; l <- 1 to math.min(maxPieceLen, i)) {
      if (logF(i - l) != NegInf) {
        vocab.get(word.substring(i - l, i)).foreach { lp =>
          logF(i) = lse(logF(i), logF(i - l) + alpha * lp)
        }
      }
    }
    require(logF(n) != NegInf,
      s"word '$word' not segmentable — vocabulary lost its character closure")
    // backward: at pos i pick piece length l w.p. exp(logF(i-l) + a·lp - logF(i))
    var out = List.empty[String]
    var i = n
    while (i > 0) {
      val u = {
        val h = graft.functions.PortableHash.md5Long(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$word|$salt|$i"))
        ((h >>> 12).toDouble) / 4503599627370496.0 // top 52 bits → [0, 1)
      }
      var acc = 0.0
      var pick = -1
      var l = 1
      while (l <= math.min(maxPieceLen, i) && pick < 0) {
        if (logF(i - l) != NegInf) {
          vocab.get(word.substring(i - l, i)).foreach { lp =>
            acc += math.exp(logF(i - l) + alpha * lp - logF(i))
            if (u < acc) pick = l
          }
        }
        l += 1
      }
      if (pick < 0) { // float-tail guard: take the last feasible length
        var ll = math.min(maxPieceLen, i)
        while (pick < 0 && ll >= 1) {
          if (logF(i - ll) != NegInf && vocab.contains(word.substring(i - ll, i)))
            pick = ll
          else ll -= 1
        }
      }
      out = word.substring(i - pick, i) :: out
      i -= pick
    }
    out
  }

  /** Persist a trained vocabulary — the train-once-at-ingest serve path
    * (the [[Vocab.writeBpe]] convention): pieces with counts and fenced
    * log-probs, kilobytes regardless of corpus size. */
  def writeVocab(spark: org.apache.spark.sql.SparkSession, dir: String,
                 vocab: Seq[UPiece]): Unit = {
    import spark.implicits._
    vocab.map(p => (p.piece, p.cnt, p.logp)).toDF("piece", "cnt", "logp")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a [[writeVocab]] artifact, sorted by piece (the id order). */
  def readVocab(spark: org.apache.spark.sql.SparkSession,
                dir: String): Seq[UPiece] =
    spark.read.parquet(dir).orderBy("piece")
      .collect() // the model: ≤ vocabSize rows, kilobytes
      .map(r => UPiece(r.getAs[String]("piece"), r.getAs[Long]("cnt"),
        r.getAs[Double]("logp"))).toSeq

  /** Tokenize the corpus with a trained vocabulary and emit the
    * hash-gateable digest frame (the q103 convention): one row per vocab
    * piece (kind='piece', key=alphabetical id, cnt, fenced logp) and one
    * per document (kind='doc', token count, id sum, position-weighted id
    * sum over the doc's flattened piece sequence). A word with no lattice
    * path encodes as its UTF-8 bytes at ids `|pieces| + byte` (byte
    * fallback — zero-OOV on arbitrary input). */
  def encodeStats(docs: DataFrame, id: Column, text: Column,
                  vocab: Seq[UPiece], maxPieceLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = vocab.sortBy(_.piece)
    val ids = sorted.zipWithIndex.map { case (p, i) => p.piece -> i.toLong }.toMap
    // byte-fallback base: ids [|pieces|, |pieces|+256) are the reserved
    // UTF-8 byte ids for words with no lattice path (zero-OOV encode on
    // arbitrary input — the [[graft.functions.ByteFallback]] contract)
    val byteBase = sorted.size.toLong
    val vb = spark.sparkContext.broadcast(
      (sorted.map(p => p.piece -> p.logp).toMap, ids))
    val occ = docs.select(id.cast("long").as("doc_id"),
      posexplode(TextOps.tokens(TextOps.normalized(text))).as(Seq("wpos", "word")))
    val wseg = CheckpointPolicy.pin(occ.select("word").distinct().as[String]
      .flatMap { w =>
        viterbiOpt(w, vb.value._1, maxPieceLen) match {
          case Some(seg) => seg.zipWithIndex
            .map { case (p, j) => (w, j.toLong, vb.value._2(p)) }
          case None => graft.functions.ByteFallback.utf8(w).zipWithIndex
            .map { case (b, j) => (w, j.toLong, byteBase + b) }
        }
      }.toDF("word", "j", "pid"))
    val pos = occ.join(wseg, Seq("word"))
      .withColumn("pos",
        row_number().over(Window.partitionBy("doc_id").orderBy("wpos", "j"))
          .cast("long"))
    val docRows = pos.groupBy("doc_id")
      .agg(count(lit(1)).as("n1"), sum("pid").as("n2"),
        sum(col("pos") * col("pid")).as("n3"))
      .select(lit("doc").as("kind"), col("doc_id").as("key"), lit("").as("piece"),
        col("n1"), col("n2"), col("n3"), lit(0.0).as("f1"))
    val pieceRows = sorted.zipWithIndex.map { case (p, i) =>
        ("piece", i.toLong, p.piece, p.cnt, 0L, 0L, p.logp) }
      .toDF("kind", "key", "piece", "n1", "n2", "n3", "f1")
    pieceRows.unionByName(docRows).orderBy("kind", "key")
  }
}
