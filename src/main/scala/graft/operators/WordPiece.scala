package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** WordPiece subword tokenizer (Schuster & Nakajima 2012; the BERT
  * tokenizer — public method), the third real tokenizer family next to
  * [[Vocab]]'s BPE and [[Unigram]]: BPE merges the most FREQUENT adjacent
  * pair, WordPiece merges the pair with the highest LIKELIHOOD score
  * `count(lr) / (count(l) · count(r))` — the merge that most increases a
  * unigram LM's corpus likelihood — and encodes by greedy
  * longest-match-first (MaxMatch) against the final piece inventory
  * instead of replaying merges. Word-internal continuation pieces carry
  * the `##` prefix (so `"bert"` may segment to `b ##er ##t`), and a word
  * with any unmatchable position encodes as ONE `[UNK]` token.
  *
  * Determinism / replay (the q103/q125 convention): counts are exact
  * integers; the score is ONE IEEE product + quotient of long-exact
  * doubles (`cnt / (cl · cr)` — identical in any engine, no fence
  * needed because it is never accumulated); argmax ties break on
  * (l asc, r asc). The q130 oracle replays every iteration's pair
  * counts, symbol counts, scored argmax, and merge application, plus
  * the greedy MaxMatch walk, in DuckDB.
  *
  * 100 TB shape: the corpus is scanned ONCE into the distinct-word
  * frequency table (the [[Vocab.bpeTrain]] device); each training
  * iteration runs one pair count + one symbol count over it (both
  * map-side combined) joined into a single argmax row on the driver.
  * Encoding touches distinct words only, with the kilobyte piece
  * inventory broadcast; documents never shuffle text, just (word, id)
  * pairs. The wrapped-symbol representation reuses BPE's `|sym|` device
  * with `##` spliced after each boundary, so merge application stays one
  * codegen `replace` per iteration.
  */
object WordPiece {

  /** One learned merge: `left`+`right` (right always `##`-classed) fused
    * into [[WpMerge.merged]], with the winning pair count and both
    * symbol counts (the score's exact numerator and denominator). */
  final case class WpMerge(left: String, right: String, cnt: Long,
                           cntLeft: Long, cntRight: Long) {
    /** The fused symbol: the left's class, the right's surface. */
    def merged: String = left + right.drop(2)
  }

  /** Longest word (and piece surface) the oracle's unrolled greedy walk
    * replays; enforced loudly at train time. */
  val MaxWordLen = 16

  /** A word as boundary-wrapped WordPiece symbols: `"abc"` →
    * `"|a||##b||##c|"` — [[Vocab.bpeWrap]]'s per-symbol wrapping with the
    * continuation prefix spliced into every internal boundary. `#` never
    * collides with content ([[TextOps.normalized]] text is a-z0-9). */
  private[graft] def wpWrap(word: Column): Column =
    replace(regexp_replace(word, "(.)", "|$1|"), lit("||"), lit("||##"))

  /** Wrapped symbol string back to the symbol array. */
  private[graft] def wpUnwrap(w: Column): Column =
    split(w.substr(lit(2), length(w) - 2), "\\|\\|")

  /** The wrapped distinct-word frequency table training iterates on. */
  private def wpWords(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextOps.tokens(TextOps.normalized(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"), col("word"), wpWrap(col("word")).as("w"))

  /** The score-argmax pair of the current word table — ONE driver row:
    * adjacent pair counts and per-symbol counts (both freq-weighted,
    * overlapping occurrences included) joined, ordered by
    * (cnt/(cl·cr) desc, l asc, r asc). */
  private def topScored(words: DataFrame): Option[WpMerge] = {
    val syms = words.select(col("freq"), wpUnwrap(col("w")).as("syms"))
    val symCnt = syms
      .select(col("freq"), explode(col("syms")).as("s"))
      .groupBy("s").agg(sum("freq").as("c"))
    val pairs = syms.filter(size(col("syms")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1),
          j => struct(element_at(col("syms"), j).as("l"),
            element_at(col("syms"), j + lit(1)).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))
    pairs
      .join(symCnt.select(col("s").as("l"), col("c").as("cl")), Seq("l"))
      .join(symCnt.select(col("s").as("r"), col("c").as("cr")), Seq("r"))
      .orderBy((col("cnt").cast("double") /
        (col("cl").cast("double") * col("cr").cast("double"))).desc,
        col("l"), col("r"))
      .limit(1)
      .select("l", "r", "cnt", "cl", "cr")
      .collect().headOption
      .map(r => WpMerge(r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
  }

  /** Deterministic WordPiece training: `nMerges` scored-argmax iterations
    * over the distinct-word table (early stop when no adjacent pair
    * remains). Unlike [[Vocab.bpeTrainBatched]], a safe merge batch would
    * need NO shared symbol with the whole prefix (a merge moves its own
    * symbols' counts, hence every score they denominate), so the prefix
    * rule degenerates to ~1 for natural language — iterations stay
    * intentionally sequential.
    *
    * Where the iterations RUN is a size question, not a semantics one
    * (guide §1.2: fix the distributed algorithm first): the corpus scan
    * is always distributed, but the per-iteration state is the DISTINCT
    * normalized-word frequency table — ≤ [[MaxWordLen]]-char a-z0-9
    * strings, the classic fits-on-one-machine tokenizer-training input
    * (SentencePiece/HF trainers are built around exactly this reduction).
    * When that table is within `spark.graft.wp.localTrainMaxWords`
    * (default 2,000,000 ≈ tens of MB), the merge loop runs driver-side
    * over the collected table — one corpus scan + one collect instead of
    * `nMerges` sequential cluster jobs (30 jobs ≈ 7 s of pure job
    * overhead at sf0.1). Past the cap it falls back to the distributed
    * loop. Both paths compute IDENTICAL merges: exact integer counts,
    * one IEEE score division, (l asc, r asc) tie-break on the pure-ASCII
    * symbol alphabet (WordPieceSpec gates path parity). */
  def train(docs: DataFrame, text: Column, nMerges: Int): Seq[WpMerge] =
    collectWordsUnderCap(docs, text) match {
      case Some(wf) => trainLocal(wf, nMerges)
      case None => trainDistributed(docs, text, nMerges)
    }

  /** [[train]] + [[pieces]] from ONE corpus scan: the piece alphabet is
    * the distinct symbol set of the same word table the merge loop
    * consumes, so the fits-locally path derives both from a single
    * collect (the two-call form pays a second scan + distinct). Falls
    * back to the two-pass distributed pair past the cap. */
  def trainAndPieces(docs: DataFrame, text: Column, nMerges: Int)
      : (Seq[WpMerge], Seq[String]) =
    collectWordsUnderCap(docs, text) match {
      case Some(wf) =>
        val merges = trainLocal(wf, nMerges)
        val alphabet = wf.iterator.flatMap { case (_, w) =>
          w.iterator.zipWithIndex.map { case (c, i) =>
            if (i == 0) c.toString else "##" + c }
        }.toSeq.distinct
        (merges, (alphabet ++ merges.map(_.merged)).distinct.sorted)
      case None =>
        val merges = trainDistributed(docs, text, nMerges)
        (merges, pieces(docs, text, merges))
    }

  /** The collected (freq, word) table when it fits
    * `spark.graft.wp.localTrainMaxWords` (default 2,000,000), None past
    * the cap; loud failure on an empty corpus, [[MaxWordLen]] enforced. */
  private def collectWordsUnderCap(docs: DataFrame,
                                   text: Column): Option[Array[(Long, String)]] = {
    val cap = docs.sparkSession.conf.getOption("spark.graft.wp.localTrainMaxWords")
      .map(_.toLong).getOrElse(2000000L)
    PlanOps.collectUnderCap(wpWords(docs, text).select(col("freq"), col("word")), cap)
      .map { localRows =>
        if (localRows.isEmpty)
          throw new IllegalArgumentException(
            "WordPiece.train: corpus has no tokens after normalization")
        val maxLen = localRows.iterator.map(_.getString(1).length).max
        require(maxLen <= MaxWordLen,
          s"longest word $maxLen exceeds the replayable walk bound $MaxWordLen")
        localRows.map(r => (r.getLong(0), r.getString(1)))
      }
  }

  /** The driver-side merge loop — the exact arithmetic twin of
    * [[topScored]] + the `replace` merge application, over the collected
    * (freq, word) table. Symbols are boundary-wrapped strings exactly as
    * in [[wpWrap]] so the non-overlapping left-to-right merge application
    * (java String.replace = Spark `replace` semantics) matches. */
  private def trainLocal(wordFreq: Array[(Long, String)],
                         nMerges: Int): Seq[WpMerge] = {
    var words: Array[(Long, String)] =
      wordFreq.map { case (f, w) =>
        (f, w.map(c => s"|$c|").mkString.replace("||", "||##")) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
    var exhausted = false
    for (_ <- 1 to nMerges if !exhausted) {
      val symCnt = scala.collection.mutable.HashMap.empty[String, Long]
      val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (f, w) =>
        val syms = w.substring(1, w.length - 1).split("\\|\\|", -1)
        var i = 0
        while (i < syms.length) {
          symCnt.update(syms(i), symCnt.getOrElse(syms(i), 0L) + f)
          if (i >= 1) {
            val k = (syms(i - 1), syms(i))
            pairCnt.update(k, pairCnt.getOrElse(k, 0L) + f)
          }
          i += 1
        }
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        // argmax by (cnt/(cl·cr) desc, l asc, r asc) — the topScored order
        var best: ((String, String), Long, Double) = null
        pairCnt.foreach { case (k @ (l, r), cnt) =>
          val score = cnt.toDouble / (symCnt(l).toDouble * symCnt(r).toDouble)
          val better = best == null || score > best._3 ||
            (score == best._3 && (l < best._1._1 ||
              (l == best._1._1 && r < best._1._2)))
          if (better) best = (k, cnt, score)
        }
        val ((l, r), cnt, _) = best
        val m = WpMerge(l, r, cnt, symCnt(l), symCnt(r))
        merges += m
        words = words.map { case (f, w) =>
          (f, w.replace(s"|$l||$r|", s"|${m.merged}|")) }
      }
    }
    merges.toSeq
  }

  /** The distributed merge loop — the past-the-cap fallback (one cluster
    * job per scored argmax). */
  private def trainDistributed(docs: DataFrame, text: Column, nMerges: Int): Seq[WpMerge] = {
    var words = CheckpointPolicy.pin(wpWords(docs, text))
    // max() over an empty word table aggregates to NULL — read it as a
    // nullable so an empty corpus fails with a clear message, not an NPE.
    val maxLen = Option(words.agg(max(length(col("word")))).head().get(0))
      .map(_.asInstanceOf[Int])
      .getOrElse(throw new IllegalArgumentException(
        "WordPiece.train: corpus has no tokens after normalization"))
    require(maxLen <= MaxWordLen,
      s"longest word $maxLen exceeds the replayable walk bound $MaxWordLen")
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
    var exhausted = false
    for (i <- 1 to nMerges if !exhausted) {
      topScored(words) match {
        case None => exhausted = true
        case Some(m) =>
          merges += m
          words = words.withColumn("w", replace(col("w"),
            lit(s"|${m.left}||${m.right}|"), lit(s"|${m.merged}|")))
          if (i % 8 == 0) words = CheckpointPolicy.pin(words)
      }
    }
    merges.toSeq
  }

  /** The final piece inventory: every INITIAL symbol of the corpus words
    * (first char bare, later chars `##`-prefixed — the coverage closure
    * that keeps corpus words segmentable) plus each merge's output,
    * distinct and sorted (the id order). */
  def pieces(docs: DataFrame, text: Column, merges: Seq[WpMerge]): Seq[String] = {
    val alphabet = wpWords(docs, text)
      .select(explode(wpUnwrap(col("w"))).as("s"))
      .distinct()
      .collect().map(_.getString(0)) // bounded: ≤ 2·|a-z0-9| symbols
    (alphabet ++ merges.map(_.merged)).distinct.sorted.toIndexedSeq
  }

  /** Greedy longest-match-first segmentation (BERT's MaxMatch): at each
    * position take the LONGEST piece (with the positional `##` class)
    * present in `inventory`; None when some position has no match — the
    * caller emits one `[UNK]` for the whole word. */
  private[operators] def maxMatch(word: String, inventory: Set[String],
                                  maxSurface: Int = MaxWordLen): Option[List[String]] = {
    val n = word.length
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var pos = 0
    while (pos < n) {
      var l = math.min(maxSurface, n - pos)
      var hit: String = null
      while (l >= 1 && hit == null) {
        val cand = (if (pos == 0) "" else "##") + word.substring(pos, pos + l)
        if (inventory(cand)) hit = cand else l -= 1
      }
      if (hit == null) return None
      out += hit
      pos += l
    }
    Some(out.toList)
  }

  /** Persist a trained merge table (ordered parquet: iteration, left,
    * right, cnt, cnt_left, cnt_right) — the train-once-at-ingest artifact
    * ([[Vocab.writeBpe]] convention). */
  def writeWp(spark: org.apache.spark.sql.SparkSession, dir: String,
              merges: Seq[WpMerge]): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case (m, i) => (i + 1, m.left, m.right, m.cnt, m.cntLeft, m.cntRight) }
      .toDF("iteration", "left", "right", "cnt", "cnt_left", "cnt_right")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a [[writeWp]] artifact, in training order. */
  def readWp(spark: org.apache.spark.sql.SparkSession,
             dir: String): Seq[WpMerge] =
    spark.read.parquet(dir).orderBy("iteration")
      .collect() // merge table: ≤ vocabSize rows, kilobytes
      .map(r => WpMerge(r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("cnt"), r.getAs[Long]("cnt_left"),
        r.getAs[Long]("cnt_right"))).toSeq

  /** Tokenize the corpus and emit the hash-gateable digest frame (the
    * q103/q125 convention): merge rows (kind='merge', key=iteration,
    * lft/rgt, n1=cnt, n2=cnt_left, n3=cnt_right — the score's exact
    * integers), piece rows (kind='piece', key=alphabetical id,
    * lft=piece), and doc rows (kind='doc', n1=token count, n2=id sum,
    * n3=position-weighted id sum). A word MaxMatch cannot cover emits
    * its UTF-8 bytes at ids `|pieces| + byte` (byte fallback — zero-OOV
    * on arbitrary input, no [UNK]). Segmentation runs once per DISTINCT
    * word with the broadcast inventory. */
  def encodeStats(docs: DataFrame, id: Column, text: Column,
                  merges: Seq[WpMerge], inventory: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = inventory.distinct.sorted
    val ids = sorted.zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
    // byte-fallback base: the 256 reserved byte ids live in
    // [|pieces|, |pieces|+256) — a word MaxMatch cannot cover encodes as
    // its UTF-8 bytes instead of an [UNK] (zero-OOV on any input; the
    // [[graft.functions.ByteFallback]] contract)
    val byteBase = sorted.size.toLong
    val vb = spark.sparkContext.broadcast((sorted.toSet, ids))
    val occ = docs.select(id.cast("long").as("doc_id"),
      posexplode(TextOps.tokens(TextOps.normalized(text))).as(Seq("wpos", "word")))
    val wseg = CheckpointPolicy.pin(occ.select("word").distinct().as[String]
      .flatMap { w =>
        maxMatch(w, vb.value._1) match {
          case Some(seg) => seg.zipWithIndex.map { case (p, j) =>
            (w, j.toLong, vb.value._2(p)) }
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
      .select(lit("doc").as("kind"), col("doc_id").as("key"),
        lit("").as("lft"), lit("").as("rgt"), col("n1"), col("n2"), col("n3"))
    val mergeRows = merges.zipWithIndex.map { case (m, i) =>
        ("merge", (i + 1).toLong, m.left, m.right, m.cnt, m.cntLeft, m.cntRight) }
      .toDF("kind", "key", "lft", "rgt", "n1", "n2", "n3")
    val pieceRows = sorted.zipWithIndex.map { case (p, i) =>
        ("piece", i.toLong, p, "", 0L, 0L, 0L) }
      .toDF("kind", "key", "lft", "rgt", "n1", "n2", "n3")
    mergeRows.unionByName(pieceRows).unionByName(docRows)
      .orderBy("kind", "key")
  }
}
