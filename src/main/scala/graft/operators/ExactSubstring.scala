package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT duplicated-substring extraction and removal — the suffix-array
  * dedup of Lee et al. ("Deduplicating Training Data Makes Language Models
  * Better", 2021: remove every ≥L-token substring that occurs verbatim
  * more than once in the corpus), upgraded from [[Dedup
  * .duplicatedSpanStats]]'s fixed-length fingerprints to arbitrary-length
  * maximal spans.
  *
  * Method (distributed, no suffix array materialized): a per-document
  * HASH LADDER `h_k(p)` = content fingerprint of the 2^k tokens starting
  * at p, built by halving (`h_k(p) = mix(h_{k-1}(p), h_{k-1}(p+2^{k-1}))`
  * — equal substrings get equal ladders with no global coordination,
  * the property a suffix array needs O(n log n) sorting to arrange).
  * Any length-m window (2^k ≤ m < 2^{k+1}) is then identified by the
  * TWO-ANCHOR key `(m, h_k(p), h_k(p+m-2^k))` — the two anchors overlap
  * to cover all m tokens, so key equality ⟺ window equality (the
  * classic O(1) substring-equality trick over rank arrays, here over
  * fingerprints). The pipeline:
  *
  *  1. ladder build — per-doc local arithmetic behind a typed-map
  *     boundary (no Catalyst HOF inlining, the q137 lesson), ZERO
  *     shuffles;
  *  2. prefilter — group the length-2^j anchors (j = floor(log2 L)):
  *     only positions whose 2^j-prefix occurs ≥2 times can start a
  *     duplicated ≥L-token substring, and — the completeness argument —
  *     EVERY occurrence of any duplicated ≥L substring passes this
  *     filter (its prefix occurs wherever it does), so later counts over
  *     survivors are exact corpus-wide counts. On real corpora this cuts
  *     the candidate mass to the duplicated tail; one 8-byte-key shuffle;
  *  3. expansion — survivors emit the two-anchor key for every m in
  *     [L, C] that fits their document (C is the FIRST band's width — a
  *     performance dial, not a report cap). One grouped count of
  *     (m, anchor, anchor) keys — 25 longs per surviving position at
  *     the default window, text never shuffles;
  *  4. anchor-doubling extension — positions measured AT the band cap
  *     double it ([C+1, 2C], then [2C+1, 4C], …) until every span's
  *     TRUE maximal length is known. Per-round completeness is the same
  *     induction as the prefilter: any position q sharing a window of
  *     length in round r's band has maxdup(q) past every earlier cap,
  *     so q was measured at-cap in every earlier round and is in round
  *     r's probe set — the grouped count ≥ 2 stays corpus-exact. Rounds
  *     = log2(longest-span/C); total keys per position ≤ 2·maxdup —
  *     the geometric series, same order as its own span length;
  *  5. `maxdup(p)` = max duplicated m per position; spans are
  *     right-maximal by construction and LEFT-maximal iff position p-1
  *     cannot absorb them (`maxdup(p-1) < maxdup(p)+1`) — the exact
  *     maximal-repeat set (no cap convention needed: lengths are true
  *     maxima), each emitted span verbatim-duplicated somewhere in the
  *     corpus.
  *
  * Identity is 64-bit fingerprint equality (FNV-1a token hash +
  * splitmix64 combiner): like every content-hash dedup in this engine,
  * collision probability is ≤ n²/2^64 per length class — the q141 oracle
  * replays the whole computation over the literal strings in DuckDB, so
  * a collision (or any ladder defect) breaks the hash gate.
  *
  * 100 TB notes: everything upstream of the grouped counts is per-doc
  * local; all shuffles carry fixed-width keys; the expansion factor is
  * (C-L+1) on SURVIVORS only, and each doubling round touches only the
  * still-at-cap tail — tune (L, C) to the corpus (production presets:
  * L=50 per Lee et al.; C ≈ the corpus's typical duplicated-run length
  * so most positions finish in band one). The ladder carries
  * O(log n) levels per doc (documents are bounded-length after
  * upstream chunking). Removal ([[dedupStats]]' kept digest) drops
  * every covered occurrence — the conservative variant; keeping one
  * canonical occurrence is a per-cluster keeper election over span
  * fingerprints, the [[Dedup.clusters]] machinery.
  *
  * Reference anchor: Lee et al. 2021 (public method); the reference
  * repo's own dedup is whole-row only (BASELINE.json north star).
  */
object ExactSubstring {

  private val Phi = 0x9E3779B97F4A7C15L

  /** splitmix64 finalizer — the avalanche stage. */
  private[operators] def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Order-sensitive 2-to-1 combiner. */
  private[operators] def hash2(a: Long, b: Long): Long =
    mix64(a * Phi + b + 0x165667B19E3779F9L)

  /** FNV-1a 64 over UTF-8 bytes, avalanched. */
  private[operators] def hashToken(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xFFL); h *= 0x100000001B3L; i += 1 }
    mix64(h)
  }

  /** The ladder: lvls(k)(p) fingerprints tokens [p, p+2^k) (0-based p);
    * lvls(k) has max(0, n - 2^k + 1) entries. */
  private[operators] def ladder(toks: Seq[String], maxLevel: Int): Array[Array[Long]] = {
    val base = toks.iterator.map(hashToken).toArray
    val lvls = new Array[Array[Long]](maxLevel + 1)
    lvls(0) = base
    var k = 1
    while (k <= maxLevel) {
      val step = 1 << (k - 1)
      val prev = lvls(k - 1)
      val len = math.max(0, base.length - (1 << k) + 1)
      val cur = new Array[Long](len)
      var p = 0
      while (p < len) { cur(p) = hash2(prev(p), prev(p + step)); p += 1 }
      lvls(k) = cur
      k += 1
    }
    lvls
  }

  private def log2floor(x: Int): Int = 31 - Integer.numberOfLeadingZeros(x)

  /** The pinned per-doc ladder frame: (doc_id, n, toks, lvls). Levels
    * run to max(minLevel, log2floor(n)) PER DOC — deep enough for the
    * anchor-doubling extension to reach any in-doc window length, at
    * O(n log n) longs per doc (levels beyond the doc are empty arrays,
    * and every band access is fit-guarded). */
  private def ladderFrame(df: DataFrame, id: Column, toks: Column,
                          minLevel: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // fanOut: the ladder build is per-doc local arithmetic behind the
    // typed-map boundary — on a single-row-group fixture scan it would
    // run (and be PINNED) at one partition, single-threading every
    // downstream band explode until the first exchange
    val ds = graft.Tables.fanOut(
        df.select(id.cast("long").as("doc_id"), toks.as("toks")),
        col("doc_id"))
      .as[(Long, Seq[String])]
      .map { case (d, t) =>
        val tt = if (t == null) Seq.empty[String] else t
        val lvl = math.max(minLevel, log2floor(math.max(tt.length, 1)))
        (d, tt.length, tt, ladder(tt, lvl).toSeq.map(_.toSeq))
      }
    CheckpointPolicy.pin(ds.toDF("doc_id", "n", "toks", "lvls"))
  }

  /** All duplicated-substring starts with their TRUE maximal lengths:
    * (doc_id, start [1-based token index], len, left_max) — one row per
    * position p with maxdup(p) ≥ minLen, len the exact corpus-wide
    * maximal duplicated length at p (the anchor-doubling extension runs
    * past maxLen until every length is resolved). `left_max = 1` marks
    * the maximal-repeat occurrences (not absorbable by a span starting
    * one position earlier: `maxdup(p-1) < maxdup(p)+1` — exact, no cap
    * convention). */
  def dupSpans(df: DataFrame, id: Column, toks: Column,
               minLen: Int = 16, maxLen: Int = 40): DataFrame = {
    val lf = ladderFrame(df, id, toks, log2floor(maxLen))
    dupStarts(lf, minLen, maxLen)
      .withColumn("left_max", leftMaxCol.cast("long"))
      .select(col("doc_id"), col("p").cast("long").as("start"), col("len"),
        col("left_max"))
  }

  /** The exact left-maximality predicate over (doc_id, p, len) rows. */
  private def leftMaxCol: Column = {
    val w = Window.partitionBy("doc_id").orderBy("p")
    lag(col("p"), 1).over(w).isNull ||
      lag(col("p"), 1).over(w) =!= col("p") - 1 ||
      !(lag(col("len"), 1).over(w) >= col("len") + 1)
  }

  /** Max duplicated m per (doc_id, p) over m ∈ [mLo, mHi] — the banded
    * two-anchor expansion + grouped count, with occurrences counted over
    * the GIVEN survivor set. Exactness requires `surv` to contain EVERY
    * corpus position whose maxdup is ≥ mLo (the prefilter argument at
    * the base band; the at-cap induction in the doubling rounds).
    * Anchors read from the bound `lvls` attribute — no recompute; the
    * ladder frame sits behind a typed-map boundary. Positions with no
    * duplicated m in the band are absent from the result. */
  private def bandMax(lf: DataFrame, surv: DataFrame,
                      mLo: Int, mHi: Int): DataFrame = {
    val sj = surv.join(lf.select("doc_id", "n", "lvls"), Seq("doc_id"))
    val kLo = log2floor(mLo)
    val kHi = log2floor(mHi)
    val bands = (kLo to kHi).map { k =>
      val bLo = math.max(mLo, 1 << k)
      val bHi = math.min(mHi, (1 << (k + 1)) - 1)
      val lvl = element_at(col("lvls"), k + 1)
      val hiFit = least(lit(bHi), col("n") - col("p") + 1)
      when(hiFit >= bLo,
        transform(sequence(lit(bLo), hiFit), m =>
          struct(m.cast("int").as("m"),
            element_at(lvl, col("p").cast("int")).as("a1"),
            element_at(lvl, (col("p") + m - (1 << k)).cast("int")).as("a2"))))
        .otherwise(array().cast("array<struct<m:int,a1:bigint,a2:bigint>>"))
    }
    val cand = sj.select(col("doc_id"), col("p"),
        explode(concat(bands: _*)).as("c"))
      .select(col("doc_id"), col("p"),
        col("c.m").as("m"), col("c.a1").as("a1"), col("c.a2").as("a2"))
    // Duplicate test = count-aggregate + join-back, shuffling the
    // candidate rows twice. The one-exchange alternative (count over a
    // (m, a1, a2)-partitioned window) was MEASURED SLOWER in r15 (q141
    // 4.7-5.2 -> 5.1-6.2 s warm at sf0.1): WindowExec's in-partition
    // sort over the full expansion costs more than the aggregate's
    // second, map-side-combined shuffle. Measured, not assumed.
    val dupKeys = cand.groupBy("m", "a1", "a2").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("m", "a1", "a2")
    cand.join(dupKeys, Seq("m", "a1", "a2"))
      .groupBy("doc_id", "p").agg(max(col("m")).cast("long").as("len"))
  }

  /** (doc_id, p, len): every position whose maximal duplicated length is
    * ≥ minLen, with len the TRUE corpus-wide maximum (prefilter + base
    * band + anchor-doubling extension — class doc steps 2-4). */
  private def dupStarts(lf: DataFrame, minLen: Int, maxLen: Int): DataFrame = {
    require(minLen >= 2, "minLen >= 2")
    require(maxLen >= minLen, "maxLen >= minLen")
    val j = log2floor(minLen)
    // prefilter: positions whose 2^j-prefix fingerprint occurs >= 2 times
    val pre = lf.select(col("doc_id"), col("n"),
        posexplode(element_at(col("lvls"), j + 1)))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("p"), col("col").as("h"))
      .filter(col("p") <= col("n") - minLen + 1)
    val dupH = pre.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val surv = pre.join(dupH, Seq("h")).select("doc_id", "p")
    val base = CheckpointPolicy.pin(bandMax(lf, surv, minLen, maxLen))
    // anchor-doubling: re-probe the at-cap tail over [cap+1, 2·cap]
    // until no position sits at its round's cap. Each round's probe set
    // is exactly the positions that were at-cap in EVERY earlier round
    // (see bandMax's completeness contract); a round that finds nothing
    // for a position proves maxdup == cap by monotonicity.
    // `capped`/`resolved` are plain FILTERS over the round's pinned frame —
    // re-pinning them was one extra materialization job per round for a
    // codegen predicate over already-checkpointed blocks (each filter has
    // ≤ 2 consumers: the at-cap probe join + the loop's limit-count).
    var resolved = base.filter(col("len") < maxLen)
    var capped = base.filter(col("len") === maxLen)
    var cap = maxLen
    while (capped.limit(1).count() > 0) {
      val hi = cap * 2
      val ext = bandMax(lf, capped.select("doc_id", "p"), cap + 1, hi)
      val merged = CheckpointPolicy.pin(
        capped.select("doc_id", "p", "len")
          .join(ext.withColumnRenamed("len", "__ext"), Seq("doc_id", "p"), "left")
          .select(col("doc_id"), col("p"),
            coalesce(col("__ext"), col("len")).as("len")))
      resolved = resolved.unionByName(merged.filter(col("len") < hi))
      capped = merged.filter(col("len") === hi)
      cap = hi
    }
    resolved
  }

  /** Per-document removal statistics + post-removal digest:
    * (doc_id, n_tokens, n_spans [maximal repeats], max_len, covered
    * [tokens inside ANY duplicated ≥minLen span], covered_frac,
    * kept_md5 [md5 of the space-joined surviving tokens — the document
    * after substring dedup removes every covered occurrence]). */
  def dedupStats(df: DataFrame, id: Column, toks: Column,
                 minLen: Int = 16, maxLen: Int = 40): DataFrame = {
    val lf = ladderFrame(df, id, toks, log2floor(maxLen))
    val starts = CheckpointPolicy.pin(dupStarts(lf, minLen, maxLen))
    val perDocSpans = starts
      .withColumn("left_max", leftMaxCol)
      .groupBy("doc_id")
      .agg(sum(when(col("left_max"), 1L).otherwise(0L)).as("n_spans"),
        max(col("len")).as("max_len"))
    val covPos = starts
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + col("len") - 1)).as("i"))
      .distinct()
    val coveredCnt = covPos.groupBy("doc_id")
      .agg(count(lit(1)).as("covered"))
    val allPos = lf.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("w"))
    val keptMd5 = allPos.join(covPos, Seq("doc_id", "i"), "left_anti")
      .groupBy("doc_id")
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("i"), col("w")))), s => s("w")),
        " ").cast("binary")).as("kept_md5"))
    lf.select(col("doc_id"), col("n").cast("long").as("n_tokens"))
      .join(perDocSpans, Seq("doc_id"), "left")
      .join(coveredCnt, Seq("doc_id"), "left")
      .join(keptMd5, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "max_len", "covered"))
      // a fully-covered doc has no kept rows: its digest is the empty join
      .withColumn("kept_md5",
        coalesce(col("kept_md5"), md5(lit("").cast("binary"))))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"), col("max_len"),
        col("covered"),
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("covered").cast("double") / col("n_tokens").cast("double")), 6)
          .as("covered_frac"),
        col("kept_md5"))
  }
}
