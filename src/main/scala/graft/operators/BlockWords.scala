package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{lower, coalesce, lit}

/** Multi-pattern lexicon scanning — the C4/RefinedWeb "badwords" stage
  * done right at scale: a curation pass scores every document against a
  * blocklist of words AND phrases (hundreds of entries per language),
  * and the naive form — one `contains`/regex per entry — is
  * O(lexicon × bytes) per document, which at 100 TB turns a scan-bound
  * stage into the bottleneck. This is the textbook Aho–Corasick fit:
  * ONE automaton pass per document finds every occurrence of every
  * pattern, O(tokens + matches) regardless of lexicon size.
  *
  * The automaton is TOKEN-level (states transition on whole tokens, not
  * chars): the match unit of a badwords policy is the word with
  * boundaries, so tokens make boundary semantics exact by construction
  * (no `\b` lookaround divergence between engines) and phrases are just
  * multi-token patterns. Tokenization mirrors the repo's engine-portable
  * convention: lowercase, split on non-alphanumeric runs — the DuckDB
  * oracle replays it with `regexp_split_to_array` + list lambdas, and
  * counts EVERY occurrence (overlaps included: `batch batch batch`
  * holds two `batch batch` matches), exactly what the fail-link walk
  * yields.
  *
  * Scale: the automaton builds once on the driver (a lexicon is KBs)
  * and ships in the task closure; the scan is a per-row typed map —
  * zero shuffles, scan-bound, counts bounded by lexicon size. Output
  * feeds the usual policy layer (threshold on score, drop on any hit,
  * downweight by density).
  *
  * q159 gates counts/score/top-pattern against the closed-form replay;
  * the spec drives the classic AC shapes (shared prefixes, outputs via
  * fail links, overlapping phrase hits).
  */
object BlockWords {

  /** One lexicon entry: the token sequence and its policy weight. */
  final case class Pattern(tokens: Vector[String], weight: Double) {
    def name: String = tokens.mkString(" ")
  }

  /** Token-level Aho–Corasick automaton. Immutable and serializable —
    * built once, shipped in the scan closure. `out` holds the MERGED
    * output sets (own + fail chain), so the walk never follows fail
    * links for reporting. */
  final class Automaton private[BlockWords] (
      private val children: Array[Map[String, Int]],
      private val fail: Array[Int],
      private val out: Array[Array[Int]],
      val patterns: Array[Pattern]) extends Serializable {

    /** Occurrence count per pattern over one token stream. */
    def countMatches(tokens: Iterator[String]): Array[Int] = {
      val counts = new Array[Int](patterns.length)
      var st = 0
      while (tokens.hasNext) {
        val t = tokens.next()
        var s = st
        while (s != 0 && !children(s).contains(t)) s = fail(s)
        st = children(s).getOrElse(t, 0)
        val o = out(st)
        var i = 0
        while (i < o.length) { counts(o(i)) += 1; i += 1 }
      }
      counts
    }
  }

  /** Build the automaton: trie over token sequences, BFS fail links,
    * outputs merged down the fail chain (standard construction). */
  def build(lexicon: Seq[(String, Double)]): Automaton = {
    require(lexicon.nonEmpty, "empty lexicon")
    val patterns = lexicon.map { case (p, w) =>
      val toks = p.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
      require(toks.nonEmpty, s"pattern with no tokens: '$p'")
      Pattern(toks, w)
    }.toArray
    val children = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.Map.empty[String, Int])
    val ownOut = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (pat, pi) =>
      var st = 0
      pat.tokens.foreach { t =>
        st = children(st).getOrElseUpdate(t, {
          children += scala.collection.mutable.Map.empty[String, Int]
          ownOut += Nil
          children.length - 1
        })
      }
      ownOut(st) ::= pi
    }
    val n = children.length
    val fail = new Array[Int](n)
    val merged = new Array[Array[Int]](n)
    merged(0) = ownOut(0).toArray
    val queue = scala.collection.mutable.Queue.empty[Int]
    children(0).values.foreach { c => fail(c) = 0; queue += c }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      merged(u) = (ownOut(u) ++ merged(fail(u))).toArray
      children(u).foreach { case (tok, v) =>
        var f = fail(u)
        while (f != 0 && !children(f).contains(tok)) f = fail(f)
        fail(v) = children(f).getOrElse(tok, 0) match {
          case `v` => 0 // the root child itself: fail to root
          case w => w
        }
        queue += v
      }
    }
    new Automaton(children.map(_.toMap).toArray, fail, merged, patterns)
  }

  /** Scan every document against `lexicon`: (doc_id, n_hits,
    * n_patterns, score, top_pattern) — total occurrence count, distinct
    * patterns hit, the 6-dp-fenced weighted sum, and the most frequent
    * pattern (ties break lexicographically on the pattern name; no hits
    * → empty string). */
  def scan(df: DataFrame, id: Column, text: Column,
           lexicon: Seq[(String, Double)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ac = build(lexicon)
    df.select(id.cast("long").as("_1"),
        lower(coalesce(text, lit(""))).as("_2"))
      .as[(Long, String)]
      .map { case (d, t) =>
        val counts = ac.countMatches(
          t.split("[^a-z0-9]+").iterator.filter(_.nonEmpty))
        var hits = 0L
        var distinct = 0L
        var score = 0.0
        var topCount = 0
        var topName = ""
        var i = 0
        while (i < counts.length) {
          val c = counts(i)
          if (c > 0) {
            hits += c
            distinct += 1
            score += c * ac.patterns(i).weight
            val name = ac.patterns(i).name
            if (c > topCount || (c == topCount && name < topName)) {
              topCount = c; topName = name
            }
          }
          i += 1
        }
        (d, hits, distinct, math.floor(score * 1e6 + 0.5) / 1e6, topName)
      }
      .toDF("doc_id", "n_hits", "n_patterns", "score", "top_pattern")
  }
}
