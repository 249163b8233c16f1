package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilarityJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force reference: all doc pairs, exact word-set Jaccard. */
  private def bruteForce(docs: DataFrame, t: Double): Set[(Long, Long, Double)] = {
    val sets = docs.select(col("doc_id"),
        array_distinct(graft.functions.TextOps.tokens(
          graft.functions.TextOps.normalized(col("text")))).as("s"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty)
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter).toDouble
      jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= t
    } yield (ia, ib, jr)).toSet
  }

  private def run(docs: DataFrame, t: Double): Set[(Long, Long, Double)] =
    SimilarityJoin.allPairsJaccard(docs, col("doc_id"), col("text"), t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("equals brute force on a mixed fixture (dups, near-dups, empty, periodic)") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (3L, "completely different words about catalyst optimizer rules"),
      (4L, ""),                                            // empty set: no pairs
      (5L, "buy now buy now buy now buy now"),             // periodic: set {buy, now}
      (6L, "buy now buy now buy now buy now buy now"),     // same SET, different length
      (7L, "Punctuation, and CASE! should not matter: the quick brown fox jumps over the lazy dog.")
    ).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      assert(run(docs, t) == bruteForce(docs, t), s"threshold $t")
    }
  }

  test("complete on random corpora across thresholds (prefix filter drops nothing)") {
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val docs = (0L until 60L).map { i =>
      val n = 1 + rnd.nextInt(8)
      (i, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.25, 0.5, 0.75)) {
      assert(run(docs, t) == bruteForce(docs, t), s"threshold $t")
    }
  }

  test("deterministic under repartitioning") {
    val docs = Seq(
      (0L, "one two three four"), (1L, "one two three five"),
      (2L, "six seven eight"), (3L, "one two three four")
    ).toDF("doc_id", "text")
    val a = run(docs, 0.5)
    val b = run(docs.repartition(13), 0.5)
    assert(a == b && a.nonEmpty)
  }

  private def editPairs(words: Seq[String]) =
    SimilarityJoin.editNeighborPairs(words.toDF("w"), col("w"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("editNeighborPairs: substitutions, insertions, deletions, no false pairs") {
    val got = editPairs(Seq("cat", "cut", "cart", "at", "dog", "cat", "", "a", ""))
    // cat~cut (sub), cat~cart (ins), cat~at (del), at~a and a~"" (del);
    // cut~at, cart~at and at~"" are lev-2 candidates the verifier must
    // reject; dup "cat" collapses. length("") = 0 makes sequence(1, 0)
    // count down to [1, 0], so the empty word lands in its own bucket
    // twice: the strict word_a < word_b filter must drop ("", "")
    assert(got == Set(("cat", "cut"), ("cart", "cat"), ("at", "cat"),
      ("a", "at"), ("", "a")), got.toString)
  }

  test("editNeighborPairs equals brute-force levenshtein on random strings") {
    val rnd = new scala.util.Random(11)
    val words = Vector.fill(250)(
      (0 until (2 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      .distinct
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val brute = (for {
      a <- words; b <- words if a < b && lev(a, b) <= 1
    } yield (a, b)).toSet
    assert(editPairs(words) == brute)
  }
}
