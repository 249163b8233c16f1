package graft

import graft.operators.{Integrate, Kde, Selection}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator-driven properties over the selection/density kernel
  * (SURVEY.md §5.3). Cases are drawn deterministically from Gen with fixed
  * seeds (no scalatestplus bridge in the build, so sampling is explicit);
  * Spark jobs are expensive, so each property runs a handful of cases. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default
  private def cases[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(params, Seed(i.toLong), 100))

  test("property: KDE grid integrates to ~1 for arbitrary data") {
    for (xs <- cases(Gen.listOfN(200, Gen.choose(-100.0, 100.0)), 4)) {
      val r = Kde.fit(xs.toDF("v"), col("v"), gridSize = 256)
      val integral = Integrate.trapz(r.toDF(spark), col("grid_x"), col("pdf"))
        .head().getDouble(0)
      assert(math.abs(integral - 1.0) < 0.05, s"integral=$integral n=${xs.size}")
    }
  }

  test("property: batched BPE training equals sequential on random corpora") {
    // small alphabets + short words maximize pair interactions, count
    // ties, self-pairs, and early exhaustion — precisely the regimes the
    // batched trainer's prefix guards must survive to stay byte-identical
    val word = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val corpus = Gen.choose(5, 40).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    for ((docs, i) <- cases(Gen.listOfN(6, corpus), 5).zipWithIndex) {
      val df = docs.zipWithIndex.map { case (t, j) => (j.toLong, t) }
        .toDF("doc_id", "text")
      val n = 4 + 3 * i // vary merge budget across cases
      val b = 1 + (i * 7) % 30 // and batch size, incl. batch=1
      val seqM = graft.operators.Vocab.bpeTrain(df, col("text"), nMerges = n)
      atBothBpeLoops { loop =>
        val batM = graft.operators.Vocab.bpeTrainBatched(df, col("text"),
          nMerges = n, batch = b)
        assert(batM == seqM,
          s"case $i (nMerges=$n batch=$b, $loop) diverged:\n$batM\nvs\n$seqM")
      }
    }
  }

  test("property: weighted sample size = min(k, n), subset, no replacement") {
    for ((k, seed) <- cases(Gen.zip(Gen.choose(1, 30), Gen.choose(1L, 10000L)), 5)) {
      val df = (1L to 50L).map(i => (i, i.toDouble)).toDF("id", "w")
      val ids = Selection.weightedSample(df, col("w"), k, seed)
        .select("id").as[Long].collect()
      assert(ids.length == math.min(k, 50))
      assert(ids.toSet.subsetOf((1L to 50L).toSet))
      assert(ids.distinct.length == ids.length, "without replacement")
    }
  }

  test("property: select-and-move conserves rows and keeps pool/train disjoint") {
    for ((k, seed) <- cases(Gen.zip(Gen.choose(1, 10), Gen.choose(1L, 17L)), 4)) {
      val pool = (1L to 40L).map(i => (i, (i * seed % 17).toDouble)).toDF("id", "score")
      val train = Seq.empty[(Long, Double)].toDF("id", "score")
        .withColumn("explorer", lit(""))
      val (p2, t2, _) = Selection.selectAndMove(pool, train, col("score"), k,
        "id", "x", Seq(col("id")))
      assert(p2.count() + t2.count() == 40L)
      assert(p2.join(t2, Seq("id"), "inner").count() == 0)
    }
  }

  test("property: dedup is idempotent and matches distinct count") {
    for (xs <- cases(Gen.listOfN(30, Gen.choose(1, 8)), 4)) {
      val once = Selection.dedup(xs.toDF("v"))
      assert(once.count() == Selection.dedup(once).count())
      assert(once.count() == xs.distinct.size.toLong)
    }
  }

  test("property: topK returns the true k maxima") {
    for ((xs, k) <- cases(Gen.zip(Gen.listOfN(25, Gen.choose(-1000, 1000)),
        Gen.choose(1, 10)), 5)) {
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) }
        .toDF("id", "s")
      val got = Selection.topK(df, col("s"), k, Seq(col("id")))
        .select("s").as[Double].collect().toSeq
      val want = xs.map(_.toDouble).sorted.reverse.take(k)
      assert(got.sorted == want.sorted)
    }
  }

  test("property: concat-and-cut packing invariants under random budgets") {
    import graft.operators.Packing
    val gen = Gen.zip(Gen.choose(1L, 200L), Gen.choose(20, 120),
      Gen.listOfN(120, Gen.choose(0L, 50L)))
    for ((budget, n, tokList) <- cases(gen, 4)) {
      val toks = tokList.take(n)
      val docs = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "t")
      val rows = Packing.concatAndCut(docs, Seq(col("doc_id")), col("t"), budget)
        .select("doc_id", "n_tok", "first_bin", "last_bin", "bin_off")
        .orderBy("doc_id").collect()
      // replay the layout sequentially
      var cum = 0L
      rows.zipWithIndex.foreach { case (r, i) =>
        val t = toks(i)
        assert(r.getLong(1) == t)
        assert(r.getLong(2) == cum / budget, s"first_bin doc $i budget $budget")
        val lastExp = if (t > 0) (cum + t - 1) / budget else cum / budget
        assert(r.getLong(3) == lastExp, s"last_bin doc $i budget $budget")
        assert(r.getLong(4) == cum % budget, s"bin_off doc $i budget $budget")
        // a doc spans exactly ceil((off + t)/budget) windows
        assert(r.getLong(3) - r.getLong(2) + 1 >= 1)
        cum += t
      }
    }
  }
}
