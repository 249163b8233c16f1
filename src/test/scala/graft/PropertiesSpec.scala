package graft

import graft.ml.{TreeEnsembleModel, TreeEnsembleScorer}
import graft.operators.{Integrate, Kde, Selection}
import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.lang.Double.doubleToRawLongBits
import scala.jdk.CollectionConverters._

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

  test("property: the driver-grown tree ensemble is spark.ml's, bit for bit") {
    // TreeEnsembleScorer grows its members on the driver under its row cap
    // and with spark.ml's DecisionTreeRegressor at localMaxRows = 0. Two
    // cases for each n from 1 to spark.ml's no-sampling bound, over coarse
    // grids (duplicate x, tied gains, exact 0.0 values), constant labels,
    // n below minInstancesPerNode (the three members take 1, 2 and 3), the
    // 10-feature form of SdeForecast, and 0 to 5 input partitions: 0 is a
    // local relation, which Spark slices itself; past 2, one is empty
    val shape = Gen.zip(Gen.oneOf(1, 2, 10), Gen.oneOf(2, 4, 7, 1000), Gen.oneOf(1, 3, 8),
      Gen.choose(1L, 1L << 40))
    val ns = Seq(1, 2, 3, 7, 40, 100, 103, 1000, 10000).flatMap(n => Seq(n, n))
    def trees(m: TreeEnsembleModel) =
      m.members.map(_.toDebugString.linesIterator.drop(1).mkString("\n"))
    for (((n, (nf, levels, depth, seed)), i) <- ns.zip(cases(shape, ns.size)).zipWithIndex) {
      val (nParts, constant) = (i % 6, i % 5 == 4)
      val rnd = new scala.util.Random(seed)
      val feats = (0 until nf).map(f => s"f$f")
      val schema = StructType(Seq(StructField("id", LongType), StructField("y", DoubleType)) ++
        feats.map(StructField(_, DoubleType)))
      // grid points for training, off-grid probes past the training range
      def points(ids: Range, grid: Boolean) = ids.map { id =>
        val xs = Seq.fill(nf)(if (grid) math.rint((2 * rnd.nextDouble() - 1) * levels) / levels
          else 3 * rnd.nextDouble() - 1.5)
        val y = if (constant) 0.25
          else xs.zipWithIndex.map { case (x, f) => math.sin(3 * x + f) }.sum + 0.1 * rnd.nextGaussian()
        Row.fromSeq(id.toLong +: y +: xs)
      }
      val data = points(0 until n, grid = true)
      val cuts = (Seq(0, n) ++ Seq.fill(nParts - 1)(rnd.nextInt(n + 1))).sorted
      val cut = cuts.zip(cuts.tail).map { case (a, b) => data.slice(a, b) }
      val parts = if (nParts > 2) cut.patch(1, Seq(Seq.empty[Row]), 0) else cut
      val train = if (nParts == 0) spark.createDataFrame(data.asJava, schema)
        else spark.createDataFrame(
          spark.sparkContext.parallelize(parts, parts.size).flatMap(identity), schema)
      val probes = train.unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(points(n until n + 50, grid = false), 2), schema))
      val scorer = TreeEnsembleScorer(feats, "y", n = 3, maxDepth = depth)
      val ctx = s"n=$n features=$nf partitions=${train.rdd.getNumPartitions} levels=$levels " +
        s"maxDepth=$depth constant=$constant"
      def scores(m: TreeEnsembleModel) = m.score(probes).orderBy("id").select("pred", "var")
        .collect().toSeq.map(r => (doubleToRawLongBits(r.getDouble(0)),
          doubleToRawLongBits(r.getDouble(1))))
      val (local, ml) = (scorer.fit(train), scorer.fit(train, localMaxRows = 0))
      assert(trees(local) == trees(ml), ctx)
      assert(scores(local) == scores(ml), ctx)
    }
    // a feature with categorical metadata is split by category: spark.ml
    // grows it on both paths
    val nominal = NominalAttribute.defaultAttr.withNumValues(3).toMetadata()
    val cat = (0 until 40).map(i => (i.toLong, (i % 3).toDouble, math.sin(i.toDouble)))
      .toDF("id", "c", "y").withColumn("c", col("c").as("c", nominal))
    val catScorer = TreeEnsembleScorer(Seq("c"), "y", n = 1)
    assert(trees(catScorer.fit(cat)) == trees(catScorer.fit(cat, localMaxRows = 0)))
  }
}
