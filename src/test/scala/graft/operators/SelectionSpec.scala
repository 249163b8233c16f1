package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SelectionSpec extends SparkSpec {
  import spark.implicits._

  test("topK returns the k max rows with deterministic tie-break") {
    val df = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0)).toDF("id", "s")
    val got = Selection.topK(df, col("s"), 2, Seq(col("id"))).as[(Long, Double)].collect()
    assert(got.toSeq == Seq((2L, 9.0), (3L, 9.0)))
  }

  test("argmax picks the single best row") {
    val df = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0)).toDF("id", "s")
    assert(Selection.argmax(df, col("s")).as[(Long, Double)].head() == ((2L, 9.0)))
  }

  test("removeById deletes exactly the selected ids") {
    val pool = spark.range(100).toDF("id")
    val sel = Seq(3L, 50L, 99L).toDF("id")
    val left = Selection.removeById(pool, sel, "id")
    assert(left.count() == 97)
    assert(left.filter(col("id").isin(3L, 50L, 99L)).count() == 0)
  }

  test("selectAndMove moves top row from pool to train with explorer tag") {
    val pool = Seq((1L, 0.1, 5.0), (2L, 0.9, 7.0), (3L, 0.5, 6.0)).toDF("id", "score", "y")
    val train = Seq((99L, 0.0, 1.0)).toDF("id", "score", "y")
      .withColumn("explorer", lit("init"))
    val (p2, t2, sel) = Selection.selectAndMove(pool, train, col("score"), 1, "id", "us")
    assert(p2.count() == 2 && t2.count() == 2)
    assert(sel.select("id").as[Long].head() == 2L)
    assert(t2.filter(col("explorer") === "us").select("id").as[Long].head() == 2L)
  }

  test("weightedSample is seeded-deterministic and respects weights statistically") {
    val df = (1 to 1000).map(i => (i.toLong, if (i <= 100) 100.0 else 1.0)).toDF("id", "w")
    val s1 = Selection.weightedSample(df, col("w"), 50, 42).select("id").as[Long].collect().toSet
    val s2 = Selection.weightedSample(df, col("w"), 50, 42).select("id").as[Long].collect().toSet
    assert(s1 == s2, "same seed must give same sample")
    // heavy ids (10% of rows, 100x weight) should dominate the sample
    val heavy = s1.count(_ <= 100)
    assert(heavy > 25, s"expected heavy-weight ids to dominate, got $heavy/50")
    assert(s1.size == 50)
  }

  test("middleByKey picks the floor(n/2)+1-th row (reference semantics)") {
    val df = Seq(
      (1.0, 10L), (1.0, 20L), (1.0, 30L),      // 3 dups -> 2nd (20)
      (2.0, 40L), (2.0, 50L),                  // 2 dups -> 2nd (50)
      (3.0, 60L)                               // 1 -> itself
    ).toDF("y", "id")
    val got = Selection.middleByKey(df, col("y"), Seq(col("id")))
      .orderBy("y").as[(Double, Long)].collect().toSeq
    assert(got == Seq((1.0, 20L), (2.0, 50L), (3.0, 60L)))
  }

  test("dedup removes whole-row duplicates") {
    val df = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Selection.dedup(df).count() == 2)
  }

  test("pool shrinks by exactly 3 per explorer round (ScalaCheck-ish prop)") {
    var pool = spark.range(50).toDF("id")
      .withColumn("score", col("id").cast("double"))
      .withColumn("y", lit(0.0))
    var train = pool.limit(0).withColumn("explorer", lit(""))
    for (_ <- 1 to 4) {
      val before = pool.count()
      for (tag <- Seq("se", "us", "us_lw")) {
        val (p, t, _) = Selection.selectAndMove(pool, train, col("score"), 1, "id", tag)
        pool = p; train = t
      }
      assert(pool.count() == before - 3)
    }
    assert(train.count() == 12)
  }

  test("selectAndMoveEach picks, pools and trains like chained selectAndMoves") {
    // constant `var`: US ranks by id alone. Row 0 tops SE (its NaN is the
    // largest double) and US, so US must skip to its next candidate; `lw`
    // ties 0.0 with -0.0 (equal in Spark's order) and has a null (last).
    val pool = (0L until 40L).map { i =>
      val se = if (i == 0) Double.NaN else ((i * 7) % 11).toDouble
      val lw: java.lang.Double =
        if (i == 5) null else if (i % 3 == 0) -0.0 else if (i % 3 == 1) 0.0 else -1.0 * i
      (i, i * 0.5, se, 0.25, lw)
    }.toDF("id", "y", "se", "var", "lw").repartition(3)
    val explorers = Seq("se" -> col("se"), "us" -> col("var"), "us_lw" -> col("lw"))
    val train0 = pool.limit(0).select("id", "y").withColumn("explorer", lit("init"))
    var (pA, tA, pB, tB) = (pool, train0, pool, train0)
    for (it <- 1 to 4) {
      val picksA = explorers.map { case (nm, sc) =>
        val (p, t, sel) = Selection.selectAndMove(pA, tA, sc, 1, "id", nm, Seq(col("id")))
        pA = p; tA = t
        (nm, sel.select("id").as[Long].head())
      }
      val (p, t, moved) = Selection.selectAndMoveEach(pB, tB, explorers, "id")
      pB = p; tB = t
      val picksB = moved.select("explorer", "id").as[(String, Long)].collect().toSeq
      assert(picksB == picksA, s"iteration $it")
      if (it == 1) assert(picksA.map(_._2) == Seq(0L, 1L, 3L))
      assert(pB.select("id").as[Long].collect().sorted.toSeq ==
        pA.select("id").as[Long].collect().sorted.toSeq)
      assert(tB.collect().toSeq == tA.collect().toSeq)
    }
    assert(pB.count() == 40 - 12)
  }

  test("selectAndMoveEach keeps null ids in the pool, as the anti-join does") {
    val pool = Seq[(java.lang.Long, Double)]((null, 9.0), (1L, 5.0), (2L, 4.0))
      .toDF("id", "s")
    val train0 = pool.limit(0).withColumn("explorer", lit("init"))
    val explorers = Seq("a" -> col("s"), "b" -> col("s"))
    val (pA1, tA1, _) = Selection.selectAndMove(pool, train0, col("s"), 1, "id", "a", Seq(col("id")))
    val (pA, tA, _) = Selection.selectAndMove(pA1, tA1, col("s"), 1, "id", "b", Seq(col("id")))
    val (pB, tB, _) = Selection.selectAndMoveEach(pool, train0, explorers, "id")
    assert(pB.collect().toSeq == pA.collect().toSeq)
    assert(tB.collect().toSeq == tA.collect().toSeq)
    assert(tB.filter(col("id").isNull).count() == 2)
  }

  test("topKPerGroup equals the window form with deterministic ties") {
    import spark.implicits._
    val rows = (0L until 1000L)
      .map(i => (i % 13, i, (i * 7 % 50).toDouble)).toDF("grp", "rid", "sc")
    val viaAgg = Selection.topKPerGroup(rows, Seq("grp"), col("sc"),
        col("rid"), k = 4)
      .select("grp", "rank", "id", "score")
      .orderBy("grp", "rank").collect().map(_.toSeq).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(desc("sc"), col("rid"))
    val viaWindow = rows
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 4)
      .select(col("grp"), col("rank"), col("rid").as("id"),
        col("sc").as("score"))
      .orderBy("grp", "rank").collect().map(_.toSeq).toSeq
    assert(viaAgg == viaWindow)
  }

  test("topKPerGroupTagged equals the window form (string payloads, " +
       "anchor-asc ties); null scores/tags are excluded") {
    import spark.implicits._
    val rows = (0L until 1000L)
      .map(i => (i % 13, s"t${i % 37}", (i * 7 % 25).toDouble))
      .toDF("grp", "tg", "sc")
    val viaAgg = Selection.topKPerGroupTagged(rows, Seq("grp"), col("sc"),
        col("tg"), k = 4)
      .select("grp", "rank", "tag", "score")
      .orderBy("grp", "rank").collect().map(_.toSeq).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(desc("sc"), col("tg"))
    val viaWindow = rows
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 4)
      .select(col("grp"), col("rank"), col("tg").as("tag"),
        col("sc").as("score"))
      .orderBy("grp", "rank").collect().map(_.toSeq).toSeq
    assert(viaAgg == viaWindow)
    val withNulls = rows.unionByName(
      Seq((0L, null.asInstanceOf[String], 99.0),
          (0L, "x", Double.NaN)).toDF("grp", "tg", "sc"))
      .withColumn("sc", when(isnan(col("sc")), lit(null)).otherwise(col("sc")))
    val top1 = Selection.topKPerGroupTagged(withNulls, Seq("grp"),
        col("sc"), col("tg"), k = 1)
      .filter(col("grp") === 0L).select("tag").as[String].collect()
    assert(!top1.contains(null) && top1.nonEmpty)
  }

  test("shuffleByKey is a deterministic permutation; salts are independent") {
    val df = spark.range(500).toDF("id")
    def perm(salt: String): Seq[Long] =
      Selection.shuffleByKey(df, col("id"), salt)
        .collect().map(_.getLong(0)).toSeq
    val p1 = perm("a")
    val p2 = perm("a")
    val p3 = perm("b")
    assert(p1 == p2, "same salt must reproduce the permutation")
    assert(p1.sorted == (0L until 500L), "must be a permutation of the input")
    assert(p3.sorted == (0L until 500L))
    assert(p1 != p3, "different salts must give different permutations")
    assert(p1 != (0L until 500L).toSeq, "must actually reorder")
  }

  test("neymanSample: variance-weighted allocation, caps, determinism") {
    // stratum a: 100 docs, sigma 0 (constant) -> allocation 0
    // stratum b: 100 docs of alternating 0/10 -> sigma 5
    // stratum c: 50 docs alternating 0/30 -> sigma 15
    // weights: a 0, b 500, c 750 -> of budget 50: b floor(20)=20, c floor(30)=30
    val docs = ((0 until 100).map(i => ("a", i.toLong, 7.0)) ++
      (0 until 100).map(i => ("b", 1000L + i, if (i % 2 == 0) 0.0 else 10.0)) ++
      (0 until 50).map(i => ("c", 2000L + i, if (i % 2 == 0) 0.0 else 30.0)))
      .toDF("st", "doc_id", "v")
    val out = Selection.neymanSample(docs, col("st"), col("v"), col("doc_id"),
        budget = 50)
      .orderBy("stratum")
      .select("stratum", "n_pop", "sigma", "n_alloc", "n_selected")
      .as[(String, Long, Double, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("a", 100L, 0.0, 0L, 0L),
      ("b", 100L, 5.0, 20L, 20L),
      ("c", 50L, 15.0, 30L, 30L)), s"unexpected: $out")
    // determinism incl. digest, and budget respected
    val d1 = Selection.neymanSample(docs, col("st"), col("v"), col("doc_id"), 50)
      .select("sel_md5").as[String].collect().toSet
    val d2 = Selection.neymanSample(docs.repartition(7), col("st"), col("v"),
      col("doc_id"), 50).select("sel_md5").as[String].collect().toSet
    assert(d1 == d2, "selection digest depends on partitioning")
  }
}
