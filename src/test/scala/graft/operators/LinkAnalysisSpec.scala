package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LinkAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def fence9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9

  test("pageRank matches a hand-rolled reference on a small weighted graph") {
    // a -> b (2.0), a -> c (1.0), b -> c (1.0), c -> a (1.0)
    val edges = Seq(("a", "b", 2.0), ("a", "c", 1.0),
      ("b", "c", 1.0), ("c", "a", 1.0)).toDF("src", "dst", "w")
    val got = LinkAnalysis.pageRank(edges, iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    // reference: same fence, same association, driver-side
    val n = 3.0
    var r = Map("a" -> fence9(1.0 / n), "b" -> fence9(1.0 / n), "c" -> fence9(1.0 / n))
    val ow = Map("a" -> 3.0, "b" -> 1.0, "c" -> 1.0)
    for (_ <- 1 to 3) {
      val in = Map(
        "b" -> r("a") * 2.0 / ow("a"),
        "c" -> (r("a") * 1.0 / ow("a") + r("b") * 1.0 / ow("b")),
        "a" -> r("c") * 1.0 / ow("c"))
      r = r.map { case (k, _) =>
        k -> fence9((1.0 - 0.85) / n + 0.85 * in.getOrElse(k, 0.0)) }
    }
    // the 2-term sum for c may differ in the last ulp before the fence
    // depending on add order; compare at the fence's own resolution
    got.foreach { case (k, v) => assert(math.abs(v - r(k)) < 2e-9, s"node $k: $v vs ${r(k)}") }
  }

  test("dangling node mass is redistributed (ranks still sum to ~1)") {
    // d has no out-edges: its rank must recirculate, not vanish
    val edges = Seq(("a", "b", 1.0), ("b", "d", 1.0), ("d2", "a", 1.0))
      .toDF("src", "dst", "w")
    val ranks = LinkAnalysis.pageRank(edges, iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 4)
    val total = ranks.values.sum
    assert(math.abs(total - 1.0) < 1e-6, s"rank mass $total")
    assert(ranks("b") > ranks("d2"), "b receives from a plus dangling share")
  }

  test("deterministic under repartitioning and a closed cycle concentrates rank") {
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("x", "a", 1.0)).toDF("src", "dst", "w")
    val r1 = LinkAnalysis.pageRank(edges, iters = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val r2 = LinkAnalysis.pageRank(edges.repartition(7), iters = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(r1 == r2)
    val m = r1.toMap
    assert(m("a") > m("x"), "cycle member with an extra in-edge outranks the feeder")
  }

  test("personalizedPageRank matches a hand-rolled reference, dangling " +
      "mass restarts at the sources") {
    // a -> b -> c, c dangling; seeds {a}: walks restart at a, so a's rank
    // stays high and c's dangling mass cycles back to a, never vanishes
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0)).toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    // 3 iterations: the chain's rank front oscillates; at odd counts the
    // dangling mass has just cycled home and the seed leads
    val got = LinkAnalysis.personalizedPageRank(edges, seeds, iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    val rst = Map("a" -> 1.0, "b" -> 0.0, "c" -> 0.0)
    var r = rst.map { case (k, v) => k -> fence9(v) }
    for (_ <- 1 to 3) {
      val in = Map("b" -> r("a") * 1.0 / 1.0, "c" -> r("b") * 1.0 / 1.0)
      val dm = r("c") // the only node with no out-edges
      r = rst.map { case (k, v) =>
        k -> fence9((1.0 - 0.85) * v + 0.85 * (in.getOrElse(k, 0.0) + dm * v)) }
    }
    got.foreach { case (k, v) => assert(math.abs(v - r(k)) < 2e-9, s"$k: $v vs ${r(k)}") }
    assert(got("a") > got("b") && got("b") > got("c"), "proximity order to the seed")
  }

  test("personalizedPageRank: off-graph seeds hold restart mass; nodes " +
      "unreachable from every seed fence to exactly 0.0") {
    // two disjoint 2-cycles; seeds = {a, z} where z is NOT in the graph.
    // The x<->y component is unreachable from any seed: rank exactly 0.
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0),
      ("x", "y", 1.0), ("y", "x", 1.0)).toDF("src", "dst", "w")
    val seeds = Seq("a", "z").toDF("node")
    // even iteration count: the a<->b 2-cycle oscillates, a leads on evens
    val got = LinkAnalysis.personalizedPageRank(edges, seeds, iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set("a", "b", "x", "y", "z"), got.keySet.toString)
    assert(got("x") == 0.0 && got("y") == 0.0, "unreachable component must be 0")
    assert(got("z") > 0.0, "off-graph seed keeps its restart share")
    assert(got("a") > got("b"), "seed outranks its neighbor")
    // mass conservation: restart + walk mass stays ~1 (fence drift only)
    assert(math.abs(got.values.sum - 1.0) < 1e-6, s"mass ${got.values.sum}")
  }

  test("personalizedPageRank is deterministic under repartitioning and " +
      "reduces to pageRank's arithmetic when every node is a seed") {
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("x", "a", 1.0)).toDF("src", "dst", "w")
    val all = Seq("a", "b", "c", "x").toDF("node")
    val r1 = LinkAnalysis.personalizedPageRank(edges, all, iters = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val r2 = LinkAnalysis.personalizedPageRank(edges.repartition(7), all, iters = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(r1 == r2)
    // uniform seeds over the full node set == the global teleport vector
    val global = LinkAnalysis.pageRank(edges, iters = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    r1.foreach { case (k, v) =>
      assert(math.abs(v - global(k)) < 2e-9, s"$k: $v vs ${global(k)}") }
  }

  test("pageRank warm start: uniform init IS the cold path, digit for digit") {
    val edges = Seq(("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0),
      ("a", "c", 1.0)).toDF("src", "dst", "w")
    val cold = LinkAnalysis.pageRank(edges, iters = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val uni = Seq("a", "b", "c").map(n => (n, fence9(1.0 / 3)))
      .toDF("node", "rank")
    val warm = LinkAnalysis.pageRank(edges, iters = 3, init = Some(uni))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(warm == cold)
  }

  test("pageRank warm start: old ranks beat cold at equal iterations " +
       "after an edge-batch append; unseen nodes default to uniform") {
    // era 1: a 30-spoke hub graph ranked to (near) convergence. Warm
    // start pays off when (a) the append perturbs a small FRACTION of
    // the graph (the daily-ingest regime) and (b) the stationary
    // distribution is far from uniform (real link graphs are skewed) —
    // on a near-regular graph the uniform cold start is already the
    // fixed point and there is nothing to warm.
    val spokes = (0 until 30).map(i => (s"n$i", "h", 1.0)) ++
      Seq(("h", "n0", 1.0), ("h", "n1", 1.0))
    val g1 = spokes.toDF("src", "dst", "w")
    val old = LinkAnalysis.pageRank(g1, iters = 20)
    // era 2: the appended batch adds ONE spoke x (absent from `old` —
    // takes the uniform default)
    val g2 = (spokes :+ ("x", "h", 1.0)).toDF("src", "dst", "w")
    val truth = LinkAnalysis.pageRank(g2, iters = 30)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    def l1(df: org.apache.spark.sql.DataFrame): Double = df.collect()
      .map(r => math.abs(r.getDouble(1) - truth(r.getString(0)))).sum
    val warm = l1(LinkAnalysis.pageRank(g2, iters = 2, init = Some(old)))
    val cold = l1(LinkAnalysis.pageRank(g2, iters = 2))
    assert(warm < cold, s"warm L1 $warm !< cold L1 $cold")
    // init rows for nodes no longer in the graph are ignored
    val extra = old.unionByName(Seq(("zombie", 9.9)).toDF("node", "rank"))
    val same = LinkAnalysis.pageRank(g2, iters = 2, init = Some(extra))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val base = LinkAnalysis.pageRank(g2, iters = 2, init = Some(old))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(same == base)
  }

  test("hits matches a hand-rolled reference on a small weighted graph") {
    // a -> c (1.0), b -> c (2.0), b -> d (1.0): b is the better hub
    // (it finds both authorities, with weight), c the better authority
    val edges = Seq(("a", "c", 1.0), ("b", "c", 2.0), ("b", "d", 1.0))
      .toDF("src", "dst", "w")
    val got = LinkAnalysis.hits(edges, iters = 2)
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2))))
      .toMap

    // reference: same fence, same L1 half-step normalization, driver-side
    var hub = Map("a" -> fence9(0.25), "b" -> fence9(0.25),
      "c" -> fence9(0.25), "d" -> fence9(0.25))
    var auth = Map.empty[String, Double]
    for (_ <- 1 to 2) {
      val aRaw = Map("c" -> (hub("a") * 1.0 + hub("b") * 2.0),
        "d" -> hub("b") * 1.0)
      val at = fence9(aRaw.values.sum)
      auth = Map("a" -> 0.0, "b" -> 0.0,
        "c" -> fence9(aRaw("c") / at), "d" -> fence9(aRaw("d") / at))
      val hRaw = Map("a" -> auth("c") * 1.0,
        "b" -> (auth("c") * 2.0 + auth("d") * 1.0))
      val ht = fence9(hRaw.values.sum)
      hub = Map("a" -> fence9(hRaw("a") / ht),
        "b" -> fence9(hRaw("b") / ht), "c" -> 0.0, "d" -> 0.0)
    }
    got.foreach { case (k, (h, a)) =>
      assert(math.abs(h - hub(k)) < 2e-9, s"hub $k: $h vs ${hub(k)}")
      assert(math.abs(a - auth(k)) < 2e-9, s"auth $k: $a vs ${auth(k)}")
    }
    // degeneracies fence EXACTLY: sinks have hub 0, sources auth 0
    assert(got("c")._1 == 0.0 && got("d")._1 == 0.0)
    assert(got("a")._2 == 0.0 && got("b")._2 == 0.0)
    // L1 normalization: each score family sums to ~1
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-8)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-8)
    // b out-hubs a, c out-ranks d
    assert(got("b")._1 > got("a")._1 && got("c")._2 > got("d")._2)
  }

  test("hits is deterministic under repartitioning") {
    val edges = Seq(("a", "c", 1.0), ("b", "c", 2.0), ("b", "d", 1.0),
      ("c", "a", 1.0), ("d", "a", 3.0)).toDF("src", "dst", "w")
    val one = LinkAnalysis.hits(edges, iters = 5)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    val two = LinkAnalysis.hits(edges.repartition(7), iters = 5)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(one == two)
  }

  test("triangles: K4 is all-ones clustering, every node in 3 triangles") {
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("a", "b")
    val got = k4.transform(LinkAnalysis.triangles(_))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == (1L to 4L).map(n => (n, 3L, 3L, 1.0)).toSet)
  }

  test("triangles: pendant node gets zero coef; fence matches 1/3") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    val got = edges.transform(LinkAnalysis.triangles(_))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 1L, 0.333333))) // floor(1/3 * 1e6 + 0.5) / 1e6
    assert(got(4L) == ((1L, 0L, 0.0)))
  }

  test("triangles: duplicates, reversed edges, and self-loops canonicalize away") {
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val dirty = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (2L, 2L), (3L, 3L)).toDF("a", "b")
    val c = clean.transform(LinkAnalysis.triangles(_))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val d = dirty.transform(LinkAnalysis.triangles(_))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(c == d && c == Set((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L)))
  }

  test("triangles matches brute-force enumeration on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val n = 30
    val edges = (for {
      a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.25
    } yield (a.toLong, b.toLong)).toVector
    val adj = edges.toSet
    def has(x: Long, y: Long) = adj((math.min(x, y), math.max(x, y)))
    val brute = (for {
      a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n
      if has(a, b) && has(b, c) && has(a, c)
    } yield (a, b, c)).toVector
    val perNode = brute.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = edges.toDF("a", "b").transform(LinkAnalysis.triangles(_))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.values.sum == 3L * brute.size, "every triangle counted at its 3 corners")
    perNode.foreach { case (node, tri) =>
      assert(got(node) == tri, s"node $node: ${got(node)} vs $tri") }
  }

  /** [[LinkAnalysis.kCore]]'s two paths: the default cap, under which
    * every test-sized graph peels driver-side, and `localMaxEdges = 0`,
    * which forces the pinned distributed loop. */
  private val kCorePaths = Seq("driver-side" -> 2000000L, "distributed" -> 0L)

  private def kCoreRows(edges: DataFrame, k: Int, maxRounds: Int = 24,
                        cap: Long): Set[(Long, Long)] =
    LinkAnalysis.kCore(edges, k, maxRounds, localMaxEdges = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Driver-side reference peel over a canonical edge set: the surviving
    * (node, deg) pairs and the number of peeling rounds it took. */
  private def referencePeel(edges: Set[(Long, Long)], k: Int): (Map[Long, Long], Int) = {
    def degrees(e: Set[(Long, Long)]) = e.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (x, v) => x -> v.size.toLong }
    var e = edges
    var rounds = 0
    while (degrees(e).values.exists(_ < k)) {
      val keep = degrees(e).filter(_._2 >= k).keySet
      e = e.filter(p => keep(p._1) && keep(p._2))
      rounds += 1
    }
    (degrees(e), rounds)
  }

  test("kCore: K4 plus a tail — the 3-core is exactly the K4") {
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    for ((path, cap) <- kCorePaths)
      assert(kCoreRows(edges, k = 3, cap = cap) == (1L to 4L).map(n => (n, 3L)).toSet, path)
  }

  test("kCore: a path graph cascades to an empty 2-core") {
    val path = (1L until 6L).map(i => (i, i + 1)).toDF("a", "b")
    // ...while a cycle IS its own 2-core
    val cycle = ((1L until 6L).map(i => (i, i + 1)) :+ (6L, 1L)).toDF("a", "b")
    for ((label, cap) <- kCorePaths) {
      assert(kCoreRows(path, k = 2, cap = cap).isEmpty, label)
      assert(kCoreRows(cycle, k = 2, cap = cap) == (1L to 6L).map(n => (n, 2L)).toSet, label)
    }
  }

  test("kCore: a LONG peel cascade exceeds the default guard and " +
      "converges under an explicit maxRounds") {
    // 61-node path, k=2: each round only the two endpoints drop, so the
    // cascade needs ~30 rounds — past the default 24 (which must fail
    // LOUDLY, the oracle's unroll bound), fine at maxRounds = 64.
    val long = (1L until 61L).map(i => (i, i + 1)).toDF("a", "b")
    for ((path, cap) <- kCorePaths) {
      val e = intercept[IllegalArgumentException] {
        LinkAnalysis.kCore(long, k = 2, localMaxEdges = cap)
      }
      assert(e.getMessage.contains("did not converge"), s"$path: ${e.getMessage}")
      assert(kCoreRows(long, k = 2, maxRounds = 64, cap = cap).isEmpty, path)
    }
  }

  test("kCore matches driver-side peeling on a seeded random graph") {
    val rnd = new scala.util.Random(19)
    val n = 40
    val edges = (for {
      a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.2
    } yield (a.toLong, b.toLong)).toVector
    for (k <- Seq(3, 5, 7); (path, cap) <- kCorePaths) {
      val want = referencePeel(edges.toSet, k)._1.toSet
      assert(kCoreRows(edges.toDF("a", "b"), k, cap = cap) == want, s"k=$k $path")
    }
  }

  test("property: kCore's driver-side and distributed paths agree on rows, " +
      "schema and the maxRounds failure") {
    val rnd = new scala.util.Random(133)
    // random multigraphs with self-loops, null endpoints, duplicate and
    // reversed edges; the empty edge list; and k above the max degree
    val graphs = Seq.fill(6) {
      val n = 8 + rnd.nextInt(25)
      val p = 0.1 + 0.3 * rnd.nextDouble()
      val pairs = for {
        a <- 0 until n; b <- 0 until n if rnd.nextDouble() < p / 2
      } yield (Option(a.toLong), Option(b.toLong))
      val nulls = Seq.fill(rnd.nextInt(3))(
        if (rnd.nextBoolean()) (None, Some(rnd.nextInt(n).toLong))
        else (Some(rnd.nextInt(n).toLong), None))
      val dups = Seq.fill(rnd.nextInt(4))(pairs(rnd.nextInt(pairs.size)))
      rnd.shuffle(pairs ++ nulls ++ dups ++ dups.map(_.swap))
    } :+ Seq.empty[(Option[Long], Option[Long])]
    for ((g, gi) <- graphs.zipWithIndex) {
      val df = g.toDF("a", "b")
      val canon = g.collect { case (Some(a), Some(b)) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val maxDeg = referencePeel(canon, 1)._1.values.maxOption.getOrElse(0L).toInt
      for (k <- Seq(2, 3 + rnd.nextInt(4), maxDeg + 1)) {
        val label = s"graph $gi (${canon.size} edges), k=$k"
        val (want, rounds) = referencePeel(canon, k)
        val byPath = kCorePaths.map { case (_, cap) =>
          val out = LinkAnalysis.kCore(df, k, localMaxEdges = cap)
          (out.schema, out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
        }
        assert(byPath.map(_._2).forall(_ == want.toSet), label)
        assert(byPath.map(_._1).distinct.size == 1, s"$label: ${byPath.map(_._1)}")
        if (rounds > 0) {
          // one round short of what the peel needs fails identically on
          // both paths; exactly enough rounds succeeds on both
          val msgs = kCorePaths.map { case (_, cap) =>
            intercept[IllegalArgumentException] {
              LinkAnalysis.kCore(df, k, maxRounds = rounds - 1, localMaxEdges = cap)
            }.getMessage
          }
          assert(msgs.distinct.size == 1 && msgs.head.contains("did not converge"),
            s"$label: $msgs")
          for ((path, cap) <- kCorePaths)
            assert(kCoreRows(df, k, maxRounds = rounds, cap = cap) == want.toSet,
              s"$label $path at maxRounds=$rounds")
        }
      }
    }
  }

  test("coPurchaseGraph: pairs within an order only, a < b, both parts kept") {
    val li = Seq((1L, 30L), (1L, 10L), (1L, 20L), (2L, 10L), (2L, 40L), (3L, 50L))
      .toDF("l_orderkey", "l_partkey")
    val g = LinkAnalysis.coPurchaseGraph(li)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g == Set((10L, 30L), (10L, 20L), (20L, 30L), (10L, 40L)))
  }

  test("trianglesDoulion: deterministic sampling, exact sub-count, x8 scale-up") {
    // K10 ∪ a disjoint 40-cycle: 120 triangles, all in the clique
    val k10 = for (a <- 1 to 10; b <- (a + 1) to 10) yield (a.toLong, b.toLong)
    val cyc = (0 until 40).map(i => (100L + i, 100L + (i + 1) % 40))
    val edges = (k10 ++ cyc).toDF("a", "b")
    val r = LinkAnalysis.trianglesDoulion(edges, p = 0.5).collect()(0)
    assert(r.getAs[Long]("total_edges") == k10.size + 40L)
    // replay the sampled subgraph by hand: same md5-uniform, same p
    val kept = (k10 ++ cyc).filter { case (u, v) =>
      val key = s"$u:$v|doulion"
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(13)
      java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0 < 0.5
    }.toSet
    assert(r.getAs[Long]("kept_edges") == kept.size.toLong)
    val bruteTri = (for {
      (a, b) <- kept; (b2, c) <- kept; if b2 == b; if kept((a, c))
    } yield (a, b, c)).size
    assert(r.getAs[Long]("tri_sampled") == bruteTri.toLong)
    assert(r.getAs[Double]("tri_est") == bruteTri * 8.0)
  }

  test("trianglesDoulion: unbiased across salts, tolerable error per run") {
    import spark.implicits._
    // a triangle-rich deterministic graph: nodes 0..59, edge iff a seeded
    // hash keeps it (~38% density) — brute exact count via triangles()
    val rnd = new scala.util.Random(17)
    val edges = (for (a <- 0 until 60; b <- (a + 1) until 60
                      if rnd.nextDouble() < 0.38) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val exact = LinkAnalysis.triangles(edges)
      .agg(sum("tri")).collect()(0).getLong(0) / 3
    assert(exact > 500, s"fixture too sparse: $exact triangles")
    val ests = (0 until 12).map { i =>
      LinkAnalysis.trianglesDoulion(edges, p = 0.5, salt = s"s$i")
        .collect()(0).getAs[Double]("tri_est")
    }
    // each deterministic run lands inside Doulion's published envelope
    ests.foreach(e => assert(math.abs(e / exact - 1.0) < 0.5,
      s"single-run error too large: $e vs $exact"))
    // and the salt-ensemble mean concentrates on the true count
    val mean = ests.sum / ests.size
    assert(math.abs(mean / exact - 1.0) < 0.12,
      s"ensemble mean $mean vs exact $exact — estimator looks biased")
  }

  test("purchaseGraph materializes both directions with lineitem-count weights") {
    val li = Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 10L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq((1L, 100L), (2L, 200L)).toDF("o_orderkey", "o_custkey")
    val g = LinkAnalysis.purchaseGraph(li, ord)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // customer 100 -> 200, 200 -> 400; supplier 10 -> 21, 20 -> 41
    assert(g == Set(
      (200L, 21L, 2.0), (21L, 200L, 2.0),
      (200L, 41L, 1.0), (41L, 200L, 1.0),
      (400L, 21L, 1.0), (21L, 400L, 1.0)))
  }
}
