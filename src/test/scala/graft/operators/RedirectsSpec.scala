package graft.operators

import graft.SparkSpec

/** Gates for pointer-doubling chain resolution: depths, cycle and
  * self-loop masking, over-depth reporting, and the log-round bound. */
class RedirectsSpec extends SparkSpec {
  import spark.implicits._

  private def resolve(edges: Seq[(Long, Long)], maxDepth: Int = 32) =
    Redirects.resolve(edges.toDF("src", "dst"), "src", "dst", maxDepth)
      .orderBy("src")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("chains resolve to the terminal target with true depth") {
    val got = resolve(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(got.toSeq == Seq(
      (1L, 4L, 3L, 1L), (2L, 4L, 2L, 1L), (3L, 4L, 1L, 1L),
      (10L, 11L, 1L, 1L)))
  }

  test("cycles and self-loops report terminated=0 with masked outputs") {
    val got = resolve(Seq((1L, 2L), (2L, 1L), (5L, 5L), (7L, 1L)))
    // 7 feeds INTO the cycle: it can never terminate either
    assert(got.toSeq == Seq(
      (1L, -1L, -1L, 0L), (2L, -1L, -1L, 0L), (5L, -1L, -1L, 0L),
      (7L, -1L, -1L, 0L)))
  }

  test("chains longer than maxDepth report unresolved; within it, exact") {
    val chain = (0L until 20L).map(i => (i, i + 1)) // 0→1→…→20, depth 20 at 0
    val capped = resolve(chain, maxDepth = 8)
    assert(capped.head == ((0L, -1L, -1L, 0L))) // 20 > 8: unresolved
    assert(capped(13) == ((13L, 20L, 7L, 1L)))  // depth 7 ≤ 8: exact
    val full = resolve(chain, maxDepth = 32)
    assert(full.head == ((0L, 20L, 20L, 1L)))
  }

  test("resolveKeyed: string chains resolve; cycles mask final_dst to null") {
    val edges = Seq(
      ("https://r/1", "https://r/2"), ("https://r/2", "https://end"),
      ("https://c/a", "https://c/b"), ("https://c/b", "https://c/a"))
      .toDF("src", "dst")
    val got = Redirects.resolveKeyed(edges, "src", "dst", maxDepth = 4)
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("https://c/a", null, -1L, 0L), ("https://c/b", null, -1L, 0L),
      ("https://r/1", "https://end", 2L, 1L),
      ("https://r/2", "https://end", 1L, 1L)))
  }

  test("maxDepth is a hard bound even when the doubling rounds overshoot") {
    // depth exactly 8 with maxDepth=8 (3 rounds, 2^3 = 8): resolves
    val chain = (0L until 8L).map(i => (i, i + 1))
    assert(resolve(chain, maxDepth = 8).head == ((0L, 8L, 8L, 1L)))
    // maxDepth 5 still runs 3 doubling rounds (internal cap 8), but the
    // DOCUMENTED bound wins: depth-7 masks like a cycle, depth-5 resolves
    val got5 = resolve(chain, maxDepth = 5)
    assert(got5(1) == ((1L, -1L, -1L, 0L))) // true depth 7 > 5: masked
    assert(got5(3) == ((3L, 8L, 5L, 1L)))   // true depth 5 = bound: exact
  }
}
