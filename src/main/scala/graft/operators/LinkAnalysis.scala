package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Link-graph centrality — weighted PageRank (Page, Brin, Motwani,
  * Winograd 1999, public method) as iterative DataFrame joins.
  *
  * Why it's here: crawl-corpus curation ranks HOSTS before it ranks
  * documents — Common Crawl publishes host/domain-level centrality
  * rankings for exactly this use, and a sampling weight derived from link
  * centrality is a standard quality prior for web-scale training data.
  * This is the iterative-graph sibling of [[Dedup.clusters]]' connected
  * components: per iteration one join (ranks → out-edges) and one
  * aggregation (incoming mass per destination), both hash-shuffles on node
  * keys.
  *
  * 100 TB shape: the edge list is pinned once with out-weight totals
  * attached (the join input never recomputes); each iteration shuffles
  * only (node, rank) pairs — 16 bytes of payload per node — against it.
  * On a real cluster, pre-partition edges by `src` and the per-iteration
  * rank frame co-partitions into a one-sided shuffle. Iterations pin via
  * [[CheckpointPolicy.pin]] (lineage would otherwise double per round).
  *
  * Cross-engine determinism (the q108 GMM convention): every rank is
  * fenced to 9 dp with the pure-arithmetic `floor(x·1e9 + 0.5)/1e9`
  * (IEEE-deterministic, codegen-friendly — no BigDecimal round-trip), and
  * every composite expression is written in the same left-to-right
  * association the DuckDB oracle replays.
  */
object LinkAnalysis {

  private def fence9(c: Column): Column = floor(c * lit(1e9) + lit(0.5)) / lit(1e9)

  /** Fixed-iteration weighted PageRank over directed `edges`
    * (src: string, dst: string, w: double, w > 0). Returns (node, rank)
    * for every node appearing as a src or dst. Dangling mass (nodes with
    * no out-edges) is redistributed uniformly each iteration.
    *
    * Pin cadence: each iteration references the previous rank frame once
    * (when no node dangles), so lineage grows linearly, not exponentially
    * — yet `pinEvery = 1` is the measured default anyway: deferring the
    * pins nests the per-iteration fence arithmetic into one deep codegen
    * expression and the whole-chain job ran ~1.5× SLOWER at sf0.1 (18.4 s
    * vs 11.9 s cold) than materializing each round. With dangling nodes
    * the rank frame is also consumed twice per iteration (the mass
    * aggregate), which forces the per-round pin regardless.
    *
    * `init`: WARM START — an optional (node, rank) frame the power
    * iteration begins from instead of the uniform vector (power-method
    * restart from a prior fixed point: after an incremental edge-batch
    * append, yesterday's ranks are near today's fixed point, so far
    * fewer iterations recover converged-quality ranks — the standard
    * incremental-PageRank maintenance move; see Langville & Meyer,
    * "Updating PageRank" surveys, public method). Nodes ABSENT from
    * `init` (hosts first seen in the new batch) start at the uniform
    * fenced 1/n; init rows for nodes no longer in the graph are
    * ignored. The init vector is used as given — NOT renormalized —
    * because each damped iteration restores total mass toward 1 on its
    * own and renormalizing would break replay parity with the era that
    * produced it. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               pinEvery: Int = 1,
               init: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters >= 1: $iters")
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    // Edge list with the source's total out-weight attached, pinned once —
    // this is the static join input every iteration reuses.
    val outW = e.groupBy("src").agg(sum("w").as("ow"))
    val eo = CheckpointPolicy.pin(e.join(outW, "src"))
    // Node frame with the static DANGLING flag attached (no out-edges) —
    // ONE pin + ONE count job replace the former four setup jobs (separate
    // node pin/count + dangling-set pin/probe): guide §1.2, the driver
    // round-trips per ranker are the measured floor on small graphs.
    val nodesPinned = CheckpointPolicy.pin(
      nodes.join(eo.select(col("src").as("node")).distinct()
          .withColumn("__out", lit(1)), Seq("node"), "left")
        .select(col("node"), col("__out").isNull.as("__dangl")))
    val cnts = nodesPinned.agg(count(lit(1)),
      sum(when(col("__dangl"), 1L).otherwise(0L))).head()
    val n = cnts.getLong(0).toDouble
    val hasDangling = cnts.getLong(1) > 0
    val base = lit(1.0 - damping) / lit(n)
    // Uniform init is a pure projection over the pinned node frame — no
    // pin needed (its ≤ 2 iteration-1 consumers recompute a codegen
    // projection of a checkpointed leaf). The warm-start join keeps one.
    var ranks = init match {
      case None =>
        nodesPinned.withColumn("rank", fence9(lit(1.0) / lit(n)))
      case Some(prev) =>
        CheckpointPolicy.pin(nodesPinned.join(
            prev.select(col("node").as("__in"),
              col("rank").cast("double").as("__ir")),
            nodesPinned("node") === col("__in"), "left")
          .select(col("node"), col("__dangl"),
            coalesce(col("__ir"), fence9(lit(1.0) / lit(n))).as("rank")))
    }
    for (it <- 1 to iters) {
      // per-edge contribution, left-assoc (rank * w) / ow — the oracle
      // replays this exact association
      val contrib = eo.join(ranks, eo("src") === ranks("node"))
        .select(col("dst"), (col("rank") * col("w") / col("ow")).as("c"))
      val incoming = contrib.groupBy("dst").agg(sum("c").as("inw"))
      // dangling nodes (no out-edges) leak their rank; redistribute evenly
      val inMass =
        if (!hasDangling) coalesce(col("inw"), lit(0.0))
        else {
          val raw = ranks.filter(col("__dangl"))
            .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
          // 9-dp fence on the cross-engine scalar (the PPR convention):
          // partial-agg merge order can differ from an oracle's
          // sequential sum by an ulp; fencing both sides pins it
          val dangling = math.floor(raw * 1e9 + 0.5) / 1e9
          coalesce(col("inw"), lit(0.0)) + lit(dangling) / lit(n)
        }
      val next =
        nodesPinned.join(incoming, nodesPinned("node") === incoming("dst"), "left")
          .select(col("node"), col("__dangl"),
            fence9(base + lit(damping) * inMass).as("rank"))
      ranks = if (hasDangling || it % pinEvery == 0) CheckpointPolicy.pin(next) else next
    }
    ranks.select("node", "rank")
  }

  /** Personalized PageRank (random walk with restart — Page et al. 1999
    * §6 "personalized" vector; Jeh & Widom 2003, public methods): the
    * restart mass lands on the `sources` node set instead of uniformly,
    * so ranks measure proximity TO THE SOURCES rather than global
    * centrality. The crawl-curation use: seed with a trusted host/domain
    * whitelist and the stationary mass becomes a "distance from trust"
    * quality prior per host (TrustRank, Gyöngyi et al. 2004 is exactly
    * this shape) — the personalized sibling of [[pageRank]]'s global
    * prior.
    *
    * Inputs: directed `edges(src, dst, w)` with w > 0, and `sources`
    * (one column, node ids castable to the edge key type); sources not
    * present in the graph still receive restart mass (they rank by it),
    * and the restart distribution is uniform over the DISTINCT source
    * set. Nodes unreachable from every source fence to exactly 0.0.
    * Dangling nodes redistribute their mass through the RESTART vector
    * (the standard PPR convention: a terminated walk restarts at a
    * source), not uniformly.
    *
    * Same 100 TB shape as [[pageRank]] — the static edge+out-weight frame
    * is pinned once, each iteration shuffles only (node, rank) — plus one
    * extra static column: the per-node restart mass `rst` rides the node
    * frame, so the iteration adds zero joins over the global variant.
    * Same 9-dp fence, same left-assoc arithmetic, oracle-replayable
    * iteration for iteration. */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame, iters: Int,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters >= 1: $iters")
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    val src0 = sources.toDF("node").select(col("node")).distinct()
    val graphNodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
    // node universe = graph nodes ∪ sources (an off-graph source still
    // holds restart mass; dropping it would leak (1-d)/|S| every round)
    val nodes = graphNodes.unionByName(src0).distinct()
    val outW = e.groupBy("src").agg(sum("w").as("ow"))
    val eo = CheckpointPolicy.pin(e.join(outW, "src"))
    val nS = src0.count().toDouble
    require(nS >= 1.0, "personalizedPageRank needs a non-empty source set")
    // static per-node restart mass (1/|S| on sources, 0 elsewhere) AND the
    // static dangling flag — joined ONCE into the pinned node frame,
    // reused every iteration. One pin + one agg job replace the former
    // ranks-init pin, dangling-set pin, and dangling probe (guide §1.2:
    // driver round-trips per ranker are the measured floor).
    val nodesR = CheckpointPolicy.pin(
      nodes.join(src0.withColumn("__s", lit(1)), Seq("node"), "left")
        .join(eo.select(col("src").as("node")).distinct()
          .withColumn("__out", lit(1)), Seq("node"), "left")
        .select(col("node"),
          when(col("__s").isNotNull, lit(1.0 / nS)).otherwise(lit(0.0)).as("rst"),
          col("__out").isNull.as("__dangl")))
    val hasDangling = nodesR
      .agg(sum(when(col("__dangl"), 1L).otherwise(0L))).head().getLong(0) > 0
    // rank init is a pure projection over the pinned node frame — no pin
    // needed (iteration-1 consumers recompute a codegen projection of a
    // checkpointed leaf)
    var ranks = nodesR.select(col("node"), col("__dangl"),
      fence9(col("rst")).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = eo.join(ranks, eo("src") === ranks("node"))
        .select(col("dst"), (col("rank") * col("w") / col("ow")).as("c"))
      val incoming = contrib.groupBy("dst").agg(sum("c").as("inw"))
      // dangling mass restarts at the sources, scaled by each node's rst.
      // The scalar is a driver .head() on the PINNED rank frame — the
      // "one job per iteration" alternative (riding the aggregate in as
      // a broadcast 1-row crossJoin) measured 21.6 s vs 15.6 s at sf1
      // quiet: the BNLJ + in-plan broadcast subtree costs more than the
      // tiny synchronous job it saves. Measured, not assumed (the
      // pageRank pinEvery lesson).
      val inMass =
        if (!hasDangling) coalesce(col("inw"), lit(0.0))
        else {
          val raw = ranks.filter(col("__dangl"))
            .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
          // 9-dp fence on the cross-engine scalar: Spark's partial-agg
          // merge order can differ from the oracle's sequential sum by an
          // ulp; fencing both sides (the oracle's dg CTEs mirror this
          // floor) pins the value instead of relying on ulp coincidence.
          val dangling = math.floor(raw * 1e9 + 0.5) / 1e9
          coalesce(col("inw"), lit(0.0)) + lit(dangling) * col("rst")
        }
      val next =
        nodesR.join(incoming, nodesR("node") === incoming("dst"), "left")
          .select(col("node"), col("__dangl"),
            fence9(lit(1.0 - damping) * col("rst") + lit(damping) * inMass)
              .as("rank"))
      ranks = CheckpointPolicy.pin(next)
    }
    ranks.select("node", "rank")
  }

  /** HITS hubs & authorities (Kleinberg 1999, public method) over
    * directed weighted `edges(src, dst, w)` — the mutual-reinforcement
    * complement to [[pageRank]]'s walk centrality: a good HUB links to
    * good authorities, a good AUTHORITY is linked by good hubs. The
    * crawl-curation use: authority ranks the pages worth keeping, hub
    * ranks the directory/index pages whose ANCHOR TEXT is worth
    * harvesting (the [[LinkGraph.anchorCorpus]] quality prior).
    *
    * Fixed-iteration, L1-normalized (each half-step divides by the 9-dp
    * fenced total so scores form a distribution — any norm yields the
    * same ranking; L1 keeps the arithmetic oracle-replayable): per
    * round auth'(v) = Σ_{(u,v)} hub(u)·w then normalize, hub'(u) =
    * Σ_{(u,v)} auth(v)·w then normalize. Init: uniform 1/n hubs. Nodes
    * with no in-edges fence to auth 0.0, no out-edges to hub 0.0.
    * Output: (node, hub, auth) for every node appearing as src or dst.
    *
    * Same 100 TB shape as [[pageRank]]: the edge frame is pinned once,
    * each half-iteration shuffles only (node, score) pairs against it;
    * the norm scalar is a driver `.head()` on the pinned raw frame (the
    * personalizedPageRank-measured convention — cheaper than a
    * broadcast-crossJoin subtree). Same 9-dp fence, same left-assoc
    * score·w products, oracle-replayable iteration for iteration. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters >= 1: $iters")
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    val eP = CheckpointPolicy.pin(e)
    val nodes = CheckpointPolicy.pin(
      eP.select(col("src").as("node"))
        .unionByName(eP.select(col("dst").as("node"))).distinct())
    val n = nodes.count().toDouble
    def fencedTotal(raw: DataFrame): Double = {
      val t = raw.agg(coalesce(sum("raw"), lit(0.0))).head().getDouble(0)
      math.floor(t * 1e9 + 0.5) / 1e9
    }
    // one half-step: weighted mass onto `key`, L1-normalize over nodes.
    // An edgeless graph (total 0) degenerates to all-zero scores rather
    // than dividing by zero.
    def halfStep(scores: DataFrame, scoreCol: String, from: String,
                 onto: String, outCol: String): DataFrame = {
      val raw = CheckpointPolicy.pin(
        eP.join(scores, eP(from) === scores("node"))
          .select(col(onto).as("__k"),
            (col(scoreCol) * col("w")).as("c"))
          .groupBy("__k").agg(sum("c").as("raw")))
      val total = fencedTotal(raw)
      val normed =
        if (total == 0.0) lit(0.0)
        else fence9(coalesce(col("raw"), lit(0.0)) / lit(total))
      nodes.join(raw, nodes("node") === raw("__k"), "left")
        .select(col("node"), normed.as(outCol))
    }
    var hub = CheckpointPolicy.pin(nodes.select(col("node"),
      fence9(lit(1.0) / lit(n)).as("hub")))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = CheckpointPolicy.pin(halfStep(hub, "hub", "src", "dst", "auth"))
      hub = CheckpointPolicy.pin(halfStep(auth, "auth", "dst", "src", "hub"))
    }
    hub.join(auth.select(col("node").as("__n"), col("auth")),
        hub("node") === col("__n"))
      .select(col("node"), col("hub"), col("auth"))
  }

  /** Exact triangle counting + local clustering coefficients over an
    * undirected simple graph, via degree-ordered edge orientation
    * (Schank & Wagner 2005; Suri & Vassilvitskii 2011 — public methods).
    * The static-graph sibling of [[pageRank]]: PageRank ranks nodes by
    * walk centrality, this measures local community density — the
    * standard pair for link-graph curation priors.
    *
    * Input: `edges(a, b)` node pairs castable to long, either direction;
    * duplicates and self-loops are canonicalized away. Output: one row
    * per node with at least one incident edge —
    * `(node, deg, tri, coef)` where `tri` counts triangles through the
    * node and `coef = 2·tri / (deg·(deg−1))` (the local clustering
    * coefficient, 6-dp arithmetic fence; 0.0 when deg < 2).
    *
    * 100 TB shape: orienting every edge from its lower-(deg, id)
    * endpoint to the higher one bounds each node's OUT-degree by
    * O(√m), so the per-edge out-neighborhood intersection — the only
    * expansion in the plan — touches Σ_{(u,v)} (outdeg(u) + outdeg(v))
    * = O(m^{3/2}) array elements (the sequential optimum for triangle
    * enumeration) instead of the Σ C(deg, 2) an un-oriented expansion
    * would: a single 10⁶-degree hub alone would contribute 5·10¹¹
    * wedges un-oriented. The edge-iterator form (intersect the two
    * endpoints' sorted out-neighbor arrays per edge — Chiba & Nishizeki
    * 1985's edge iterator, the standard oriented variant) FUSES wedge
    * enumeration and the closing-edge probe into one codegen'd
    * `array_intersect` per edge: the wedge-row exchange + closing join
    * of the self-join form (measured: 48M wedge rows shuffled at
    * sf0.1, 9.0 s warm) disappears, leaving two m-row joins against
    * the O(√m)-bounded adjacency frame (5.2 s warm, identical rows —
    * round-15 A/B, OPTIMIZATION_r15.md). Every step is a hash shuffle
    * on node keys (canonical-edge distinct, degree count, orientation
    * joins, adjacency aggregate, two attach joins, credit count) — no
    * windows, no driver state, no cartesian. */
  def triangles(edges: DataFrame): DataFrame = {
    val canon = edges.select(
        least(col("a"), col("b")).cast("long").as("u"),
        greatest(col("a"), col("b")).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    val deg = canon.select(col("u").as("node"))
      .unionByName(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Orient low (deg, id) -> high (deg, id). PINNED: the oriented frame
    // feeds three plan branches (the adjacency aggregate and both attach
    // joins). Exchange reuse covered the repeated consumption on the
    // round-14 fixture (pin measured slower there: 5.8 vs 5.2 s warm at
    // sf0.1), but on the round-15 regenerated fixture the unpinned form
    // re-ran the canon-distinct + degree + orientation subtree per branch
    // at bench width — 32.7 s warm vs 7.0 s pinned at local[32] (8-core
    // runs barely move: 5.9 vs 6.6 s). Measured both rounds; the pin wins
    // where it matters (guide §5 recompute avoidance).
    val e = CheckpointPolicy.pin(canon
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst")))
    // Sorted out-neighbor arrays, O(√m)-bounded by the orientation.
    val adj = e.groupBy(col("src").as("node"))
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
    // A triangle with rank order a < b < c is oriented a→b, a→c, b→c, so
    // it is found EXACTLY once: at edge (a, b), as the common out-neighbor
    // c ∈ N+(a) ∩ N+(b) (edges (a, c) and (b, c) cannot see it — b is not
    // an out-neighbor of c, nor a of b/c). Per found triangle, credit all
    // three corners: both edge endpoints (+|common| each) and every common
    // neighbor (+1).
    val withA = e.join(adj.select(col("node").as("src"), col("nb").as("nba")),
      Seq("src"))
    val withB = withA.join(
      adj.select(col("node").as("dst"), col("nb").as("nbb")), Seq("dst"), "left")
    // Two-pointer merge intersect (both neighbor lists are sort_array'd and
    // duplicate-free, so the output is element- and order-identical to
    // array_intersect): the builtin's per-evaluation boxed hash set measured
    // 522 CPU-seconds in this stage at sf0.1/local[32] — and the optimizer
    // evaluates the pushed filter AND the projection, twice per row. The
    // allocation-free SIZE merge gates first; only surviving edges (those in
    // ≥1 triangle) pay the element-producing merge.
    val common = withB
      .filter(graft.functions.ArrayExprs.sortedIntersectSize(
        col("nba"), col("nbb")) > 0)
      .select(col("src"), col("dst"),
        graft.functions.ArrayExprs.sortedIntersect(col("nba"), col("nbb"))
          .as("ww"))
    val perNode = common
      .select(explode(concat(
        array(struct(col("src").as("n"), size(col("ww")).cast("long").as("t")),
          struct(col("dst").as("n"), size(col("ww")).cast("long").as("t"))),
        transform(col("ww"), w => struct(w.as("n"), lit(1L).as("t"))))).as("c"))
      .groupBy(col("c.n").as("node")).agg(sum(col("c.t")).as("tri"))
    // The output degree is re-derived from the PINNED oriented frame (each
    // canonical edge appears exactly once, so appearances on either side =
    // degree) instead of the pre-pin `deg` subtree, whose reuse here would
    // re-run the canon distinct + degree aggregate one more time.
    val degOut = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    degOut.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          floor(lit(2.0) * coalesce(col("tri"), lit(0L)).cast("double") /
            (col("deg").cast("double") * (col("deg") - 1).cast("double")) *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("coef"))
  }

  /** Doulion sampled triangle estimate (Tsourakakis, Kang, Miller &
    * Faloutsos, KDD 2009 — public method): keep each canonical edge
    * independently with probability `p`, count triangles EXACTLY on the
    * sparsified graph with [[triangles]]' degree-ordered machinery, and
    * scale by 1/p³ — an unbiased estimator of the true count (each
    * triangle survives with probability p³). The 100 TB answer to
    * [[triangles]]' O(m^{3/2}) wedge bound: at p the wedge mass shrinks
    * by ~p³ (candidate wedges p², closure p) for a p⁻³-variance trade —
    * Doulion's published accuracy envelope; the q142 spec gates the
    * relative error and the across-salts unbiasedness empirically.
    *
    * Sampling is DETERMINISTIC — the engine-portable md5 uniform
    * ([[graft.functions.TextOps.portableUniform52]]) over `"u:v|salt"` —
    * so runs are reproducible, re-executions of a failed stage keep the
    * same subgraph (a `rand()` sample would break retry idempotence),
    * and the DuckDB oracle replays the exact estimate. Vary `salt` for
    * independent estimates (averaging k salted runs divides the variance
    * by k at k·p³ of the exact cost).
    *
    * Output: ONE row `(total_edges, kept_edges, tri_sampled, tri_est)`
    * (6-dp arithmetic fence on the estimate). */
  def trianglesDoulion(edges: DataFrame, p: Double,
                       salt: String = "doulion"): DataFrame = {
    require(p > 0.0 && p <= 1.0, "keep probability in (0, 1]")
    val canon = edges.select(
        least(col("a"), col("b")).cast("long").as("u"),
        greatest(col("a"), col("b")).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    val u01 = graft.functions.TextOps.portableUniform52(
      concat_ws("|", concat_ws(":", col("u"), col("v")), lit(salt)))
    // PINNED: the flagged frame feeds BOTH the triangle subtree (which
    // re-derives canon/deg/orientation from the kept edges) and the
    // edge-stats aggregate — unpinned, the canonical-edge distinct and
    // the md5 sampling sweep replay per branch (measured 7.0 -> 4.6 s
    // warm at sf0.1 on the q142 co-purchase graph, identical output —
    // the shared-join-input convention).
    val flagged = CheckpointPolicy.pin(canon.withColumn("keep", u01 < lit(p)))
    val kept = flagged.filter(col("keep"))
      .select(col("u").as("a"), col("v").as("b"))
    val triSampled = triangles(kept)
      .agg((coalesce(sum("tri"), lit(0L)) / 3).cast("long").as("tri_sampled"))
    val edgeStats = flagged.agg(count(lit(1)).as("total_edges"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("kept_edges"))
    // both sides are single aggregate rows — a broadcast pairing, not a
    // data cartesian (the LangModel stats-frame convention)
    edgeStats.crossJoin(triSampled)
      .select(col("total_edges"), col("kept_edges"), col("tri_sampled"),
        (floor(col("tri_sampled").cast("double") / lit(p * p * p) * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("tri_est"))
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * (Seidman 1983 — public method), by iterative peeling: drop nodes of
    * degree < k, recompute degrees over the surviving edges, repeat to
    * fixpoint. The density filter of graph curation — spam link farms and
    * genuinely dense communities survive, tendrils and satellites peel
    * away — and the third static-graph operator next to [[pageRank]]
    * (walk centrality) and [[triangles]] (local density).
    *
    * Input: `edges(a, b)` as in [[triangles]] (canonicalized the same
    * way). Output: the surviving nodes with their degree INSIDE the core
    * — `(node, deg)`; empty when no k-core exists.
    *
    * Where the peel RUNS is a size question: the loop is job-bound (a pin,
    * a degree pin and an emptiness probe per round), not data-bound.
    *  - Up to `localMaxEdges` canonical edges (default 2,000,000), ONE
    *    capped collect brings the edge list to the driver
    *    ([[PlanOps.collectUnderCap]]); the rounds run over primitive
    *    arrays and the surviving `(node, deg)` rows come back as a local
    *    one-partition leaf frame sorted by node — no pin, no per-round
    *    job, and no range exchange for a caller's sort. The driver
    *    cost is the collect's: Spark's collected rows (~84 bytes per edge)
    *    and the `Row`s built from them (~100) are live together, ~370 MB
    *    at the cap, before the edges shrink to the peel's ~17 bytes of
    *    packed `Long`s (measured on a 1,999,864-edge synthetic graph).
    *    At that size, and on q133's 1.19M-edge sf0.1 graph, this path
    *    ran in a 512 MB driver heap, where the distributed loop ran out
    *    of aggregation memory on the synthetic graph, and beat that
    *    loop's wall time at every heap tried (4-cpu host, local[4]).
    *  - Past the cap (or at `localMaxEdges = 0`) each round is one degree
    *    aggregate + one semi-join of the edge list against the surviving
    *    node set (both hash shuffles on node keys, edge payload 16 bytes);
    *    the edge frame is pinned per round with [[CheckpointPolicy.pin]]
    *    (the iterative-join convention — lineage would otherwise nest),
    *    so `spark.graft.checkpoint.dir` reaches kCore only on this path.
    * Both paths peel in the same SYNCHRONOUS rounds — every node with
    * degree < k drops at once — so they return the same rows under the
    * same schema (LinkAnalysisSpec gates parity). Rounds are
    * data-dependent but bounded: each non-final round removes ≥ 1 node,
    * and in practice peeling converges in a few rounds (the `maxRounds`
    * guard fails loudly on both paths instead of looping — the q125
    * MaxWordLen convention, because the oracle unrolls exactly
    * `maxRounds` rounds). */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 24,
            localMaxEdges: Long = 2000000L): DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    val canon = edges.select(
        least(col("a"), col("b")).cast("long").as("u"),
        greatest(col("a"), col("b")).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("u").as("node"))
        .unionByName(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    val unconverged = s"k-core did not converge in $maxRounds rounds (the oracle's unroll)"
    // the collected rows are unpacked at once, so only the Long arrays
    // outlive the collect
    val packed = PlanOps.collectUnderCap(canon, localMaxEdges)
      .map(rows => (rows.map(_.getLong(0)), rows.map(_.getLong(1))))
    packed match {
      case Some((us, vs)) =>
        val core = peelLocal(us, vs, k, maxRounds)
        require(core.isDefined, unconverged)
        // one partition: a sort by node over it needs no range exchange
        canon.sparkSession.createDataFrame(
          core.get.map { case (node, deg) => Row(node, deg) }.toSeq.asJava,
          degreesOf(canon).schema).coalesce(1)
      case None =>
        // The fixpoint check runs on the PINNED (node, deg) frame —
        // node-sized, not edge-sized — so the converged (= last) round
        // costs one tiny isEmpty probe instead of the full semi-join +
        // edge pin + edge count the edge-count check paid. The surviving
        // degree frame is also exactly the declared output, so the final
        // output aggregate is the last round's pin, not a recompute.
        var e = CheckpointPolicy.pin(canon)
        var deg = CheckpointPolicy.pin(degreesOf(e))
        var rounds = 0
        while (!deg.filter(col("deg") < k).isEmpty) {
          require(rounds < maxRounds, unconverged)
          val keep = deg.filter(col("deg") >= k).select("node")
          e = CheckpointPolicy.pin(
            e.join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
              .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
              .select("u", "v"))
          deg = CheckpointPolicy.pin(degreesOf(e))
          rounds += 1
        }
        deg
    }
  }

  /** [[kCore]]'s driver-side peel over the distinct canonical edges
    * `(us(i), vs(i))`: the surviving `(node, deg)` pairs sorted by node,
    * or None when more than `maxRounds` peeling rounds are needed. Nodes
    * are renumbered densely (sorted ids, binary search) so every round is
    * one pass over the live edges into a primitive degree array. */
  private def peelLocal(us: Array[Long], vs: Array[Long], k: Int,
                        maxRounds: Int): Option[Array[(Long, Long)]] = {
    val sorted = us ++ vs
    java.util.Arrays.sort(sorted)
    val distinct = Array.newBuilder[Long]
    sorted.indices.foreach(i => if (i == 0 || sorted(i) != sorted(i - 1)) distinct += sorted(i))
    val ids = distinct.result()
    val n = ids.length
    val ui = us.map(java.util.Arrays.binarySearch(ids, _))
    val vi = vs.map(java.util.Arrays.binarySearch(ids, _))
    val deg = new Array[Long](n)
    var live = us.indices.toArray
    var rounds = 0
    var done = false
    while (!done) {
      java.util.Arrays.fill(deg, 0L)
      for (i <- live) { deg(ui(i)) += 1; deg(vi(i)) += 1 }
      if (!deg.exists(d => d > 0 && d < k)) done = true
      else if (rounds >= maxRounds) return None
      else {
        live = live.filter(i => deg(ui(i)) >= k && deg(vi(i)) >= k)
        rounds += 1
      }
    }
    Some(ids.indices.iterator.filter(deg(_) > 0).map(j => (ids(j), deg(j))).toArray)
  }

  /** The co-purchase part graph: an undirected edge between every pair of
    * distinct parts appearing in the same order ("frequently bought
    * together") — the self-join is per-order (≤ 7 lineitems in the TPC-H
    * shape), so pair fan-out is Σ C(items, 2) = output-sized, never
    * quadratic in the table. */
  def coPurchaseGraph(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey"))
    li.select(col("ok"), col("l_partkey").as("a"))
      .join(li.select(col("ok"), col("l_partkey").as("b")), Seq("ok"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
  }

  /** The purchase graph: customer c ↔ supplier s, weighted by how many
    * lineitems connect them — both directions explicitly, so the walk
    * mixes and no node dangles. Node ids are LONGS (2·custkey for
    * customers, 2·suppkey+1 for suppliers): 8-byte keys halve the
    * per-iteration shuffle payload vs string ids. */
  def purchaseGraph(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val el = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(count(lit(1)).cast("double").as("w"))
      .select((col("o_custkey") * 2).as("cn"),
        (col("l_suppkey") * 2 + 1).as("sn"), col("w"))
    el.select(col("cn").as("src"), col("sn").as("dst"), col("w"))
      .unionByName(el.select(col("sn").as("src"), col("cn").as("dst"), col("w")))
  }
}
