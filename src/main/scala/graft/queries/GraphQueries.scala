package graft.queries

import graft.Tables
import graft.functions.TextOps
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.{bm25IndexFor, buildLinkArtifact, linkArtifactFor, q165EdgeRowsKeyed,
  q165Pages, servedQ165Edges}

/** Graph queries: PageRank, HITS, TrustRank, k-core and triangles, the
  * crawl link graph, anchor corpora and the incremental link and anchor
  * artifacts they serve. */
object GraphQueries {

  /** q123: weighted PageRank over the customer↔supplier purchase graph —
    * the link-centrality quality prior crawl curation ranks hosts with
    * ([[LinkAnalysis.pageRank]]), oracle-replayed END-TO-END: the DuckDB
    * side unrolls all 5 iterations as CTE blocks with the identical
    * left-assoc contribution arithmetic and the identical 9-dp floor
    * fence, so any defect in the edge weights, out-weight normalization,
    * damping arithmetic, or iteration order breaks the hash. */
  def q123PageRank(s: SparkSession, d: String): DataFrame = {
    val edges = LinkAnalysis.purchaseGraph(
      Tables.lineitem(s, d), Tables.orders(s, d))
    LinkAnalysis.pageRank(edges, iters = 5, damping = 0.85)
      .select(col("node"), col("rank"))
      .orderBy("node")
  }

  // q123: the PageRank trajectory, all 5 iterations unrolled as CTE blocks.
  // Arithmetic mirrors LinkAnalysis.pageRank exactly: contribution
  // (rnk * w) / ow left-assoc, base (1.0 - 0.85)/n (NOT the literal 0.15 —
  // a different double), 9-dp floor fence after every iteration. The
  // purchase graph has no dangling nodes (both edge directions are
  // materialized), so the Spark side's dangling term is exactly 0.0 and
  // adding it is the IEEE identity — the replay omits it.
  def q123Sql: String = {
    val head = """
    WITH el AS (
      SELECT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    edges AS (SELECT cn AS src, sn AS dst, w FROM el
              UNION ALL SELECT sn AS src, cn AS dst, w FROM el),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    r0 AS (SELECT node, floor(1.0 / nn.n * 1e9 + 0.5) / 1e9 AS rnk
           FROM nodes, nn)"""
    val its = (1 to 5).map { i =>
      s"""
    c$i AS (SELECT e.dst AS node, sum(r.rnk * e.w / o.ow) AS inw
            FROM edges e JOIN outw o ON e.src = o.src
            JOIN r${i - 1} r ON r.node = e.src
            GROUP BY e.dst),
    r$i AS (SELECT n.node,
              floor(((1.0 - 0.85) / nn.n + 0.85 * coalesce(c.inw, 0.0))
                    * 1e9 + 0.5) / 1e9 AS rnk
            FROM nodes n CROSS JOIN nn LEFT JOIN c$i c ON c.node = n.node)"""
    }.mkString(",")
    head + "," + its + """
    SELECT node, rnk AS "rank" FROM r5 ORDER BY node"""
  }

  /** q128: exact triangle counting + local clustering coefficients over
    * the co-purchase part graph ([[LinkAnalysis.triangles]] /
    * [[LinkAnalysis.coPurchaseGraph]]) — the community-density companion
    * to q123's PageRank centrality. Degree-ordered edge orientation
    * bounds the wedge join by O(m^{3/2}); the DuckDB oracle replays the
    * whole derivation (canonical edges, degrees, orientation, wedge +
    * closing-edge joins, per-node counts, the 6-dp fenced coefficient) —
    * a single lost or double-counted triangle breaks the hash. */
  def q128Triangles(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.triangles(
        LinkAnalysis.coPurchaseGraph(Tables.lineitem(s, d)))
      .orderBy("node")

  // q128: exact triangle counting over the co-purchase part graph — the
  // full derivation replayed: canonical distinct edges, degrees,
  // (deg, id)-orientation, the ordered wedge join, the closing-edge join,
  // per-node triangle counts, and the 6-dp fenced clustering coefficient
  // with the identical left-assoc arithmetic.
  def q128Sql = """
    WITH li AS (SELECT l_orderkey AS ok, l_partkey FROM lineitem),
    e0 AS (SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
           FROM li x JOIN li y ON x.ok = y.ok AND x.l_partkey < y.l_partkey),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
            (SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
            GROUP BY node),
    eo AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
                  CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
                  greatest(du, dv) AS dd
           FROM (SELECT e0.u, e0.v, a.deg AS du, b.deg AS dv
                 FROM e0 JOIN deg a ON a.node = e0.u
                         JOIN deg b ON b.node = e0.v)),
    w AS (SELECT e1.src AS src, e1.dst AS d1, e2.dst AS d2
          FROM eo e1 JOIN eo e2 ON e1.src = e2.src
          WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
    t AS (SELECT w.src, w.d1, w.d2
          FROM w JOIN eo ON eo.src = w.d1 AND eo.dst = w.d2),
    pn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM
           (SELECT src AS node FROM t UNION ALL SELECT d1 AS node FROM t
            UNION ALL SELECT d2 AS node FROM t) GROUP BY node)
    SELECT CAST(deg.node AS BIGINT) AS node, deg.deg AS deg,
           CAST(coalesce(pn.tri, 0) AS BIGINT) AS tri,
           CASE WHEN deg.deg < 2 THEN 0.0
                ELSE floor(2.0 * CAST(coalesce(pn.tri, 0) AS DOUBLE) /
                     (CAST(deg.deg AS DOUBLE) * CAST(deg.deg - 1 AS DOUBLE)) *
                     1e6 + 0.5) / 1e6 END AS coef
    FROM deg LEFT JOIN pn ON pn.node = deg.node
    ORDER BY node"""

  /** q133: k-core of the co-purchase part graph ([[LinkAnalysis.kCore]])
    * — the density filter of graph curation (dense communities / spam
    * farms survive, tendrils peel) and the third graph operator next to
    * PageRank and triangles. k = 65 sits just under the fixture graph's
    * degeneracy, so the peel genuinely CASCADES (removals drop neighbors
    * below k across several rounds — 4 rounds at sf0.001) rather than
    * converging in one pass. The oracle unrolls all 24 guard rounds
    * (converged rounds no-op); the Spark side fails loudly past the
    * guard instead of diverging from the replay. */
  def q133KCore(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.kCore(
        LinkAnalysis.coPurchaseGraph(Tables.lineitem(s, d)), k = 65)
      .orderBy("node")

  /** q133: k-core peeling, unrolled to the Spark side's 24-round guard
    * (converged rounds are no-ops): per round, degrees over the surviving
    * edges, the ≥ k node set, and the doubly-semi-joined edge filter. */
  def kCoreOracle(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """
    WITH li AS (SELECT l_orderkey AS ok, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
          FROM li x JOIN li y ON x.ok = y.ok AND x.l_partkey < y.l_partkey)"""
    for (r <- 1 to rounds) {
      sb ++= s""",
    d$r AS (SELECT node, count(*) AS deg FROM
            (SELECT u AS node FROM e${r - 1} UNION ALL SELECT v AS node FROM e${r - 1})
            GROUP BY node),
    k$r AS (SELECT node FROM d$r WHERE deg >= $k),
    e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
            WHERE u IN (SELECT node FROM k$r) AND v IN (SELECT node FROM k$r))"""
    }
    sb ++= s"""
    SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS deg FROM
    (SELECT u AS node FROM e$rounds UNION ALL SELECT v AS node FROM e$rounds)
    GROUP BY node ORDER BY node"""
    sb.toString
  }

  def q133Sql: String = kCoreOracle(k = 65, rounds = 24)

  /** q142: Doulion sampled triangle estimate ([[LinkAnalysis
    * .trianglesDoulion]]) over q128's co-purchase graph at p = 1/2 — the
    * 100 TB path past exact counting's O(m^{3/2}) wedge bound (q128 scales
    * 8.6× at 10× edges; the sampled pipeline shrinks wedge mass ~p³).
    * p = 1/2 makes the 1/p³ scale-up an exact ×8 — zero float divergence —
    * and sampling is the md5-portable uniform, so the oracle replays the
    * sparsified graph and the estimate EXACTLY; the unbiasedness and
    * relative-error properties are spec-gated (LinkAnalysisSpec). */
  def q142TrianglesDoulion(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.trianglesDoulion(
      LinkAnalysis.coPurchaseGraph(Tables.lineitem(s, d)), p = 0.5,
      policy = CheckpointPolicy.fromSession(s))

  /** q142: Doulion triangle estimate — full replay: canonical co-purchase
    * edges, the 13-hex md5-uniform keep decision per edge (q76 device over
    * 'u:v|doulion'), an exact a<b<c triple-join triangle count on the kept
    * subgraph, and the ×8 (= 1/p³ at p=1/2) scale-up under the 6-dp
    * fence. */
  def q142Sql = """
    WITH li AS (SELECT l_orderkey AS ok, l_partkey FROM lineitem),
    e0 AS (SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
           FROM li x JOIN li y ON x.ok = y.ok AND x.l_partkey < y.l_partkey),
    s AS (SELECT u, v,
            CASE WHEN list_reduce(list_prepend(0.0,
                   list_transform(generate_series(1, 13),
                     k -> CAST(strpos('0123456789abcdef',
                            substr(substr(md5(concat_ws('|',
                              concat_ws(':', u, v), 'doulion')), 1, 13), k, 1))
                            - 1 AS DOUBLE) * pow(16.0, 13 - k))),
                   (a, x) -> a + x) / 4503599627370496.0 < 0.5
                 THEN 1 ELSE 0 END AS keep
          FROM e0),
    ke AS (SELECT u, v FROM s WHERE keep = 1),
    t AS (SELECT CAST(count(*) AS BIGINT) AS tri_sampled
          FROM ke e1 JOIN ke e2 ON e2.u = e1.v
                     JOIN ke e3 ON e3.u = e1.u AND e3.v = e2.v),
    es AS (SELECT CAST(count(*) AS BIGINT) AS total_edges,
                  CAST(sum(keep) AS BIGINT) AS kept_edges FROM s)
    SELECT es.total_edges, es.kept_edges, t.tri_sampled,
           floor(CAST(t.tri_sampled AS DOUBLE) / 0.125 * 1e6 + 0.5) / 1e6
             AS tri_est
    FROM es, t"""

  /** q147: personalized PageRank over the purchase graph
    * ([[LinkAnalysis.personalizedPageRank]]) — the TrustRank shape: the
    * restart mass is pinned to nation-0 customers (the "trusted seed
    * set"), so ranks measure proximity to the seeds, not global
    * centrality; suppliers trading mostly with nation-0 customers
    * outrank equally-connected suppliers that don't. The seed set
    * includes customers with NO orders (off-graph nodes), so the
    * dangling-restart path — a terminated walk restarts AT A SOURCE,
    * mass scaled by each node's restart weight — is exercised and
    * replayed, not just the no-dangling identity. The oracle unrolls all
    * 5 iterations as CTE blocks: per-iteration contribution sums, the
    * per-iteration dangling-mass scalar, the `(1-d)·rst + d·(in +
    * dm·rst)` association, and the 9-dp floor fence. */
  def q147PersonalizedPagerank(s: SparkSession, d: String): DataFrame = {
    val edges = LinkAnalysis.purchaseGraph(
      Tables.lineitem(s, d), Tables.orders(s, d))
    val sources = Tables.customer(s, d)
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))
    LinkAnalysis.personalizedPageRank(edges, sources, iters = 5,
        damping = 0.85)
      .orderBy("node")
  }

  // q147: the personalized-PageRank trajectory, all 5 iterations unrolled.
  // Same edge/out-weight CTEs as q123, plus: the seed set (nation-0
  // customers, DISTINCT), a node universe that UNIONs off-graph seeds in,
  // the per-node restart mass rst = 1/|S| on seeds else 0.0, the
  // per-iteration dangling scalar (rank mass on nodes with no out-edges —
  // the orderless seeds), and the (1.0-0.85)*rst + 0.85*(in + dm*rst)
  // association with the 9-dp floor fence, mirroring
  // LinkAnalysis.personalizedPageRank term for term.
  def q147Sql: String = {
    val head = """
    WITH el AS (
      SELECT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    edges AS (SELECT cn AS src, sn AS dst, w FROM el
              UNION ALL SELECT sn AS src, cn AS dst, w FROM el),
    srcs AS (SELECT DISTINCT c_custkey * 2 AS node
             FROM customer WHERE c_nationkey = 0),
    gnodes AS (SELECT DISTINCT src AS node FROM edges),
    nodes AS (SELECT node FROM gnodes UNION SELECT node FROM srcs),
    ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM srcs),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    nr AS (SELECT nodes.node,
             CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS rst
           FROM nodes CROSS JOIN ns LEFT JOIN srcs s ON s.node = nodes.node),
    r0 AS (SELECT node, rst, floor(rst * 1e9 + 0.5) / 1e9 AS rnk FROM nr)"""
    val its = (1 to 5).map { i =>
      s"""
    c$i AS (SELECT e.dst AS node, sum(r.rnk * e.w / o.ow) AS inw
            FROM edges e JOIN outw o ON e.src = o.src
            JOIN r${i - 1} r ON r.node = e.src
            GROUP BY e.dst),
    dg$i AS (SELECT floor(coalesce(sum(r.rnk), 0.0) * 1e9 + 0.5) / 1e9 AS dm
             FROM r${i - 1} r LEFT JOIN outw o ON o.src = r.node
             WHERE o.src IS NULL),
    r$i AS (SELECT n.node, n.rst,
              floor(((1.0 - 0.85) * n.rst
                     + 0.85 * (coalesce(c.inw, 0.0) + dg$i.dm * n.rst))
                    * 1e9 + 0.5) / 1e9 AS rnk
            FROM nr n CROSS JOIN dg$i LEFT JOIN c$i c ON c.node = n.node)"""
    }.mkString(",")
    head + "," + its + """
    SELECT node, rnk AS "rank" FROM r5 ORDER BY node"""
  }

  /** q164: web-graph edge extraction ([[LinkGraph]]) — each doc is a
    * page at `https://site{id%5}.example/a/b/doc{id}.html` whose body
    * plants every href class a crawler's link extractor meets: an
    * absolute link with query, a protocol-relative `//host` link, a
    * rooted `/path` link, a child-relative path, a `../` parent path
    * (the RFC 3986 merge), a fragment-only self link, a COLON-bearing
    * relative ref (`watch?t=1:30` — the RFC 3986 scheme-grammar case a
    * naive first-colon test misreads as a scheme and drops), a
    * `mailto:` (no edge), and an href-less named anchor (no edge) whose
    * title value plants an `href=` TOKEN inside it (must not parse as a
    * link — the quote-aware attribute walk). Seven edges per page;
    * anchor text with an entity plant rides along. The oracle rebuilds
    * every (link_idx, href, resolved, anchor, domain) row closed-form,
    * including the PSL domain of each resolved target. */
  def q164LinkGraph(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("https://site"), id % 5, lit(".example/a/b/doc"),
      id, lit(".html"))
    val html = concat(
      lit("<html><body><div>" +
        "<a href=\"https://ext.example/page?z=1\">Abs &amp; Link</a>" +
        "<a href=\"//cdn.example/lib\">Proto Rel</a>" +
        "<a href=\"/rooted/page\">Rooted</a>" +
        "<a href=\"sub/page.html\">Child</a>" +
        "<a href=\"../up/page.html\">Up</a>" +
        "<a href=\"watch?t=1:30\">Colon Rel</a>" +
        "<a href=\"mailto:a@b.c\">Mail</a>" +
        "<a href=\"#top\">Self "), id,
      lit("</a><a name=\"anchor\" title=\"a href=decoy\">NoHref</a>" +
        "</div></body></html>"))
    val e = LinkGraph.edges(
      Tables.fanOut(Tables.documents(s, d).select(id, base.as("u"), html.as("h")),
        id),
      col("doc_id"), col("u"), col("h"))
    e.select(col("doc_id"), col("link_idx"), col("href"), col("resolved"),
        col("anchor"), Urls.registeredDomain(col("resolved")).as("domain"))
      .orderBy("doc_id", "link_idx")
  }

  /** q164: link-graph edges — every planted href class rebuilt
    * closed-form: absolute pass-through, protocol-relative scheme
    * inheritance, rooted path, child-relative and `../` RFC 3986
    * merges against the `/a/b/` base dir, colon-bearing relative ref
    * (`watch?t=1:30` resolves against the base dir — not a scheme),
    * fragment-only self link; mailto and href-less anchors (incl. the
    * `href=` decoy inside the title value) emit nothing, so link_idx is
    * dense 0-6; registered domains via the PSL default rule. */
  def q164Sql = """
    WITH b AS (SELECT doc_id,
        'https://site' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS root,
        'site' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS dom
      FROM documents)
    SELECT doc_id, CAST(0 AS BIGINT) AS link_idx,
           'https://ext.example/page?z=1' AS href,
           'https://ext.example/page?z=1' AS resolved,
           'Abs & Link' AS anchor, 'ext.example' AS domain FROM b
    UNION ALL SELECT doc_id, 1, '//cdn.example/lib',
           'https://cdn.example/lib', 'Proto Rel', 'cdn.example' FROM b
    UNION ALL SELECT doc_id, 2, '/rooted/page',
           root || '/rooted/page', 'Rooted', dom FROM b
    UNION ALL SELECT doc_id, 3, 'sub/page.html',
           root || '/a/b/sub/page.html', 'Child', dom FROM b
    UNION ALL SELECT doc_id, 4, '../up/page.html',
           root || '/a/up/page.html', 'Up', dom FROM b
    UNION ALL SELECT doc_id, 5, 'watch?t=1:30',
           root || '/a/b/watch?t=1:30', 'Colon Rel', dom FROM b
    UNION ALL SELECT doc_id, 6, '#top',
           root || '/a/b/doc' || CAST(doc_id AS VARCHAR) || '.html',
           'Self ' || CAST(doc_id AS VARCHAR), dom FROM b
    ORDER BY doc_id, link_idx"""

  /** Per-link canonicalized rows of the q165 chain over `pages`:
    * extraction → redirect resolution → (source domain, target domain,
    * canonical target, anchor) — the frame BOTH the one-shot aggregate
    * (q165/q169) and the per-batch artifact append (q177) consume. */
  private def q165EdgeRows(s: SparkSession, pages: DataFrame): DataFrame =
    q165EdgeRowsKeyed(s, pages).drop("doc_id")

  /** The crawl-derived registered-domain edge frame q165 and q169 rank:
    * real extractor → redirect canonicalization → intra-domain cut →
    * domain aggregation (see q165's scaladoc for the plant). */
  private def q165DomainEdges(s: SparkSession, d: String): DataFrame = {
    val dom = q165EdgeRows(s, q165Pages(s, d))
      .filter(col("sd") =!= col("dd"))
    // PIN the aggregated edge frame: PageRank's setup consumes it on
    // four branches (node union x2, out-weights, the edge join) and a
    // pure-projection aggregate would replay the whole HTML extraction
    // per branch (measured 13.3 s -> 4 s class at sf0.1 — the shared
    // join-input convention)
    CheckpointPolicy.fromSession(s).pin(
      dom.groupBy(col("sd").as("src"), col("dd").as("dst"))
        .agg(count(lit(1)).cast("double").as("w")))
  }

  /** q165: crawl→graph→centrality — the composition that makes the
    * link-graph seams FEED something: per-page link extraction (the
    * real [[LinkGraph.edges]] container) → redirect CANONICALIZATION of
    * the targets ([[Redirects.resolveKeyed]] over a planted URL-space
    * chain table: a 1-hop, a 2-hop, a self-cycle whose targets keep
    * their crawl URL, and a second 1-hop) → intra-domain edge cut
    * (navigation, not endorsement — the standard host-graph cut) →
    * registered-domain edge aggregation ([[Urls.registeredDomain]],
    * count weights) → [[LinkAnalysis.pageRank]] host centrality over
    * the ~8-node domain graph (5 iterations). The news/shop/redir hosts
    * have no out-edges, so the DANGLING redistribution term is live —
    * the first oracle-gated dangling path of the global PageRank. The
    * oracle replays the planted link classes, the chain depths, the
    * domain aggregation, and all 5 fenced iterations closed-form. */
  def q165CrawlGraphCentrality(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.pageRank(q165DomainEdges(s, d), iters = 5,
        policy = CheckpointPolicy.fromSession(s))
      .orderBy("node")

  /** q165: crawl→graph→centrality — the whole chain replayed
    * closed-form: each page of class k = doc_id%5 emits one hub edge
    * whose CANONICAL domain follows m = doc_id%4 (0/1 → news.example —
    * the 1- and 2-hop chains; 2 → redir.example — the self-cycle keeps
    * its crawl URL; 3 → shop.example) plus one static news edge; the
    * /local/nav self-domain edge dies on the intra-domain cut. Domain
    * edges aggregate as counts, then all 5 PageRank iterations unroll
    * with the q123 arithmetic PLUS the live dangling term (news/shop/
    * redir have no out-edges): the dangling scalar is 9-dp fenced on
    * both engines (the q147 dg convention), redistributed uniformly
    * (dm / n), and every rank re-fences per iteration. */
  /** The q165 CTE list WITHOUT the WITH keyword (b … r5, final ranks in
    * `r5`) — shared by [[q165]] (and q177, whose oracle IS q165's
    * replay) and embedded into composite oracles that join a PageRank
    * prior onto another replay (q184). */
  private def q165RankCtes: String = {
    val head = """
    b AS (SELECT doc_id % 5 AS k, doc_id % 4 AS m FROM documents),
    de AS (
      SELECT 'site' || CAST(k AS VARCHAR) || '.example' AS src,
             CASE WHEN m IN (0, 1) THEN 'news.example'
                  WHEN m = 2 THEN 'redir.example'
                  ELSE 'shop.example' END AS dst
      FROM b
      UNION ALL
      SELECT 'site' || CAST(k AS VARCHAR) || '.example', 'news.example'
      FROM b),
    edges AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
              FROM de GROUP BY 1, 2),
    nodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    r0 AS (SELECT node, floor(1.0 / nn.n * 1e9 + 0.5) / 1e9 AS rnk
           FROM nodes, nn)"""
    val its = (1 to 5).map { i =>
      s"""
    c$i AS (SELECT e.dst AS node, sum(r.rnk * e.w / o.ow) AS inw
            FROM edges e JOIN outw o ON e.src = o.src
            JOIN r${i - 1} r ON r.node = e.src
            GROUP BY e.dst),
    dg$i AS (SELECT floor(coalesce(sum(r.rnk), 0.0) * 1e9 + 0.5) / 1e9 AS dm
             FROM r${i - 1} r LEFT JOIN outw o ON o.src = r.node
             WHERE o.src IS NULL),
    r$i AS (SELECT n.node,
              floor(((1.0 - 0.85) / nn.n
                     + 0.85 * (coalesce(c.inw, 0.0) + dg$i.dm / nn.n))
                    * 1e9 + 0.5) / 1e9 AS rnk
            FROM nodes n CROSS JOIN nn CROSS JOIN dg$i
            LEFT JOIN c$i c ON c.node = n.node)"""
    }.mkString(",")
    head + "," + its
  }

  def q165Sql: String = "WITH " + q165RankCtes + """
    SELECT node, rnk AS "rank" FROM r5 ORDER BY node"""

  /** q166: anchor-text corpus ([[LinkGraph.anchorCorpus]]) — the top-3
    * inlink anchor phrases per resolved target over a planted anchor
    * grid: every page links its class target `t{id%3}.example/page`
    * twice — once with a class anchor `A{id%4}` and once with the
    * corpus-wide `Common` — so each target elects `Common` at rank 1
    * and two of the four class anchors at ranks 2-3, with genuine
    * count TIES at the boundary (the residue classes are near-equal),
    * exercising the deterministic anchor-asc tie-break. The Spark side
    * runs the BOUNDED tagged top-k aggregator (no per-target window
    * sort); the oracle replays counts and the election with an explicit
    * window. */
  def q166AnchorCorpus(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("https://site"), id % 5, lit(".example/p/doc"),
      id, lit(".html"))
    val html = concat(
      lit("<p><a href=\"https://t"), id % 3,
      lit(".example/page\">A"), id % 4,
      lit("</a> and <a href=\"https://t"), id % 3,
      lit(".example/page\">Common</a></p>"))
    val pages = Tables.fanOut(
      Tables.documents(s, d).select(id, base.as("u"), html.as("h")), id)
    val e = LinkGraph.edges(pages, col("doc_id"), col("u"), col("h"))
    LinkGraph.anchorCorpus(e, col("resolved"), col("anchor"), k = 3)
      .orderBy("target", "rank")
  }

  /** q166: anchor-text corpus — counts per (class target, anchor)
    * replayed by GROUP BY over the residue plant, the top-3 election as
    * an explicit (count desc, anchor asc) window; the near-equal class
    * counts make the tie-break genuinely load-bearing. */
  def q166Sql = """
    WITH b AS (SELECT doc_id % 3 AS c, doc_id % 4 AS a FROM documents),
    an AS (
      SELECT 'https://t' || CAST(c AS VARCHAR) || '.example/page' AS target,
             'A' || CAST(a AS VARCHAR) AS anchor FROM b
      UNION ALL
      SELECT 'https://t' || CAST(c AS VARCHAR) || '.example/page', 'Common'
      FROM b),
    cnt AS (SELECT target, anchor, count(*) AS cnt FROM an GROUP BY 1, 2),
    rk AS (SELECT target, anchor, cnt,
             row_number() OVER (PARTITION BY target
                                ORDER BY cnt DESC, anchor ASC) AS rnk
           FROM cnt)
    SELECT target, CAST(rnk AS BIGINT) AS "rank", anchor,
           CAST(cnt AS BIGINT) AS cnt
    FROM rk WHERE rnk <= 3 ORDER BY target, "rank""""

  /** q169: domain TRUSTRANK — the trust-seeded sibling of q165's global
    * centrality, completing the "distance from trust" quality prior
    * (Gyöngyi et al. 2004) over the REAL crawl-derived domain graph
    * instead of the synthetic purchase graph q147 pins: the
    * extractor→canonicalize→cut→aggregate edge frame SERVED from the
    * incremental link artifact ([[LinkGraph.servedDomainEdges]] — the
    * q177 convention: a daily-ingest trust gate must not re-pay the
    * whole extraction every run), ranked by
    * [[LinkAnalysis.personalizedPageRank]] with a two-host trusted seed
    * set. The plant exercises every PPR regime at once: seeds keep
    * restart mass, news.example receives from BOTH seeds (and all other
    * sites), the three sink hosts are DANGLING (their mass restarts at
    * the seeds — the PPR convention), and the unseeded site hosts have
    * no in-edges at all so they fence to exactly 0.0. The oracle
    * unrolls all 5 iterations with the q147 dg/rst arithmetic over the
    * q165 edge CTEs. */
  def q169DomainTrustRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seeds = Seq("site0.example", "site1.example").toDF("node")
    LinkAnalysis.personalizedPageRank(servedQ165Edges(s, d), seeds,
        iters = 5, policy = CheckpointPolicy.fromSession(s))
      .orderBy("node")
  }

  /** q169: domain TrustRank — the q147 personalized-PageRank replay
    * (rst seed mass, per-iteration 9-dp-fenced dangling scalar
    * redistributed THROUGH rst, the (1-d)*rst + d*(in + dm*rst)
    * association) over the q165 crawl-derived domain edge CTEs with a
    * two-host literal seed set. Unreachable unseeded hosts must fence
    * to exactly 0.0. */
  /** Shared CTE prefix for q169/q182: the q165 crawl-derived domain
    * edges + the full 5-iteration personalized-PageRank unroll (final
    * ranks land in `r5`; `b` holds the per-doc residue classes for
    * downstream count rebuilds). */
  private[queries] def q169TrustCtes: String = {
    val head = """
    WITH b AS (SELECT doc_id % 5 AS k, doc_id % 4 AS m FROM documents),
    de AS (
      SELECT 'site' || CAST(k AS VARCHAR) || '.example' AS src,
             CASE WHEN m IN (0, 1) THEN 'news.example'
                  WHEN m = 2 THEN 'redir.example'
                  ELSE 'shop.example' END AS dst
      FROM b
      UNION ALL
      SELECT 'site' || CAST(k AS VARCHAR) || '.example', 'news.example'
      FROM b),
    edges AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
              FROM de GROUP BY 1, 2),
    srcs AS (SELECT 'site0.example' AS node
             UNION ALL SELECT 'site1.example'),
    gnodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    nodes AS (SELECT node FROM gnodes UNION SELECT node FROM srcs),
    ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM srcs),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    nr AS (SELECT nodes.node,
             CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS rst
           FROM nodes CROSS JOIN ns LEFT JOIN srcs s ON s.node = nodes.node),
    r0 AS (SELECT node, rst, floor(rst * 1e9 + 0.5) / 1e9 AS rnk FROM nr)"""
    val its = (1 to 5).map { i =>
      s"""
    c$i AS (SELECT e.dst AS node, sum(r.rnk * e.w / o.ow) AS inw
            FROM edges e JOIN outw o ON e.src = o.src
            JOIN r${i - 1} r ON r.node = e.src
            GROUP BY e.dst),
    dg$i AS (SELECT floor(coalesce(sum(r.rnk), 0.0) * 1e9 + 0.5) / 1e9 AS dm
             FROM r${i - 1} r LEFT JOIN outw o ON o.src = r.node
             WHERE o.src IS NULL),
    r$i AS (SELECT n.node, n.rst,
              floor(((1.0 - 0.85) * n.rst
                     + 0.85 * (coalesce(c.inw, 0.0) + dg$i.dm * n.rst))
                    * 1e9 + 0.5) / 1e9 AS rnk
            FROM nr n CROSS JOIN dg$i LEFT JOIN c$i c ON c.node = n.node)"""
    }.mkString(",")
    head + "," + its
  }

  def q169Sql: String = q169TrustCtes + """
    SELECT node, rnk AS "rank" FROM r5 ORDER BY node"""

  /** The q173/q179 page plant: every doc links to its 50-bucket hub
    * page, id%5=0 docs calling it "join window" and the rest "misc
    * link" — all links INTRA-domain (the targets are corpus docs), so
    * the plant also exercises the artifact's empty-edges-subdir path
    * (the edge-cut frame is empty; only the anchors side has rows). */
  private def q173Pages(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("https://site.example/p/doc"), id, lit(".html"))
    val html = concat(
      lit("<p><a href=\"/p/doc"), id - id % 50, lit(".html\">"),
      when(id % 5 === 0, lit("join window")).otherwise(lit("misc link")),
      lit("</a></p>"))
    // NO fanOut here (reverted in r15): the r14 keyed exchange measured a
    // consistent ~0.25 s LOSS on q173 at sf0.1 (1.14/1.54 vs 0.84/1.31
    // warm across A/B reps with and without it) — the one-line-HTML
    // parse is cheaper than the added hash exchange, and edgesWithBase
    // removed the join-back the exchange reuse was meant to serve.
    Tables.documents(s, d).select(id, base.as("u"), html.as("h"))
  }

  /** Key an anchor-corpus frame (target, anchor, cnt — one-shot or
    * artifact-served) back to target doc ids — the q173/q179 anchor
    * side. */
  private def q173KeyAnchors(corpus: DataFrame): DataFrame =
    corpus.select(
      regexp_extract(col("target"), "/p/doc(\\d+)\\.html$", 1)
        .cast("long").as("aid"),
      col("anchor"), col("cnt"))

  /** The q173 anchor corpus, one-shot: real edge extraction + the
    * bounded top-k election. */
  private def q173Anchors(s: SparkSession, d: String): DataFrame =
    q173KeyAnchors(LinkGraph.anchorCorpus(
      LinkGraph.edges(q173Pages(s, d), col("doc_id"), col("u"), col("h")),
      col("resolved"), col("anchor"), k = 3))

  /** q173: anchor-text retrieval field ([[Retrieval.bm25fTopK]] fed by
    * [[LinkGraph.anchorCorpus]]) — the round-12 anchor corpus finally
    * feeding ranking, BM25F-lite style: every doc links to its 50-bucket
    * hub page, id%5=0 docs calling it "join window" and the rest "misc
    * link", so hub pages accumulate a real anchor field (phrase counts
    * riding [[LinkGraph.anchorCorpus]]'s bounded top-k election) while
    * their OWN body text stays ordinary. The q85 query terms score the
    * same corpus twice — body-only (`bm25_body`, exactly q85's BM25) and
    * fused (`bm25f`, anchor field at weight 2) — and the oracle replays
    * tokenization, both fields' tf/dl, the inlink-count weighting, the
    * body-idf choice, the per-field length normalization, the fused
    * saturation, and the rounded top-20 cut closed-form. Hub pages
    * re-rank above their body-only standing — the reason a web corpus
    * builds the anchor field at all. */
  def q173AnchorBm25f(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25fTopK(Tables.documents(s, d), col("doc_id"),
      graft.functions.TextOps.tokens(coalesce(col("text"), lit(""))),
      q173Anchors(s, d), col("aid"), col("anchor"), col("cnt"),
      Seq("join", "filter", "window"), k = 20, wAnchor = 2.0)

  /** q173: anchor-text BM25F — the q85 body replay plus the anchor
    * field rebuilt closed-form: per 50-bucket hub, inlink counts split
    * by the %5 anchor-phrase residue ("join window" × c_jw, "misc
    * link" × c_ml — only two distinct phrases, so the top-3 election
    * keeps both exactly); anchor tf = phrase counts × per-phrase term
    * occurrences, anchor dl = 2·(c_jw + c_ml); idf from the body only;
    * per-field length normalization, weight-2 anchor fusion, single
    * saturation, and the 6-dp rounded (bm25f desc, doc_id) top-20 cut
    * — all mirroring the Spark expression's operation order. */
  /** The q173 CTE prefix (t … f — per-candidate per-term fused/body
    * contributions land in `f`) — shared by [[q173]] (and q179, whose
    * oracle IS q173's replay) and embedded into composite oracles that
    * blend a further signal onto the raw BM25F score (q184). */
  private def q173Ctes = """
    WITH t AS (SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents),
    w AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
            CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf0,
            CAST(len(list_filter(toks, x -> x = 'filter')) AS DOUBLE) AS tf1,
            CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf2
          FROM t),
    ac AS (SELECT doc_id - doc_id % 50 AS aid,
             CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
               AS DOUBLE) AS c_jw,
             CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END)
               AS DOUBLE) AS c_ml
           FROM documents GROUP BY 1),
    an AS (SELECT aid,
             c_jw AS atf0, CAST(0 AS DOUBLE) AS atf1, c_jw AS atf2,
             2.0 * c_jw + 2.0 * c_ml AS dla
           FROM ac),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
           FROM w),
    sa AS (SELECT avg(dla) AS avgdla FROM an WHERE dla > 0),
    j AS (SELECT w.doc_id, w.dl, w.tf0, w.tf1, w.tf2,
            coalesce(an.dla, 0.0) AS dla,
            coalesce(an.atf0, 0.0) AS atf0,
            coalesce(an.atf1, 0.0) AS atf1,
            coalesce(an.atf2, 0.0) AS atf2
          FROM w LEFT JOIN an ON an.aid = w.doc_id),
    sc AS (SELECT doc_id,
        ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) AS idf0,
        ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) AS idf1,
        ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) AS idf2,
        0.25 + 0.75 * dl / avgdl AS bb,
        0.25 + 0.75 * dla / avgdla AS ba,
        tf0, tf1, tf2, atf0, atf1, atf2, dla
      FROM j, st, sa
      WHERE greatest(tf0, tf1, tf2, atf0, atf1, atf2) > 0),
    f AS (SELECT doc_id,
        1.0 * tf0 / bb + (CASE WHEN dla > 0 THEN 2.0 * atf0 / ba
                               ELSE 0.0 END) AS t0,
        1.0 * tf1 / bb + (CASE WHEN dla > 0 THEN 2.0 * atf1 / ba
                               ELSE 0.0 END) AS t1,
        1.0 * tf2 / bb + (CASE WHEN dla > 0 THEN 2.0 * atf2 / ba
                               ELSE 0.0 END) AS t2,
        1.0 * tf0 / bb + 0.0 AS b0,
        1.0 * tf1 / bb + 0.0 AS b1,
        1.0 * tf2 / bb + 0.0 AS b2,
        idf0, idf1, idf2
      FROM sc)"""

  def q173Sql: String = q173Ctes + """
    SELECT doc_id,
           round(idf0 * t0 * 2.2 / (t0 + 1.2)
               + idf1 * t1 * 2.2 / (t1 + 1.2)
               + idf2 * t2 * 2.2 / (t2 + 1.2), 6) AS bm25f,
           round(idf0 * b0 * 2.2 / (b0 + 1.2)
               + idf1 * b1 * 2.2 / (b1 + 1.2)
               + idf2 * b2 * 2.2 / (b2 + 1.2), 6) AS bm25_body
    FROM f
    ORDER BY bm25f DESC, doc_id LIMIT 20"""

  /** q177: INCREMENTAL centrality — q165's PageRank served from the
    * persisted link-graph artifact instead of a full recompute: three
    * per-batch [[LinkGraph.appendLinkBatch]] ingests (each writing only
    * its own map-side-combined domain-edge/anchor aggregates) folded by
    * [[LinkGraph.compactLinkArtifacts]], then a FOLDED-BATCH REPLAY
    * that must no-op, then [[LinkGraph.servedDomainEdges]] re-summing
    * the partial weights into the same frame the one-shot chain builds.
    * Oracle: EXACTLY q165's 5-iteration replay — batching, folding, and
    * the no-op replay must be invisible in every rank digit. (The
    * anchors side of the same artifact is gated in LinkGraphSpec
    * against the one-shot [[LinkGraph.anchorCorpus]], and standalone by
    * q181.) */
  def q177IncrementalCentrality(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.pageRank(servedQ165Edges(s, d),
        iters = 5, policy = CheckpointPolicy.fromSession(s))
      .orderBy("node")

  /** Per-link rows of the q173 plant over `pages` in the
    * [[LinkGraph.appendLinkBatch]] shape (sd, dd, tgt, anchor) — the
    * frame the per-batch anchor-artifact ingest appends — with the
    * source doc_id kept (the [[q165EdgeRowsKeyed]] batch-slicing
    * convention). */
  private def q173EdgeRowsKeyed(s: SparkSession, pages: DataFrame): DataFrame = {
    val e = LinkGraph.edgesWithBase(pages, col("doc_id"), col("u"), col("h"))
    e.select(col("doc_id"),
        Urls.registeredDomain(col("base")).as("sd"),
        Urls.registeredDomain(col("resolved")).as("dd"),
        col("resolved").as("tgt"), col("anchor"))
  }

  // one persisted ANCHOR-corpus link artifact per fixture, built from
  // the q173 plant through the full incremental lifecycle (three ingest
  // batches split on source doc_id + compaction + a folded-batch replay
  // that must no-op) — the linkArtifactFor convention over the OTHER
  // plant: here every link is intra-domain, so the edges subdir stays
  // empty and only the anchors side accretes
  private def anchorArtifactFor(s: SparkSession, d: String): String = {
    // one extraction pass for all three batches (the linkArtifactFor
    // convention — slicing extracted rows == extracting sliced pages)
    lazy val rows = CheckpointPolicy.fromSession(s).pin(
      q173EdgeRowsKeyed(s, q173Pages(s, d)))
    buildLinkArtifact(s, d, "anchg") { b =>
      rows.filter(col("doc_id") % 3 === b).drop("doc_id")
    }
  }

  /** q179: BM25F served from PERSISTED ARTIFACTS
    * ([[Retrieval.bm25fTopKIndexed]]) — the all-artifacts serving
    * triangle closed for BOTH fields: the body field reads q89's
    * incremental inverted index (term-bucket pruning, postings tf/dl,
    * stats n/avgdl), the anchor field reads the incremental link
    * artifact ([[LinkGraph.servedAnchorCorpus]] over the q173 plant's
    * three-batch build — partial counts re-summed, then the bounded
    * election), candidates the UNION of body and anchor matches — no
    * corpus scan anywhere in the serving plan. The anchor side is
    * semi-joined to corpus doc ids per the `bm25fTopKIndexed` caller
    * contract (artifact targets may outlive corpus membership). Oracle:
    * EXACTLY q173's replay — BOTH index lifecycles (appends +
    * compaction + no-op replays) and the full-outer candidate union
    * must be invisible in every 6-dp score. */
  def q179IndexedAnchorBm25f(s: SparkSession, d: String): DataFrame = {
    val served = q173KeyAnchors(
        LinkGraph.servedAnchorCorpus(s, anchorArtifactFor(s, d), k = 3))
      .join(Tables.documents(s, d).select(col("doc_id").as("aid")),
        Seq("aid"), "left_semi")
    Retrieval.bm25fTopKIndexed(s, bm25IndexFor(s, d),
      served, col("aid"), col("anchor"), col("cnt"),
      Seq("join", "filter", "window"), k = 20, wAnchor = 2.0)
  }

  /** q181: the OTHER half of the incremental link artifact — the
    * anchor corpus served from the same per-batch aggregates q177's
    * centrality reads ([[LinkGraph.servedAnchorCorpus]]: partial
    * counts re-summed, then the bounded top-k election). Targets are
    * the REDIRECT-CANONICALIZED forms (the artifact stores what the
    * pipeline appended: hub anchors collapse onto final destinations,
    * the r2 self-cycle keeps its unterminated URL) and intra-domain
    * Nav anchors COUNT (the anchors side is not domain-cut — same-site
    * anchors are still retrieval evidence). The oracle replays the
    * residue counts and the election; the three-batch fold + no-op
    * replay must be invisible. */
  def q181IncrementalAnchorCorpus(s: SparkSession, d: String): DataFrame =
    LinkGraph.servedAnchorCorpus(s, linkArtifactFor(s, d), k = 3)
      .orderBy("target", "rank")

  /** q181: incremental anchor corpus — per canonicalized target the
    * residue counts (hub anchors land on the redirect FINALS, m=2 on
    * the unterminated self-cycle URL; News on the static URL; the
    * intra-domain Nav on each site host), then the (count desc, anchor
    * asc) election — the q166 convention over the q165 plant. */
  def q181Sql = """
    WITH b AS (SELECT doc_id % 5 AS k, doc_id % 4 AS m FROM documents),
    an AS (
      SELECT CASE WHEN m IN (0, 1) THEN 'https://news.example/final0'
                  WHEN m = 2 THEN 'https://redir.example/r2'
                  ELSE 'https://shop.example/final3' END AS target,
             'Hub' AS anchor FROM b
      UNION ALL
      SELECT 'https://news.example/static', 'News' FROM b
      UNION ALL
      SELECT 'https://site' || CAST(k AS VARCHAR) || '.example/local/nav',
             'Nav' FROM b),
    cnt AS (SELECT target, anchor, count(*) AS cnt FROM an GROUP BY 1, 2),
    rk AS (SELECT target, anchor, cnt,
             row_number() OVER (PARTITION BY target
                                ORDER BY cnt DESC, anchor ASC) AS rnk
           FROM cnt)
    SELECT target, CAST(rnk AS BIGINT) AS "rank", anchor,
           CAST(cnt AS BIGINT) AS cnt
    FROM rk WHERE rnk <= 3 ORDER BY target, "rank""""

  /** q183: HITS hubs & authorities ([[LinkAnalysis.hits]]) over the
    * artifact-served q165 domain graph ([[servedQ165Edges]] — the
    * third ranking family riding the incremental link artifact, after
    * q177's PageRank and q169's TrustRank): authorities rank the
    * domains worth keeping, hubs the domains whose anchor text is worth
    * harvesting. The q165 plant exercises both degeneracies at once —
    * news/redir/shop are pure SINKS (hub fences to exactly 0.0) and the
    * site hosts are pure SOURCES (auth fences to exactly 0.0) — while
    * news.example's double inlink weight separates the authority
    * ordering. Oracle: all 5 iterations unrolled closed-form — per
    * half-step the weighted mass aggregate, the 9-dp-fenced L1 total,
    * and the fenced normalize, the [[LinkAnalysis.pageRank]] replay
    * convention applied to the two-score recurrence. */
  def q183HitsDomains(s: SparkSession, d: String): DataFrame =
    LinkAnalysis.hits(servedQ165Edges(s, d), iters = 5,
        policy = CheckpointPolicy.fromSession(s))
      .orderBy("node")

  /** q183: HITS over the q165 domain edges — both half-steps of all 5
    * iterations unrolled: per round the weighted in-mass aggregate, the
    * 9-dp-fenced L1 total, the fenced normalize (auth then hub), from a
    * uniform 1/n hub init. Sinks (news/redir/shop) fence to hub 0.0,
    * sources (the site hosts) to auth 0.0. The iteration CTEs are
    * MATERIALIZED (the q108 convention): each ar/hr is referenced twice
    * (L1 total + normalize), so inlining doubles the expression tree
    * per half-step — 2^10 rebuilds of the documents scan by r5,
    * observed as DuckDB fd exhaustion. */
  def q183Sql: String = {
    val head = """
    WITH b AS (SELECT doc_id % 5 AS k, doc_id % 4 AS m FROM documents),
    de AS (
      SELECT 'site' || CAST(k AS VARCHAR) || '.example' AS src,
             CASE WHEN m IN (0, 1) THEN 'news.example'
                  WHEN m = 2 THEN 'redir.example'
                  ELSE 'shop.example' END AS dst
      FROM b
      UNION ALL
      SELECT 'site' || CAST(k AS VARCHAR) || '.example', 'news.example'
      FROM b),
    edges AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
              FROM de GROUP BY 1, 2),
    nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
      SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    h0 AS (SELECT node, floor(1.0 / nn.n * 1e9 + 0.5) / 1e9 AS hub
           FROM nodes, nn)"""
    val its = (1 to 5).map { i =>
      s"""
    ar$i AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub * e.w) AS raw
             FROM edges e JOIN h${i - 1} h ON h.node = e.src
             GROUP BY e.dst),
    at$i AS (SELECT floor(coalesce(sum(raw), 0.0) * 1e9 + 0.5) / 1e9 AS t
             FROM ar$i),
    a$i AS MATERIALIZED (SELECT n.node,
              floor(coalesce(ar.raw, 0.0) / at$i.t * 1e9 + 0.5) / 1e9
                AS auth
            FROM nodes n CROSS JOIN at$i
            LEFT JOIN ar$i ar ON ar.node = n.node),
    hr$i AS MATERIALIZED (SELECT e.src AS node, sum(a.auth * e.w) AS raw
             FROM edges e JOIN a$i a ON a.node = e.dst
             GROUP BY e.src),
    ht$i AS (SELECT floor(coalesce(sum(raw), 0.0) * 1e9 + 0.5) / 1e9 AS t
             FROM hr$i),
    h$i AS MATERIALIZED (SELECT n.node,
              floor(coalesce(hr.raw, 0.0) / ht$i.t * 1e9 + 0.5) / 1e9
                AS hub
            FROM nodes n CROSS JOIN ht$i
            LEFT JOIN hr$i hr ON hr.node = n.node)"""
    }.mkString(",")
    head + "," + its + """
    SELECT h5.node, h5.hub, a5.auth
    FROM h5 JOIN a5 ON a5.node = h5.node ORDER BY h5.node"""
  }

  /** q184: centrality-blended artifact serving
    * ([[Retrieval.blendStaticPrior]]) — ALL THREE persisted artifacts
    * in ONE corpus-scan-free ranking plan: the body field from q89's
    * incremental inverted index, the anchor field from the incremental
    * link artifact's anchor corpus (the q179 serving pair), and a
    * QUERY-INDEPENDENT static prior — the artifact-served q165
    * PageRank ([[servedQ165Edges]], q177's frame) of each candidate's
    * hosting domain (doc_id%8 over the crawl's 8 hosts) — blended
    * post-scoring, pre-cut: blended = round6(raw_bm25f + 0.5·prior).
    * The classic web-ranking composition (text relevance + link
    * centrality). The blend is LIVE: news.example's rank dwarfs the
    * uniform source ranks, so its docs outrank same-bm25f site docs in
    * the final 20. Oracle: q173's BM25F replay CTEs joined to q165's
    * rank unroll, the blend and cut replayed digit-for-digit — BOTH
    * index lifecycles and the link-artifact fold must be invisible. */
  def q184CentralityBlendedServing(s: SparkSession, d: String): DataFrame = {
    val served = q173KeyAnchors(
        LinkGraph.servedAnchorCorpus(s, anchorArtifactFor(s, d), k = 3))
      .join(Tables.documents(s, d).select(col("doc_id").as("aid")),
        Seq("aid"), "left_semi")
    val scored = Retrieval.bm25fScoresIndexed(s, bm25IndexFor(s, d),
      served, col("aid"), col("anchor"), col("cnt"),
      Seq("join", "filter", "window"), wAnchor = 2.0)
    val pr = LinkAnalysis.pageRank(servedQ165Edges(s, d), iters = 5,
      policy = CheckpointPolicy.fromSession(s))
    val hosts = Seq("site0.example", "site1.example", "site2.example",
      "site3.example", "site4.example", "news.example", "redir.example",
      "shop.example")
    Retrieval.blendStaticPrior(scored, col("bm25f_raw"),
      element_at(array(hosts.map(lit): _*),
        (pmod(col("doc_id"), lit(8L)) + lit(1L)).cast("int")),
      pr, col("node"), col("rank"), lambda = 0.5, k = 20)
  }

  /** q184: centrality-blended artifact serving — the q173 BM25F replay
    * (CTEs t…f, both index lifecycles must be invisible) JOINED with
    * the q165 PageRank unroll (CTEs b…r5, the fold must be invisible),
    * then the static-rank blend: each candidate's hosting domain by
    * doc_id%8 over the 8 crawl hosts, prior = that domain's
    * 9-dp-fenced rank (coalesced to 0.0 — posture; every host is in
    * the graph), blended = round6(raw_bm25f + 0.5·prior), top-20 by
    * (blended desc, doc_id). The two CTE families are name-disjoint by
    * construction. */
  def q184Sql: String = q173Ctes + "," + q165RankCtes + """,
    hb AS (SELECT f.doc_id,
             CASE WHEN f.doc_id % 8 = 0 THEN 'site0.example'
                  WHEN f.doc_id % 8 = 1 THEN 'site1.example'
                  WHEN f.doc_id % 8 = 2 THEN 'site2.example'
                  WHEN f.doc_id % 8 = 3 THEN 'site3.example'
                  WHEN f.doc_id % 8 = 4 THEN 'site4.example'
                  WHEN f.doc_id % 8 = 5 THEN 'news.example'
                  WHEN f.doc_id % 8 = 6 THEN 'redir.example'
                  ELSE 'shop.example' END AS domain,
             idf0 * t0 * 2.2 / (t0 + 1.2) + idf1 * t1 * 2.2 / (t1 + 1.2)
               + idf2 * t2 * 2.2 / (t2 + 1.2) AS raw
           FROM f),
    hj AS (SELECT hb.doc_id, hb.domain, coalesce(r.rnk, 0.0) AS prior,
             hb.raw
           FROM hb LEFT JOIN r5 r ON r.node = hb.domain)
    SELECT doc_id, domain, prior, round(raw, 6) AS bm25f,
           round(raw + 0.5 * prior, 6) AS blended
    FROM hj ORDER BY blended DESC, doc_id LIMIT 20"""

  /** q185: WARM-START incremental re-rank ([[LinkAnalysis.pageRank]]
    * `init`) — the SCORES-side complement of the artifact increments:
    * q177 serves yesterday's EDGES incrementally; q185 re-ranks
    * today's grown graph starting FROM yesterday's ranks instead of
    * uniform, in 2 iterations instead of 5 (power-method restart near
    * the fixed point — the incremental-maintenance move a daily-ingest
    * ranker runs). "Yesterday" is the batch-0 site0/site1 slice of the
    * q165 crawl (5 hosts), ranked cold; "today" is the full
    * artifact-served graph ([[servedQ165Edges]]), whose three NEW
    * hosts (site2-4) exercise the init default: absent from
    * yesterday's vector, they start at the uniform fenced 1/n. Oracle:
    * both eras unrolled closed-form — the 5-iteration cold era over
    * the sliced plant, then 2 warm iterations whose r0 is
    * coalesce(yesterday.r5, 1/n) — batching, folding, and the warm
    * seam must be invisible in every digit. */
  def q185WarmRerank(s: SparkSession, d: String): DataFrame = {
    val pol = CheckpointPolicy.fromSession(s)
    // yesterday's graph: the batch-0 ingest slice, sites 0-1 only —
    // pinned for the same four-branch reason as q165DomainEdges
    val yEdges = pol.pin(
      q165EdgeRows(s, q165Pages(s, d)
          .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 < 2))
        .filter(col("sd") =!= col("dd"))
        .groupBy(col("sd").as("src"), col("dd").as("dst"))
        .agg(count(lit(1)).cast("double").as("w")))
    val yRanks = LinkAnalysis.pageRank(yEdges, iters = 5, policy = pol)
    LinkAnalysis.pageRank(servedQ165Edges(s, d), iters = 2,
        policy = pol, init = Some(yRanks))
      .orderBy("node")
  }

  /** q185: warm-start incremental re-rank — BOTH eras unrolled
    * closed-form with a prefix-parametrized copy of the q165 rank
    * arithmetic: era `y` (yesterday) is the 5-iteration cold unroll
    * over the batch-0 site0/site1 slice of the crawl plant; era `t`
    * (today) is 2 iterations over the FULL graph whose r0 is
    * coalesce(yr5.rnk, fenced 1/n) — the warm seam, with the three
    * hosts absent from yesterday's vector taking the uniform default.
    * Same fences, same dangling scalar, same left-assoc contribution
    * as q165's replay. */
  def q185Sql: String = {
    def unroll(p: String, where: String, iters: Int, r0: String): String = {
      val head = s"""
    ${p}b AS (SELECT doc_id % 5 AS k, doc_id % 4 AS m FROM documents$where),
    ${p}de AS (
      SELECT 'site' || CAST(k AS VARCHAR) || '.example' AS src,
             CASE WHEN m IN (0, 1) THEN 'news.example'
                  WHEN m = 2 THEN 'redir.example'
                  ELSE 'shop.example' END AS dst
      FROM ${p}b
      UNION ALL
      SELECT 'site' || CAST(k AS VARCHAR) || '.example', 'news.example'
      FROM ${p}b),
    ${p}edges AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
              FROM ${p}de GROUP BY 1, 2),
    ${p}nodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM ${p}edges
      UNION ALL SELECT dst FROM ${p}edges)),
    ${p}nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ${p}nodes),
    ${p}outw AS (SELECT src, sum(w) AS ow FROM ${p}edges GROUP BY src),
    $r0"""
      val its = (1 to iters).map { i =>
        s"""
    ${p}c$i AS (SELECT e.dst AS node, sum(r.rnk * e.w / o.ow) AS inw
            FROM ${p}edges e JOIN ${p}outw o ON e.src = o.src
            JOIN ${p}r${i - 1} r ON r.node = e.src
            GROUP BY e.dst),
    ${p}dg$i AS (SELECT floor(coalesce(sum(r.rnk), 0.0) * 1e9 + 0.5) / 1e9
               AS dm
             FROM ${p}r${i - 1} r LEFT JOIN ${p}outw o ON o.src = r.node
             WHERE o.src IS NULL),
    ${p}r$i AS (SELECT n.node,
              floor(((1.0 - 0.85) / nn.n
                     + 0.85 * (coalesce(c.inw, 0.0) + dg.dm / nn.n))
                    * 1e9 + 0.5) / 1e9 AS rnk
            FROM ${p}nodes n CROSS JOIN ${p}nn nn CROSS JOIN ${p}dg$i dg
            LEFT JOIN ${p}c$i c ON c.node = n.node)"""
      }.mkString(",")
      head + "," + its
    }
    "WITH " +
      unroll("y", " WHERE doc_id % 3 = 0 AND doc_id % 5 < 2", 5,
        """yr0 AS (SELECT node, floor(1.0 / nn.n * 1e9 + 0.5) / 1e9 AS rnk
           FROM ynodes, ynn nn)""") +
      "," +
      unroll("t", "", 2,
        """tr0 AS (SELECT n.node,
             coalesce(y.rnk, floor(1.0 / nn.n * 1e9 + 0.5) / 1e9) AS rnk
           FROM tnodes n CROSS JOIN tnn nn
           LEFT JOIN yr5 y ON y.node = n.node)""") + """
    SELECT node, rnk AS "rank" FROM tr2 ORDER BY node"""
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q123_pagerank", q123PageRank, () => q123Sql),
    QuerySpec("q128_triangle_count", q128Triangles, () => q128Sql),
    QuerySpec("q133_kcore", q133KCore, () => q133Sql),
    QuerySpec("q142_triangles_doulion", q142TrianglesDoulion, () => q142Sql),
    QuerySpec("q147_personalized_pagerank", q147PersonalizedPagerank, () => q147Sql),
    QuerySpec("q164_link_graph", q164LinkGraph, () => q164Sql),
    QuerySpec("q165_crawl_graph_centrality", q165CrawlGraphCentrality, () => q165Sql),
    QuerySpec("q166_anchor_corpus", q166AnchorCorpus, () => q166Sql),
    QuerySpec("q169_domain_trustrank", q169DomainTrustRank, () => q169Sql),
    QuerySpec("q173_anchor_bm25f", q173AnchorBm25f, () => q173Sql),
    // q177 serves q165's graph from the incremental artifact — the fold
    // must be invisible, so the oracle IS q165's replay
    QuerySpec("q177_incremental_centrality", q177IncrementalCentrality, () => q165Sql),
    // q179 serves q173 from the postings index + anchor corpus — the
    // artifact path must be invisible, so the oracle IS q173's replay
    QuerySpec("q179_indexed_anchor_bm25f", q179IndexedAnchorBm25f, () => q173Sql),
    QuerySpec("q181_incremental_anchor_corpus",
      q181IncrementalAnchorCorpus, () => q181Sql),
    QuerySpec("q183_hits_domains", q183HitsDomains, () => q183Sql),
    QuerySpec("q184_centrality_blended_serving",
      q184CentralityBlendedServing, () => q184Sql),
    QuerySpec("q185_warm_rerank", q185WarmRerank, () => q185Sql)
  )
}
