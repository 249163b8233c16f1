package graft.queries

import graft.Tables
import graft.functions.TextOps
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixtures and artifacts that queries of several families share: the
  * synthesized WARC dir, the persisted BM25 index, the incremental link
  * artifact with the q165 page plant and edge rows it is built from and
  * the edges it serves, and the oracles' 52-bit md5 integer. */
private[queries] object Fixtures {

  // one persisted BM25 index per fixture (built at first use, signature-
  // invalidated) — shared by q89 and the q105 hybrid fusion
  def bm25IndexFor(s: SparkSession, d: String): String =
    ArtifactCache.dir(s, "bm25", d, "documents") { tmp =>
      // build the index INCREMENTALLY (3 ingest batches) and compact —
      // q89/q105's oracle hash-match then gates the whole
      // append+fold+serve path bit-for-bit against the scan replay
      // (stats partials are integer-valued doubles, so the summed
      // (n, Σdl) equal the one-shot build's exactly)
      val docs = Tables.documents(s, d)
      (0 until 3).foreach(b => Retrieval.appendBm25Postings(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), col("doc_id"),
        TextOps.tokens(coalesce(col("text"), lit(""))), tmp, b.toLong))
      Retrieval.compactBm25Postings(s, tmp)
    }

  /** The synthesized-HTML WARC dir q144 and q146 share: one `response`
    * record per document, page = every classic extractor trap around the
    * escaped doc text (see q144's scaladoc); cached per fixture
    * signature. */
  def crawlWarcDir(s: SparkSession, d: String): String =
    ArtifactCache.dir(s, "warch", d, "documents") { tmp =>
      val esc = regexp_replace(regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")),
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val html = concat(
        lit("<!DOCTYPE html><html><HEAD><title>Doc "), col("doc_id"),
        lit("</title><style>body{color:red}</style>" +
          "<script>if(1<2){var x=\"</div>\";}</script></HEAD>" +
          "<BODY><!-- <p>ghost</p> --><P class=\"intro\">"),
        esc,
        lit(" Fish &amp; Chips &lt;deal&gt; &#8364;5 &#xA0;now.</P>" +
          "<div><a href=\"/x?q=1>2\" class='y>z'>anchor text</a></div>" +
          "<ul><li>item one</li><li>item two</li></ul></BODY></html>"))
      WarcSources.writeWarc(
        Tables.fanOut(Tables.documents(s, d), col("doc_id")).select(
          lit("response").as("record_type"),
          concat(lit("https://example.com/doc/"), col("doc_id")).as("url"),
          lit("2024-05-01T00:00:00Z").as("date"),
          lit("text/html").as("content_type"),
          concat(lit("<urn:uuid:h"), col("doc_id"), lit(">"))
            .as("warc_record_id"),
          encode(html, "UTF-8").as("content")),
        tmp, layoutCols = Seq("url"))
    }

  /** The q165/q177 page plant: every doc's capture lives on its class
    * host and links a redirect hub, a static news URL, and a local nav. */
  def q165Pages(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("https://site"), id % 5, lit(".example/a/b/doc"),
      id, lit(".html"))
    val html = concat(
      lit("<div><a href=\"https://redir.example/r"), id % 4,
      lit("\">Hub</a><a href=\"https://news.example/static\">News</a>" +
        "<a href=\"/local/nav\">Nav</a></div>"))
    // fanOut: the HTML parse + URL resolution in LinkGraph.edges is a
    // per-row flatMap straight over the single-row-group scan (one task)
    Tables.fanOut(Tables.documents(s, d).select(id, base.as("u"), html.as("h")),
      id)
  }

  /** [[q165EdgeRows]] with the source doc_id kept — the artifact builder
    * slices ONE extraction pass into its per-batch ingest frames. */
  def q165EdgeRowsKeyed(s: SparkSession, pages: DataFrame): DataFrame = {
    import s.implicits._
    // base rides the flatMap (LinkGraph.edgesWithBase) — the previous
    // shape re-joined `pages` on doc_id just to recover the capture URL,
    // one whole exchange of link rows per consumer (guide §2.4)
    val e = LinkGraph.edgesWithBase(pages, col("doc_id"), col("u"), col("h"))
    val redirects = Seq(
      ("https://redir.example/r0", "https://news.example/final0"),
      ("https://redir.example/r1", "https://redir.example/r0"),
      ("https://redir.example/r2", "https://redir.example/r2"),
      ("https://redir.example/r3", "https://shop.example/final3"))
      .toDF("rsrc", "rdst")
    // PIN the 4-row resolve output: its plan nests two doubling-round
    // joins + the source semi-probe, and building the outer join's
    // broadcast from that subtree re-pays 3 sequential nested broadcast
    // builds per execution (~2.2 s/pass measured at sf0.1: full plan
    // 3.9 s vs re-pinned 1.7 s, round 15 — OPTIMIZATION_r15.md); the pin
    // is one job at construction and the broadcast then reads a
    // checkpointed leaf.
    val res = CheckpointPolicy.fromSession(s).pin(
      Redirects.resolveKeyed(redirects, "rsrc", "rdst", maxDepth = 4,
        policy = CheckpointPolicy.fromSession(s)))
    e.join(res.select(col("src").as("__rs"), col("final_dst"),
        col("terminated")), col("resolved") === col("__rs"), "left")
      .select(col("doc_id"),
        Urls.registeredDomain(col("base")).as("sd"),
        Urls.registeredDomain(
          when(col("terminated") === 1L, col("final_dst"))
            .otherwise(col("resolved"))).as("dd"),
        when(col("terminated") === 1L, col("final_dst"))
          .otherwise(col("resolved")).as("tgt"),
        col("anchor"))
  }

  /** The shared incremental-lifecycle builder behind [[linkArtifactFor]]
    * and [[anchorArtifactFor]]: one persisted artifact per fixture
    * signature, built through three [[LinkGraph.appendLinkBatch]]
    * ingests of `batchRows(b)` (split on doc_id%3), a
    * [[LinkGraph.compactLinkArtifacts]] fold, and a folded-batch replay
    * that must no-op — so every serve off either artifact exercises the
    * whole [[graft.operators.ArtifactFold]] contract. */
  def buildLinkArtifact(s: SparkSession, d: String, kind: String)
      (batchRows: Int => DataFrame): String =
    ArtifactCache.dir(s, kind, d, "documents") { tmp =>
      (0 until 3).foreach { b =>
        LinkGraph.appendLinkBatch(batchRows(b), col("sd"), col("dd"),
          col("tgt"), col("anchor"), tmp, batchId = b)
      }
      LinkGraph.compactLinkArtifacts(s, tmp)
      // a replay of a folded batch MUST no-op (the ArtifactFold
      // contract) — served results would double-count otherwise
      LinkGraph.appendLinkBatch(batchRows(0), col("sd"), col("dd"),
        col("tgt"), col("anchor"), tmp, batchId = 0)
    }

  // one persisted link-graph artifact per fixture, built through the
  // full incremental lifecycle (three ingest batches + compaction + a
  // folded-batch replay that must no-op) — the q89/q64 index convention
  def linkArtifactFor(s: SparkSession, d: String): String = {
    // ONE extraction pass feeds all three ingest batches: the per-batch
    // frames are doc_id%3 slices of the same per-link rows, and filtering
    // the extracted rows commutes exactly with extracting filtered pages
    // (the chain is per-row) — r14 re-ran the whole parse+resolve+domain
    // chain per batch, ~2.5 s × 3 of the artifact's cold build at sf0.1.
    // `lazy` so a cache hit never pays the pin.
    lazy val rows = CheckpointPolicy.fromSession(s).pin(
      q165EdgeRowsKeyed(s, q165Pages(s, d)))
    buildLinkArtifact(s, d, "linkg") { b =>
      rows.filter(col("doc_id") % 3 === b).drop("doc_id")
    }
  }

  /** The q165 domain-edge frame SERVED from the incremental link
    * artifact — the frame every link-derived ranking consumes (q177
    * PageRank, q169/q176 TrustRank, q182 frontier priority): per-batch
    * partial weights re-summed, pinned once per caller (the iterative
    * rankers reference it on four branches — the q165DomainEdges
    * precedent). Must be digit-identical to the one-shot aggregate:
    * every consumer's oracle replays the one-shot chain. */
  def servedQ165Edges(s: SparkSession, d: String): DataFrame =
    CheckpointPolicy.fromSession(s).pin(
      LinkGraph.servedDomainEdges(s, linkArtifactFor(s, d)))

  // Count-Min replay (q115): the 52-bit md5 integer (the q26 fold,
  // undivided) mod width gives every bucket; cells are count-sums so the
  // whole-corpus build here equals the Spark side's merged per-batch
  // builds exactly — the equality IS the merge proof.
  def md5Int52(key: String) =
    s"""CAST(list_reduce(list_prepend(0.0,
        list_transform(generate_series(1, 13),
          kk -> CAST(strpos('0123456789abcdef',
                     substr(substr(md5($key), 1, 13), kk, 1)) - 1 AS DOUBLE)
                * pow(16.0, 13 - kk))),
      (a, x) -> a + x) AS BIGINT)"""
}
