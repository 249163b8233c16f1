package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** HTML → text extraction — the stage between a raw crawl capture
  * ([[WarcSources]] `response` records) and the documents table: WET
  * files ship pre-extracted text, but a pipeline ingesting raw WARC must
  * extract it itself. From-scratch single-pass parser over the public
  * HTML syntax (WHATWG §13 tokenization, the subset a text extractor
  * needs):
  *
  *  - `<script>`/`<style>`/`<!-- -->` blocks are dropped WITH their
  *    contents (raw-text elements terminate only at their own close tag,
  *    so embedded `<`/`>` in code can't fake document structure);
  *  - tags are skipped with QUOTED-ATTRIBUTE awareness (`<a href="x>y">`
  *    must not end the tag at the inner `>` — the classic regex-stripper
  *    corruption);
  *  - block-level elements (p/div/li/br/tr/h1-h6/…) become newlines,
  *    inline elements (a/b/span/…) disappear — visible text keeps its
  *    line structure for the downstream C4 line filter
  *    ([[QualityRules]]), which is where boilerplate REMOVAL lives;
  *    extraction stays total and deterministic;
  *  - character references decode: the named core (amp/lt/gt/quot/apos/
  *    nbsp) plus decimal `&#NNN;` and hex `&#xHH;` forms;
  *  - whitespace collapses per line; blank lines drop; `<title>` is
  *    captured separately (it lives in `<head>`, not the visible body).
  *
  * The parse is per-document local Scala behind a typed-map boundary
  * (the [[ExactSubstring]] ladder convention): embarrassingly parallel,
  * zero shuffles, linear in payload bytes — at 100 TB the extraction
  * stage is scan-bound, exactly like the production extractors
  * (trafilatura/jusText) it stands in for; their quality HEURISTICS
  * layer on top as line filters, not parser changes.
  *
  * Reference anchor: the crawl-corpus text-analysis north star in
  * BASELINE.json; q144 gates the parser by ROUND TRIP — synthesized HTML
  * (with planted quoted-`>` attributes, raw-text traps, comments,
  * entities, uppercase tags) must extract back to a closed-form text the
  * oracle builds directly from the documents table.
  */
object Html {

  /** Elements whose visible rendering starts a new line. */
  private val BlockTags: Set[String] = Set(
    "p", "div", "br", "li", "ul", "ol", "tr", "td", "th", "table",
    "h1", "h2", "h3", "h4", "h5", "h6", "section", "article", "header",
    "footer", "nav", "aside", "blockquote", "pre", "hr", "form",
    "fieldset", "dl", "dt", "dd", "figure", "figcaption", "main")

  private val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> "\u00A0")

  /** One extracted document: the `<title>` content (empty if none) and
    * the visible text (entity-decoded, per-line whitespace-collapsed,
    * blank lines dropped, lines joined with `\n`). */
  final case class Extracted(title: String, text: String)

  // ------------------------------------------------------------------
  // parser
  // ------------------------------------------------------------------

  /** Case-insensitive region match of `what` at `i`. */
  private def matchesAt(s: String, i: Int, what: String): Boolean =
    s.regionMatches(true, i, what, 0, what.length)

  /** Decode one character reference starting at the `&` at `i`; returns
    * (decoded, next index) or null if not a valid reference (the `&`
    * then passes through literally — browser behavior). */
  private def entityAt(s: String, i: Int): (String, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 12) return null
    val body = s.substring(i + 1, semi)
    if (body.startsWith("#")) {
      val num = body.substring(1)
      try {
        val cp =
          if (num.startsWith("x") || num.startsWith("X"))
            Integer.parseInt(num.substring(1), 16)
          else Integer.parseInt(num)
        if (cp <= 0 || cp > 0x10FFFF) null
        else (new String(Character.toChars(cp)), semi + 1)
      } catch { case _: Exception => null }
    } else NamedEntities.get(body.toLowerCase) match {
      case Some(ch) => (ch, semi + 1)
      case None => null
    }
  }

  /** Skip a tag starting at the `<` at `i` (past attributes, quote-aware);
    * returns the index after the closing `>`, or s.length if unclosed. */
  private def skipTag(s: String, i: Int): Int = {
    var p = i + 1
    var quote: Char = 0
    while (p < s.length) {
      val c = s.charAt(p)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return p + 1
      p += 1
    }
    s.length
  }

  /** The tag name at `<` (lowercased letters after optional '/'). */
  private def tagNameAt(s: String, i: Int): String = {
    var p = i + 1
    if (p < s.length && s.charAt(p) == '/') p += 1
    val start = p
    while (p < s.length && (s.charAt(p).isLetter || s.charAt(p).isDigit))
      p += 1
    s.substring(start, p).toLowerCase
  }

  /** Extract (title, visible text) from one HTML payload. Total: never
    * throws on malformed input — unclosed constructs consume to EOF,
    * which is what a browser's error recovery does to trailing garbage. */
  def toText(html: String): Extracted = {
    val s = if (html == null) "" else html
    val out = new java.lang.StringBuilder(s.length / 2)
    val title = new java.lang.StringBuilder()
    var inTitle = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        if (matchesAt(s, i, "<!--")) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) s.length else end + 3
        } else if (matchesAt(s, i, "<script") || matchesAt(s, i, "<style")) {
          val name = tagNameAt(s, i)
          // raw-text element: contents (incl. any '<'/'>') are dropped;
          // only its own case-insensitive close tag ends it
          var p = skipTag(s, i)
          var end = -1
          while (end < 0 && p < s.length) {
            if (s.charAt(p) == '<' && matchesAt(s, p, "</" + name)) end = p
            else p += 1
          }
          i = if (end < 0) s.length else skipTag(s, end)
        } else {
          val name = tagNameAt(s, i)
          if (name == "title") inTitle = !matchesAt(s, i, "</")
          else if (BlockTags.contains(name)) out.append('\n')
          i = skipTag(s, i)
        }
      } else if (c == '&') {
        val e = entityAt(s, i)
        val (txt, next) = if (e == null) (s.substring(i, i + 1), i + 1) else e
        (if (inTitle) title else out).append(txt)
        i = next
      } else {
        (if (inTitle) title else out).append(c)
        i += 1
      }
    }
    val lines = out.toString.split("\n", -1).iterator
      .map(_.replaceAll("\\s+", " ").trim).filter(_.nonEmpty)
    Extracted(title.toString.replaceAll("\\s+", " ").trim,
      lines.mkString("\n"))
  }

  /** One visible block: whitespace-collapsed text, its char count, and
    * the char count of the portion enclosed in `<a>` elements (both
    * counts over the collapsed forms) — the inputs of a text-density
    * boilerplate classifier ([[Boilerplate]]). */
  final case class Block(text: String, chars: Int, anchorChars: Int)

  /** Segment one HTML payload into visible blocks: every block-level
    * tag ([[BlockTags]], open or close) ends the current block; empty
    * blocks drop. Same tokenization as [[toText]] (raw-text elements,
    * quoted attributes, comments, entities, `<title>` excluded), plus
    * an `<a>` nesting depth so each block knows how much of its text is
    * anchor text — link density is THE jusText/trafilatura boilerplate
    * signal, and it needs the pre-flattening tag structure, which is
    * why this lives in the parser and not in a downstream line filter.
    * Anchor text split by a block boundary counts toward each block's
    * own anchor tally. Total on malformed input like [[toText]]. */
  def blocks(html: String): Seq[Block] = {
    val s = if (html == null) "" else html
    val out = Seq.newBuilder[Block]
    val seg = new java.lang.StringBuilder()
    val anchorSeg = new java.lang.StringBuilder()
    var anchorDepth = 0
    var inTitle = false
    def flush(): Unit = {
      val text = seg.toString.replaceAll("\\s+", " ").trim
      if (text.nonEmpty) {
        val anchor = anchorSeg.toString.replaceAll("\\s+", " ").trim
        out += Block(text, text.length, anchor.length)
      }
      seg.setLength(0); anchorSeg.setLength(0)
    }
    def append(txt: String): Unit = if (!inTitle) {
      seg.append(txt)
      if (anchorDepth > 0) anchorSeg.append(txt)
    }
    def appendChar(ch: Char): Unit = if (!inTitle) {
      seg.append(ch)
      if (anchorDepth > 0) anchorSeg.append(ch)
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        if (matchesAt(s, i, "<!--")) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) s.length else end + 3
        } else if (matchesAt(s, i, "<script") || matchesAt(s, i, "<style")) {
          val name = tagNameAt(s, i)
          var p = skipTag(s, i)
          var end = -1
          while (end < 0 && p < s.length) {
            if (s.charAt(p) == '<' && matchesAt(s, p, "</" + name)) end = p
            else p += 1
          }
          i = if (end < 0) s.length else skipTag(s, end)
        } else {
          val name = tagNameAt(s, i)
          val isClose = matchesAt(s, i, "</")
          if (name == "title") inTitle = !isClose
          else if (name == "a")
            anchorDepth = if (isClose) math.max(0, anchorDepth - 1)
                          else anchorDepth + 1
          else if (BlockTags.contains(name)) flush()
          i = skipTag(s, i)
        }
      } else if (c == '&') {
        val e = entityAt(s, i)
        val (txt, next) = if (e == null) (s.substring(i, i + 1), i + 1) else e
        append(txt)
        i = next
      } else {
        appendChar(c)
        i += 1
      }
    }
    flush()
    out.result()
  }

  /** One outgoing link: the raw `href` attribute value and the
    * collapsed anchor text. */
  final case class Link(href: String, text: String)

  /** The value of `attr` inside the tag starting at the `<` at `i`, or
    * null. Walks the tag's attributes SEQUENTIALLY (name, optional `=`,
    * quoted/unquoted value) instead of substring-searching, so an
    * `attr=` token INSIDE another attribute's quoted value (e.g.
    * `<a title="a href=x" href=real>`) is skipped as part of that value
    * and never parsed as the target. Name match is case-insensitive and
    * exact-length; valueless (bare) attributes yield null; unquoted
    * values end at whitespace or `>`. */
  private def attrAt(s: String, i: Int, attr: String): String = {
    val end = skipTag(s, i) // index AFTER the closing '>' (quote-aware)
    var p = i + 1
    if (p < end && s.charAt(p) == '/') p += 1
    // skip the tag name
    while (p < end && !s.charAt(p).isWhitespace &&
           s.charAt(p) != '>' && s.charAt(p) != '/') p += 1
    while (p < end) {
      // inter-attribute separators (whitespace, stray '/' of '/>')
      while (p < end && (s.charAt(p).isWhitespace || s.charAt(p) == '/')) p += 1
      if (p >= end || s.charAt(p) == '>') return null
      // attribute name
      val nameStart = p
      while (p < end && !s.charAt(p).isWhitespace &&
             s.charAt(p) != '=' && s.charAt(p) != '>' &&
             s.charAt(p) != '/') p += 1
      val nameLen = p - nameStart
      val isTarget = nameLen == attr.length &&
        s.regionMatches(true, nameStart, attr, 0, attr.length)
      // optional '=' value
      var q = p
      while (q < end && s.charAt(q).isWhitespace) q += 1
      if (q < end && s.charAt(q) == '=') {
        q += 1
        while (q < end && s.charAt(q).isWhitespace) q += 1
        if (q >= end || s.charAt(q) == '>') {
          if (isTarget) return null
          p = q
        } else {
          val c = s.charAt(q)
          if (c == '"' || c == '\'') {
            val close = s.indexOf(c, q + 1)
            if (close < 0 || close >= end) { // unterminated quote
              if (isTarget) return null
              p = end
            } else {
              if (isTarget) return s.substring(q + 1, close)
              p = close + 1
            }
          } else {
            var r = q
            while (r < end && !s.charAt(r).isWhitespace && s.charAt(r) != '>')
              r += 1
            if (isTarget) return s.substring(q, r)
            p = r
          }
        }
      } else {
        // bare attribute (no value)
        if (isTarget) return null
        p = q
      }
    }
    null
  }

  /** Extract the outgoing links of one HTML payload: every `<a href=…>`
    * with its visible anchor text (entity-decoded, collapsed). Same
    * tokenization as [[toText]]; a nested `<a>` implicitly closes the
    * open one (the WHATWG rule — browsers never nest anchors). Anchors
    * with no `href` contribute no link. This is the WEB-GRAPH builder:
    * (page, href, anchor text) rows feed link analysis
    * ([[LinkAnalysis]]) and anchor-text corpora once hrefs resolve
    * against the capture URL ([[Urls.resolveRef]]). */
  def links(html: String): Seq[Link] = {
    val s = if (html == null) "" else html
    val out = Seq.newBuilder[Link]
    var href: String = null
    val text = new java.lang.StringBuilder()
    def closeAnchor(): Unit = {
      if (href != null)
        out += Link(href, text.toString.replaceAll("\\s+", " ").trim)
      href = null; text.setLength(0)
    }
    var inTitle = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        if (matchesAt(s, i, "<!--")) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) s.length else end + 3
        } else if (matchesAt(s, i, "<script") || matchesAt(s, i, "<style")) {
          val name = tagNameAt(s, i)
          var p = skipTag(s, i)
          var end = -1
          while (end < 0 && p < s.length) {
            if (s.charAt(p) == '<' && matchesAt(s, p, "</" + name)) end = p
            else p += 1
          }
          i = if (end < 0) s.length else skipTag(s, end)
        } else {
          val name = tagNameAt(s, i)
          val isClose = matchesAt(s, i, "</")
          if (name == "title") inTitle = !isClose
          else if (name == "a") {
            closeAnchor() // nested/open anchor closes first
            if (!isClose) href = attrAt(s, i, "href")
          }
          i = skipTag(s, i)
        }
      } else if (c == '&') {
        val e = entityAt(s, i)
        val (txt, next) = if (e == null) (s.substring(i, i + 1), i + 1) else e
        if (!inTitle && href != null) text.append(txt)
        i = next
      } else {
        if (!inTitle && href != null) text.append(c)
        i += 1
      }
    }
    closeAnchor() // unclosed trailing anchor still emits
    out.result()
  }

  /** One head reference relevant to canonicalization: `kind` is the
    * lowercased `rel` of a `<link>` (e.g. "canonical", "stylesheet") or
    * the literal "og:url" for the OpenGraph meta form. */
  final case class HeadRef(kind: String, href: String)

  /** Extract `<link rel=… href=…>` pairs and `<meta property="og:url"
    * content=…>` from one HTML payload, in document order — the inputs
    * of canonical-URL election (the crawl-dedup signal: a site that
    * serves one page under many URLs SAYS which one is canonical).
    * Same tokenizer and quote-aware attribute walk as [[links]];
    * script/style/comment contents are skipped, missing attributes
    * contribute nothing. */
  def headRefs(html: String): Seq[HeadRef] = {
    val s = if (html == null) "" else html
    val out = Seq.newBuilder[HeadRef]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        if (matchesAt(s, i, "<!--")) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) s.length else end + 3
        } else if (matchesAt(s, i, "<script") || matchesAt(s, i, "<style")) {
          val name = tagNameAt(s, i)
          var p = skipTag(s, i)
          var end = -1
          while (end < 0 && p < s.length) {
            if (s.charAt(p) == '<' && matchesAt(s, p, "</" + name)) end = p
            else p += 1
          }
          i = if (end < 0) s.length else skipTag(s, end)
        } else {
          val name = tagNameAt(s, i)
          if (name == "link") {
            val rel = attrAt(s, i, "rel")
            val href = attrAt(s, i, "href")
            if (rel != null && href != null)
              out += HeadRef(rel.trim.toLowerCase, href)
          } else if (name == "meta") {
            val prop = attrAt(s, i, "property")
            if (prop != null && prop.trim.equalsIgnoreCase("og:url")) {
              val content = attrAt(s, i, "content")
              if (content != null) out += HeadRef("og:url", content)
            }
          }
          i = skipTag(s, i)
        }
      } else i += 1
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // DataFrame surface
  // ------------------------------------------------------------------

  /** Extract every document: (doc_id, title, text). Per-row local parse
    * behind a typed-map boundary — zero shuffles, scan-speed. */
  def extract(df: DataFrame, id: Column, html: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("_1"), html.cast("string").as("_2"))
      .as[(Long, String)]
      .map { case (d, h) =>
        val e = toText(h)
        (d, e.title, e.text)
      }
      .toDF("doc_id", "title", "text")
  }
}
