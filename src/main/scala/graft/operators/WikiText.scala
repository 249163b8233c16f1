package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Wikitext → visible text — the cleanup stage between [[WikiXml]]'s
  * raw `<text>` bodies and the documents table: wiki dumps carry
  * MediaWiki markup, and an LLM corpus wants the rendered prose without
  * infoboxes, citations, file thumbnails, or link plumbing. From-scratch
  * single-pass scanner over the public wikitext syntax (the subset a
  * text extractor needs — same philosophy as [[Html]]):
  *
  *  - `{{…}}` templates drop WHOLE, nesting-aware (an infobox full of
  *    nested templates is one drop, counted once);
  *  - `[[target]]` keeps the target, `[[target|label]]` keeps the
  *    segment after the LAST pipe (the rendered label; also what
  *    survives of a multi-param form), and `[[File:…]]`/`[[Image:…]]`/
  *    `[[Category:…]]` drop whole (prefix match case-insensitive);
  *  - `[http://… label]` external links keep the label, bare
  *    `[http://…]` drops;
  *  - `<ref…>…</ref>` citations drop WITH contents (self-closing
  *    `<ref … />` too); `<!-- -->` comments drop; other tags strip like
  *    [[Html]] (content kept);
  *  - quote runs (`''italic''`, `'''bold'''`) drop as markup — single
  *    apostrophes are text;
  *  - line structure: `== Heading ==` strips its `=` fences,
  *    `*`/`#`/`:`/`;` list/indent markers strip at line start; per-line
  *    whitespace collapses and blank lines drop (the [[Html.toText]]
  *    convention, so downstream line filters compose identically).
  *
  * Per-page the scanner also counts what it removed/kept — links kept,
  * external links, templates dropped (outer only), file/category links
  * dropped, refs dropped — because a curation pipeline wants those as
  * quality signals (template-dominated pages are list cruft; zero-link
  * pages are often stubs).
  *
  * Scale: per-row local scan behind a typed map, zero shuffles,
  * scan-bound — composes with [[WikiXml.readPages]] into a dump→corpus
  * path that is split-parallel end to end. q161 gates text + counters
  * against a closed-form oracle.
  */
object WikiText {

  /** Scan result: cleaned text + removal/keep counters. */
  final case class Cleaned(text: String, links: Long, extLinks: Long,
                           templates: Long, files: Long, refs: Long)

  private def matchesAt(s: String, i: Int, what: String): Boolean =
    s.regionMatches(true, i, what, 0, what.length)

  private val DropPrefixes = Seq("File:", "Image:", "Category:")

  /** Clean one wikitext payload. Total: unclosed constructs consume to
    * end of input, like the [[Html]] parser. */
  def clean(markup: String): Cleaned = {
    val s = if (markup == null) "" else markup
    val out = new java.lang.StringBuilder(s.length)
    var links = 0L; var ext = 0L; var tmpl = 0L; var files = 0L; var refs = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '{' && matchesAt(s, i, "{{")) {
        // whole-template drop, nesting-aware, counted at the OUTER level
        var depth = 1
        var p = i + 2
        while (depth > 0 && p < s.length) {
          if (matchesAt(s, p, "{{")) { depth += 1; p += 2 }
          else if (matchesAt(s, p, "}}")) { depth -= 1; p += 2 }
          else p += 1
        }
        tmpl += 1
        i = p
      } else if (c == '[' && matchesAt(s, i, "[[")) {
        val close = s.indexOf("]]", i + 2)
        val body = if (close < 0) s.substring(i + 2) else s.substring(i + 2, close)
        if (DropPrefixes.exists(p => body.regionMatches(true, 0, p, 0, p.length)))
          files += 1
        else {
          links += 1
          val pipe = body.lastIndexOf('|')
          out.append(if (pipe < 0) body else body.substring(pipe + 1))
        }
        i = if (close < 0) s.length else close + 2
      } else if (c == '[' && (matchesAt(s, i, "[http://") ||
                              matchesAt(s, i, "[https://"))) {
        val close = s.indexOf(']', i + 1)
        val body = if (close < 0) s.substring(i + 1) else s.substring(i + 1, close)
        ext += 1
        val sp = body.indexOf(' ')
        if (sp >= 0) out.append(body.substring(sp + 1)) // label; bare drops
        i = if (close < 0) s.length else close + 1
      } else if (c == '<') {
        if (matchesAt(s, i, "<!--")) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) s.length else end + 3
        } else if (matchesAt(s, i, "<ref") && i + 4 < s.length &&
                   ">/ \t".indexOf(s.charAt(i + 4)) >= 0) {
          val gt = s.indexOf('>', i)
          if (gt < 0) i = s.length
          else if (s.charAt(gt - 1) == '/') { refs += 1; i = gt + 1 }
          else {
            val end = s.indexOf("</ref", gt)
            refs += 1
            i = if (end < 0) s.length
                else math.max(end, s.indexOf('>', end)) + 1
          }
        } else {
          // other tags strip, content stays (the Html convention)
          val gt = s.indexOf('>', i)
          i = if (gt < 0) s.length else gt + 1
        }
      } else if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
        while (i < s.length && s.charAt(i) == '\'') i += 1 // quote-run markup
      } else {
        out.append(c)
        i += 1
      }
    }
    val lines = out.toString.split("\n", -1).iterator
      .map { l0 =>
        var l = l0.trim
        if (l.startsWith("=")) // == Heading == fences
          l = l.dropWhile(_ == '=').reverse.dropWhile(_ == '=').reverse.trim
        else if (l.nonEmpty && "*#:;".indexOf(l.charAt(0)) >= 0)
          l = l.dropWhile(ch => "*#:;".indexOf(ch) >= 0).trim
        l.replaceAll("\\s+", " ")
      }
      .filter(_.nonEmpty)
    Cleaned(lines.mkString("\n"), links, ext, tmpl, files, refs)
  }

  /** Clean every page: (doc_id, text, n_links, n_ext, n_tmpl, n_files,
    * n_refs). Typed-map boundary, zero shuffles. */
  def cleanPages(df: DataFrame, id: Column, markup: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("_1"), markup.cast("string").as("_2"))
      .as[(Long, String)]
      .map { case (d, m) =>
        val c = clean(m)
        (d, c.text, c.links, c.extLinks, c.templates, c.files, c.refs)
      }
      .toDF("doc_id", "text", "n_links", "n_ext", "n_tmpl", "n_files",
        "n_refs")
  }
}
