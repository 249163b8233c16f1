package graft.queries

import graft.Tables
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.crawlWarcDir

/** Sources and formats: JSONL, CSV, ORC, Avro, WARC, HTML and
  * MediaWiki round trips and the wiki corpus and redirect compositions. */
object SourceQueries {

  /** JSONL source round-trip ([[TextSources]]): the documents table is
    * exported once per fixture as newline-delimited JSON with TWO planted
    * malformed lines, read back through the schema-enforced PERMISSIVE
    * reader, and quarantine-split. The gate: exactly the 2 planted lines
    * quarantine (require — a wrong count fails the query, the q22
    * convention) and every clean row's (doc_id, lang, md5(text)) matches
    * the parquet original — any escape/unescape/null-handling defect in
    * the export+read chain breaks the hash. */
  def q112JsonlSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = ArtifactCache.dir(s, "jsonl", d, "documents") { tmp =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      import s.implicits._
      docs.select(to_json(struct(col("doc_id"), col("lang"), col("text")))
          .as("value"))
        .unionByName(Seq("{\"doc_id\": broken", "[1, 2, 3]").toDF("value"))
        .write.mode("overwrite").text(tmp)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val (clean, bad) = TextSources.quarantineSplit(
      TextSources.readJsonl(s, dir, schema))
    val nBad = bad.count() // bounded: the quarantine side of the fixture
    require(nBad == 2, s"expected 2 quarantined lines, got $nBad")
    clean.select(col("doc_id"), col("lang"),
        md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  // JSONL round-trip (q112): the Spark side produced these rows by
  // exporting documents to newline-delimited JSON (with 2 planted corrupt
  // lines, require-gated to quarantine) and reading them back through the
  // schema-enforced PERMISSIVE reader — the oracle is the parquet
  // original, so any JSON escape/unescape/null defect breaks the hash.
  def q112Sql = """
    SELECT doc_id, lang, md5(coalesce(text, '')) AS text_md5
    FROM documents ORDER BY doc_id"""

  /** CSV source round-trip ([[TextSources.readCsv]]) — the q112 contract
    * for the OTHER line format corpora arrive in: the documents table is
    * exported once per fixture as headerless CSV (`to_csv` — RFC-4180
    * quoting) with TWO planted malformed lines (a non-numeric doc_id and
    * an unterminated quote, both failing the BIGINT conversion), read
    * back through the schema-enforced PERMISSIVE reader, and
    * quarantine-split. The gate: exactly the 2 planted lines quarantine
    * (require — a wrong count fails the query) and every clean row's
    * (doc_id, lang, md5(text)) matches the parquet original — any
    * quote/escape/null-handling defect in the export+read chain breaks
    * the hash. */
  def q120CsvSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = ArtifactCache.dir(s, "csv", d, "documents") { tmp =>
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      import s.implicits._
      docs.select(to_csv(struct(col("doc_id"), col("lang"), col("text")))
          .as("value"))
        .unionByName(Seq("not_a_number,en,planted bad row",
          "\"unterminated,xx,zz").toDF("value"))
        .write.mode("overwrite").text(tmp)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val (clean, bad) = TextSources.quarantineSplit(
      TextSources.readCsv(s, dir, schema))
    val nBad = bad.count() // bounded: the quarantine side of the fixture
    require(nBad == 2, s"expected 2 quarantined lines, got $nBad")
    clean.select(col("doc_id"), col("lang"),
        md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  // CSV round-trip (q120): same contract as q112 for the CSV reader —
  // the Spark side exported documents as headerless CSV with 2 planted
  // malformed lines (require-gated to quarantine) and read them back
  // PERMISSIVE; the oracle is the parquet original.
  def q120Sql = """
    SELECT doc_id, lang, md5(coalesce(text, '')) AS text_md5
    FROM documents ORDER BY doc_id"""

  /** q122: ORC round-trip with predicate pushdown — the documents table
    * exported to ORC (sorted by doc_id for tight stripe statistics), read
    * back through the schema-enforced [[ColumnarSources.readOrc]], and
    * filtered on n_chars (an ORC-pushdown-eligible predicate — the spec
    * asserts the scan carries it as a pushed filter). The gate: every
    * surviving row's (doc_id, lang, n_chars, md5(text)) must match the
    * parquet original under the same filter — any encode/decode/pushdown
    * defect in the ORC path breaks the hash. */
  def q122OrcSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = ArtifactCache.dir(s, "orc", d, "documents") { tmp =>
      ColumnarSources.writeOrc(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars", "text"),
        tmp, layoutCols = Seq("doc_id"))
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("text", StringType)))
    ColumnarSources.readOrc(s, dir, schema)
      .filter(col("n_chars") >= 200)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  // q122: the ORC round-trip gate — digests of the parquet original under
  // the same pushdown filter; the ORC read must reproduce them exactly.
  def q122Sql = """
    SELECT doc_id, lang, n_chars, md5(coalesce(text, '')) AS text_md5
    FROM documents WHERE n_chars >= 200 ORDER BY doc_id"""

  /** q136: Avro round-trip — the third interchange format (Kafka dumps,
    * schema-registry pipelines), through the from-scratch
    * [[AvroSources]] (this container ships avro-core, not spark-avro):
    * documents exported as sync-splittable Avro container files, read
    * back split-parallel with a PROJECTED reader schema (decode-time
    * column pruning — Avro's row blocks have no columnar skip and no
    * stats, so the n_chars filter correctly evaluates post-decode,
    * the honest contrast with q122's ORC pushdown). The gate is q122's:
    * every surviving row's (doc_id, lang, n_chars, md5(text)) must match
    * the parquet original — any encode/decode/split/projection defect
    * breaks the hash. */
  def q136AvroSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = ArtifactCache.dir(s, "avro", d, "documents") { tmp =>
      AvroSources.writeAvro(
        Tables.documents(s, d)
          .select("doc_id", "lang", "n_chars", "text", "source"),
        tmp, layoutCols = Seq("doc_id"), codec = "deflate")
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    AvroSources.readAvro(s, dir, schema,
        columns = Seq("doc_id", "lang", "n_chars", "text"))
      .filter(col("n_chars") >= 200)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(coalesce(col("text"), lit("")).cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** q140: WARC/WET crawl round-trip — the container web-scale text
    * corpora actually arrive in (Common Crawl), through the from-scratch
    * [[WarcSources]]: documents exported as record-per-gzip-member WET
    * conversion records (the split-parallel layout), PLUS a planted
    * corrupt shard (one truncated member, one bit-flipped member — the
    * q120 planted-malformation convention), read back via [[WarcSources
    * .readWarc]]. The gate: exactly 2 quarantine rows (require-gated, so
    * a quarantine regression fails loudly), and every clean conversion
    * record's (doc_id-from-url, content_length, md5(text)) must match the
    * parquet original — any member-framing/header-parse/content-slice
    * defect in the WARC path breaks the hash. */
  def q140WarcSource(s: SparkSession, d: String): DataFrame = {
    val dir = ArtifactCache.dir(s, "warc", d, "documents") { tmp =>
      // fanOut: one member file per partition — a single-partition
      // source would make every downstream readWarc single-task
      WarcSources.writeWarc(
        Tables.fanOut(Tables.documents(s, d), col("doc_id")).select(
          lit("conversion").as("record_type"),
          concat(lit("https://example.com/doc/"), col("doc_id")).as("url"),
          lit("2024-05-01T00:00:00Z").as("date"),
          lit("text/plain").as("content_type"),
          concat(lit("<urn:uuid:"), col("doc_id"), lit(">"))
            .as("warc_record_id"),
          encode(coalesce(col("text"), lit("")), "UTF-8").as("content")),
        tmp, layoutCols = Seq("url"))
      // planted corrupt shard: a truncated member + a bit-flipped one
      val m0 = WarcSources.gzipWrap(WarcSources.recordBytes("conversion",
        "https://example.com/corrupt/0", "2024-05-01T00:00:00Z",
        "text/plain", "<urn:uuid:c0>", "corrupt body 0".getBytes("UTF-8")))
      val m1 = WarcSources.gzipWrap(WarcSources.recordBytes("conversion",
        "https://example.com/corrupt/1", "2024-05-01T00:00:00Z",
        "text/plain", "<urn:uuid:c1>", "corrupt body 1".getBytes("UTF-8")))
        .clone()
      m1(m1.length / 2) = (m1(m1.length / 2) ^ 0x41).toByte
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "zz-corrupt.warc.gz"),
        m0.take(m0.length - 9) ++ m1)
    }
    val all = WarcSources.readWarc(s, dir)
    val nBad = all.filter(col("error").isNotNull).count()
    require(nBad == 2, s"expected 2 quarantined WARC members, got $nBad")
    all.filter(col("error").isNull && col("record_type") === "conversion" &&
        !col("url").contains("/corrupt/"))
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("content_length"),
        md5(col("content")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** q140: the WARC/WET round-trip gate — digests of the parquet original;
    * the WARC read (gzip member framing, header parse, Content-Length
    * slice, UTF-8 content) must reproduce them exactly. `strlen` is the
    * UTF-8 OCTET length, matching the WARC Content-Length contract. */
  def q140Sql: String = """
    SELECT doc_id, strlen(coalesce(text, '')) AS content_length,
           md5(coalesce(text, '')) AS text_md5
    FROM documents ORDER BY doc_id"""

  /** q144: raw-crawl HTML extraction ([[Html]] + [[WarcSources]] — the
    * full capture-to-corpus composition): each document is wrapped in a
    * synthesized HTML page PLANTED with every classic extractor trap —
    * quoted `>` inside attributes, a `<script>` whose body contains
    * `</div>` and a bare `<`, a `<style>` block, a comment containing
    * tags, uppercase tag names, named/decimal/hex character references,
    * an NBSP that must survive whitespace collapse — written as WARC
    * `response` records (the raw-capture shape, vs q140's WET), read
    * back split-parallel, and extracted. The oracle builds the expected
    * title and visible text CLOSED-FORM from the documents table: any
    * tag residue, entity slip, raw-text leak, or line-structure defect
    * breaks the hash. */
  def q144HtmlExtract(s: SparkSession, d: String): DataFrame = {
    val dir = crawlWarcDir(s, d)
    val recs = WarcSources.readWarc(s, dir)
      .filter(col("error").isNull && col("record_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
        decode(col("content"), "UTF-8").as("html"))
    Html.extract(recs, col("id"), col("html"))
      .select(col("doc_id"), col("title"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** q144: raw-crawl HTML extraction — the expected title and visible
    * text built CLOSED-FORM from the documents table: the planted page
    * renders as (escaped text round-tripped back to the original) + the
    * decoded entity tail + the anchor/list lines; script/style/comment
    * content and every tag must vanish. NBSP (chr(160)) must survive the
    * per-line whitespace collapse; the decimal/hex references decode to
    * chr(8364)/chr(160). */
  def q144Sql = """
    SELECT doc_id, 'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           md5(ltrim(trim(coalesce(text, '')) || ' Fish & Chips <deal> ' ||
                 chr(8364) || '5 ' || chr(160) || 'now.') ||
               chr(10) || 'anchor text' ||
               chr(10) || 'item one' || chr(10) || 'item two') AS text_md5
    FROM documents ORDER BY doc_id"""

  /** q157: text-density boilerplate classification ([[Html.blocks]] +
    * [[Boilerplate.classify]]) over a planted six-block page per doc:
    * a nav bar (4 words, ~90% anchor chars → `bad` by density), the
    * doc's body prose (`good`), a two-word teaser (`short`), prose
    * with ONE inline anchor (density ~0.2 — must survive as `good`:
    * the case a naive "has links" rule gets wrong), a four-word
    * copyright stub (`short`), and a footer link farm with ≥5 words
    * (→ `bad`: proves the density rule fires BEFORE the word rule).
    * The oracle rebuilds every block's text, char/anchor counts,
    * density fence, and class closed-form from the documents table. */
  def q157BoilerplateBlocks(s: SparkSession, d: String): DataFrame = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      coalesce(col("text"), lit("")),
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val html = concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), col("doc_id"),
      lit("</title></head><body>" +
        "<div><a href=\"/\">Home</a> <a href=\"/about\">About us</a> " +
        "<a href=\"/contact\">Contact</a></div>" +
        "<p>"), esc,
      lit(" Read the full story today.</p>" +
        "<p>Short teaser</p>" +
        "<p>See our <a href=\"/promo\">promo page</a> for the details " +
        "of the offer.</p>" +
        "<div>Copyright 2024 Example Corp</div>" +
        "<div><a href=\"/t\">Terms of service page</a> " +
        "<a href=\"/p\">Privacy policy notice</a></div>" +
        "</body></html>"))
    val b = Boilerplate.blocks(
      Tables.documents(s, d).select(col("doc_id"), html.as("html")),
      col("doc_id"), col("html"))
    Boilerplate.classify(b, minWords = 5, maxLinkDensity = 0.33)
      .select(col("doc_id"), col("block_idx"), col("words"), col("chars"),
        col("anchor_chars"), col("link_density"), col("cls"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id", "block_idx")
  }

  /** q157: boilerplate blocks — the six planted blocks rebuilt
    * closed-form (texts as literals; the body-prose block from the
    * documents table with q144's ltrim guard for empty docs), anchor
    * char counts as length() arithmetic over the planted anchor texts,
    * the 6-dp density fence, and the rule-order class (density BEFORE
    * word count — the footer link farm has ≥5 words and must still
    * read `bad`). */
  def q157Sql = """
    WITH b AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS block_idx,
             'Home About us Contact' AS text,
             CAST(length('Home') + length('About us') + length('Contact')
               AS BIGINT) AS anchor_chars
      FROM documents
      UNION ALL
      SELECT doc_id, 1,
             ltrim(trim(coalesce(text, '')) || ' Read the full story today.'),
             0
      FROM documents
      UNION ALL
      SELECT doc_id, 2, 'Short teaser', 0 FROM documents
      UNION ALL
      SELECT doc_id, 3, 'See our promo page for the details of the offer.',
             length('promo page')
      FROM documents
      UNION ALL
      SELECT doc_id, 4, 'Copyright 2024 Example Corp', 0 FROM documents
      UNION ALL
      SELECT doc_id, 5,
             'Terms of service page' || ' ' || 'Privacy policy notice',
             length('Terms of service page') + length('Privacy policy notice')
      FROM documents),
    c AS (SELECT doc_id, block_idx, text, anchor_chars,
             CAST(length(text) AS BIGINT) AS chars,
             CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS words
          FROM b),
    d AS (SELECT *, floor(CAST(anchor_chars AS DOUBLE) / chars * 1e6 + 0.5)
                    / 1e6 AS link_density
          FROM c)
    SELECT doc_id, block_idx, words, chars, anchor_chars, link_density,
           CASE WHEN link_density > 0.33 THEN 'bad'
                WHEN words < 5 THEN 'short'
                ELSE 'good' END AS cls,
           md5(text) AS text_md5
    FROM d ORDER BY doc_id, block_idx"""

  /** The synthesized MediaWiki dump dir q158 reads: one `<page>` per
    * document with planted entities in the title (`&quot;`), a
    * `<redirect>` attribute on every doc_id % 6 = 0 page forming a
    * RESOLUTION GRID for q167 (% 18 = 0 targets the content page
    * `Doc "{id+2}"` — depth 1; % 18 = 6 targets the % 18 = 0 redirect
    * `Doc "{id-6}"` — depth 2; % 18 = 12 keeps the `R &amp; D {id}`
    * entity plant, a BROKEN target matching no page), a revision
    * `<id>` that must NOT win over the page id, attribute-carrying and
    * self-closing `<text>` forms (doc_id % 9 = 0 → empty), a
    * missing-title quarantine plant (doc_id % 25 = 7), raw numeric/
    * named references appended OUTSIDE the escaper, and `<mediawiki>`/
    * `<siteinfo>` preamble + `</mediawiki>` tail fragments planted on
    * residue classes so non-page records appear mid-stream; written as
    * 4 plain text files (rows are full `<page>…</page>` strings, so
    * the file IS a valid record stream for the `lineSep` reader).
    * Cached per fixture signature. */
  private def wikiXmlDir(s: SparkSession, d: String): String =
    ArtifactCache.dir(s, "wikix", d, "documents") { tmp =>
      val id = col("doc_id")
      val esc = WikiXml.escapeXml(coalesce(col("text"), lit("")))
      val page = concat(
        when(id % 50 === 0, lit("<mediawiki><siteinfo><sitename>" +
          "graft</sitename></siteinfo>\n")).otherwise(lit("")),
        lit("<page>\n"),
        when(id % 25 === 7, lit(""))
          .otherwise(concat(lit("    <title>Doc &quot;"), id,
            lit("&quot;</title>\n"))),
        lit("    <ns>"), id % 4, lit("</ns>\n"),
        lit("    <id>"), id, lit("</id>\n"),
        when(id % 18 === 0,
          concat(lit("    <redirect title=\"Doc &quot;"), id + 2,
            lit("&quot;\" />\n")))
          .when(id % 18 === 6,
            concat(lit("    <redirect title=\"Doc &quot;"), id - 6,
              lit("&quot;\" />\n")))
          .when(id % 6 === 0, // % 18 = 12: broken target, &amp; plant
            concat(lit("    <redirect title=\"R &amp; D "), id,
              lit("\" />\n")))
          .otherwise(lit("")),
        lit("    <revision>\n      <id>"), id + 1000000,
        lit("</id>\n"),
        when(id % 9 === 0, lit("      <text bytes=\"0\" />\n"))
          .otherwise(concat(
            lit("      <text bytes=\"1\" xml:space=\"preserve\">"),
            esc, lit(" A&amp;B &lt;tag&gt; &#8364;5</text>\n"))),
        lit("    </revision>\n  </page>"),
        when(id % 50 === 49, lit("\n</mediawiki>")).otherwise(lit("")))
      Tables.documents(s, d).select(page.as("value"))
        .repartition(4)
        .write.mode("overwrite").text(tmp)
    }

  /** q158: MediaWiki dump XML source ([[WikiXml]]) — the round trip
    * through the REAL split mechanism: the synthesized dump reads back
    * via `lineSep="</page>"` (split-parallel, the 100 TB path), the
    * forward scanner recovers page id (FIRST `<id>`, not the planted
    * revision id), entity-decoded title and redirect target, ns, the
    * text body past the open tag's attributes (self-closing → empty),
    * and quarantines the missing-title plant without killing the scan.
    * Preamble/tail fragments must vanish. The oracle rebuilds every
    * field closed-form from the documents table. */
  def q158WikixmlSource(s: SparkSession, d: String): DataFrame = {
    WikiXml.readPages(s, wikiXmlDir(s, d))
      .select(col("page_id"), col("title"), col("ns"), col("redirect"),
        col("redirect_title"),
        md5(col("text").cast("binary")).as("text_md5"),
        coalesce(col("error"), lit("")).as("err"))
      .orderBy("page_id")
  }

  /** q158: MediaWiki dump source — every field rebuilt closed-form from
    * the fixture construction: entity-decoded title (the `&quot;`
    * plant), ns arithmetic, the redirect flag + `&amp;`-decoded target,
    * the text body (escaper round trip + the raw reference tail
    * `A&B <tag> €5`; empty for the self-closing plant), and the
    * missing-title quarantine row (err non-empty, page id still
    * recovered — NOT the planted revision id, which is what a naive
    * "first id anywhere" scan would return for it). */
  def q158Sql = """
    SELECT doc_id AS page_id,
      CASE WHEN doc_id % 25 = 7 THEN ''
           ELSE 'Doc "' || CAST(doc_id AS VARCHAR) || '"' END AS title,
      CAST(doc_id % 4 AS BIGINT) AS ns,
      CAST(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS BIGINT) AS redirect,
      CASE WHEN doc_id % 18 = 0 THEN 'Doc "' || CAST(doc_id + 2 AS VARCHAR) || '"'
           WHEN doc_id % 18 = 6 THEN 'Doc "' || CAST(doc_id - 6 AS VARCHAR) || '"'
           WHEN doc_id % 6 = 0 THEN 'R & D ' || CAST(doc_id AS VARCHAR)
           ELSE '' END AS redirect_title,
      md5(CASE WHEN doc_id % 9 = 0 THEN ''
            ELSE coalesce(text, '') || ' A&B <tag> ' || chr(8364) || '5'
          END) AS text_md5,
      CASE WHEN doc_id % 25 = 7 THEN 'missing id or title'
           ELSE '' END AS err
    FROM documents ORDER BY page_id"""

  /** q161: wikitext cleanup ([[WikiText]]) — each doc wrapped in the
    * markup shapes a real wiki page carries: an infobox template (whole
    * drop), an `== Heading ==` pair, bold/italic quote runs, a piped
    * wiki link (label survives), a NESTED template plant (doc_id % 4 =
    * 1 — one OUTER drop, counted once), a `*` list line, a bare wiki
    * link, an external link with label, a `<ref>` citation plant
    * (doc_id % 5 = 2), and a `[[File:…]]` thumbnail plant (doc_id % 3 =
    * 0 — dropped whole, its line vanishes). The oracle rebuilds the
    * cleaned text line-for-line and every removal counter closed-form. */
  def q161WikitextClean(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val markup = concat(
      lit("{{Infobox doc|id="), id, lit("}}\n"),
      lit("== Doc "), id, lit(" ==\n"),
      lit("'''Lead''' for [[Document processing|doc]] "), id, lit(".\n"),
      when(id % 4 === 1, lit("{{outer {{inner}} box}}\n")).otherwise(lit("")),
      lit("* first item\n"),
      coalesce(col("text"), lit("")),
      lit(" See [[pipeline]] and [http://x.example ext link]."),
      when(id % 5 === 2, lit("<ref>cite</ref>")).otherwise(lit("")),
      lit("\n"),
      when(id % 3 === 0, lit("[[File:Img.png|thumb|A caption]]\n"))
        .otherwise(lit("")),
      lit("== See also ==\n"))
    WikiText.cleanPages(
      Tables.documents(s, d).select(id, markup.as("m")),
      col("doc_id"), col("m"))
      .select(col("doc_id"), col("n_links"), col("n_ext"), col("n_tmpl"),
        col("n_files"), col("n_refs"),
        md5(col("text").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** q161: wikitext cleanup — cleaned text rebuilt line-for-line
    * (heading fences stripped, quote runs gone, link labels in place,
    * template/file lines vanished with their line breaks, the q144-style
    * ltrim guard for empty docs) and the removal counters from the
    * plant arithmetic (nested template = ONE outer drop). */
  def q161Sql = """
    SELECT doc_id,
      CAST(2 AS BIGINT) AS n_links,
      CAST(1 AS BIGINT) AS n_ext,
      CAST(CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_tmpl,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_files,
      CAST(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_refs,
      md5('Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
          'Lead for doc ' || CAST(doc_id AS VARCHAR) || '.' || chr(10) ||
          'first item' || chr(10) ||
          ltrim(trim(coalesce(text, '')) || ' See pipeline and ext link.') ||
          chr(10) || 'See also') AS clean_md5
    FROM documents ORDER BY doc_id"""

  /** q162: the wiki dump→corpus composition — the [[WikiXml]]/
    * [[WikiText]] twin of q146/q160, every stage through the real
    * container: the q158 dump dir read back split-parallel → CONTENT
    * pages only (clean parse, ns = 0, non-redirect — the standard wiki
    * corpus cut) → [[WikiText.clean]] over the text bodies (the planted
    * `<tag>` strips, so the cleaned line is the doc text + `A&B €5`
    * with the double space collapsed) → empty docs drop (the
    * self-closing-text plant) → exact dedup with min-id keeper
    * election. The oracle replays the page-selection arithmetic, the
    * cleanup, and the election closed-form. */
  def q162WikiCorpus(s: SparkSession, d: String): DataFrame = {
    val pages = WikiXml.readPages(s, wikiXmlDir(s, d))
      .filter(col("error").isNull && col("ns") === 0L &&
        col("redirect") === 0L)
    val cleaned = WikiText.cleanPages(pages, col("page_id"), col("text"))
      .filter(col("text") =!= "")
    val keepers = cleaned.groupBy("text")
      .agg(min(col("doc_id")).as("keeper_id"))
    cleaned.join(keepers, Seq("text"))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("clean_md5"),
        col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** q162: wiki dump→corpus — page selection from the q158 plant
    * arithmetic (clean parse, ns = 0, non-redirect, non-empty text),
    * the cleaned line (the `<tag>` plant strips and its double space
    * collapses; `&` and `€` are plain text to wikitext), and the
    * min-id keeper election. */
  def q162Sql = """
    WITH base AS (SELECT doc_id,
        ltrim(trim(coalesce(text, '')) || ' A&B ' || chr(8364) || '5') AS cl
      FROM documents
      WHERE doc_id % 25 <> 7 AND doc_id % 4 = 0 AND doc_id % 6 <> 0
        AND doc_id % 9 <> 0),
    k AS (SELECT cl, min(doc_id) AS keeper_id FROM base GROUP BY cl)
    SELECT b.doc_id, md5(b.cl) AS clean_md5,
           CAST(k.keeper_id AS BIGINT) AS keeper_id,
           CAST(CASE WHEN b.doc_id = k.keeper_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_keeper
    FROM base b JOIN k USING (cl) ORDER BY b.doc_id"""

  /** q163: redirect-chain resolution ([[Redirects.resolve]], pointer
    * doubling) over a planted chain grid: doc_ids with last digit
    * 1/3/7 are redirects whose targets form chains 1→3→7→terminal
    * (depths 3/2/1), and the doc_id % 100 ∈ {41, 43} class is
    * overridden into a 2-CYCLE (41→43→41), which must report
    * terminated = 0 with masked outputs instead of looping. maxDepth 8
    * ⇒ exactly 3 doubling self-joins resolve every chain. The oracle
    * replays final target, depth, and the cycle mask closed-form. */
  def q163RedirectResolution(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val edges = Tables.documents(s, d)
      .filter(id % 10 === 1 || id % 10 === 3 || id % 10 === 7)
      .select(id.as("src"),
        when(id % 100 === 43, id - 2)
          .when(id % 10 === 1, id + 2)
          .when(id % 10 === 3, id + 4)
          .otherwise(id + 1).as("dst"))
    Redirects.resolve(edges, "src", "dst", maxDepth = 8,
        policy = CheckpointPolicy.fromSession(s))
      .orderBy("src")
  }

  /** q163: redirect resolution — the chain grid is closed-form: last
    * digit 1 resolves 3 hops to id+7, 3 resolves 2 hops to id+5, 7
    * resolves 1 hop to id+1; the % 100 ∈ {41, 43} override is a 2-cycle
    * (41→43, 43→41 — note 41's edge is its NATURAL +2 edge) whose rows
    * mask to (-1, -1, 0). */
  def q163Sql = """
    SELECT doc_id AS src,
      CAST(CASE WHEN doc_id % 100 IN (41, 43) THEN -1
                WHEN doc_id % 10 = 1 THEN doc_id + 7
                WHEN doc_id % 10 = 3 THEN doc_id + 5
                ELSE doc_id + 1 END AS BIGINT) AS final_dst,
      CAST(CASE WHEN doc_id % 100 IN (41, 43) THEN -1
                WHEN doc_id % 10 = 1 THEN 3
                WHEN doc_id % 10 = 3 THEN 2
                ELSE 1 END AS BIGINT) AS depth,
      CAST(CASE WHEN doc_id % 100 IN (41, 43) THEN 0 ELSE 1 END AS BIGINT)
        AS terminated
    FROM documents
    WHERE doc_id % 10 IN (1, 3, 7)
    ORDER BY src"""

  /** q167: wiki redirect ALIAS MAP — q162's corpus cut DROPS redirect
    * pages; this composition makes them useful instead: every redirect
    * title maps to its FINAL content page, the alias table that dedups
    * incoming links/mentions of "USA" vs "United States" to one target.
    * Chain, every stage through the real container: the q158 dump dir
    * read back split-parallel ([[WikiXml.readPages]]) → title→page_id
    * dictionary over the clean pages → redirect targets joined to the
    * dictionary (title-space edges; the planted % 18 = 12 `R &amp; D`
    * targets match no page → BROKEN aliases, reported unresolved) →
    * [[Redirects.resolve]] pointer doubling (long ids — the dictionary
    * exists, so the 8-byte-key form applies) → alias rows. The depth-2
    * chains (% 18 = 6 → % 18 = 0 → content) prove the composition
    * passes THROUGH the resolver, and a % 18 = 0 page whose content
    * target is quarantined ((id+2) % 25 = 7) or past the table end
    * breaks that edge — its 6-class parent then terminates AT the
    * broken-edged redirect page. The oracle replays the grid, the
    * dictionary joins, both chain steps, and every mask closed-form. */
  def q167WikiRedirectAliases(s: SparkSession, d: String): DataFrame = {
    val pages = WikiXml.readPages(s, wikiXmlDir(s, d))
      .filter(col("error").isNull)
    val byTitle = pages.select(col("title").as("t_title"),
      col("page_id").as("t_id"))
    val redirs = pages.filter(col("redirect") === 1L)
      .select(col("page_id").as("r_id"), col("title").as("r_title"),
        col("redirect_title"))
    val edges = redirs.join(byTitle,
        col("redirect_title") === col("t_title"))
      .select(col("r_id").as("src"), col("t_id").as("dst"))
    val res = Redirects.resolve(edges, "src", "dst", maxDepth = 8,
      policy = CheckpointPolicy.fromSession(s))
    redirs.join(res, redirs("r_id") === res("src"), "left")
      .join(pages.select(col("page_id").as("f_id"),
          col("title").as("final_title")),
        col("final_dst") === col("f_id"), "left")
      .select(col("r_id").as("page_id"), col("r_title").as("title"),
        col("redirect_title"),
        coalesce(col("final_dst"), lit(-1L)).as("final_page_id"),
        coalesce(col("final_title"), lit("")).as("final_title"),
        coalesce(col("depth"), lit(0L)).as("depth"),
        coalesce(col("terminated"), lit(0L)).as("resolved"))
      .orderBy("page_id")
  }

  /** q167: wiki redirect alias map — the resolution grid replayed with
    * SQL joins over the rebuilt page/redirect tables: the title
    * dictionary (quarantined %25=7 pages absent), the target join
    * (`R & D` targets miss → broken aliases), the ≤2-hop chain as one
    * explicit left-join step, termination = final dst is not an edge
    * source, and the -1/''/0 masks for unresolved rows. */
  def q167Sql = """
    WITH p AS (SELECT doc_id AS id,
                 'Doc "' || CAST(doc_id AS VARCHAR) || '"' AS title
               FROM documents WHERE doc_id % 25 <> 7),
    r AS (SELECT id, title,
            CASE WHEN id % 18 = 0
                   THEN 'Doc "' || CAST(id + 2 AS VARCHAR) || '"'
                 WHEN id % 18 = 6
                   THEN 'Doc "' || CAST(id - 6 AS VARCHAR) || '"'
                 ELSE 'R & D ' || CAST(id AS VARCHAR) END AS rt
          FROM p WHERE id % 6 = 0),
    e AS (SELECT r.id AS src, t.id AS dst FROM r JOIN p t ON t.title = r.rt),
    s2 AS (SELECT e.src, coalesce(e2.dst, e.dst) AS dst,
                  1 + CASE WHEN e2.dst IS NULL THEN 0 ELSE 1 END AS depth
           FROM e LEFT JOIN e e2 ON e2.src = e.dst),
    fin AS (SELECT s2.src, s2.dst, s2.depth,
                   CASE WHEN x.src IS NULL THEN 1 ELSE 0 END AS term
            FROM s2 LEFT JOIN (SELECT DISTINCT src FROM e) x
              ON x.src = s2.dst)
    SELECT r.id AS page_id, r.title, r.rt AS redirect_title,
           CAST(coalesce(CASE WHEN fin.term = 1 THEN fin.dst END, -1)
                AS BIGINT) AS final_page_id,
           coalesce(CASE WHEN fin.term = 1
                      THEN 'Doc "' || CAST(fin.dst AS VARCHAR) || '"' END,
                    '') AS final_title,
           CAST(coalesce(CASE WHEN fin.term = 1 THEN fin.depth END, 0)
                AS BIGINT) AS depth,
           CAST(coalesce(fin.term, 0) AS BIGINT) AS resolved
    FROM r LEFT JOIN fin ON fin.src = r.id
    ORDER BY page_id"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q112_jsonl_source", q112JsonlSource, () => q112Sql),
    QuerySpec("q120_csv_source", q120CsvSource, () => q120Sql),
    QuerySpec("q122_orc_source", q122OrcSource, () => q122Sql),
    // q136: the Avro round-trip gate is the ORC one — the format changes,
    // the parquet-original digests the read must reproduce do not.
    QuerySpec("q136_avro_source", q136AvroSource, () => q122Sql),
    QuerySpec("q140_warc_source", q140WarcSource, () => q140Sql),
    QuerySpec("q144_html_extract", q144HtmlExtract, () => q144Sql),
    QuerySpec("q157_boilerplate_blocks", q157BoilerplateBlocks, () => q157Sql),
    QuerySpec("q158_wikixml_source", q158WikixmlSource, () => q158Sql),
    QuerySpec("q161_wikitext_clean", q161WikitextClean, () => q161Sql),
    QuerySpec("q162_wiki_corpus", q162WikiCorpus, () => q162Sql),
    QuerySpec("q163_redirect_resolution", q163RedirectResolution, () => q163Sql),
    QuerySpec("q167_wiki_redirect_aliases", q167WikiRedirectAliases, () => q167Sql)
  )
}
