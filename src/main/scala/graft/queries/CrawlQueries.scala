package graft.queries

import graft.Tables
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures.{crawlWarcDir, linkArtifactFor, md5Int52, servedQ165Edges}
import GraphQueries.q169TrustCtes

/** Crawl and web curation: URL canonicalization, robots and sitemaps,
  * domain caps, canonical dedup, the crawl-to-corpus pipelines and the
  * politeness and trust frontiers. */
object CrawlQueries {

  /** The planted dirty URL keyed on a document id — shared by q145 (over
    * doc_id) and q146 (over the id recovered from the WARC record). */
  private def plantedUrl(id: Column): Column = {
    val m2 = id % 2
    val m3 = id % 3
    val m4 = id % 4
    val m5 = id % 5
    val m7 = id % 7
    val scheme = when(m2 === 0, lit("HTTP")).otherwise(lit("https"))
    val hostStr = when(m5 === 0, lit("News.Example.COM"))
      .when(m5 === 1, lit("Blog.example.co.uk"))
      .when(m5 === 2, lit("SPAM.badsite.com"))
      .when(m5 === 3, lit("example.org"))
      .otherwise(lit("cdn.Site.com"))
    val port = when(m3 === 0, when(m2 === 0, lit(":80")).otherwise(lit(":443")))
      .when(m3 === 1, lit(":8080")).otherwise(lit(""))
    val path = when(m7 === 0, lit(""))
      .otherwise(concat(lit("/a/"), id))
    val query = when(m4 === 0, lit("?utm_source=x&b=2&a=1"))
      .when(m4 === 1, lit("?b=2&a=1"))
      .when(m4 === 2, lit("?utm_campaign=z"))
      .otherwise(lit(""))
    val frag = when(m2 === 1, lit("#frag")).otherwise(lit(""))
    concat(scheme, lit("://"), hostStr, port, path, query, frag)
  }

  /** q145's URL plant: [[plantedUrl]]'s normalization grid, overridden on
    * a doc_id % 11 slice with hosts that exercise each PSL rule CLASS
    * ([[graft.operators.Psl]]): the `!www.ck` exception, the `*.ck`
    * all-label wildcard, a gov.uk-class exact-2 registry, the depth-4
    * `k12.<st>.us` school hierarchy, a `*.nagoya.jp` designated-city
    * wildcard where the host IS the public suffix, and its
    * `!city.nagoya.jp` exception. q146 keeps the narrower shared plant. */
  private def q145Url(id: Column): Column = {
    val m11 = id % 11
    when(m11 === 0, lit("https://deep.www.CK/x"))
      .when(m11 === 1, lit("HTTP://shop.stores.example.ck:80/y?b=2&a=1"))
      .when(m11 === 2, lit("https://www.City.gov.uk/services?utm_source=t"))
      .when(m11 === 3, lit("http://district.k12.CA.us:8080/school"))
      .when(m11 === 4, lit("https://metro.nagoya.jp"))
      .when(m11 === 5, lit("http://www.city.Nagoya.jp/index#top"))
      .otherwise(plantedUrl(id))
  }

  /** q145: URL canonicalization + domain curation ([[Urls]]): every doc
    * gets a PLANTED dirty URL (uppercase scheme/host, default and
    * non-default ports, utm tracking params, unsorted params, fragments,
    * missing paths, multi-label public suffixes — all driven by doc_id
    * arithmetic), normalized via Spark's `parse_url` builtins and mapped
    * to its registered domain; `badsite.com` rows carry the blocklist
    * flag. The oracle re-derives every step with INDEPENDENT DuckDB
    * string ops (no parse_url there), so the two engines cross-check the
    * URL grammar, not a shared implementation. */
  def q145UrlCuration(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), q145Url(col("doc_id")).as("url"))
      .select(col("doc_id"),
        Urls.normalizeUrl(col("url")).as("norm_url"),
        Urls.registeredDomain(col("url")).as("domain"))
      .withColumn("blocked", (col("domain") === "badsite.com").cast("long"))
      .orderBy("doc_id")
  }

  /** SQL IN-list literal for a rule table (PSL entries are bare ASCII
    * hostname labels — no quoting hazards). */
  private def inList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString(", ")

  /** q145: URL curation — the planted-URL construction (same doc_id
    * arithmetic as the Spark side, including the doc_id % 11 PSL-class
    * overrides) normalized by INDEPENDENT string ops: split on ://,
    * authority carve-out (stop at / ? #), host lowercase + port split,
    * default-port rule, path default, query param filter/sort via list
    * functions. No parse_url anywhere. The registered domain replays the
    * published PSL algorithm (exception > longest match > default `*`;
    * wildcard base matches one extra label) over the SAME rule tables as
    * [[graft.operators.Psl]] — the rule DATA is shared (it is public
    * data, not logic); the matching/string machinery is independent. */
  /** The planted-URL → normalized parts → PSL registered-domain CTE chain
    * shared by q145 (curation columns) and q155 (per-domain cap). */
  private def q145UrlCtes: String = s"""
    u AS (SELECT doc_id,
        CASE WHEN doc_id % 11 = 0 THEN 'https://deep.www.CK/x'
             WHEN doc_id % 11 = 1 THEN 'HTTP://shop.stores.example.ck:80/y?b=2&a=1'
             WHEN doc_id % 11 = 2 THEN 'https://www.City.gov.uk/services?utm_source=t'
             WHEN doc_id % 11 = 3 THEN 'http://district.k12.CA.us:8080/school'
             WHEN doc_id % 11 = 4 THEN 'https://metro.nagoya.jp'
             WHEN doc_id % 11 = 5 THEN 'http://www.city.Nagoya.jp/index#top'
             ELSE
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        (CASE WHEN doc_id % 5 = 0 THEN 'News.Example.COM'
              WHEN doc_id % 5 = 1 THEN 'Blog.example.co.uk'
              WHEN doc_id % 5 = 2 THEN 'SPAM.badsite.com'
              WHEN doc_id % 5 = 3 THEN 'example.org'
              ELSE 'cdn.Site.com' END) ||
        (CASE WHEN doc_id % 3 = 0 THEN
                (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
              WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
        (CASE WHEN doc_id % 7 = 0 THEN ''
              ELSE '/a/' || CAST(doc_id AS VARCHAR) END) ||
        (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&b=2&a=1'
              WHEN doc_id % 4 = 1 THEN '?b=2&a=1'
              WHEN doc_id % 4 = 2 THEN '?utm_campaign=z' ELSE '' END) ||
        (CASE WHEN doc_id % 2 = 1 THEN '#frag' ELSE '' END) END AS url
      FROM documents),
    parts AS (SELECT doc_id, url,
        lower(split_part(url, '://', 1)) AS scheme,
        split_part(url, '://', 2) AS rest
      FROM u),
    auth AS (SELECT *,
        split_part(split_part(split_part(rest, '/', 1), '?', 1), '#', 1)
          AS authority
      FROM parts),
    comps AS (SELECT doc_id, scheme,
        lower(split_part(authority, ':', 1)) AS h,
        CASE WHEN strpos(authority, ':') > 0
             THEN split_part(authority, ':', 2) ELSE '' END AS port,
        substr(rest, length(authority) + 1) AS afterauth
      FROM auth),
    norm0 AS (SELECT doc_id, scheme, h, port,
        CASE WHEN split_part(split_part(afterauth, '?', 1), '#', 1) = ''
             THEN '/' ELSE split_part(split_part(afterauth, '?', 1), '#', 1)
             END AS path,
        coalesce(array_to_string(list_sort(list_filter(
          str_split(CASE WHEN strpos(afterauth, '?') > 0
                         THEN split_part(split_part(afterauth, '?', 2), '#', 1)
                         ELSE '' END, '&'),
          x -> substr(x, 1, 4) <> 'utm_' AND x <> '')), '&'), '') AS q
      FROM comps),
    dom AS (SELECT doc_id, h,
        str_split(h, '.') AS labels, len(str_split(h, '.')) AS n
      FROM norm0),
    sfx AS (SELECT doc_id, h, labels, n,
        CASE WHEN n >= 1 THEN array_to_string(labels[n:n], '.') END AS s1,
        CASE WHEN n >= 2 THEN array_to_string(labels[n-1:n], '.') END AS s2,
        CASE WHEN n >= 3 THEN array_to_string(labels[n-2:n], '.') END AS s3,
        CASE WHEN n >= 4 THEN array_to_string(labels[n-3:n], '.') END AS s4
      FROM dom),
    psl AS (SELECT doc_id, h, labels, n,
        CASE WHEN n >= 3 AND s3 IN (${inList(graft.operators.Psl.exc3)}) THEN 2
             WHEN n >= 2 AND s2 IN (${inList(graft.operators.Psl.exc2)}) THEN 1
             WHEN n >= 4 AND s4 IN (${inList(graft.operators.Psl.exact4)}) THEN 4
             WHEN n >= 3 AND (s3 IN (${inList(graft.operators.Psl.exact3)})
                  OR s2 IN (${inList(graft.operators.Psl.wild2)})) THEN 3
             WHEN n >= 2 AND (s2 IN (${inList(graft.operators.Psl.exact2)})
                  OR s1 IN (${inList(graft.operators.Psl.wild1)})) THEN 2
             ELSE 1 END AS pslen
      FROM sfx),
    dom2 AS (SELECT doc_id,
        CASE WHEN n <= pslen THEN h
             ELSE array_to_string(labels[n-pslen:n], '.') END AS domain
      FROM psl)"""

  def q145Sql = s"""
    WITH $q145UrlCtes
    SELECT n.doc_id,
           n.scheme || '://' || n.h ||
           (CASE WHEN n.port = ''
                   OR (n.scheme = 'http' AND n.port = '80')
                   OR (n.scheme = 'https' AND n.port = '443') THEN ''
                 ELSE ':' || n.port END) ||
           n.path ||
           (CASE WHEN n.q = '' THEN '' ELSE '?' || n.q END) AS norm_url,
           d.domain,
           CAST(CASE WHEN d.domain = 'badsite.com' THEN 1 ELSE 0 END AS BIGINT)
             AS blocked
    FROM norm0 n JOIN dom2 d USING (doc_id)
    ORDER BY n.doc_id"""

  /** q146: the END-TO-END crawl-to-corpus pipeline — every stage a
    * real-world Common-Crawl curation run chains, each individually
    * gated elsewhere, composed here through the actual container:
    * q144's WARC `response` records (split-parallel read) → doc identity
    * from the capture URL → BLOCKLIST decontamination on the planted
    * per-doc curation URL ([[Urls.decontaminateByDomain]], badsite.com
    * drops doc_id % 5 = 2) → [[Html.extract]] → [[QualityRules
    * .c4LineFilter]] (the planted anchor/list boilerplate lines fail the
    * terminal-punctuation rule and drop; the content line survives) →
    * exact dedup with keeper election (min doc_id per cleaned text).
    * The oracle rebuilds the surviving cleaned line closed-form from the
    * documents table and replays the blocklist predicate and the keeper
    * election — a defect in ANY stage (member framing, extraction,
    * entity decode, line filter, domain rule, keeper tie) breaks it. */
  def q146CrawlPipeline(s: SparkSession, d: String): DataFrame = {
    val dir = crawlWarcDir(s, d)
    val recs = WarcSources.readWarc(s, dir)
      .filter(col("error").isNull && col("record_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
        decode(col("content"), "UTF-8").as("html"))
      .withColumn("curl", plantedUrl(col("id")))
    val kept = Urls.decontaminateByDomain(recs, col("curl"), Seq("badsite.com"))
    val ext = Html.extract(kept.select(col("id"), col("html")),
      col("id"), col("html"))
    // pinned: clean feeds BOTH the keeper election and the join-back —
    // unpinned, the whole WARC-read -> extract -> line-filter chain
    // recomputes per branch (measured ~2x the chain at sf0.1)
    val clean = CheckpointPolicy.pin(QualityRules.c4LineFilter(ext, col("doc_id"),
      col("text"), minWords = 3, banned = Seq.empty))
    val keepers = clean.groupBy("text_clean")
      .agg(min(col("doc_id")).as("keeper_id"))
    clean.join(keepers, Seq("text_clean"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** q146: the crawl-to-corpus pipeline — the surviving cleaned line
    * rebuilt closed-form (the q144 page's content line, which alone
    * passes the C4 terminal-punct + min-words rules; the planted
    * boilerplate lines drop), the badsite.com blocklist predicate
    * (doc_id % 5 = 2), and the min-doc_id keeper election over the
    * surviving corpus. */
  def q146Sql = """
    WITH base AS (SELECT doc_id,
        ltrim(trim(coalesce(text, '')) || ' Fish & Chips <deal> ' ||
          chr(8364) || '5 ' || chr(160) || 'now.') AS pline
      FROM documents WHERE doc_id % 5 <> 2),
    k AS (SELECT pline, min(doc_id) AS keeper_id FROM base GROUP BY pline)
    SELECT b.doc_id, CAST(4 AS BIGINT) AS n_lines, CAST(1 AS BIGINT) AS n_kept,
           md5(b.pline) AS clean_md5, CAST(k.keeper_id AS BIGINT) AS keeper_id,
           CAST(CASE WHEN b.doc_id = k.keeper_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_keeper
    FROM base b JOIN k USING (pline)
    ORDER BY b.doc_id"""

  /** q155: per-domain cap ([[Urls.domainCap]]) over q145's PSL-exercising
    * URL plant — the policy stage between [[Urls.domainStats]] and the
    * corpus write: at most 20 docs per registered domain, kept = the 20
    * smallest per-doc md5 coins (deterministic uniform sample; ties on
    * doc_id). Every planted domain holds ≥ 45 docs, so every domain is
    * genuinely capped and the boundary rank is exercised. The oracle
    * replays the coin and the (h, doc_id) rank as an explicit window;
    * the Spark side computes the same selection with the BOUNDED
    * topKPerGroup aggregator — no window, no per-domain sort (the 100 TB
    * point of the operator). */
  def q155DomainCap(s: SparkSession, d: String): DataFrame =
    Urls.domainCap(
      Tables.documents(s, d)
        .select(col("doc_id"), q145Url(col("doc_id")).as("url")),
      col("doc_id"), col("url"), cap = 20)
      .orderBy("doc_id")

  /** q155: per-domain cap — the PSL domain chain, then the 52-bit md5
    * coin per doc and a (h, doc_id)-ordered row_number per domain: kept
    * iff rank ≤ cap (20). Replays Urls.domainCap's bounded bottom-k
    * selection as an explicit window rank. */
  def q155Sql: String = {
    val h = md5Int52("concat_ws('|', doc_id, 'domain-cap')")
    s"""
    WITH $q145UrlCtes,
    hh AS (SELECT doc_id, domain, $h AS h FROM dom2),
    rk AS (SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS r
           FROM hh)
    SELECT doc_id, domain,
           CAST(CASE WHEN r <= 20 THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM rk ORDER BY doc_id"""
  }

  /** The per-domain robots.txt fixture q156 and q160 share (see q156's
    * scaladoc for what each domain plants). */
  private def plantedRobots(s: SparkSession): DataFrame = {
    import s.implicits._
    plantedRobotsTxt.toDF("domain", "robots_txt")
  }

  /** [[plantedRobots]]' rows; every query passes its size as the
    * broadcast-vs-shuffle hint to [[Robots.verdicts]], so the hint is
    * the literal's own length and cannot drift from it. */
  private val plantedRobotsTxt: Seq[(String, String)] = Seq(
      ("example.com",
        "# graft crawl fixture\n" +
        "User-Agent: *\n" +
        "Disallow: /a/\n" +
        "Allow: /a/1\n" +
        "disallow: /a/1\n" +
        "Crawl-delay: 10\n"),
      ("example.co.uk",
        "User-agent: GraftBot\n" +
        "Disallow: /a/*1$\n" +
        "\n" +
        "User-agent: *\n" +
        "Disallow: /\n"),
      ("badsite.com",
        "User-agent: *\nDisallow: /\n"),
      ("example.org",
        "User-agent: graftbot\n" +
        "User-agent: otherbot\n" +
        "Disallow:\n" +
        "Allow: /a/\n" +
        "Sitemap: https://example.org/sitemap.xml\n"))

  /** q156: robots.txt compliance ([[Robots]]) over [[plantedUrl]]'s
    * URL grid — one synthesized robots.txt per registered domain, each
    * planting a distinct protocol shape for crawler agent "GraftBot":
    * example.com exercises longest-match (`/a/` vs `/a/1`) AND the
    * allow-wins length tie (an `Allow` and a `Disallow` with the same
    * pattern); example.co.uk exercises group precedence (a specific
    * GraftBot group shadows a blanket `Disallow: /` star group) plus
    * the `*`-wildcard + `$`-anchor + query-string interplay
    * (the pattern `/a/` + `*1$` matches `?…a=1` query tails, not just
    * path tails);
    * badsite.com blankets `Disallow: /`; example.org exercises
    * multi-agent group heads, case-insensitive agent match, the
    * empty-Disallow no-op, and an ignored `Sitemap:` directive;
    * site.com has NO robots.txt (protocol default: allowed). Comments,
    * key-case variance, and `Crawl-delay` are planted too. The oracle
    * replays every verdict closed-form from the same doc_id arithmetic. */
  def q156RobotsFilter(s: SparkSession, d: String): DataFrame =
    Robots.verdicts(
      Tables.documents(s, d)
        .select(col("doc_id"), plantedUrl(col("doc_id")).as("url")),
      col("doc_id"), col("url"),
      plantedRobots(s), col("domain"), col("robots_txt"), agent = "GraftBot",
      robotsSizeHint = Some(plantedRobotsTxt.size.toLong))
      .orderBy("doc_id")

  /** q156: robots.txt verdicts — every planted rule semantics replayed
    * closed-form from the doc_id arithmetic (the q144/q146 convention:
    * the fixture construction IS the spec, so the expected verdict per
    * residue class is derivable by hand and encoded directly):
    * example.com = longest-match + allow-wins-tie on the `/a/1` pair
    * (first digit 1 → allowed); example.co.uk = the GraftBot group only
    * (star group shadowed), the `/a/` + `*1$` pattern matching any target that starts
    * `/a/` and ENDS in `1` — which includes the `…a=1` query tails, and
    * the bare path only when the id's last digit is 1; badsite.com =
    * blanket disallow; example.org = `Allow: /a/` for the
    * case-insensitive graftbot head; site.com = no robots → allowed. */
  def q156Sql = """
    WITH t AS (SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN 'example.com'
             WHEN doc_id % 5 = 1 THEN 'example.co.uk'
             WHEN doc_id % 5 = 2 THEN 'badsite.com'
             WHEN doc_id % 5 = 3 THEN 'example.org'
             ELSE 'site.com' END AS domain,
        (CASE WHEN doc_id % 7 = 0 THEN '/'
              ELSE '/a/' || CAST(doc_id AS VARCHAR) END) ||
        (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&b=2&a=1'
              WHEN doc_id % 4 = 1 THEN '?b=2&a=1'
              WHEN doc_id % 4 = 2 THEN '?utm_campaign=z'
              ELSE '' END) AS target
      FROM documents)
    SELECT doc_id, domain, target,
      CAST(CASE
        WHEN domain = 'example.com' THEN
          CASE WHEN doc_id % 7 = 0 THEN 1
               WHEN substr(CAST(doc_id AS VARCHAR), 1, 1) = '1' THEN 1
               ELSE 0 END
        WHEN domain = 'example.co.uk' THEN
          CASE WHEN doc_id % 7 <> 0 AND (doc_id % 4 IN (0, 1)
                 OR (doc_id % 4 = 3 AND doc_id % 10 = 1))
               THEN 0 ELSE 1 END
        WHEN domain = 'badsite.com' THEN 0
        ELSE 1 END AS BIGINT) AS allowed,
      CASE
        WHEN domain = 'example.com' THEN
          CASE WHEN doc_id % 7 = 0 THEN ''
               WHEN substr(CAST(doc_id AS VARCHAR), 1, 1) = '1' THEN '/a/1'
               ELSE '/a/' END
        WHEN domain = 'example.co.uk' THEN
          CASE WHEN doc_id % 7 <> 0 AND (doc_id % 4 IN (0, 1)
                 OR (doc_id % 4 = 3 AND doc_id % 10 = 1))
               THEN '/a/*1$' ELSE '' END
        WHEN domain = 'badsite.com' THEN '/'
        WHEN domain = 'example.org' THEN
          CASE WHEN doc_id % 7 = 0 THEN '' ELSE '/a/' END
        ELSE '' END AS rule,
      CASE
        WHEN domain = 'example.com' THEN
          CASE WHEN doc_id % 7 = 0 THEN 'none'
               WHEN substr(CAST(doc_id AS VARCHAR), 1, 1) = '1' THEN 'allow'
               ELSE 'disallow' END
        WHEN domain = 'example.co.uk' THEN
          CASE WHEN doc_id % 7 <> 0 AND (doc_id % 4 IN (0, 1)
                 OR (doc_id % 4 = 3 AND doc_id % 10 = 1))
               THEN 'disallow' ELSE 'none' END
        WHEN domain = 'badsite.com' THEN 'disallow'
        WHEN domain = 'example.org' THEN
          CASE WHEN doc_id % 7 = 0 THEN 'none' ELSE 'allow' END
        ELSE 'none' END AS kind
    FROM t ORDER BY doc_id"""

  /** q160: the crawl-to-corpus pipeline, SECOND GENERATION — q146's
    * composition upgraded with the two round-11 curation stages a
    * production pipeline runs, each individually gated elsewhere and
    * chained here through the REAL container: q144's WARC `response`
    * records (split-parallel read) → doc identity from the capture URL
    * → ROBOTS COMPLIANCE on the planted curation URL
    * ([[Robots.filterAllowed]] against [[plantedRobots]] — drops
    * badsite.com wholesale plus the example.com/example.co.uk
    * residue-class disallows q156 pins) → blocklist decontamination
    * (badsite.com — stacked after robots to prove the stages compose) →
    * BOILERPLATE REMOVAL ([[Boilerplate]] over the raw HTML: the
    * planted anchor div is 100% link density and the list items are
    * 2-word stubs, so ONLY the content block survives — vs q146, which
    * needed the C4 terminal-punct rule to kill that boilerplate) →
    * [[QualityRules.c4LineFilter]] over the cleaned text → exact dedup
    * with min-doc_id keeper election. A defect in ANY stage — robots
    * group selection, block segmentation, density arithmetic, line
    * filter, keeper tie — breaks the oracle's closed-form replay. */
  def q160CrawlPipelineV2(s: SparkSession, d: String): DataFrame = {
    val dir = crawlWarcDir(s, d)
    // pinned: filterAllowed consumes its input on TWO branches (the
    // verdict map and the semi-join left side), and the RDD-backed WARC
    // source has no column pruning — unpinned, the full decode runs twice
    val recs = CheckpointPolicy.pin(
      WarcSources.readWarc(s, dir)
        .filter(col("error").isNull && col("record_type") === "response")
        .select(
          regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
          decode(col("content"), "UTF-8").as("html"))
        .withColumn("curl", plantedUrl(col("id"))))
    val allowed = Robots.filterAllowed(recs, col("id"), col("curl"),
      plantedRobots(s), col("domain"), col("robots_txt"), agent = "GraftBot",
      robotsSizeHint = Some(plantedRobotsTxt.size.toLong))
    val kept = Urls.decontaminateByDomain(allowed, col("curl"),
      Seq("badsite.com"))
    val cleanDocs = Boilerplate.cleanText(Boilerplate.classify(
      Boilerplate.blocks(kept.select(col("id"), col("html")),
        col("id"), col("html")),
      minWords = 5, maxLinkDensity = 0.33))
    // pinned: clean feeds the keeper election AND the join-back (the
    // q146 convention — the robots/boilerplate chain is the query's cost)
    val clean = CheckpointPolicy.pin(QualityRules.c4LineFilter(cleanDocs,
      col("doc_id"), col("text_clean"), minWords = 3, banned = Seq.empty))
    val keepers = clean.groupBy("text_clean")
      .agg(min(col("doc_id")).as("keeper_id"))
    clean.join(keepers, Seq("text_clean"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** q160: crawl pipeline v2 — q146's closed-form replay with two more
    * stages folded in: the robots admission predicate (q156's
    * residue-class verdicts inlined as one boolean CASE) composed with
    * the blocklist, and the boilerplate stage's outcome (on the q144
    * page only the content block survives — the anchor div is density
    * 1.0, the list items are 2-word stubs — so the cleaned doc is ONE
    * line and n_lines/n_kept pin to 1, vs q146's 4/1 via the line
    * rule). Keeper election runs over the SMALLER robots-surviving
    * corpus, so keeper ids differ from q146 wherever a duplicate's
    * min-id doc was robots-disallowed. */
  def q160Sql = """
    WITH a AS (SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN
               CASE WHEN doc_id % 7 = 0 THEN 1
                    WHEN substr(CAST(doc_id AS VARCHAR), 1, 1) = '1' THEN 1
                    ELSE 0 END
             WHEN doc_id % 5 = 1 THEN
               CASE WHEN doc_id % 7 <> 0 AND (doc_id % 4 IN (0, 1)
                      OR (doc_id % 4 = 3 AND doc_id % 10 = 1))
                    THEN 0 ELSE 1 END
             WHEN doc_id % 5 = 2 THEN 0
             ELSE 1 END AS allowed
      FROM documents),
    base AS (SELECT d.doc_id,
        ltrim(trim(coalesce(d.text, '')) || ' Fish & Chips <deal> ' ||
          chr(8364) || '5 ' || chr(160) || 'now.') AS pline
      FROM documents d JOIN a USING (doc_id)
      WHERE a.allowed = 1 AND d.doc_id % 5 <> 2),
    k AS (SELECT pline, min(doc_id) AS keeper_id FROM base GROUP BY pline)
    SELECT b.doc_id, CAST(1 AS BIGINT) AS n_lines, CAST(1 AS BIGINT) AS n_kept,
           md5(b.pline) AS clean_md5, CAST(k.keeper_id AS BIGINT) AS keeper_id,
           CAST(CASE WHEN b.doc_id = k.keeper_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_keeper
    FROM base b JOIN k USING (pline)
    ORDER BY b.doc_id"""

  /** The q170/q174 domain grid (the q156 robots fixture's five). */
  private def q170Domain(id: Column): Column =
    when(id % 5 === 0, lit("example.com"))
      .when(id % 5 === 1, lit("example.co.uk"))
      .when(id % 5 === 2, lit("badsite.com"))
      .when(id % 5 === 3, lit("example.org"))
      .otherwise(lit("site.com"))

  /** The q170/q174 sitemap plant: per doc a urlset (or, on the %11=5
    * class, a sitemapindex) — see q170's scaladoc for the classes. */
  private def q170SitemapXml(id: Column): Column = {
    val domain = q170Domain(id)
    val urlset = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "  <url>\n    <loc>https://"), domain, lit("/a/1?p="), id,
      lit("</loc>\n    <lastmod>2024-0"), id % 9 + 1, lit("-1"), id % 3,
      lit("</lastmod>\n    <changefreq>"),
      when(id % 4 === 0, lit("daily")).when(id % 4 === 1, lit("weekly"))
        .when(id % 4 === 2, lit("monthly")).otherwise(lit("never")),
      lit("</changefreq>\n    <priority>0."), id % 10,
      lit("</priority>\n  </url>\n  <url>\n    <loc>https://"), domain,
      lit("/b/"), id, lit("?x=1&amp;y=2</loc>\n  </url>\n"),
      when(id % 7 === 0,
        lit("  <url>\n    <lastmod>2024-01-01</lastmod>\n  </url>\n"))
        .otherwise(lit("")),
      lit("</urlset>"))
    val index = concat(
      lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n" +
        "  <sitemap>\n    <loc>https://"), domain,
      lit("/maps/m1.xml</loc>\n    <lastmod>2024-02-02</lastmod>\n" +
        "  </sitemap>\n  <sitemap>\n    <loc>https://"), domain,
      lit("/maps/m2.xml</loc>\n  </sitemap>\n</sitemapindex>"))
    when(id % 11 === 5, index).otherwise(urlset)
  }

  /** q170: sitemap-advertised SEED LIST ([[Sitemaps]] + [[Robots]]) —
    * the discovery half of crawl politeness composed with the admission
    * half: per doc, synthesize a sitemap XML (three `<url>` entries on
    * most docs — a full entry with lastmod/changefreq/priority, a
    * minimal entry with an `&amp;` entity in the loc and the spec's
    * 0.5 priority default, and a MISSING-loc quarantine on id%7=0 — or
    * a `<sitemapindex>` with two child-sitemap entries on the id%11=5
    * class), parse it back with the forward scanner, then run every
    * advertised URL through [[Robots.verdicts]] against the q156
    * robots fixture (badsite.com blanket-disallowed; example.co.uk's
    * GraftBot `/a/` + `*1$` pattern catches exactly the last-digit-1 ids;
    * example.com's allow-wins tie admits the `/a/1` prefix). The
    * oracle rebuilds every entry AND every verdict closed-form. */
  def q170SitemapSeeds(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ent = Sitemaps.entries(
      Tables.documents(s, d).select(id, q170SitemapXml(id).as("x")),
      col("doc_id"), col("x"))
    // admission on every advertised URL; entries re-key as
    // doc_id*4 + entry_idx (≤ 3 entries per file by construction)
    val v = Robots.verdicts(
      ent.filter(col("error") === "").select(
        (col("doc_id") * 4 + col("entry_idx")).as("eid"), col("loc")),
      col("eid"), col("loc"),
      plantedRobots(s), col("domain"), col("robots_txt"),
      agent = "GraftBot", robotsSizeHint = Some(plantedRobotsTxt.size.toLong))
      .select(col("doc_id").as("__eid"), col("allowed"))
    ent.join(v, (col("doc_id") * 4 + col("entry_idx")) === col("__eid"),
        "left")
      .select(col("doc_id"), col("entry_idx"), col("kind"), col("loc"),
        col("lastmod"), col("changefreq"), col("priority"),
        coalesce(col("allowed"), lit(0L)).as("allowed"),
        col("error").as("err"))
      .orderBy("doc_id", "entry_idx")
  }

  /** q170: sitemap seed list — every entry AND every robots verdict
    * rebuilt closed-form: the urlset rows (full entry with the planted
    * lastmod/changefreq/priority arithmetic; the minimal entry with the
    * decoded `&` and the spec's 0.5 default; the missing-loc quarantine
    * keeping its lastmod), the sitemapindex rows on the %11=5 class,
    * and the q156 decision table applied to each loc (badsite blanket
    * disallow, co.uk's `/a/` + `*1$` catching last-digit-1 ids on entry 0,
    * example.com's allow-wins `/a/1` tie admitting every entry 0). */
  def q170Sql = """
    WITH t AS (SELECT doc_id,
        doc_id % 4 AS d4, doc_id % 7 AS d7, doc_id % 9 AS d9,
        doc_id % 3 AS d3, doc_id % 10 AS d10, doc_id % 11 AS d11,
        CASE WHEN doc_id % 5 = 0 THEN 'example.com'
             WHEN doc_id % 5 = 1 THEN 'example.co.uk'
             WHEN doc_id % 5 = 2 THEN 'badsite.com'
             WHEN doc_id % 5 = 3 THEN 'example.org'
             ELSE 'site.com' END AS dom
      FROM documents),
    rows_ AS (
      SELECT doc_id, 0 AS entry_idx, 'url' AS kind,
             'https://' || dom || '/a/1?p=' || CAST(doc_id AS VARCHAR)
               AS loc,
             '2024-0' || CAST(d9 + 1 AS VARCHAR) || '-1' ||
               CAST(d3 AS VARCHAR) AS lastmod,
             CASE WHEN d4 = 0 THEN 'daily' WHEN d4 = 1 THEN 'weekly'
                  WHEN d4 = 2 THEN 'monthly' ELSE 'never' END
               AS changefreq,
             CAST('0.' || CAST(d10 AS VARCHAR) AS DOUBLE) AS priority,
             CASE WHEN dom = 'badsite.com' THEN 0
                  WHEN dom = 'example.co.uk' AND d10 = 1 THEN 0
                  ELSE 1 END AS allowed,
             '' AS err
      FROM t WHERE d11 <> 5
      UNION ALL
      SELECT doc_id, 1, 'url',
             'https://' || dom || '/b/' || CAST(doc_id AS VARCHAR) ||
               '?x=1&y=2',
             '', '', CAST(0.5 AS DOUBLE),
             CASE WHEN dom = 'badsite.com' THEN 0 ELSE 1 END, ''
      FROM t WHERE d11 <> 5
      UNION ALL
      SELECT doc_id, 2, 'error', '', '2024-01-01', '',
             CAST(0.0 AS DOUBLE), 0, 'missing loc'
      FROM t WHERE d11 <> 5 AND d7 = 0
      UNION ALL
      SELECT doc_id, 0, 'sitemap', 'https://' || dom || '/maps/m1.xml',
             '2024-02-02', '', CAST(0.0 AS DOUBLE),
             CASE WHEN dom = 'badsite.com' THEN 0 ELSE 1 END, ''
      FROM t WHERE d11 = 5
      UNION ALL
      SELECT doc_id, 1, 'sitemap', 'https://' || dom || '/maps/m2.xml',
             '', '', CAST(0.0 AS DOUBLE),
             CASE WHEN dom = 'badsite.com' THEN 0 ELSE 1 END, ''
      FROM t WHERE d11 = 5)
    SELECT doc_id, CAST(entry_idx AS BIGINT) AS entry_idx, kind, loc,
           lastmod, changefreq, priority, CAST(allowed AS BIGINT)
             AS allowed, err
    FROM rows_ ORDER BY doc_id, entry_idx"""

  /** q171: canonical-URL dedup ([[Html.headRefs]] +
    * [[LinkGraph.canonicalUrls]]) — the dedup signal sites declare
    * THEMSELVES, which a crawl pipeline should spend before any
    * similarity machinery: per doc, the capture URL is deliberately
    * dirty (uppercase scheme/host, default port, unsorted query) and
    * the head plants one election class per residue — an absolute
    * `rel=canonical` shared by the id%4∈{0,2} pair (with a SECOND
    * decoy canonical on id%8=0 that must lose to the first, and a
    * stylesheet link that must never win), a ROOTED-relative canonical
    * on id%8=4 (resolves against the dirty capture URL, then
    * normalizes), an `og:url` fallback with a tracking param on
    * id%4=1, an unresolvable `mailto:` canonical on id%16=3 (falls
    * through to self), and bare self on the rest. Docs then dedup by
    * the NORMALIZED canonical with min-id keeper election. The oracle
    * rebuilds every elected canonical closed-form and replays the
    * grouping. */
  def q171CanonicalDedup(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val base = concat(lit("HTTP://Site"), id % 5, lit(".Example:80/p/"),
      id, lit("?b=2&a=1"))
    val canonHref = when(id % 8 === 4, concat(lit("/c/"), id))
      .otherwise(concat(lit("https://canon.example/c/"), id - id % 4))
    val html = concat(
      lit("<html><head><link rel=\"stylesheet\" href=\"/css/x.css\">"),
      when(id % 16 === 3,
        lit("<link rel=\"canonical\" href=\"mailto:x@y.z\">"))
        .otherwise(lit("")),
      when(id % 4 === 0 || id % 4 === 2,
        concat(lit("<link rel=\"canonical\" href=\""), canonHref,
          lit("\">"))).otherwise(lit("")),
      when(id % 8 === 0, lit("<link rel=\"canonical\" href=\"/WRONG\">"))
        .otherwise(lit("")),
      when(id % 4 === 1, concat(
        lit("<meta property=\"og:url\" content=\"https://canon.example/og/"),
        id, lit("?utm_source=t&z=1\">"))).otherwise(lit("")),
      lit("</head><body><p>body</p></body></html>"))
    val pages = Tables.documents(s, d).select(id, base.as("u"), html.as("h"))
    val c = LinkGraph.canonicalUrls(pages, col("doc_id"), col("u"),
      col("h"))
    val keepers = c.groupBy("canonical")
      .agg(min(col("doc_id")).as("keeper_id"))
    c.join(keepers, Seq("canonical"))
      .select(col("doc_id"), col("canon_src"), col("canonical"),
        col("keeper_id"),
        (col("doc_id") =!= col("keeper_id")).cast("long").as("is_dup"))
      .orderBy("doc_id")
  }

  /** q171: canonical dedup — every elected canonical rebuilt
    * closed-form (the %8=4 rooted form normalizes to the page's own
    * lowercased host, the shared absolute form keys the %4∈{0,2} pair,
    * og drops the tracking param, mailto falls through to the
    * normalized self URL), then the min-id keeper election replayed by
    * GROUP BY — no id-density assumption. */
  def q171Sql = """
    WITH c AS (SELECT doc_id,
      CASE WHEN doc_id % 4 IN (0, 2) THEN 'canonical'
           WHEN doc_id % 4 = 1 THEN 'og:url'
           ELSE 'self' END AS canon_src,
      CASE WHEN doc_id % 8 = 4
             THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
                  '.example/c/' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 4 IN (0, 2)
             THEN 'https://canon.example/c/' ||
                  CAST(doc_id - doc_id % 4 AS VARCHAR)
           WHEN doc_id % 4 = 1
             THEN 'https://canon.example/og/' ||
                  CAST(doc_id AS VARCHAR) || '?z=1'
           ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
                '.example/p/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
           END AS canonical
      FROM documents),
    k AS (SELECT canonical, min(doc_id) AS keeper_id FROM c GROUP BY 1)
    SELECT c.doc_id, c.canon_src, c.canonical,
           CAST(k.keeper_id AS BIGINT) AS keeper_id,
           CAST(CASE WHEN c.doc_id = k.keeper_id THEN 0 ELSE 1 END
                AS BIGINT) AS is_dup
    FROM c JOIN k USING (canonical) ORDER BY c.doc_id"""

  /** The q172 WARC dir: the q144 trap page with a HEAD canonical plant
    * per residue — id%4∈{0,2} declares an absolute `rel=canonical`
    * shared by the {4k, 4k+2} pair, id%4=1 declares an `og:url` with a
    * tracking param, id%4=3 declares nothing (self) — so the
    * declared-canonical dedup stage has real cross-document groups to
    * collapse. Body identical to [[crawlWarcDir]]'s (head links/metas
    * contribute no text), so the boilerplate/C4 replay is q160's.
    * Cached per fixture signature. */
  private def crawlWarcV3Dir(s: SparkSession, d: String): String =
    ArtifactCache.dir(s, "warcv3", d, "documents") { tmp =>
      val id = col("doc_id")
      val esc = regexp_replace(regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")),
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val headPlant = concat(
        when(id % 4 === 0 || id % 4 === 2,
          concat(lit("<link rel=\"canonical\" href=\"https://dup.example/c/"),
            id - id % 4, lit("\">"))).otherwise(lit("")),
        when(id % 4 === 1,
          concat(lit("<meta property=\"og:url\" content=\"https://og.example/p/"),
            id, lit("?utm_source=s\">"))).otherwise(lit("")))
      val html = concat(
        lit("<!DOCTYPE html><html><HEAD><title>Doc "), id,
        lit("</title>"), headPlant,
        lit("<style>body{color:red}</style>" +
          "<script>if(1<2){var x=\"</div>\";}</script></HEAD>" +
          "<BODY><!-- <p>ghost</p> --><P class=\"intro\">"),
        esc,
        lit(" Fish &amp; Chips &lt;deal&gt; &#8364;5 &#xA0;now.</P>" +
          "<div><a href=\"/x?q=1>2\" class='y>z'>anchor text</a></div>" +
          "<ul><li>item one</li><li>item two</li></ul></BODY></html>"))
      WarcSources.writeWarc(
        Tables.fanOut(Tables.documents(s, d), col("doc_id")).select(
          lit("response").as("record_type"),
          concat(lit("https://example.com/doc/"), id).as("url"),
          lit("2024-05-01T00:00:00Z").as("date"),
          lit("text/html").as("content_type"),
          concat(lit("<urn:uuid:v"), id, lit(">")).as("warc_record_id"),
          encode(html, "UTF-8").as("content")),
        tmp, layoutCols = Seq("url"))
    }

  /** q172's discovery side: one synthesized sitemap per registered
    * domain advertising the NORMALIZED planted URL of every id%3=0 doc
    * (XML-escaped locs, spec-shaped `<urlset>` files), parsed back
    * through [[Sitemaps.entries]] and deduplicated into the seed set —
    * the q170 machinery serving the pipeline instead of a standalone
    * demo. The per-domain XML synthesis (collect_list) is FIXTURE code:
    * a real run reads sitemap files fetched by the crawler; the
    * spec's 50k-entry/50 MB file cap keeps each file driver-safe. */
  private def q172AdvertisedLocs(s: SparkSession, d: String): DataFrame = {
    val u = plantedUrl(col("doc_id"))
    val locs = Tables.documents(s, d)
      .filter(col("doc_id") % 3 === 0)
      .select(Urls.registeredDomain(u).as("dom"),
        regexp_replace(Urls.normalizeUrl(u), "&", "&amp;").as("eloc"))
      .distinct()
    val xml = locs.groupBy("dom")
      .agg(concat_ws("", sort_array(collect_list(
        concat(lit("  <url><loc>"), col("eloc"), lit("</loc></url>\n")))))
        .as("body"))
      .select(
        when(col("dom") === "example.com", 0L)
          .when(col("dom") === "example.co.uk", 1L)
          .when(col("dom") === "badsite.com", 2L)
          .when(col("dom") === "example.org", 3L)
          .otherwise(4L).as("site"),
        concat(lit("<?xml version=\"1.0\"?>\n<urlset>\n"), col("body"),
          lit("</urlset>")).as("x"))
    Sitemaps.entries(xml, col("site"), col("x"))
      .filter(col("kind") === "url")
      .select(col("loc")).distinct()
  }

  /** q172: the crawl-to-corpus pipeline, THIRD GENERATION — q160's
    * chain with the two round-12 politeness/dedup operators composed in
    * as real stages (the r12→r13 "operator exists, pipeline doesn't see
    * it" fix, same pattern q165 applied to the link graph):
    *
    *  1. DISCOVERY ([[Sitemaps]]): per-domain sitemap files advertise
    *     the normalized planted URL of every id%3=0 doc; the seed set
    *     (parsed + entity-decoded + deduplicated) left-joins each
    *     capture's normalized URL into an `advertised` flag — coverage
    *     provenance that rides the whole chain. Membership is by URL
    *     FORM, not id: the m7=0 path-less classes collide after
    *     normalization, so an unadvertised doc sharing an advertised
    *     doc's normalized URL is advertised too (the oracle replays
    *     this with an EXISTS-by-norm, not id arithmetic).
    *  2. ADMISSION ([[Robots.filterAllowed]] with the known 4-row
    *     fixture passed as `robotsSizeHint` — zero sizing jobs) +
    *     blocklist decontamination, exactly q160's stages.
    *  3. DECLARED-CANONICAL DEDUP ([[LinkGraph.canonicalUrls]]): the
    *     cheap site-declared signal spent BEFORE any content machinery
    *     — election (first `rel=canonical`, else `og:url` sans tracking
    *     params, else normalized self), min-id keeper per canonical
    *     form, `n_variants` recording each collapsed group's size. Only
    *     keepers proceed — at crawl scale this is the stage that stops
    *     mirror URLs from ever reaching boilerplate/fingerprint cost.
    *  4. BOILERPLATE + C4 + exact content dedup over the canonical
    *     keepers — q160's tail unchanged, so content keeper ids differ
    *     from q160 wherever a duplicate's min-id doc lost the canonical
    *     election.
    *
    * The oracle replays every stage closed-form; a defect in sitemap
    * parsing, URL normalization, robots groups, canonical election,
    * block density, the line filter, or either keeper election breaks
    * it. */
  def q172CrawlPipelineV3(s: SparkSession, d: String): DataFrame = {
    val dir = crawlWarcV3Dir(s, d)
    val recs = WarcSources.readWarc(s, dir)
      .filter(col("error").isNull && col("record_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
        decode(col("content"), "UTF-8").as("html"))
      .withColumn("curl", plantedUrl(col("id")))
    val adv = q172AdvertisedLocs(s, d)
      .select(col("loc").as("__norm"), lit(1L).as("advertised"))
    // pinned: the q160 convention — filterAllowed reads this twice, and
    // each unpinned recompute re-pays the WARC decode + sitemap join
    val flagged = CheckpointPolicy.pin(
      recs.withColumn("__norm", Urls.normalizeUrl(col("curl")))
        .join(adv, Seq("__norm"), "left")
        .select(col("id"), col("html"), col("curl"),
          coalesce(col("advertised"), lit(0L)).as("advertised")))
    val allowed = Robots.filterAllowed(flagged, col("id"), col("curl"),
      plantedRobots(s), col("domain"), col("robots_txt"),
      agent = "GraftBot", robotsSizeHint = Some(plantedRobotsTxt.size.toLong))
    // pinned: feeds the canonical election AND the keeper join-back
    val kept = CheckpointPolicy.pin(
      Urls.decontaminateByDomain(allowed, col("curl"), Seq("badsite.com")))
    val canon = LinkGraph.canonicalUrls(kept, col("id"), col("curl"),
      col("html"))
    val groups = canon.groupBy("canonical")
      .agg(min(col("doc_id")).as("__ck"), count(lit(1)).as("n_variants"))
    val elected = canon.join(groups, Seq("canonical"))
      .filter(col("doc_id") === col("__ck"))
      .select(col("doc_id").as("__kid"), col("canon_src"),
        col("canonical"), col("n_variants"))
    // pinned: feeds the content stages AND the final attribute join
    val keeperPages = CheckpointPolicy.pin(
      kept.join(elected, col("id") === col("__kid")))
    val cleanDocs = Boilerplate.cleanText(Boilerplate.classify(
      Boilerplate.blocks(keeperPages.select(col("id"), col("html")),
        col("id"), col("html")),
      minWords = 5, maxLinkDensity = 0.33))
    // pinned: the q146/q160 convention — clean feeds the keeper election
    // and the join-back; unpinned it recomputes boilerplate + line filter
    val clean = CheckpointPolicy.pin(QualityRules.c4LineFilter(cleanDocs,
      col("doc_id"), col("text_clean"), minWords = 3, banned = Seq.empty))
    val keepers = clean.groupBy("text_clean")
      .agg(min(col("doc_id")).as("keeper_id"))
    clean.join(keepers, Seq("text_clean"))
      .join(keeperPages.select(col("__kid"), col("advertised"),
        col("canon_src"), col("canonical"), col("n_variants")),
        col("doc_id") === col("__kid"))
      .select(col("doc_id"), col("advertised"), col("canon_src"),
        col("canonical"), col("n_variants"), col("n_lines"),
        col("n_kept"), md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
      .orderBy("doc_id")
  }

  /** q172: crawl pipeline v3 — q160's replay with the two composed
    * round-12 stages rebuilt closed-form: the advertised flag is an
    * EXISTS over normalized-URL equality against the id%3=0 seed set
    * (URL form, not id — the m7=0 path-less classes collide after
    * normalization); the canonical election per residue (shared
    * absolute canonical on %4∈{0,2}, og:url sans tracking on %4=1,
    * normalized self on %4=3) groups the robots+blocklist SURVIVORS
    * with min-id keeper + n_variants; boilerplate/C4 pin to the q160
    * one-line outcome; content keeper election runs over canonical
    * keepers only. */
  def q172Sql = """
    WITH nu AS (SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        (CASE WHEN doc_id % 5 = 0 THEN 'news.example.com'
              WHEN doc_id % 5 = 1 THEN 'blog.example.co.uk'
              WHEN doc_id % 5 = 2 THEN 'spam.badsite.com'
              WHEN doc_id % 5 = 3 THEN 'example.org'
              ELSE 'cdn.site.com' END) ||
        (CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
        (CASE WHEN doc_id % 7 = 0 THEN '/'
              ELSE '/a/' || CAST(doc_id AS VARCHAR) END) ||
        (CASE WHEN doc_id % 4 IN (0, 1) THEN '?a=1&b=2' ELSE '' END)
          AS norm
      FROM documents),
    af AS (SELECT n.doc_id,
        CASE WHEN n.norm IN (SELECT norm FROM nu WHERE doc_id % 3 = 0)
             THEN 1 ELSE 0 END AS advertised
      FROM nu n),
    a AS (SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN
               CASE WHEN doc_id % 7 = 0 THEN 1
                    WHEN substr(CAST(doc_id AS VARCHAR), 1, 1) = '1' THEN 1
                    ELSE 0 END
             WHEN doc_id % 5 = 1 THEN
               CASE WHEN doc_id % 7 <> 0 AND (doc_id % 4 IN (0, 1)
                      OR (doc_id % 4 = 3 AND doc_id % 10 = 1))
                    THEN 0 ELSE 1 END
             WHEN doc_id % 5 = 2 THEN 0
             ELSE 1 END AS allowed
      FROM documents),
    surv AS (SELECT doc_id FROM a
      WHERE allowed = 1 AND doc_id % 5 <> 2),
    canon AS (SELECT s.doc_id,
        CASE WHEN s.doc_id % 4 IN (0, 2) THEN 'canonical'
             WHEN s.doc_id % 4 = 1 THEN 'og:url' ELSE 'self' END
          AS canon_src,
        CASE WHEN s.doc_id % 4 IN (0, 2)
               THEN 'https://dup.example/c/' ||
                    CAST(s.doc_id - s.doc_id % 4 AS VARCHAR)
             WHEN s.doc_id % 4 = 1
               THEN 'https://og.example/p/' || CAST(s.doc_id AS VARCHAR)
             ELSE n.norm END AS canonical
      FROM surv s JOIN nu n USING (doc_id)),
    ck AS (SELECT canonical, min(doc_id) AS ckeeper,
             count(*) AS n_variants
           FROM canon GROUP BY 1),
    base AS (SELECT c.doc_id, c.canon_src, c.canonical, k.n_variants,
        ltrim(trim(coalesce(d.text, '')) || ' Fish & Chips <deal> ' ||
          chr(8364) || '5 ' || chr(160) || 'now.') AS pline
      FROM canon c JOIN ck k USING (canonical)
      JOIN documents d ON d.doc_id = c.doc_id
      WHERE c.doc_id = k.ckeeper),
    tk AS (SELECT pline, min(doc_id) AS keeper_id FROM base GROUP BY 1)
    SELECT b.doc_id, CAST(af.advertised AS BIGINT) AS advertised,
           b.canon_src, b.canonical,
           CAST(b.n_variants AS BIGINT) AS n_variants,
           CAST(1 AS BIGINT) AS n_lines, CAST(1 AS BIGINT) AS n_kept,
           md5(b.pline) AS clean_md5,
           CAST(tk.keeper_id AS BIGINT) AS keeper_id,
           CAST(CASE WHEN b.doc_id = tk.keeper_id THEN 1 ELSE 0 END
                AS BIGINT) AS is_keeper
    FROM base b JOIN tk USING (pline) JOIN af ON af.doc_id = b.doc_id
    ORDER BY b.doc_id"""

  /** q174: sitemap coverage audit ([[Sitemaps.coverageAudit]]) — the
    * advertised-vs-captured reconciliation over the q170 plant: the
    * advertised side is the REAL parse of q170's per-doc sitemaps (url
    * entries only — index children and the missing-loc quarantine stay
    * out), the captured side plants a DIRTY half-coverage crawl (even
    * ids captured their entry-0 URL with uppercase scheme/host — the
    * normalization join the audit exists for — all fetched 2024-03-15)
    * plus an unadvertised capture class (%9=0 → `/c/` URLs). Statuses:
    * entry-0 URLs split both/advertised_only on id parity (and the %11=5
    * sitemapindex docs' captures are captured_only — nothing advertised
    * them), entry-1 URLs are advertised_only, `/c/` captured_only;
    * `stale` fires exactly on captured entry-0 rows whose planted
    * lastmod month exceeds March (d9 ≥ 3 — the string-date compare).
    * The oracle rebuilds every row and both flags closed-form. */
  def q174SitemapCoverage(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ent = Sitemaps.entries(
      Tables.documents(s, d).select(id, q170SitemapXml(id).as("x")),
      col("doc_id"), col("x"))
    val adv = ent.filter(col("kind") === "url")
      .select(col("loc"), col("lastmod"))
    val domUpper = upper(q170Domain(id))
    val captured = Tables.documents(s, d).filter(id % 2 === 0)
      .select(concat(lit("HTTPS://"), domUpper, lit("/a/1?p="), id)
        .as("curl"), lit("2024-03-15").as("fetched"))
      .unionByName(Tables.documents(s, d).filter(id % 9 === 0)
        .select(concat(lit("https://"), q170Domain(id), lit("/c/"), id)
          .as("curl"), lit("2024-03-15").as("fetched")))
    Sitemaps.coverageAudit(adv, col("loc"), col("lastmod"),
        captured, col("curl"), col("fetched"))
      .orderBy("url")
  }

  /** q174: sitemap coverage audit — advertised side rebuilt from the
    * q170 urlset arithmetic (d11≠5 docs, entries 0 and 1; the entity
    * in entry 1's loc decodes; index docs advertise nothing), captured
    * side from the parity/`%9` plants with normalization folded in
    * (uppercase scheme/host lowers to the advertised form), one FULL
    * OUTER join, and the stale rule as a string-date compare (planted
    * month > March ⟺ d9 ≥ 3). */
  def q174Sql = """
    WITH t AS (SELECT doc_id, doc_id % 9 AS d9, doc_id % 3 AS d3,
        doc_id % 11 AS d11,
        CASE WHEN doc_id % 5 = 0 THEN 'example.com'
             WHEN doc_id % 5 = 1 THEN 'example.co.uk'
             WHEN doc_id % 5 = 2 THEN 'badsite.com'
             WHEN doc_id % 5 = 3 THEN 'example.org'
             ELSE 'site.com' END AS dom
      FROM documents),
    adv AS (
      SELECT 'https://' || dom || '/a/1?p=' || CAST(doc_id AS VARCHAR)
               AS url, dom,
             '2024-0' || CAST(d9 + 1 AS VARCHAR) || '-1' ||
               CAST(d3 AS VARCHAR) AS lastmod
      FROM t WHERE d11 <> 5
      UNION ALL
      SELECT 'https://' || dom || '/b/' || CAST(doc_id AS VARCHAR) ||
               '?x=1&y=2', dom, ''
      FROM t WHERE d11 <> 5),
    cap AS (
      SELECT 'https://' || dom || '/a/1?p=' || CAST(doc_id AS VARCHAR)
               AS url, dom
      FROM t WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 'https://' || dom || '/c/' || CAST(doc_id AS VARCHAR), dom
      FROM t WHERE d9 = 0)
    SELECT coalesce(a.url, c.url) AS url,
           coalesce(a.dom, c.dom) AS domain,
           CASE WHEN a.url IS NOT NULL AND c.url IS NOT NULL THEN 'both'
                WHEN a.url IS NOT NULL THEN 'advertised_only'
                ELSE 'captured_only' END AS status,
           CAST(CASE WHEN a.url IS NOT NULL AND c.url IS NOT NULL
                      AND a.lastmod <> '' AND a.lastmod > '2024-03-15'
                 THEN 1 ELSE 0 END AS BIGINT) AS stale
    FROM adv a FULL OUTER JOIN cap c ON a.url = c.url
    ORDER BY url"""

  /** The q178 robots fixture — one `Crawl-delay` shape per domain:
    * example.com declares 10 in its `*` group; example.co.uk's GraftBot
    * group declares it TWICE (2.5 and 4 — the smallest wins) and its
    * `*` group's 99 must be shadowed; badsite.com's value is
    * non-numeric (skipped → default); example.org declares none;
    * site.com has no robots row at all. */
  private def q178Robots(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("example.com",
        "User-agent: *\nDisallow: /private/\nCrawl-delay: 10\n"),
      ("example.co.uk",
        "User-agent: GraftBot\nCrawl-delay: 2.5\ncrawl-delay: 4\n" +
        "\nUser-agent: *\nCrawl-delay: 99\n"),
      ("badsite.com",
        "User-agent: *\nCrawl-delay: oops\n"),
      ("example.org",
        "User-agent: graftbot\nDisallow:\n")
    ).toDF("domain", "robots_txt")
  }

  /** q178: politeness-scheduled crawl frontier ([[Frontier.schedule]])
    * — the stage between admission and the fetcher fleet: per-domain
    * fetch slots over [[plantedUrl]]'s URL grid, delays from the q178
    * robots fixture (group precedence, smallest repeated value,
    * invalid→default, missing-robots default — every extraction shape
    * planted), `fetch_at = slot × delay`. The oracle replays the
    * domain grid, the per-domain slot window, the delay decision
    * table, and the product closed-form. */
  def q178CrawlFrontier(s: SparkSession, d: String): DataFrame =
    Frontier.schedule(
      Tables.documents(s, d)
        .select(col("doc_id"), plantedUrl(col("doc_id")).as("url")),
      col("doc_id"), col("url"),
      q178Robots(s), col("domain"), col("robots_txt"), agent = "GraftBot")
      .orderBy("doc_id")

  /** q178: crawl frontier — the plantedUrl domain grid, the per-domain
    * slot window, the delay decision table (10 from the `*` group,
    * 2.5 as the smallest of the GraftBot group's repeated values with
    * the `*` group's 99 shadowed, defaults for the invalid / silent /
    * missing classes), and `fetch_at` as the literal product. */
  def q178Sql = """
    WITH t AS (SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN 'example.com'
             WHEN doc_id % 5 = 1 THEN 'example.co.uk'
             WHEN doc_id % 5 = 2 THEN 'badsite.com'
             WHEN doc_id % 5 = 3 THEN 'example.org'
             ELSE 'site.com' END AS domain
      FROM documents),
    r AS (SELECT doc_id, domain,
        row_number() OVER (PARTITION BY domain ORDER BY doc_id) - 1
          AS slot
      FROM t)
    SELECT doc_id, domain, CAST(slot AS BIGINT) AS slot,
           CASE WHEN domain = 'example.com' THEN 10.0
                WHEN domain = 'example.co.uk' THEN 2.5
                ELSE 1.0 END AS delay,
           slot * (CASE WHEN domain = 'example.com' THEN 10.0
                        WHEN domain = 'example.co.uk' THEN 2.5
                        ELSE 1.0 END) AS fetch_at
    FROM r ORDER BY doc_id"""

  /** q180: the RECRAWL WAVE — the politeness trio composed end-to-end:
    * [[Sitemaps.coverageAudit]] (q174's advertised-vs-captured frame)
    * decides WHAT to fetch — advertised-but-never-captured URLs plus
    * captured URLs whose declared lastmod postdates their fetch — and
    * [[Frontier.schedule]] decides WHEN, slotting the wave per domain
    * under the q178 robots crawl-delays. Discovery → audit → frontier:
    * each stage individually gated (q170/q174/q178), chained here
    * through real frames. URLs order by their normalized form within a
    * domain (the audit's key — a deterministic priority stand-in), via
    * a dense per-domain id assigned by the same bounded window the
    * scheduler uses. The oracle replays the audit selection, the
    * delay table, and the slot arithmetic closed-form. */
  def q180RecrawlWave(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ent = Sitemaps.entries(
      Tables.documents(s, d).select(id, q170SitemapXml(id).as("x")),
      col("doc_id"), col("x"))
    val adv = ent.filter(col("kind") === "url")
      .select(col("loc"), col("lastmod"))
    val domUpper = upper(q170Domain(id))
    val captured = Tables.documents(s, d).filter(id % 2 === 0)
      .select(concat(lit("HTTPS://"), domUpper, lit("/a/1?p="), id)
        .as("curl"), lit("2024-03-15").as("fetched"))
      .unionByName(Tables.documents(s, d).filter(id % 9 === 0)
        .select(concat(lit("https://"), q170Domain(id), lit("/c/"), id)
          .as("curl"), lit("2024-03-15").as("fetched")))
    val due = Sitemaps.coverageAudit(adv, col("loc"), col("lastmod"),
        captured, col("curl"), col("fetched"))
      .filter(col("status") === "advertised_only" || col("stale") === 1L)
    // the scheduler keys slots by an id; the wave's priority is the
    // URL's lexicographic order within its domain (deterministic), so
    // assign a dense per-domain id first (same bounded-window shape)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy("url")
    val keyed = due.withColumn("wid", row_number().over(w).cast("long"))
    Frontier.schedule(keyed, col("wid"), col("url"),
        q178Robots(s), col("domain"), col("robots_txt"),
        agent = "GraftBot")
      .join(keyed.select(col("wid").as("__w"), col("domain").as("__d"),
        col("url"), col("status"), col("stale")),
        col("doc_id") === col("__w") && col("domain") === col("__d"))
      .select(col("url"), col("domain"), col("status"), col("stale"),
        col("slot"), col("delay"), col("fetch_at"))
      .orderBy("url")
  }

  /** q180: recrawl wave — the q174 audit replay filtered to the due
    * set (advertised-never-captured ∪ stale captures), then the q178
    * slot window per domain ordered by URL and the delay decision
    * table; fetch_at the literal product. */
  def q180Sql = """
    WITH t AS (SELECT doc_id, doc_id % 9 AS d9, doc_id % 3 AS d3,
        doc_id % 11 AS d11,
        CASE WHEN doc_id % 5 = 0 THEN 'example.com'
             WHEN doc_id % 5 = 1 THEN 'example.co.uk'
             WHEN doc_id % 5 = 2 THEN 'badsite.com'
             WHEN doc_id % 5 = 3 THEN 'example.org'
             ELSE 'site.com' END AS dom
      FROM documents),
    adv AS (
      SELECT 'https://' || dom || '/a/1?p=' || CAST(doc_id AS VARCHAR)
               AS url, dom,
             '2024-0' || CAST(d9 + 1 AS VARCHAR) || '-1' ||
               CAST(d3 AS VARCHAR) AS lastmod
      FROM t WHERE d11 <> 5
      UNION ALL
      SELECT 'https://' || dom || '/b/' || CAST(doc_id AS VARCHAR) ||
               '?x=1&y=2', dom, ''
      FROM t WHERE d11 <> 5),
    cap AS (
      SELECT 'https://' || dom || '/a/1?p=' || CAST(doc_id AS VARCHAR)
               AS url, dom
      FROM t WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 'https://' || dom || '/c/' || CAST(doc_id AS VARCHAR), dom
      FROM t WHERE d9 = 0),
    au AS (SELECT coalesce(a.url, c.url) AS url,
             coalesce(a.dom, c.dom) AS domain,
             CASE WHEN a.url IS NOT NULL AND c.url IS NOT NULL THEN 'both'
                  WHEN a.url IS NOT NULL THEN 'advertised_only'
                  ELSE 'captured_only' END AS status,
             CASE WHEN a.url IS NOT NULL AND c.url IS NOT NULL
                   AND a.lastmod <> '' AND a.lastmod > '2024-03-15'
              THEN 1 ELSE 0 END AS stale
           FROM adv a FULL OUTER JOIN cap c ON a.url = c.url),
    due AS (SELECT * FROM au
            WHERE status = 'advertised_only' OR stale = 1),
    r AS (SELECT url, domain, status, stale,
            row_number() OVER (PARTITION BY domain ORDER BY url) - 1
              AS slot
          FROM due)
    SELECT url, domain, status, CAST(stale AS BIGINT) AS stale,
           CAST(slot AS BIGINT) AS slot,
           CASE WHEN domain = 'example.com' THEN 10.0
                WHEN domain = 'example.co.uk' THEN 2.5
                ELSE 1.0 END AS delay,
           slot * (CASE WHEN domain = 'example.com' THEN 10.0
                        WHEN domain = 'example.co.uk' THEN 2.5
                        ELSE 1.0 END) AS fetch_at
    FROM r ORDER BY url"""

  /** The q182 robots fixture over the q165 crawl's TARGET domains:
    * news.example declares a GraftBot delay (5); shop.example's GraftBot
    * group holds ONLY an empty `Disallow:` — it emits nothing, yet the
    * group's existence must shadow the `*` group's 99 (the delayFor
    * group-membership gate) → caller default; redir.example has no
    * robots row at all → default. */
  private def q182Robots(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("news.example", "User-agent: GraftBot\nCrawl-delay: 5\n"),
      ("shop.example",
        "User-agent: GraftBot\nDisallow:\n\nUser-agent: *\nCrawl-delay: 99\n")
    ).toDF("domain", "robots_txt")
  }

  /** q182: TRUST-PRIORITIZED recrawl frontier — the priority key
    * [[Frontier]] documents ("discovery order, PageRank, …") finally
    * fed by centrality, the composition a real recrawl planner runs:
    * each discovered target URL's priority is its ENDORSEMENT MASS —
    * the TrustRank of every endorsing source domain (q169's PPR over
    * the artifact-served q165 domain graph, [[servedQ165Edges]])
    * weighted by that domain's inlink count to the URL (the OPIC-style
    * "trusted hosts vouch for this page" signal; a link farm of
    * zero-trust hosts contributes exactly 0). Per fetch domain the
    * wave orders by (endorsement desc, url) into politeness slots under
    * the q182 robots delays — news.example's two targets make the
    * priority window live (the all-docs `static` URL outranks the
    * m∈{0,1} redirect-canonicalized `final0`), and shop.example's
    * empty-but-present GraftBot group gates the delayFor membership
    * fix. Intra-domain nav links never reach the wave (the domain
    * cut). The oracle unrolls the full 5-iteration PPR, rebuilds the
    * per-(source, target) residue counts, fences the endorsement sum
    * to 9 dp, and replays the slot window + delay decision table
    * closed-form.
    *
    * 100 TB shape: endorsement is one (sd, tgt)-keyed count aggregate
    * (map-side combined) joined to the domain-sized trust frame, then a
    * tgt-keyed sum; the slot window is per-domain bounded (the
    * [[Frontier.schedule]] argument) — no global sort, no driver state. */
  def q182TrustFrontier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seeds = Seq("site0.example", "site1.example").toDF("node")
    val trust = LinkAnalysis.personalizedPageRank(servedQ165Edges(s, d),
      seeds, iters = 5)
    // endorsement counts SERVED from the incremental artifact (r15: the
    // same q177 convention the PPR edges already ride) — the one-shot
    // form re-paid the whole extraction chain every run (~3.7 s of the
    // query at sf0.1) to rebuild counts the ingest batches already
    // aggregated; per-batch partials re-summed are digit-identical
    // (exact integers, LinkGraphSpec gates the equality)
    val perSrc = LinkGraph.servedSourceTargetCounts(s, linkArtifactFor(s, d))
    val endo = perSrc
      .join(trust.select(col("node").as("sd"), col("rank")), Seq("sd"))
      .groupBy(col("tgt").as("url"))
      .agg((floor(sum(col("rank") * col("c")) * lit(1e9) + lit(0.5))
        / lit(1e9)).as("endorsement"))
    // dense per-domain id in priority order — the q180 convention for
    // feeding a caller-defined priority through the scheduler's id key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy(desc("endorsement"), col("url"))
    // pinned: keyed feeds BOTH the scheduler and the attribute join-back —
    // unpinned, each branch recomputes the full q165 extraction + the PPR
    // trust join (measured ~4 s per recompute at sf0.1)
    val keyed = CheckpointPolicy.pin(
      endo
        .withColumn("domain", Urls.registeredDomain(col("url")))
        .withColumn("wid", row_number().over(w).cast("long")))
    Frontier.schedule(keyed, col("wid"), col("url"), q182Robots(s),
        col("domain"), col("robots_txt"), agent = "GraftBot")
      .join(keyed.select(col("wid").as("__w"), col("domain").as("__d"),
        col("url"), col("endorsement")),
        col("doc_id") === col("__w") && col("domain") === col("__d"))
      .select(col("url"), col("domain"), col("endorsement"),
        col("slot"), col("delay"), col("fetch_at"))
      .orderBy("url")
  }

  /** q182: trust-prioritized recrawl frontier — the q169 PPR unroll,
    * then per-target endorsement rebuilt from the residue classes (each
    * doc endorses its redirect-canonicalized hub class + the static
    * news URL; nav is intra-domain and dies on the edge cut), the 9-dp
    * endorsement fence, the per-domain (endorsement desc, url) slot
    * window, and the delay decision table: news declares 5 for
    * GraftBot; shop's GraftBot group exists but declares nothing (empty
    * Disallow) so the `*` group's 99 must NOT bind → default 1; redir
    * has no robots row → default 1. */
  def q182Sql: String = q169TrustCtes + """,
    pc AS (
      SELECT 'site' || CAST(k AS VARCHAR) || '.example' AS sd,
             CASE WHEN m IN (0, 1) THEN 'https://news.example/final0'
                  WHEN m = 2 THEN 'https://redir.example/r2'
                  ELSE 'https://shop.example/final3' END AS tgt
      FROM b
      UNION ALL
      SELECT 'site' || CAST(k AS VARCHAR) || '.example',
             'https://news.example/static'
      FROM b),
    pcc AS (SELECT sd, tgt, CAST(count(*) AS DOUBLE) AS c
            FROM pc GROUP BY 1, 2),
    en AS (SELECT p.tgt AS url,
             floor(sum(r.rnk * p.c) * 1e9 + 0.5) / 1e9 AS endorsement
           FROM pcc p JOIN r5 r ON r.node = p.sd GROUP BY p.tgt),
    wv AS (SELECT url, endorsement,
             CASE WHEN url LIKE 'https://news.example/%' THEN 'news.example'
                  WHEN url LIKE 'https://redir.example/%'
                    THEN 'redir.example'
                  ELSE 'shop.example' END AS domain
           FROM en),
    sl AS (SELECT url, domain, endorsement,
             row_number() OVER (PARTITION BY domain
                                ORDER BY endorsement DESC, url) - 1 AS slot
           FROM wv)
    SELECT url, domain, endorsement, CAST(slot AS BIGINT) AS slot,
           CASE WHEN domain = 'news.example' THEN 5.0 ELSE 1.0 END AS delay,
           slot * (CASE WHEN domain = 'news.example' THEN 5.0 ELSE 1.0 END)
             AS fetch_at
    FROM sl ORDER BY url"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q145_url_curation", q145UrlCuration, () => q145Sql),
    QuerySpec("q146_crawl_pipeline", q146CrawlPipeline, () => q146Sql),
    QuerySpec("q155_domain_cap", q155DomainCap, () => q155Sql),
    QuerySpec("q156_robots_filter", q156RobotsFilter, () => q156Sql),
    QuerySpec("q160_crawl_pipeline_v2", q160CrawlPipelineV2, () => q160Sql),
    QuerySpec("q170_sitemap_seeds", q170SitemapSeeds, () => q170Sql),
    QuerySpec("q171_canonical_dedup", q171CanonicalDedup, () => q171Sql),
    QuerySpec("q172_crawl_pipeline_v3", q172CrawlPipelineV3, () => q172Sql),
    QuerySpec("q174_sitemap_coverage", q174SitemapCoverage, () => q174Sql),
    QuerySpec("q178_crawl_frontier", q178CrawlFrontier, () => q178Sql),
    QuerySpec("q180_recrawl_wave", q180RecrawlWave, () => q180Sql),
    QuerySpec("q182_trust_frontier", q182TrustFrontier, () => q182Sql)
  )
}
