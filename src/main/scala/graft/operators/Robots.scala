package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt compliance — the crawl-curation stage BEFORE every other
  * URL filter: a responsible crawl pipeline must drop captures the site
  * owner disallowed, and retro-filtering an existing corpus by current
  * robots rules is a standard curation pass (the reference's
  * crawl-corpus north star in BASELINE.json implies exactly this
  * admission gate next to the blocklist one in [[Urls]]).
  *
  * From-scratch implementation of the public Robots Exclusion Protocol
  * (RFC 9309 + the de-facto Google REP extensions):
  *
  *  - line-based parse: `#` comments strip, keys (`user-agent`,
  *    `allow`, `disallow`, `crawl-delay`) match case-insensitively,
  *    unknown directives (`sitemap`, `host`, …) are ignored (`Sitemap:`
  *    is read file-wide by [[Sitemaps.sitemapRefs]]; `Crawl-delay` is
  *    group-scoped here and feeds [[Frontier.schedule]]);
  *  - GROUP semantics: consecutive `user-agent` lines head one group
  *    and share its rules; a `user-agent` line after a rule line starts
  *    a new group; rules before any group are ignored; empty-valued
  *    `allow`/`disallow` lines are no-ops (RFC 9309 §2.2.2);
  *  - group selection: the groups whose agent token equals the
  *    crawler's product token (case-insensitive) win; only when none
  *    match do the `*` groups apply (documented simplification of
  *    Google's longest-prefix product-token match — exact-token is the
  *    RFC baseline);
  *  - rule matching: patterns anchor at the start of the match target
  *    (URI path, plus `?query` when present — the Google matcher's
  *    target), `*` matches any char run, a trailing `$` anchors the
  *    end; the LONGEST (octet-length) matching pattern decides, and an
  *    `allow` wins a length tie (RFC 9309 §2.2.2: least restrictive);
  *    no matching rule → allowed.
  *
  * Scale: robots.txt data is one small text per authority while the URL
  * side is the crawl — but the NUMBER of authorities scales with the
  * crawl (a CommonCrawl-sized corpus holds tens of millions of
  * registrable domains, so the parsed rule arrays are tens of GB). The
  * join strategy is therefore SIZE-AWARE: [[verdicts]] parses the
  * robots side behind a typed map and broadcasts the per-domain rule
  * arrays only while the domain count fits `broadcastMaxDomains`
  * (default 250k — parsed rule arrays average ~1 KB, so the broadcast
  * stays ≈250 MB, inside executor comfort); above it the hint is
  * dropped and a plain domain-keyed equi-join carries the big case
  * (AQE picks the physical join from runtime sizes). Either way the
  * URL side carries only (domain, match target) fixed-width columns
  * into the join — never the text. The wildcard matcher is hand-rolled
  * (greedy earliest-occurrence segment scan — optimal for `*`-only
  * wildcards), not a per-row regex compile.
  *
  * Scoping: RFC 9309 scopes robots.txt per ORIGIN (scheme+host+port).
  * The join key here is whatever the caller supplies on the robots side
  * (`domainCol`) paired with `urlKey` on the URL side — pass
  * `Urls.host` for per-host RFC scoping, or keep the default
  * [[Urls.registeredDomain]], a documented SIMPLIFICATION (like the
  * exact-token group selection) that applies one rule set across
  * sibling hosts of a registrable domain — the right key when the
  * robots fixture itself is domain-grained.
  *
  * q156 gates the whole stage against a closed-form DuckDB replay of
  * the planted rule semantics (longest-match, tie→allow, `$`+query
  * interplay, group precedence, missing-robots default).
  */
object Robots {

  /** One parsed rule: the agent token of its group head, allow/disallow,
    * and the raw path pattern. */
  final case class Rule(agent: String, allow: Boolean, pattern: String)

  // ------------------------------------------------------------------
  // parser
  // ------------------------------------------------------------------

  /** One robots.txt's parsed directives: admission rules plus the
    * group-scoped `Crawl-delay` values (agent token → seconds) — the
    * de-facto Bing/Yandex politeness extension (not in RFC 9309;
    * Google ignores it — we honor it as a fetch-rate floor, the
    * [[Frontier]] consumer). */
  /** `agents` records every token that headed a group, independently of
    * whether that group EMITTED anything (an exact group holding only an
    * empty-valued `Disallow:` — "no restriction" — emits no rule and no
    * delay, yet its existence must still shadow the `*` group for
    * [[delayFor]]'s group precedence). Lowercased. */
  final case class Directives(rules: Seq[Rule],
                              delays: Seq[(String, Double)],
                              agents: Set[String])

  /** Parse one robots.txt payload into its rule list (group structure
    * flattened into per-agent rules — see class doc). Total: never
    * throws; unparseable lines are skipped. */
  def parse(txt: String): Seq[Rule] = parseAll(txt).rules

  /** The full directive parse behind [[parse]]: one group walk emits
    * rules AND crawl-delays (a delay line is a group-body line, so —
    * like a rule — it closes agent accumulation: a `user-agent` after
    * it starts a NEW group). Non-numeric/negative delay values skip. */
  def parseAll(txt: String): Directives = {
    val s = if (txt == null) "" else txt
    val out = Seq.newBuilder[Rule]
    val dl = Seq.newBuilder[(String, Double)]
    val heads = Set.newBuilder[String] // every group-head token seen
    var agents = List.empty[String] // current group head, reverse order
    var sawRule = false
    s.split("\n", -1).foreach { raw =>
      val noComment = {
        val h = raw.indexOf('#')
        if (h < 0) raw else raw.substring(0, h)
      }
      val line = noComment.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (sawRule) { agents = Nil; sawRule = false }
            if (value.nonEmpty) { agents ::= value; heads += value.toLowerCase }
          case "allow" | "disallow" =>
            if (agents.nonEmpty) {
              sawRule = true
              // empty value = no restriction (RFC 9309): emit nothing
              if (value.nonEmpty)
                agents.foreach(a => out += Rule(a, key == "allow", value))
            }
          case "crawl-delay" =>
            if (agents.nonEmpty) {
              sawRule = true
              val v = try value.toDouble
                      catch { case _: NumberFormatException => -1.0 }
              if (v >= 0) agents.foreach(a => dl += (a -> v))
            }
          case _ => () // sitemap, host, …: ignored
        }
      }
    }
    Directives(out.result(), dl.result(), heads.result())
  }

  /** The rules that bind `agent`: exact-token groups when any exist,
    * else the `*` groups. */
  def rulesFor(rules: Seq[Rule], agent: String): Seq[Rule] = {
    val specific = rules.filter(_.agent.equalsIgnoreCase(agent))
    if (specific.nonEmpty) specific else rules.filter(_.agent == "*")
  }

  /** Group-membership-aware [[rulesFor]] (RFC 9309 §2.2.1 group
    * selection — one group's directives travel together, the same
    * contract [[delayFor]] applies to delays): when the agent has an
    * exact-token group anywhere in the file — even one whose only body
    * line is an empty `Disallow:`, which emits NO rule — only that
    * group's rules bind. An exact group that declares nothing yields
    * the EMPTY rule set (allow-all), never the `*` group's rules. The
    * Seq[Rule] overload can't see empty groups (membership inferred
    * from emitted rules only) — the allow/deny paths use this one. */
  def rulesFor(d: Directives, agent: String): Seq[Rule] =
    if (d.agents.contains(agent.toLowerCase))
      d.rules.filter(_.agent.equalsIgnoreCase(agent))
    else d.rules.filter(_.agent == "*")

  /** The crawl delay binding `agent` — the [[rulesFor]] group
    * precedence applied to the WHOLE group, not just its delays: when
    * the agent has an exact-token group anywhere in the file (recorded
    * as a group HEAD at parse time — even a group that emits no rule
    * and no delay counts), only that group's delays bind —
    * an exact group that declares none yields None, never the `*`
    * group's (one group's directives travel together). The SMALLEST
    * declared value wins when a selected group repeats the directive
    * (conservative: the slowest promise). */
  def delayFor(d: Directives, agent: String): Option[Double] = {
    // membership comes from the recorded group HEADS, not from emitted
    // rules/delays: a group whose only body line is an empty `Disallow:`
    // emits nothing, yet it still exists and shadows the `*` group
    val hasExact = d.agents.contains(agent.toLowerCase)
    val selected =
      if (hasExact) d.delays.filter(_._1.equalsIgnoreCase(agent))
      else d.delays.filter(_._1 == "*")
    if (selected.isEmpty) None else Some(selected.map(_._2).min)
  }

  // ------------------------------------------------------------------
  // matcher
  // ------------------------------------------------------------------

  /** Does `pattern` match `target`? Anchored at the start; `*` matches
    * any run; trailing `$` anchors the end. Greedy earliest-occurrence
    * segment scan (optimal for `*`-only wildcard languages: taking each
    * middle literal at its earliest feasible position never blocks a
    * later one). */
  def matches(pattern: String, target: String): Boolean = {
    if (pattern.isEmpty) return true
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val parts = pat.split("\\*", -1)
    if (parts.length == 1)
      return if (anchored) target == pat else target.startsWith(pat)
    if (!target.startsWith(parts(0))) return false
    var pos = parts(0).length
    val lastIdx = parts.length - 1
    var i = 1
    val middleEnd = if (anchored) lastIdx else parts.length
    while (i < middleEnd) {
      val p = parts(i)
      if (p.nonEmpty) {
        val at = target.indexOf(p, pos)
        if (at < 0) return false
        pos = at + p.length
      }
      i += 1
    }
    if (anchored) {
      val last = parts(lastIdx)
      target.endsWith(last) && target.length - last.length >= pos
    } else true
  }

  /** Decide `target` against the (already group-selected) rules:
    * (allowed, winning pattern, "allow"|"disallow"|"none"). Longest
    * pattern wins; allow wins a length tie; no match → allowed. */
  def decide(rules: Seq[Rule], target: String): (Boolean, String, String) = {
    var bestLen = -1
    var bestAllow = true
    var bestPat: String = null
    rules.foreach { r =>
      if (matches(r.pattern, target)) {
        val len = r.pattern.length
        if (len > bestLen || (len == bestLen && r.allow && !bestAllow)) {
          bestLen = len; bestAllow = r.allow; bestPat = r.pattern
        }
      }
    }
    if (bestPat == null) (true, "", "none")
    else (bestAllow, bestPat, if (bestAllow) "allow" else "disallow")
  }

  // ------------------------------------------------------------------
  // DataFrame surface
  // ------------------------------------------------------------------

  /** The REP match target of `url`: URI path (default `/`) plus
    * `?query` when a query is present (fragments never participate).
    * Pure parse_url/concat builtins — codegen, computed before the
    * typed verdict map so the map carries only the target. */
  def matchTarget(url: Column): Column = {
    val p0 = parse_url(url, lit("PATH"))
    val path = when(p0.isNull || p0 === "", lit("/")).otherwise(p0)
    val q = parse_url(url, lit("QUERY"))
    concat(path, when(q.isNull || q === "", lit(""))
      .otherwise(concat(lit("?"), q)))
  }

  /** The default broadcast ceiling: parsed rule arrays average ~1 KB per
    * domain, so 250k domains ≈ 250 MB — the upper edge of executor
    * broadcast comfort. Above it [[verdicts]] switches to a plain
    * domain-keyed equi-join (see class doc). */
  val DefaultBroadcastMaxDomains: Long = 250000L

  /** Per-URL robots verdicts for one crawler `agent`:
    * (doc_id, domain, target, allowed 1|0, rule, kind). `robots` is
    * (domain text, robots.txt text); URLs key to it by `urlKey`
    * (default [[Urls.registeredDomain]] — see the class-doc scoping
    * note; pass [[Urls.host]] for per-origin RFC scoping). Missing
    * robots → allowed/none (the protocol's default). Size-aware join:
    * broadcast while the robots side holds ≤ `broadcastMaxDomains`
    * rows, plain equi-join above — see class doc. The size comes from
    * `robotsSizeHint` when the caller knows it (zero extra jobs), else
    * from one count over the pinned parsed frame (the robots lineage
    * evaluates once; the join reuses the pinned blocks). */
  def verdicts(urls: DataFrame, id: Column, url: Column,
               robots: DataFrame, domainCol: Column, txtCol: Column,
               agent: String,
               broadcastMaxDomains: Long = DefaultBroadcastMaxDomains,
               urlKey: Column => Column = Urls.registeredDomain,
               robotsSizeHint: Option[Long] = None): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    val parsed = robots.select(domainCol.cast("string"), txtCol.cast("string"))
      .as[(String, String)]
      .map { case (dom, txt) =>
        (dom, rulesFor(parseAll(txt), agent).map(r => (r.allow, r.pattern)))
      }
      .toDF("domain", "__rules")
    // join-strategy sizing must happen at plan time: a caller-supplied
    // hint costs nothing; otherwise one count over the pinned parsed
    // frame, so the robots lineage (source scan + rule parse) evaluates
    // exactly once and the join reuses the pinned blocks
    val (ruleRows, nRobots) = robotsSizeHint match {
      case Some(n) => (parsed, n)
      case None =>
        val pinned = CheckpointPolicy.pin(parsed)
        (pinned, pinned.count())
    }
    val small = nRobots <= broadcastMaxDomains
    val ruleSide = if (small) broadcast(ruleRows) else ruleRows
    urls.select(id.cast("long").as("doc_id"),
        urlKey(url).as("domain"),
        matchTarget(url).as("target"))
      .join(ruleSide, Seq("domain"), "left")
      // the join leads with its key — restore the encoder's column order
      .select(col("doc_id"), col("domain"), col("target"), col("__rules"))
      .as[(Long, String, String, Seq[(Boolean, String)])]
      .map { case (docId, dom, target, rules) =>
        val rs = if (rules == null) Seq.empty[Rule]
                 else rules.map { case (a, p) => Rule(agent, a, p) }
        val (ok, pat, kind) = decide(rs, target)
        (docId, dom, target, if (ok) 1L else 0L, pat, kind)
      }
      .toDF("doc_id", "domain", "target", "allowed", "rule", "kind")
  }

  /** Keep only the rows `agent` may fetch. */
  def filterAllowed(urls: DataFrame, id: Column, url: Column,
                    robots: DataFrame, domainCol: Column, txtCol: Column,
                    agent: String,
                    broadcastMaxDomains: Long = DefaultBroadcastMaxDomains,
                    urlKey: Column => Column = Urls.registeredDomain,
                    robotsSizeHint: Option[Long] = None): DataFrame = {
    val v = verdicts(urls, id, url, robots, domainCol, txtCol, agent,
        broadcastMaxDomains, urlKey, robotsSizeHint)
      .filter(col("allowed") === 1L).select(col("doc_id").as("__keep_id"))
    urls.join(v, id.cast("long") === col("__keep_id"), "leftsemi")
  }

  /** The STREAMING-composable form of [[filterAllowed]]: schema- and
    * shape-preserving (a plain row filter — legal in any micro-batch
    * plan, no self-join, no id column required), with the rule map
    * collected to the driver at plan time and shipped in the closure.
    * The collect is BOUNDED BY CONTRACT, not construction: a
    * crawl-scale robots table does not fit a driver map, so the call
    * `require`s the robots side to hold ≤ `maxDomains` rows (default
    * [[DefaultBroadcastMaxDomains]] — the same ~250 MB driver/closure
    * comfort bound as the batch broadcast ceiling, same ~1 KB-per-domain
    * rationale). Streams whose rule universe exceeds it should
    * pre-restrict the robots side to the stream's domain universe or
    * run the batch [[filterAllowed]] per sink partition. Batch ==
    * stream semantics by sharing [[rulesFor]]/[[decide]] with
    * [[verdicts]]. */
  def filterAllowedStreaming(urls: DataFrame, url: Column,
                             robots: DataFrame, domainCol: Column,
                             txtCol: Column, agent: String,
                             maxDomains: Long = DefaultBroadcastMaxDomains,
                             urlKey: Column => Column = Urls.registeredDomain): DataFrame = {
    val n = robots.count()
    require(n <= maxDomains,
      s"filterAllowedStreaming collects the rule map to the driver: " +
      s"$n robots rows exceed the documented maxDomains bound " +
      s"($maxDomains); pre-restrict the robots side or use the batch " +
      s"filterAllowed")
    val ruleMap: Map[String, Seq[Rule]] =
      robots.select(domainCol.cast("string"), txtCol.cast("string"))
        .collect()
        .map(r => r.getString(0) ->
          rulesFor(parseAll(r.getString(1)), agent))
        .toMap
    val withCols = urls
      .withColumn("__rb_domain", urlKey(url))
      .withColumn("__rb_target", matchTarget(url))
    val di = withCols.schema.fieldIndex("__rb_domain")
    val ti = withCols.schema.fieldIndex("__rb_target")
    withCols
      .filter { (r: org.apache.spark.sql.Row) =>
        decide(ruleMap.getOrElse(r.getString(di), Seq.empty),
          r.getString(ti))._1
      }
      .drop("__rb_domain", "__rb_target")
  }
}
