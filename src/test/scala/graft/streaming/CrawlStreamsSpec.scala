package graft.streaming

import graft.SparkSpec
import graft.operators.WarcSources
import org.apache.spark.sql.functions._

/** Gates for the continuous crawl ingest: stream == batch decode parity
  * across micro-batch seams, WET + raw-HTML extraction in one loop,
  * quarantine isolation, and per-batch partition layout. */
class CrawlStreamsSpec extends SparkSpec {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def member(id: Int, rtype: String, body: Array[Byte],
                     ctype: String = "text/plain"): Array[Byte] =
    WarcSources.gzipWrap(WarcSources.recordBytes(rtype,
      s"https://example.com/doc/$id", "2024-05-01T00:00:00Z", ctype,
      s"<urn:uuid:$id>", body))

  test("continuous ingest: stream == batch decode across file arrivals, " +
       "WET text + extracted HTML land together, corrupt members quarantine") {
    val land = java.nio.file.Files.createTempDirectory("graft-crawl-land").toString
    val textDir = java.nio.file.Files.createTempDirectory("graft-crawl-text").toString
    val quarDir = java.nio.file.Files.createTempDirectory("graft-crawl-quar").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-crawl-ckpt").toString

    def drop(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), bytes)

    // arrival 1: two WET conversion records + one raw HTML response
    val html =
      "<html><head><title>T3</title><script>x=\"</p>\";</script></head>" +
        "<body><p>Fish &amp; chips.</p><div>tail</div></body></html>"
    drop("a.warc.gz",
      member(1, "conversion", "doc one text".getBytes(Utf8)) ++
        member(2, "conversion", "doc two text".getBytes(Utf8)) ++
        member(3, "response", html.getBytes(Utf8), ctype = "text/html"))

    val q = CrawlStreams.foreachBatchCrawlIngest(
      CrawlStreams.readWarcFiles(spark, land),
      textDir, quarDir, checkpointDir = Some(ckpt))
    try {
      q.processAllAvailable()
      // arrival 2 (a later micro-batch): one clean record + one corrupt member
      val bad = member(5, "conversion", "never decodes".getBytes(Utf8)).clone()
      bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x55).toByte
      drop("b.warc.gz",
        member(4, "conversion", "doc four text".getBytes(Utf8)) ++ bad)
      q.processAllAvailable()
    } finally q.stop()

    val text = spark.read.parquet(textDir)
    val got = text.collect().map(r =>
      r.getAs[String]("url") -> (r.getAs[String]("record_type"),
        r.getAs[String]("title"), r.getAs[String]("text"))).toMap
    assert(got.size == 4, s"expected 4 text rows, got ${got.keySet}")
    assert(got("https://example.com/doc/1") == (("conversion", "", "doc one text")))
    assert(got("https://example.com/doc/4") == (("conversion", "", "doc four text")))
    // the raw capture went THROUGH the extractor: title + visible text only
    assert(got("https://example.com/doc/3") ==
      (("response", "T3", "Fish & chips.\ntail")))
    // seams are real micro-batches: the two files landed in different batches
    assert(text.select("batch_id").distinct().count() == 2)
    // corrupt member quarantined with provenance, clean peers unaffected
    val quar = spark.read.parquet(quarDir).filter(col("error").isNotNull)
    assert(quar.count() == 1)
    assert(quar.collect()(0).getAs[String]("file").endsWith("b.warc.gz"))

    // stream == batch parity: the batch reader over the same landing dir
    // yields the same clean conversion set and the same quarantine count
    val batch = WarcSources.readWarc(spark, land)
    assert(batch.filter(col("error").isNotNull).count() == 1)
    val batchConv = batch
      .filter(col("error").isNull && col("record_type") === "conversion")
      .select(col("url"), decode(col("content"), "UTF-8").as("text"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val streamConv = got.collect { case (u, ("conversion", _, t)) => u -> t }
    assert(streamConv == batchConv, "stream/batch conversion-text mismatch")
  }

  test("chained continuous pipeline: WARC drop -> extract -> admit yields " +
       "the SAME corpus as the batch crawl->dedup run, across a seam") {
    import spark.implicits._
    val land = java.nio.file.Files.createTempDirectory("graft-chain-land").toString
    val textDir = java.nio.file.Files.createTempDirectory("graft-chain-text").toString
    val quarDir = java.nio.file.Files.createTempDirectory("graft-chain-quar").toString
    val ck1 = java.nio.file.Files.createTempDirectory("graft-chain-ck1").toString
    val histDir = java.nio.file.Files.createTempDirectory("graft-chain-hist").toString
    val admitDir = java.nio.file.Files.createTempDirectory("graft-chain-admit").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft-chain-ck2").toString
    def drop(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), bytes)

    // arrival 1: two distinct WET docs + one raw HTML response
    val html = "<html><head><title>T3</title></head>" +
      "<body><p>Fish &amp; chips with vinegar.</p></body></html>"
    drop("a.warc.gz",
      member(1, "conversion", "alpha bravo charlie delta echo".getBytes(Utf8)) ++
        member(2, "conversion", "foxtrot golf hotel india juliet".getBytes(Utf8)) ++
        member(3, "response", html.getBytes(Utf8), ctype = "text/html"))

    val crawl = CrawlStreams.foreachBatchCrawlIngest(
      CrawlStreams.readWarcFiles(spark, land),
      textDir, quarDir, checkpointDir = Some(ck1))
    val admit =
      try {
        crawl.processAllAvailable()
        // stage 2 of the chain: stream the text sink into the admission loop
        val textSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("url",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("batch_id",
            org.apache.spark.sql.types.LongType)))
        val docsStream = spark.readStream.schema(textSchema).parquet(textDir)
          .select(regexp_extract(col("url"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"), col("text"))
        DocStreams.foreachBatchAdmit(docsStream, histDir, admitDir,
          maxHamming = 7, checkpointDir = Some(ck2))
      } finally ()
    try {
      admit.processAllAvailable()
      // arrival 2, ACROSS the seam of BOTH stages: one new doc + an EXACT
      // re-crawl of doc 1's content under a new id (cross-batch dup)
      drop("b.warc.gz",
        member(4, "conversion", "kilo lima mike november oscar".getBytes(Utf8)) ++
          member(5, "conversion", "alpha bravo charlie delta echo".getBytes(Utf8)))
      crawl.processAllAvailable()
      admit.processAllAvailable()
    } finally { crawl.stop(); admit.stop() }

    // both stages really saw two micro-batches (the seam is exercised)
    assert(spark.read.parquet(textDir).select("batch_id").distinct().count() == 2)
    assert(spark.read.parquet(admitDir).select("batch_id").distinct().count() == 2)
    // the cross-seam exact dup was rejected by the admission history
    val verdicts = spark.read.parquet(admitDir)
      .select("doc_id", "admitted").as[(Long, Long)].collect().toMap
    assert(verdicts(5L) == 0L, "re-crawled content must be rejected")
    assert(verdicts.size == 5 && verdicts.values.count(_ == 1L) == 4)

    // final STREAM corpus = the admission history (doc_id, text)
    val streamCorpus = spark.read.parquet(histDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet

    // batch twin over the SAME landing dir: the q146 composition —
    // one-shot decode, extract, min-id keeper election per exact text
    val recs = WarcSources.readWarc(spark, land).filter(col("error").isNull)
    val conv = recs.filter(col("record_type") === "conversion")
      .select(regexp_extract(col("url"), "/doc/(\\d+)$", 1)
        .cast("long").as("doc_id"), decode(col("content"), "UTF-8").as("text"))
    val resp = graft.operators.Html.extract(
      recs.filter(col("record_type") === "response")
        .select(regexp_extract(col("url"), "/doc/(\\d+)$", 1)
          .cast("long").as("id"), decode(col("content"), "UTF-8").as("html")),
      col("id"), col("html"))
      .select("doc_id", "text")
    val all = conv.unionByName(resp)
    val batchCorpus = all
      .withColumn("keeper",
        min("doc_id").over(org.apache.spark.sql.expressions.Window
          .partitionBy("text")))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(streamCorpus == batchCorpus,
      s"stream corpus != batch corpus:\n$streamCorpus\nvs\n$batchCorpus")
    // and as a single digest (the corpus-equality gate in one value)
    def digest(c: Set[(Long, String)]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(c.toSeq.sorted.map { case (i, t) => s"$i|$t" }
        .mkString("\n").getBytes(Utf8))
        .map("%02x".format(_)).mkString
    }
    assert(digest(streamCorpus) == digest(batchCorpus))
  }

  test("robots-gated chain: disallowed captures never reach admission and " +
       "the stream corpus equals the robots-filtered batch corpus") {
    import spark.implicits._
    import graft.operators.Robots
    val land = java.nio.file.Files.createTempDirectory("graft-rb-land").toString
    val textDir = java.nio.file.Files.createTempDirectory("graft-rb-text").toString
    val quarDir = java.nio.file.Files.createTempDirectory("graft-rb-quar").toString
    val ck1 = java.nio.file.Files.createTempDirectory("graft-rb-ck1").toString
    val histDir = java.nio.file.Files.createTempDirectory("graft-rb-hist").toString
    val admitDir = java.nio.file.Files.createTempDirectory("graft-rb-admit").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft-rb-ck2").toString
    def drop(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name), bytes)
    def memberAt(host: String, id: Int, body: String): Array[Byte] =
      WarcSources.gzipWrap(WarcSources.recordBytes("conversion",
        s"https://$host/doc/$id", "2024-05-01T00:00:00Z", "text/plain",
        s"<urn:uuid:$id>", body.getBytes(Utf8)))
    val robots = Seq(
      ("closed.example", "User-agent: *\nDisallow: /\n")
    ).toDF("domain", "robots_txt") // open.example: no robots → allowed

    drop("a.warc.gz",
      memberAt("open.example", 1, "alpha bravo charlie") ++
        memberAt("closed.example", 2, "delta echo foxtrot"))
    val crawl = CrawlStreams.foreachBatchCrawlIngest(
      CrawlStreams.readWarcFiles(spark, land),
      textDir, quarDir, checkpointDir = Some(ck1))
    crawl.processAllAvailable()
    val textSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))
    val gated = Robots.filterAllowedStreaming(
      spark.readStream.schema(textSchema).parquet(textDir),
      col("url"), robots, col("domain"), col("robots_txt"),
      agent = "GraftBot")
      .select(regexp_extract(col("url"), "/doc/(\\d+)$", 1)
        .cast("long").as("doc_id"), col("text"))
    val admit = DocStreams.foreachBatchAdmit(gated, histDir, admitDir,
      maxHamming = 7, checkpointDir = Some(ck2))
    try {
      admit.processAllAvailable()
      // seam: a new allowed doc, a new DISALLOWED doc, and an exact
      // re-crawl of doc 1's content on the allowed domain
      drop("b.warc.gz",
        memberAt("open.example", 3, "golf hotel india") ++
          memberAt("closed.example", 4, "juliet kilo lima") ++
          memberAt("open.example", 5, "alpha bravo charlie"))
      crawl.processAllAvailable()
      admit.processAllAvailable()
    } finally { crawl.stop(); admit.stop() }

    // disallowed docs never produced an admission VERDICT at all
    val verdicts = spark.read.parquet(admitDir)
      .select("doc_id", "admitted").as[(Long, Long)].collect().toMap
    assert(verdicts.keySet == Set(1L, 3L, 5L))
    assert(verdicts(1L) == 1L && verdicts(3L) == 1L)
    assert(verdicts(5L) == 0L, "cross-seam re-crawl must be rejected")

    // stream corpus == robots-filtered batch corpus over the landing dir
    val streamCorpus = spark.read.parquet(histDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    val recs = WarcSources.readWarc(spark, land).filter(col("error").isNull)
    val batchCorpus = Robots.filterAllowed(
        recs.select(regexp_extract(col("url"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"), col("url"),
          decode(col("content"), "UTF-8").as("text")),
        col("doc_id"), col("url"),
        robots, col("domain"), col("robots_txt"), agent = "GraftBot")
      .withColumn("keeper",
        min("doc_id").over(org.apache.spark.sql.expressions.Window
          .partitionBy("text")))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(streamCorpus == batchCorpus)
    assert(streamCorpus.map(_._1) == Set(1L, 3L))
  }

  test("sitemap seed ingest: stream seeds across a seam equal the batch " +
       "parse + robots admission; quarantine rides along") {
    import spark.implicits._
    import graft.operators.{Robots, Sitemaps}
    val land = java.nio.file.Files.createTempDirectory("graft-seed-land").toString
    val seedDir = java.nio.file.Files.createTempDirectory("graft-seed-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-seed-ckpt").toString
    val robots = Seq(
      ("open.example", "User-agent: *\nDisallow: /private/\n"),
      ("closed.example", "User-agent: *\nDisallow: /\n")
    ).toDF("domain", "robots_txt")

    def drop(name: String, xml: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(land, name),
        xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // arrival 1: allowed + path-disallowed + whole-domain-disallowed
    // entries, plus a missing-loc quarantine
    drop("a.xml",
      """<urlset>
        |  <url><loc>https://open.example/a</loc><lastmod>2024-01-02</lastmod></url>
        |  <url><loc>https://open.example/private/x</loc></url>
        |  <url><loc>https://closed.example/y</loc></url>
        |  <url><lastmod>2024-03-03</lastmod></url>
        |</urlset>""".stripMargin)

    val q = CrawlStreams.foreachBatchSeedIngest(
      CrawlStreams.readSitemapFiles(spark, land),
      robots, col("domain"), col("robots_txt"), agent = "GraftBot",
      seedDir, checkpointDir = Some(ckpt))
    try {
      q.processAllAvailable()
      // arrival 2 (a later micro-batch): one more allowed seed
      drop("b.xml",
        "<urlset><url><loc>https://open.example/b?z=1</loc></url></urlset>")
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(seedDir)
    assert(out.select("batch_id").distinct().count() == 2)
    val seeds = out.filter(col("kind") === "url")
      .select("loc").as[String].collect().toSet
    assert(seeds == Set("https://open.example/a",
      "https://open.example/b?z=1"),
      s"disallowed URLs must never land as seeds: $seeds")
    val quar = out.filter(col("kind") === "error").collect()
    assert(quar.length == 1 &&
      quar(0).getAs[String]("error") == "missing loc" &&
      quar(0).getAs[String]("lastmod") == "2024-03-03")

    // stream == batch: the one-shot parse + admission over the same files
    val files = new java.io.File(land).listFiles().map(f =>
      (f.getName, new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)))
      .toSeq.toDF("f", "xml")
      .withColumn("fid", monotonically_increasing_id())
    val batchEnts = Sitemaps.entries(files, col("fid"), col("xml"))
      .filter(col("kind") === "url")
    val batchSeeds = Robots.filterAllowed(
        batchEnts.withColumn("rid", monotonically_increasing_id()),
        col("rid"), col("loc"),
        robots, col("domain"), col("robots_txt"), agent = "GraftBot")
      .select("loc").as[String].collect().toSet
    assert(seeds == batchSeeds)
  }

  test("link-graph ingest: artifact grown across a seam serves the same " +
       "edges and anchors as the one-shot batch aggregate") {
    import spark.implicits._
    import graft.operators.LinkGraph
    val land = java.nio.file.Files.createTempDirectory("graft-lg-land").toString
    val art = java.nio.file.Files.createTempDirectory("graft-lg-art").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lg-ckpt").toString

    def page(id: Long, host: String, hrefHost: String,
             anchor: String): (Long, String, String) =
      (id, s"https://$host/p/$id",
        s"""<a href="https://$hrefHost/t">$anchor</a>""" +
          """<a href="/nav">Nav</a>""")
    val batch1 = Seq(page(1, "a.com", "b.com", "Beta"),
      page(2, "a.com", "b.com", "Beta"))
    val batch2 = Seq(page(3, "c.com", "b.com", "Best"),
      page(4, "b.com", "c.com", "Gamma"))
    def drop(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "url", "html").coalesce(1)
        .write.parquet(s"$land/$name")

    drop("b1", batch1)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("html",
        org.apache.spark.sql.types.StringType)))
    val q = CrawlStreams.foreachBatchLinkIngest(
      spark.readStream.schema(schema).parquet(s"$land/*"),
      art, checkpointDir = Some(ckpt))
    try {
      q.processAllAvailable()
      drop("b2", batch2)
      q.processAllAvailable()
    } finally q.stop()

    // one-shot twin over the union
    val all = (batch1 ++ batch2).toDF("doc_id", "url", "html")
    val e = LinkGraph.edges(all, col("doc_id"), col("url"), col("html"))
      .join(all.select(col("doc_id"), col("url")), Seq("doc_id"))
      .select(graft.operators.Urls.registeredDomain(col("url")).as("sd"),
        graft.operators.Urls.registeredDomain(col("resolved")).as("dd"),
        col("resolved").as("tgt"), col("anchor"))
    val oneShotEdges = e.filter(col("sd") =!= col("dd"))
      .groupBy(col("sd").as("src"), col("dd").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
      .as[(String, String, Double)].collect().toSet
    val served = LinkGraph.servedDomainEdges(spark, art)
      .as[(String, String, Double)].collect().toSet
    assert(served == oneShotEdges, s"$served\nvs\n$oneShotEdges")
    assert(served.contains(("a.com", "b.com", 2.0))) // summed across rows
    val servedAnchors = LinkGraph.servedAnchorCorpus(spark, art, k = 2)
      .as[(String, Long, String, Long)].collect().toSet
    val oneShotAnchors = LinkGraph.anchorCorpus(e, col("tgt"),
        col("anchor"), k = 2)
      .as[(String, Long, String, Long)].collect().toSet
    assert(servedAnchors == oneShotAnchors)
    // the seam was real: two batch partitions before any compaction
    val parts = new java.io.File(s"$art/edges").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(parts == Set("batch_id=0", "batch_id=1"))
  }

  test("link-graph ingest: compaction in the stopped maintenance window, " +
       "then restart from the SAME checkpoint — served == one-shot across " +
       "the fold seam, post-fold micro-batch ids keep appending") {
    import spark.implicits._
    import graft.operators.LinkGraph
    val land = java.nio.file.Files.createTempDirectory("graft-lgf-land").toString
    val art = java.nio.file.Files.createTempDirectory("graft-lgf-art").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lgf-ckpt").toString
    def page(id: Long, host: String, hrefHost: String,
             anchor: String): (Long, String, String) =
      (id, s"https://$host/p/$id",
        s"""<a href="https://$hrefHost/t">$anchor</a>""")
    val b0 = Seq(page(1, "a.com", "b.com", "Beta"),
      page(2, "a.com", "b.com", "Beta"))
    val b1 = Seq(page(3, "c.com", "b.com", "Best"))
    val b2 = Seq(page(4, "b.com", "c.com", "Gamma"),
      page(5, "a.com", "b.com", "Beta"))
    def drop(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "url", "html").coalesce(1)
        .write.parquet(s"$land/$name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("html",
        org.apache.spark.sql.types.StringType)))
    def start() = CrawlStreams.foreachBatchLinkIngest(
      spark.readStream.schema(schema).parquet(s"$land/*"),
      art, checkpointDir = Some(ckpt))

    // micro-batches 0 and 1 land, then the stream STOPS (the documented
    // single-writer contract: folding runs only in this window)
    drop("b0", b0)
    val q1 = start()
    try { q1.processAllAvailable(); drop("b1", b1); q1.processAllAvailable() }
    finally q1.stop()
    LinkGraph.compactLinkArtifacts(spark, art)
    def parts(sub: String) = new java.io.File(s"$art/$sub").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(parts("edges") == Set("batch_id=-1"))

    // restart from the SAME checkpoint (one stable lineage — the
    // ArtifactFold batch-id monotonicity rule): the next micro-batch id
    // continues past the fold watermark and appends normally
    drop("b2", b2)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(parts("edges") == Set("batch_id=-1", "batch_id=2"))

    // served across the fold seam == one-shot over all three batches
    val all = (b0 ++ b1 ++ b2).toDF("doc_id", "url", "html")
    val e = LinkGraph.edges(all, col("doc_id"), col("url"), col("html"))
      .join(all.select(col("doc_id"), col("url")), Seq("doc_id"))
      .select(graft.operators.Urls.registeredDomain(col("url")).as("sd"),
        graft.operators.Urls.registeredDomain(col("resolved")).as("dd"),
        col("resolved").as("tgt"), col("anchor"))
    val oneShotEdges = e.filter(col("sd") =!= col("dd"))
      .groupBy(col("sd").as("src"), col("dd").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
      .as[(String, String, Double)].collect().toSet
    assert(LinkGraph.servedDomainEdges(spark, art)
      .as[(String, String, Double)].collect().toSet == oneShotEdges)
    assert(oneShotEdges.contains(("a.com", "b.com", 3.0))) // spans the seam
    assert(LinkGraph.servedAnchorCorpus(spark, art, k = 2)
        .as[(String, Long, String, Long)].collect().toSet ==
      LinkGraph.anchorCorpus(e, col("tgt"), col("anchor"), k = 2)
        .as[(String, Long, String, Long)].collect().toSet)
  }

  test("canonical-dedup stage: stream admissions across a seam equal the " +
       "batch canonical keeper election (q172's stage 3)") {
    import spark.implicits._
    import graft.operators.LinkGraph
    val land = java.nio.file.Files.createTempDirectory("graft-can-land").toString
    val histDir = java.nio.file.Files.createTempDirectory("graft-can-hist").toString
    val admitDir = java.nio.file.Files.createTempDirectory("graft-can-admit").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-can-ckpt").toString

    def page(id: Long, head: String): (Long, String, String) =
      (id, s"HTTP://Mirror.Example:80/p/$id?b=2&a=1",
        s"<html><head>$head</head><body><p>body $id</p></body></html>")
    def canonTo(k: Long): String =
      s"""<link rel="canonical" href="https://canon.example/c/$k">"""

    // arrival 1: docs 1+2 declare the SAME canonical (within-batch dup),
    // doc 3 declares nothing (self)
    val batch1 = Seq(page(1, canonTo(100)), page(2, canonTo(100)),
      page(3, ""))
    // arrival 2 (later capture ids): doc 4 re-declares canonical 100
    // (cross-seam dup → history reject), doc 5 is new (og:url), doc 6+7
    // share a NEW canonical (within-batch keeper election in batch 2)
    val batch2 = Seq(page(4, canonTo(100)),
      page(5, """<meta property="og:url" content="https://canon.example/og/5?utm_source=t">"""),
      page(6, canonTo(200)), page(7, canonTo(200)))

    def drop(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "url", "html").coalesce(1)
        .write.parquet(s"$land/$name")

    drop("b1", batch1)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("html",
        org.apache.spark.sql.types.StringType)))
    val q = CrawlStreams.foreachBatchCanonicalAdmit(
      spark.readStream.schema(schema).parquet(s"$land/*"),
      histDir, admitDir, checkpointDir = Some(ckpt))
    try {
      q.processAllAvailable()
      drop("b2", batch2)
      q.processAllAvailable()
    } finally q.stop()

    // the seam is real: two micro-batches
    val admits = spark.read.parquet(admitDir)
    assert(admits.select("batch_id").distinct().count() == 2)
    val verdicts = admits.select("doc_id", "admitted")
      .as[(Long, Long)].collect().toMap
    assert(verdicts == Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L,
      5L -> 1L, 6L -> 1L, 7L -> 0L))

    // batch twin: canonical election + min-id keeper over ALL pages
    // (capture ids increase with arrival, so first-seen == min-id)
    val all = (batch1 ++ batch2).toDF("doc_id", "url", "html")
    val c = LinkGraph.canonicalUrls(all, col("doc_id"), col("url"),
      col("html"))
    val batchKeepers = c
      .withColumn("keeper",
        min("doc_id").over(org.apache.spark.sql.expressions.Window
          .partitionBy("canonical")))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "canonical").as[(Long, String)].collect().toSet
    val streamKeepers = spark.read.parquet(histDir)
      .select("doc_id", "canonical").as[(Long, String)].collect().toSet
    assert(streamKeepers == batchKeepers,
      s"stream keepers != batch keepers:\n$streamKeepers\nvs\n$batchKeepers")
    // election semantics rode through: og:url tracking param stripped,
    // dirty self URL normalized
    val canonOf = streamKeepers.toMap
    assert(canonOf(5L) == "https://canon.example/og/5")
    assert(canonOf(3L) == "http://mirror.example/p/3?a=1&b=2")
  }
}
