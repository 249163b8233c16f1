package graft.operators

import graft.SparkSpec

/** Gates for the MediaWiki dump source: record parsing (first-id wins,
  * entity decode, redirect attributes, text forms), quarantine
  * semantics, and the split-parallel `lineSep` read — including record
  * exactness under tiny split sizes, the property the format choice
  * exists for. */
class WikiXmlSpec extends SparkSpec {
  import spark.implicits._

  private val page =
    """<page>
      |  <title>Caf&#xE9; &quot;X&quot; &amp; co</title>
      |  <ns>0</ns>
      |  <id>42</id>
      |  <revision>
      |    <id>1000042</id>
      |    <text bytes="11" xml:space="preserve">a &lt;b&gt; c &#8364; &amp;bogus; d</text>
      |  </revision>
      |""".stripMargin // lineSep strips the closing </page>

  test("parseRecord: fields, first-id-wins, entity decode incl. pass-through") {
    val p = WikiXml.parseRecord(page)
    assert(p.pageId == 42L)
    assert(p.title == "Café \"X\" & co")
    assert(p.ns == 0L)
    assert(p.redirect == 0L && p.redirectTitle == "")
    // undecodable &bogus; passes through literally
    assert(p.text == "a <b> c € &bogus; d")
    assert(p.error == null)
  }

  test("parseRecord: redirect attr decodes; self-closing text is empty") {
    val p = WikiXml.parseRecord(
      "<page><title>T</title><ns>1</ns><id>7</id>" +
      "<redirect title=\"A &amp; B\" /><revision><id>99</id>" +
      "<text bytes=\"0\" /></revision>")
    assert(p.redirect == 1L && p.redirectTitle == "A & B")
    assert(p.text == "" && p.pageId == 7L && p.error == null)
  }

  test("parseRecord: quarantine keeps recovered fields; non-page records drop") {
    val noTitle = WikiXml.parseRecord(
      "<page><ns>2</ns><id>9</id><revision><id>13</id>" +
      "<text>t</text></revision>")
    assert(noTitle.error == "missing id or title")
    assert(noTitle.pageId == 9L && noTitle.ns == 2L && noTitle.text == "t")
    val badNs = WikiXml.parseRecord(
      "<page><title>T</title><ns>x</ns><id>9</id>")
    assert(badNs.error != null && badNs.error.startsWith("bad field"))
    assert(WikiXml.parseRecord("<mediawiki><siteinfo/>") == null)
    assert(WikiXml.parseRecord("\n</mediawiki>\n") == null)
    assert(WikiXml.parseRecord("") == null)
    assert(WikiXml.parseRecord(null) == null)
  }

  test("decodeXml: five named entities, numeric forms, invalid pass-through") {
    assert(WikiXml.decodeXml("&amp;&lt;&gt;&quot;&apos;") == "&<>\"'")
    assert(WikiXml.decodeXml("&#65;&#x41;") == "AA")
    assert(WikiXml.decodeXml("&#0; &#xFFFFFF; &nosuch; & alone") ==
      "&#0; &#xFFFFFF; &nosuch; & alone")
    assert(WikiXml.decodeXml("plain") == "plain")
  }

  test("readPages round trip: split-exact under a tiny maxPartitionBytes") {
    val dir = java.nio.file.Files.createTempDirectory("wikix_spec_").toString
    val rows = (0L until 40L).map { i =>
      val red = if (i % 5 == 0) s"""<redirect title="R &amp; $i" />""" else ""
      val pre = if (i == 0) "<mediawiki><siteinfo><sitename>t</sitename></siteinfo>\n" else ""
      val post = if (i == 39) "\n</mediawiki>" else ""
      s"$pre<page><title>P &quot;$i&quot;</title><ns>${i % 3}</ns><id>$i</id>" +
        s"$red<revision><id>${i + 500}</id>" +
        s"<text bytes=\"1\">body &amp; $i</text></revision></page>$post"
    }
    rows.toDF("value").repartition(2).write.mode("overwrite").text(dir)
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // force many sub-file splits: records must still parse exactly once
      spark.conf.set("spark.sql.files.maxPartitionBytes", "256")
      val got = WikiXml.readPages(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3),
          r.getString(5))).sortBy(_._1)
      assert(got.length == 40)
      assert(got.map(_._1).toSeq == (0L until 40L))
      assert(got(7)._2 == "P \"7\"")
      assert(got(5)._3 == 1L && got(6)._3 == 0L)
      assert(got(11)._4 == "body & 11")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", before)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
