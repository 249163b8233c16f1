package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WarcSourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_warc_").toString

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def docsDf(n: Int) =
    spark.range(n.toLong).select(
      lit("conversion").as("record_type"),
      concat(lit("https://example.com/doc/"), col("id")).as("url"),
      lit("2024-05-01T00:00:00Z").as("date"),
      lit("text/plain").as("content_type"),
      concat(lit("<urn:uuid:"), col("id"), lit(">")).as("warc_record_id"),
      encode(concat(lit("document body number "), col("id"),
        lit(" — some text with unicode: é中. "),
        repeat(lit("padding "), (col("id") % 17).cast("int") + 1)), "UTF-8")
        .as("content"))

  private def cleanSet(df: org.apache.spark.sql.DataFrame) =
    df.filter(col("error").isNull)
      .select(col("record_type"), col("url"), col("date"), col("content_type"),
        col("warc_record_id"), col("content_length"),
        md5(col("content")).as("h"))
      .collect().map(_.toSeq).toSet

  test("gzip round-trip preserves every record and header field") {
    val dir = tmpDir()
    val df = docsDf(300).repartition(3)
    WarcSources.writeWarc(df, dir, layoutCols = Seq("url"))
    val back = WarcSources.readWarc(spark, dir)
    assert(back.filter(col("error").isNotNull).count() == 0)
    assert(back.count() == 300)
    val want = df.select(col("record_type"), col("url"), col("date"),
      col("content_type"), col("warc_record_id"),
      length(col("content")).cast("long").as("content_length"),
      md5(col("content")).as("h")).collect().map(_.toSeq).toSet
    assert(cleanSet(back) == want)
  }

  test("plain (uncompressed) WARC round-trips, one task per file") {
    val dir = tmpDir()
    val df = docsDf(80).repartition(2)
    WarcSources.writeWarc(df, dir, compress = false)
    val back = WarcSources.readWarc(spark, dir)
    assert(back.rdd.getNumPartitions == 2, "plain WARC must not split")
    assert(back.filter(col("error").isNotNull).count() == 0)
    assert(back.count() == 80)
  }

  test("gzip-member splits read every record exactly once") {
    val dir = tmpDir()
    // ONE file, many members; force tiny split ranges and assert the
    // multiset of records survives — no member lost at a range boundary,
    // none double-read by adjacent tasks (the [start, end) ownership rule).
    val df = docsDf(800)
    WarcSources.writeWarc(df.coalesce(1), dir, layoutCols = Seq("url"))
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val back = WarcSources.readWarc(spark, dir)
      assert(back.rdd.getNumPartitions > 8,
        s"expected many splits, got ${back.rdd.getNumPartitions}")
      assert(back.filter(col("error").isNotNull).count() == 0)
      assert(back.count() == 800)
      assert(cleanSet(back) == cleanSet(WarcSources.readWarc(spark, dir)))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
  }

  test("readWet yields the documents-table text view") {
    val dir = tmpDir()
    // mix conversion records with a warcinfo record: WET filters to text
    val info = Seq(("warcinfo", null: String, "2024-05-01T00:00:00Z",
      "application/warc-fields", "<urn:uuid:info>",
      "software: graft\r\n".getBytes(Utf8)))
      .toDF("record_type", "url", "date", "content_type", "warc_record_id",
        "content")
    WarcSources.writeWarc(docsDf(40).union(info), dir)
    val wet = WarcSources.readWet(spark, dir)
    assert(wet.count() == 40)
    assert(wet.columns.contains("text") && !wet.columns.contains("content"))
    val one = wet.filter(col("url") === "https://example.com/doc/7")
      .select("text").as[String].head()
    assert(one.startsWith("document body number 7"))
  }

  // ------------------------------------------------------------------
  // quarantine: corrupt members never kill the read, never poison peers
  // ------------------------------------------------------------------

  private def writeBytes(dir: String, name: String, b: Array[Byte]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), b)

  private def member(id: Int): Array[Byte] =
    WarcSources.gzipWrap(WarcSources.recordBytes("conversion",
      s"https://example.com/doc/$id", "2024-05-01T00:00:00Z", "text/plain",
      s"<urn:uuid:$id>", s"body $id".getBytes(Utf8)))

  test("a truncated member quarantines; the rest of the file still reads") {
    val dir = tmpDir()
    val m0 = member(0); val m1 = member(1); val m2 = member(2)
    writeBytes(dir, "a.warc.gz",
      m0 ++ m1.take(m1.length - 9) ++ m2) // cut into m1's trailer
    val back = WarcSources.readWarc(spark, dir).collect()
    val bad = back.filter(_.getAs[String]("error") != null)
    val good = back.filter(_.getAs[String]("error") == null)
    assert(good.map(_.getAs[String]("url")).toSet ==
      Set("https://example.com/doc/0", "https://example.com/doc/2"))
    assert(bad.length == 1)
    assert(bad(0).getAs[String]("error").contains("truncated") ||
      bad(0).getAs[String]("error").contains("corrupt"))
    // provenance points at the broken member's offset
    assert(bad(0).getAs[Long]("offset") == m0.length.toLong)
  }

  test("a bit-flipped member fails its CRC and quarantines by name") {
    val dir = tmpDir()
    val m0 = member(0); val m1 = member(1).clone(); val m2 = member(2)
    m1(m1.length / 2) = (m1(m1.length / 2) ^ 0x41).toByte
    writeBytes(dir, "a.warc.gz", m0 ++ m1 ++ m2)
    val back = WarcSources.readWarc(spark, dir).collect()
    val bad = back.filter(_.getAs[String]("error") != null)
    assert(back.count(_.getAs[String]("error") == null) == 2)
    assert(bad.length == 1 && (bad(0).getAs[String]("error").contains("CRC") ||
      bad(0).getAs[String]("error").contains("corrupt")))
  }

  test("garbage between members quarantines and the reader resyncs") {
    val dir = tmpDir()
    val junk = Array.tabulate[Byte](300)(i => (i * 37 + 5).toByte)
    writeBytes(dir, "a.warc.gz", member(0) ++ junk ++ member(1))
    val back = WarcSources.readWarc(spark, dir).collect()
    assert(back.count(_.getAs[String]("error") == null) == 2)
    val bad = back.filter(_.getAs[String]("error") != null)
    assert(bad.length == 1 && bad(0).getAs[String]("error").contains("garbage"))
  }

  test("a record with a broken Content-Length quarantines with raw bytes kept") {
    val dir = tmpDir()
    val broken = WarcSources.gzipWrap(
      ("WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: lots\r\n\r\n" +
        "body").getBytes(Utf8))
    writeBytes(dir, "a.warc.gz", member(0) ++ broken ++ member(2))
    val back = WarcSources.readWarc(spark, dir).collect()
    assert(back.count(_.getAs[String]("error") == null) == 2)
    val bad = back.filter(_.getAs[String]("error") != null)
    assert(bad.length == 1 &&
      bad(0).getAs[String]("error").contains("Content-Length"))
    val raw = new String(bad(0).getAs[Array[Byte]]("content"), Utf8)
    assert(raw.startsWith("WARC/1.0"), "quarantine keeps the raw record")
  }

  test("a member whose record claims more content than it has quarantines") {
    val dir = tmpDir()
    val short = WarcSources.gzipWrap(
      ("WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 99999\r\n\r\n" +
        "tiny").getBytes(Utf8))
    writeBytes(dir, "a.warc.gz", short ++ member(1))
    val back = WarcSources.readWarc(spark, dir).collect()
    assert(back.count(_.getAs[String]("error") == null) == 1)
    val bad = back.filter(_.getAs[String]("error") != null)
    assert(bad.length == 1 &&
      bad(0).getAs[String]("error").contains("truncated"))
  }
}
