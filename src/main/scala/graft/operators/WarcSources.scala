package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.{ByteArrayOutputStream, EOFException, IOException}
import java.util.zip.{CRC32, Deflater, Inflater}
import scala.collection.mutable.ArrayBuffer

/** WARC/WET crawl ingestion (ISO 28500 / WARC 1.0) — the container
  * web-scale text corpora actually arrive in (Common Crawl ships WARC for
  * raw captures and WET for extracted text). From-scratch over the public
  * format, in the [[TextSources]] quarantine convention: malformed members
  * land as inspectable rows instead of nulls or dead jobs. The 100 TB
  * posture, spelled out:
  *
  *  - **`.warc.gz` reads are gzip-MEMBER-splittable.** Common Crawl's
  *    convention is one gzip member per WARC record, concatenated (RFC
  *    1952 multi-member). A reader can therefore start at ANY byte offset:
  *    scan forward for the gzip magic (`1f 8b 08`), verify the candidate
  *    by parsing its header and inflating a prefix that must read
  *    `WARC/`, and take ownership of every member whose START offset lies
  *    in the task's `[start, end)` range (a member may extend past `end` —
  *    the avro-mapred split rule). [[readWarc]] carves each file into
  *    `spark.sql.files.maxPartitionBytes` ranges, so a single 1 GB crawl
  *    file fans out across executors. A magic false-positive inside
  *    compressed data must also parse as a valid gzip header AND inflate
  *    to the 5 ASCII bytes `WARC/` — vanishing probability, and a hit
  *    still dies loudly at the member CRC check (quarantine, not silent
  *    corruption).
  *  - **member boundaries are EXACT, not guessed.** Members decode through
  *    a hand-rolled RFC 1952 walk ([[gzipMember]]): header parse (FLG
  *    extra/name/comment handling), raw-deflate inflate with
  *    `Inflater.getBytesRead` giving the exact compressed length, then the
  *    8-byte trailer with the CRC32 and ISIZE CHECKED — a truncated or
  *    bit-flipped member quarantines with a named error and the next
  *    member is re-acquired by magic scan (one bad record never poisons
  *    the rest of the file).
  *  - **uncompressed `.warc` is deliberately NOT split.** Record framing
  *    is length-prefixed by the `Content-Length` header and payloads are
  *    arbitrary binary, so there is no safe mid-stream resync point — a
  *    `\r\nWARC/1.0` inside an HTML payload is indistinguishable from a
  *    record start. One task parses the file sequentially (the reason
  *    Common Crawl gzips record-per-member in the first place); at scale,
  *    store compressed.
  *  - **quarantine, never fail.** Gzip CRC mismatch, truncated member,
  *    missing/invalid `Content-Length`, header block without the CRLFCRLF
  *    terminator — each becomes a row with `error` set, the raw bytes
  *    (capped) for inspection, and the (file, offset) provenance; clean
  *    records flow on untouched. Filter `error IS NULL` for the corpus,
  *    `error IS NOT NULL` for the dead-letter sink.
  *
  * [[readWet]] is the text view: `conversion` records decoded as UTF-8
  * with the crawl metadata columns (url, date, content-type) typed and
  * ready — the input shape of every documents-table operator upstream.
  *
  * The writer ([[writeWarc]]) exists for round-trip gates and fixture
  * synthesis: record-per-member gzip (or plain) WARC, distributed one
  * file per partition via the Hadoop FS API (file:/hdfs:/s3a: alike).
  *
  * Reference behavior anchor: the crawl-corpus text-analysis north star in
  * BASELINE.json; format per ISO 28500 (WARC 1.0) and RFC 1952 (gzip).
  */
object WarcSources {

  /** Max raw bytes preserved on a quarantined row (inspection, not
    * archival — the full member is re-readable at (file, offset)). */
  val QuarantineCap = 1 << 20

  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("record_type", StringType, nullable = true),
    StructField("url", StringType, nullable = true),
    StructField("date", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("warc_record_id", StringType, nullable = true),
    StructField("content_length", LongType, nullable = true),
    StructField("content", BinaryType, nullable = true),
    StructField("error", StringType, nullable = true)))

  // ------------------------------------------------------------------
  // RFC 1952 member codec (exact boundaries + integrity)
  // ------------------------------------------------------------------

  private val GzMagic0 = 0x1F.toByte
  private val GzMagic1 = 0x8B.toByte
  private val GzDeflate = 0x08.toByte

  /** One decoded gzip member: payload + exact compressed length. */
  private[operators] final case class Member(payload: Array[Byte], compressedLen: Long)

  /** Decode ONE gzip member starting at `buf(off)`; throws IOException on
    * any structural/CRC defect. `buf` must contain the whole member (the
    * read path buffers the task's byte range). */
  private[operators] def gzipMember(buf: Array[Byte], off: Int): Member = {
    def u8(i: Int): Int = {
      if (i >= buf.length) throw new EOFException("gzip member truncated")
      buf(i) & 0xFF
    }
    if (u8(off) != 0x1F || u8(off + 1) != 0x8B)
      throw new IOException("not a gzip member (bad magic)")
    if (u8(off + 2) != 0x08)
      throw new IOException(s"gzip CM ${u8(off + 2)} != 8 (deflate)")
    val flg = u8(off + 3)
    var p = off + 10 // skip MTIME(4) XFL OS
    if ((flg & 0x04) != 0) { // FEXTRA
      val xlen = u8(p) | (u8(p + 1) << 8); p += 2 + xlen
    }
    if ((flg & 0x08) != 0) { while (u8(p) != 0) p += 1; p += 1 } // FNAME
    if ((flg & 0x10) != 0) { while (u8(p) != 0) p += 1; p += 1 } // FCOMMENT
    if ((flg & 0x02) != 0) p += 2 // FHCRC
    if (p >= buf.length) throw new EOFException("gzip member truncated")
    val inf = new Inflater(true)
    inf.setInput(buf, p, buf.length - p)
    val out = new ByteArrayOutputStream(8192)
    val chunk = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n =
          try inf.inflate(chunk)
          catch { case e: java.util.zip.DataFormatException =>
            throw new IOException(s"deflate stream corrupt: ${e.getMessage}") }
        if (n == 0 && !inf.finished()) {
          if (inf.needsInput()) throw new EOFException("gzip member truncated")
          throw new IOException("deflate stream stalled")
        }
        out.write(chunk, 0, n)
      }
      val payload = out.toByteArray
      val trailerAt = p + inf.getBytesRead.toInt
      if (trailerAt + 8 > buf.length)
        throw new EOFException("gzip trailer truncated")
      def u32(i: Int): Long =
        (u8(i).toLong) | (u8(i + 1).toLong << 8) |
          (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
      val crc = new CRC32(); crc.update(payload)
      if (crc.getValue != u32(trailerAt))
        throw new IOException("gzip CRC mismatch")
      if ((payload.length.toLong & 0xFFFFFFFFL) != u32(trailerAt + 4))
        throw new IOException("gzip ISIZE mismatch")
      Member(payload, (trailerAt + 8 - off).toLong)
    } finally inf.end()
  }

  /** Encode one payload as one gzip member (the record-per-member
    * convention [[readWarc]] splits on). */
  def gzipWrap(payload: Array[Byte]): Array[Byte] = {
    val def_ = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    def_.setInput(payload); def_.finish()
    val out = new ByteArrayOutputStream(payload.length / 2 + 64)
    out.write(Array[Byte](GzMagic0, GzMagic1, GzDeflate, 0, 0, 0, 0, 0, 0, 0xFF.toByte))
    val chunk = new Array[Byte](8192)
    while (!def_.finished()) {
      val n = def_.deflate(chunk)
      out.write(chunk, 0, n)
    }
    def_.end()
    val crc = new CRC32(); crc.update(payload)
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    out.write(le32(crc.getValue))
    out.write(le32(payload.length.toLong))
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // WARC record parse
  // ------------------------------------------------------------------

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII
  private val Utf8C = java.nio.charset.StandardCharsets.UTF_8

  /** Parsed fields of one record (error == null iff clean). */
  private[operators] final case class Rec(
      recordType: String, url: String, date: String, contentType: String,
      recordId: String, contentLength: java.lang.Long, content: Array[Byte],
      error: String, consumed: Int)

  private def quarantined(msg: String, raw: Array[Byte], off: Int): Rec = {
    val n = math.min(raw.length - off, QuarantineCap)
    Rec(null, null, null, null, null, null,
      java.util.Arrays.copyOfRange(raw, off, off + n), msg, raw.length - off)
  }

  /** Parse ONE WARC record at `buf(off)`: `WARC/1.0` version line, header
    * lines to CRLFCRLF, `Content-Length` octets of block. Malformation →
    * quarantine Rec consuming the rest of the buffer (within one gzip
    * member that is exactly the broken record; in a plain stream there is
    * no safe resync — see the class scaladoc). */
  private[operators] def parseRecord(buf: Array[Byte], off: Int): Rec = {
    // locate CRLFCRLF terminating the header block
    var hEnd = -1
    var i = off
    while (hEnd < 0 && i + 3 < buf.length) {
      if (buf(i) == '\r' && buf(i + 1) == '\n' && buf(i + 2) == '\r' &&
          buf(i + 3) == '\n') hEnd = i
      i += 1
    }
    if (hEnd < 0) return quarantined("header block missing CRLFCRLF", buf, off)
    val head = new String(buf, off, hEnd - off, Utf8C)
    val lines = head.split("\r\n", -1)
    if (lines.isEmpty || !lines(0).startsWith("WARC/"))
      return quarantined(s"bad version line: '${lines.headOption.getOrElse("")}'", buf, off)
    var rtype: String = null; var url: String = null; var date: String = null
    var ctype: String = null; var rid: String = null
    var clen: java.lang.Long = null; var badLen = false
    lines.iterator.drop(1).foreach { ln =>
      val c = ln.indexOf(':')
      if (c > 0) {
        val k = ln.substring(0, c).trim.toLowerCase
        val v = ln.substring(c + 1).trim
        k match {
          case "warc-type" => rtype = v
          case "warc-target-uri" => url = v
          case "warc-date" => date = v
          case "content-type" => ctype = v
          case "warc-record-id" => rid = v
          case "content-length" =>
            try clen = java.lang.Long.valueOf(v)
            catch { case _: NumberFormatException => badLen = true }
          case _ => ()
        }
      }
    }
    if (badLen || clen == null)
      return quarantined("missing or invalid Content-Length", buf, off)
    if (clen < 0 || clen > Int.MaxValue.toLong - 64)
      return quarantined(s"Content-Length $clen out of range", buf, off)
    val bodyAt = hEnd + 4
    if (bodyAt + clen > buf.length)
      return quarantined(
        s"content truncated: need $clen bytes, have ${buf.length - bodyAt}", buf, off)
    val body = java.util.Arrays.copyOfRange(buf, bodyAt, bodyAt + clen.toInt)
    // the two CRLF of the record trailer are optional at buffer end
    var consumed = bodyAt + clen.toInt - off
    var t = bodyAt + clen.toInt
    var crlf = 0
    while (crlf < 2 && t + 1 < buf.length && buf(t) == '\r' && buf(t + 1) == '\n') {
      t += 2; consumed += 2; crlf += 1
    }
    Rec(rtype, url, date, ctype, rid, clen, body, null, consumed)
  }

  // ------------------------------------------------------------------
  // read
  // ------------------------------------------------------------------

  /** Read `.warc.gz` (record-per-member, split-parallel) and plain
    * `.warc`/`.wet` (one task per file) under `path` into [[schema]].
    * Clean records have `error IS NULL`; malformed members/records are
    * quarantine rows. */
  def readWarc(spark: SparkSession, path: String): DataFrame = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(new Configuration())
    val files = fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getLen > 0 && {
        val n = s.getPath.getName
        n.endsWith(".warc.gz") || n.endsWith(".wet.gz") ||
          n.endsWith(".warc") || n.endsWith(".wet")
      })
      .map(s => (s.getPath.toString, s.getLen))
      .sortBy(_._1)
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val splits = files.flatMap { case (p, len) =>
      if (p.endsWith(".gz"))
        (0L until len by maxSplit).map(s => (p, s, math.min(s + maxSplit, len)))
      else Seq((p, 0L, len)) // plain WARC: no safe mid-stream resync
    }
    val rows =
      if (splits.isEmpty) spark.sparkContext.emptyRDD[Row]
      else spark.sparkContext.parallelize(splits, splits.size).flatMap {
        case (file, start, end) =>
          if (file.endsWith(".gz")) gzSplitRows(file, start, end)
          else plainRows(file)
      }
    spark.createDataFrame(rows, schema)
  }

  /** The WET text view: clean `conversion` records of [[readWarc]] with
    * the content decoded as UTF-8 `text` — the documents-table input
    * shape. Quarantine rows are dropped here; route them from
    * [[readWarc]] if a dead-letter sink is wanted. */
  def readWet(spark: SparkSession, path: String): DataFrame =
    readWarc(spark, path)
      .filter(col("error").isNull && col("record_type") === "conversion")
      .withColumn("text", decode(col("content"), "UTF-8"))
      .drop("content", "error")

  /** Decode the gzip members whose start offset lies in [start, end).
    * Buffers the scan range plus one member overhang — bounded by
    * (split size + largest member), the same envelope every splittable
    * text reader carries. */
  private def gzSplitRows(file: String, start: Long, end: Long): Iterator[Row] = {
    val p = new Path(file)
    val fsLocal = p.getFileSystem(new Configuration())
    val len = fsLocal.getFileStatus(p).getLen
    val in: FSDataInputStream = fsLocal.open(p)
    try {
      // read [start, len) up to end-of-range + max member overhang: members
      // owned by this split start before `end` but may extend past it. We
      // buffer from `start` to `end`, then extend while a member straddles.
      val cap = math.min(len, end + (4L << 20)) // 4 MiB initial overhang
      var buf = readRange(in, start, cap)
      def extend(needUpTo: Long): Unit = {
        if (needUpTo > start + buf.length && start + buf.length < len) {
          val newCap = math.min(len, math.max(needUpTo, start + buf.length * 2L))
          buf = buf ++ readRange(in, start + buf.length, newCap)
        }
      }
      val out = ArrayBuffer.empty[Row]
      // first member: offset `start` if it IS a member start (split-aligned
      // or file head), else scan forward for the next verified magic
      var pos = 0
      if (start > 0 && !isMemberAt(buf, 0)) pos = nextMember(buf, 1)
      else if (start == 0 && !isMemberAt(buf, 0)) pos = nextMember(buf, 1)
      while (pos >= 0 && start + pos < end) {
        val memberOff = start + pos
        // a member can straddle the buffered range: grow until it decodes
        // or the file is exhausted
        var rec: Either[String, Member] = null
        var done = false
        while (!done) {
          try { rec = Right(gzipMember(buf, pos)); done = true }
          catch {
            case _: EOFException if start + buf.length < len =>
              extend(start + buf.length + (8L << 20))
            case e: IOException => rec = Left(e.getMessage); done = true
          }
        }
        rec match {
          case Right(m) =>
            var o = 0
            while (o < m.payload.length) {
              val r = parseRecord(m.payload, o)
              out += recRow(file, memberOff, r)
              o += math.max(1, r.consumed)
            }
            pos += m.compressedLen.toInt
            if (start + pos < end) extend(start + pos + 1024L)
            if (pos < buf.length && !isMemberAt(buf, pos)) {
              // garbage between members: quarantine the gap head, resync
              val next = nextMember(buf, pos + 1)
              val gapEnd = if (next >= 0) next else buf.length
              out += quarRow(file, start + pos,
                "garbage between gzip members",
                java.util.Arrays.copyOfRange(buf, pos,
                  math.min(gapEnd, pos + QuarantineCap)))
              pos = next
            }
          case Left(err) =>
            // broken member: quarantine its head, resync at next magic
            val next = nextMember(buf, pos + 1)
            val capAt = if (next >= 0) next else buf.length
            out += quarRow(file, memberOff, s"gzip member corrupt: $err",
              java.util.Arrays.copyOfRange(buf, pos,
                math.min(capAt, pos + QuarantineCap)))
            pos = next
        }
        if (pos >= buf.length) pos = -1
      }
      out.iterator
    } finally in.close()
  }

  /** Sequential parse of an uncompressed `.warc`/`.wet` file. */
  private def plainRows(file: String): Iterator[Row] = {
    val p = new Path(file)
    val fsLocal = p.getFileSystem(new Configuration())
    val len = fsLocal.getFileStatus(p).getLen
    val in = fsLocal.open(p)
    val buf = try readRange(in, 0L, len) finally in.close()
    val out = ArrayBuffer.empty[Row]
    var pos = 0
    while (pos < buf.length) {
      // tolerate inter-record CRLF padding
      if (buf(pos) == '\r' || buf(pos) == '\n') pos += 1
      else {
        val r = parseRecord(buf, pos)
        out += recRow(file, pos.toLong, r)
        pos += math.max(1, r.consumed)
      }
    }
    out.iterator
  }

  private def recRow(file: String, off: Long, r: Rec): Row =
    if (r.error == null)
      Row(file, off, r.recordType, r.url, r.date, r.contentType, r.recordId,
        r.contentLength.longValue(), r.content, null)
    else quarRow(file, off, r.error, r.content)

  private def quarRow(file: String, off: Long, err: String, raw: Array[Byte]): Row =
    Row(file, off, null, null, null, null, null, null, raw, err)

  private def readRange(in: FSDataInputStream, from: Long, to: Long): Array[Byte] = {
    val n = (to - from).toInt
    val b = new Array[Byte](math.max(0, n))
    if (n > 0) in.readFully(from, b)
    b
  }

  /** Candidate member start: gzip magic + deflate CM + inflatable prefix
    * reading `WARC/`. */
  private[operators] def isMemberAt(buf: Array[Byte], off: Int): Boolean = {
    if (off + 18 > buf.length) return false
    if (buf(off) != GzMagic0 || buf(off + 1) != GzMagic1 ||
        buf(off + 2) != GzDeflate) return false
    // parse header skip like gzipMember, then inflate 5 bytes
    try {
      val flg = buf(off + 3) & 0xFF
      var p = off + 10
      if ((flg & 0x04) != 0) {
        val xlen = (buf(p) & 0xFF) | ((buf(p + 1) & 0xFF) << 8); p += 2 + xlen
      }
      if ((flg & 0x08) != 0) { while (buf(p) != 0) p += 1; p += 1 }
      if ((flg & 0x10) != 0) { while (buf(p) != 0) p += 1; p += 1 }
      if ((flg & 0x02) != 0) p += 2
      val inf = new Inflater(true)
      try {
        inf.setInput(buf, p, math.min(buf.length - p, 512))
        val head = new Array[Byte](5)
        var got = 0
        while (got < 5 && !inf.finished() && !inf.needsInput()) {
          val n = inf.inflate(head, got, 5 - got)
          if (n == 0 && !inf.finished() && !inf.needsInput()) return false
          got += n
        }
        got == 5 && new String(head, Ascii) == "WARC/"
      } finally inf.end()
    } catch {
      case _: ArrayIndexOutOfBoundsException => false
      case _: java.util.zip.DataFormatException => false
    }
  }

  /** Next verified member start at/after `from`, or -1. */
  private[operators] def nextMember(buf: Array[Byte], from: Int): Int = {
    var i = math.max(0, from)
    while (i + 3 <= buf.length) {
      if (buf(i) == GzMagic0 && buf(i + 1) == GzMagic1 &&
          buf(i + 2) == GzDeflate && isMemberAt(buf, i)) return i
      i += 1
    }
    -1
  }

  // ------------------------------------------------------------------
  // whole-buffer record walk (the streaming-ingest unit)
  // ------------------------------------------------------------------

  /** One WARC record as a flat row — the typed shape the streaming
    * crawl-ingest twin flatMaps to ([[graft.streaming.CrawlStreams]]);
    * field-compatible with [[schema]]. */
  final case class WarcRec(file: String, offset: Long, record_type: String,
      url: String, date: String, content_type: String,
      warc_record_id: String, content_length: java.lang.Long,
      content: Array[Byte], error: String)

  private def recToRec(file: String, off: Long, r: Rec): WarcRec =
    if (r.error == null)
      WarcRec(file, off, r.recordType, r.url, r.date, r.contentType,
        r.recordId, r.contentLength, r.content, null)
    else WarcRec(file, off, null, null, null, null, null, null,
      r.content, r.error)

  /** Decode EVERY record of one in-memory WARC payload (gzip
    * record-per-member if it starts with the gzip magic, plain
    * otherwise) — the per-file unit of streaming ingest, where whole
    * files are the arrival granularity and splitting happens across
    * FILES, not within them. Same quarantine semantics as [[readWarc]]. */
  def recordsFromBytes(name: String, buf: Array[Byte]): Seq[WarcRec] = {
    val out = ArrayBuffer.empty[WarcRec]
    if (buf.length >= 3 && buf(0) == GzMagic0 && buf(1) == GzMagic1 &&
        buf(2) == GzDeflate) {
      var pos = 0
      if (!isMemberAt(buf, 0)) pos = nextMember(buf, 1)
      while (pos >= 0 && pos < buf.length) {
        val memberOff = pos.toLong
        val rec: Either[String, Member] =
          try Right(gzipMember(buf, pos))
          catch { case e: IOException => Left(e.getMessage) }
        rec match {
          case Right(m) =>
            var o = 0
            while (o < m.payload.length) {
              val r = parseRecord(m.payload, o)
              out += recToRec(name, memberOff, r)
              o += math.max(1, r.consumed)
            }
            pos += m.compressedLen.toInt
            if (pos < buf.length && !isMemberAt(buf, pos)) {
              val next = nextMember(buf, pos + 1)
              val gapEnd = if (next >= 0) next else buf.length
              out += WarcRec(name, pos.toLong, null, null, null, null, null,
                null, java.util.Arrays.copyOfRange(buf, pos,
                  math.min(gapEnd, pos + QuarantineCap)),
                "garbage between gzip members")
              pos = next
            }
          case Left(err) =>
            val next = nextMember(buf, pos + 1)
            val capAt = if (next >= 0) next else buf.length
            out += WarcRec(name, memberOff, null, null, null, null, null,
              null, java.util.Arrays.copyOfRange(buf, pos,
                math.min(capAt, pos + QuarantineCap)),
              s"gzip member corrupt: $err")
            pos = next
        }
        if (pos < 0) pos = buf.length
      }
    } else {
      var pos = 0
      while (pos < buf.length) {
        if (buf(pos) == '\r' || buf(pos) == '\n') pos += 1
        else {
          val r = parseRecord(buf, pos)
          out += recToRec(name, pos.toLong, r)
          pos += math.max(1, r.consumed)
        }
      }
    }
    out.toSeq
  }

  // ------------------------------------------------------------------
  // write (round-trip gates / fixture synthesis)
  // ------------------------------------------------------------------

  /** Serialize one record (headers + body + trailer CRLFs). */
  def recordBytes(recordType: String, url: String,
      date: String, contentType: String, recordId: String,
      content: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(recordType).append("\r\n")
    if (url != null) sb.append("WARC-Target-URI: ").append(url).append("\r\n")
    sb.append("WARC-Date: ").append(date).append("\r\n")
    sb.append("WARC-Record-ID: ").append(recordId).append("\r\n")
    if (contentType != null)
      sb.append("Content-Type: ").append(contentType).append("\r\n")
    sb.append("Content-Length: ").append(content.length).append("\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes(Utf8C)
    val out = new Array[Byte](head.length + content.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(content, 0, out, head.length, content.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Write `df` as WARC at `path` (overwrite), one file per partition.
    * Expected columns: record_type, url, date, content_type,
    * warc_record_id (strings; url/content_type nullable) and content
    * (binary). `compress=true` → record-per-member `.warc.gz` (the
    * splittable layout); false → plain `.warc`. */
  def writeWarc(df: DataFrame, path: String, layoutCols: Seq[String] = Nil,
                compress: Boolean = true): Unit = {
    val laid =
      if (layoutCols.isEmpty) df
      else df.sortWithinPartitions(layoutCols.map(col): _*)
    val dir = new Path(path)
    val fs = dir.getFileSystem(new Configuration())
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val n = laid.rdd.getNumPartitions
    val ext = if (compress) "warc.gz" else "warc"
    val proj = laid.select(
      col("record_type").cast("string"), col("url").cast("string"),
      col("date").cast("string"), col("content_type").cast("string"),
      col("warc_record_id").cast("string"), col("content").cast("binary"))
    proj.rdd.mapPartitionsWithIndex { (pid, it) =>
      if (it.hasNext || pid == 0) {
        val out = new Path(path, f"part-$pid%05d-of-$n%05d.$ext")
        val stream = out.getFileSystem(new Configuration()).create(out, true)
        try {
          it.foreach { row =>
            val bytes = recordBytes(row.getString(0), row.getString(1),
              row.getString(2), row.getString(3), row.getString(4),
              row.getAs[Array[Byte]](5))
            stream.write(if (compress) gzipWrap(bytes) else bytes)
          }
        } finally stream.close()
        Iterator.single(1)
      } else Iterator.empty
    }.count(): Unit
  }
}
