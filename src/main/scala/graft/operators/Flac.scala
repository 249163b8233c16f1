package graft.operators

/** Pure-JVM FLAC codec (RFC 9639 / xiph.org format spec) — the compressed
  * audio format a training-data pipeline actually meets at scale: speech
  * corpora ship lossless (e.g. LibriSpeech-style distributions are FLAC),
  * and losslessness is what makes an EXACT oracle possible — decoded
  * samples must equal the source bit-for-bit, so the q107 round-trip gate
  * hashes real codec output against a raw-table replay.
  *
  * Unlike MP3/AAC — whose specs normatively tabulate Huffman codebooks and
  * the synthesis window as DATA that cannot be verifiably re-derived
  * offline (a from-memory table would be self-consistent but
  * non-interoperable) — every piece of FLAC is algorithmic: CRC-8 poly
  * 0x07, CRC-16 poly 0x8005, UTF-8-style frame numbers, zigzag + Rice
  * (Golomb power-of-two) residual coding, the four fixed polynomial
  * predictors, in-stream quantized LPC coefficients, and an MD5 signature
  * of the unencoded PCM. So this decoder is spec-complete for the subset
  * real encoders emit: all block-size/sample-rate/sample-size codes, all
  * channel assignments (independent, left/side, right/side, mid/side),
  * CONSTANT/VERBATIM/FIXED 0–4/LPC 1–32 subframes, wasted bits, Rice and
  * Rice2 partitions with escapes, and both CRCs plus the MD5 verified.
  *
  * The encoder is a real (if compact) encoder, not a test fixture: per
  * block it picks CONSTANT where possible, the cheapest fixed predictor
  * otherwise (VERBATIM fallback for incompressible noise), detects wasted
  * bits, chooses the best Rice partition order and per-partition
  * parameters with escape fallback, and for stereo picks the cheapest of
  * the four channel assignments. mp3/aac/h264 remain behind the
  * [[DecoderProvider]] SPI (see [[Multimodal.StubDecoder]]) for the table
  * reason above.
  */
object Flac {

  // ---------------------------------------------------------------- CRCs

  // CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0, MSB-first.
  private val crc8Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i
      var b = 0
      while (b < 8) { c = if ((c & 0x80) != 0) (c << 1) ^ 0x07 else c << 1; b += 1 }
      t(i) = c & 0xFF
      i += 1
    }
    t
  }

  // CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0, MSB-first.
  private val crc16Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 8
      var b = 0
      while (b < 8) { c = if ((c & 0x8000) != 0) (c << 1) ^ 0x8005 else c << 1; b += 1 }
      t(i) = c & 0xFFFF
      i += 1
    }
    t
  }

  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = crc8Table(c ^ (b(i) & 0xFF)); i += 1 }
    c
  }

  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = crc16Table(((c >>> 8) ^ (b(i) & 0xFF)) & 0xFF) ^ ((c << 8) & 0xFFFF); i += 1 }
    c
  }

  // ------------------------------------------------------------ bit I/O

  /** MSB-first bit writer over a growable byte buffer (FLAC is a big-endian
    * bit stream). Exposes the raw bytes so frame CRCs can run over exact
    * byte ranges — every CRC boundary in FLAC is byte-aligned. */
  private final class BitWriter(initial: Int = 1 << 12) {
    private var buf = new Array[Byte](initial)
    private var nBytes = 0
    private var acc = 0L   // pending bits, MSB side unused
    private var nAcc = 0   // pending bit count, < 8

    private def ensure(n: Int): Unit =
      if (nBytes + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, nBytes + n))

    def writeBits(value: Long, n: Int): Unit = {
      require(n >= 0 && n <= 64, s"bad bit count $n")
      var left = n
      while (left > 0) {
        val take = math.min(8 - nAcc, left)
        val chunk = (value >>> (left - take)) & ((1L << take) - 1)
        acc = (acc << take) | chunk
        nAcc += take
        left -= take
        if (nAcc == 8) { ensure(1); buf(nBytes) = acc.toByte; nBytes += 1; acc = 0L; nAcc = 0 }
      }
    }

    /** FLAC unary: n zero bits then a one bit. */
    def writeUnary(n: Int): Unit = {
      var left = n
      while (left >= 32) { writeBits(0L, 32); left -= 32 }
      writeBits(1L, left + 1)
    }

    /** Pad with zero bits to the next byte boundary. */
    def align(): Unit = if (nAcc != 0) writeBits(0L, 8 - nAcc)

    def size: Int = { require(nAcc == 0, "unaligned"); nBytes }
    def bytes: Array[Byte] = buf // valid up to `size`
    def toArray: Array[Byte] = { align(); java.util.Arrays.copyOf(buf, nBytes) }
  }

  /** MSB-first bit reader. `bytePos` is only valid at byte boundaries —
    * exactly where FLAC puts its CRC fences. */
  private final class BitReader(b: Array[Byte], startByte: Int) {
    private var pos = startByte.toLong * 8

    def bytePos: Int = { require((pos & 7) == 0, "unaligned"); (pos >> 3).toInt }
    def align(): Unit = pos = (pos + 7) & ~7L

    def readBit(): Int = {
      val i = (pos >> 3).toInt
      if (i >= b.length) throw new IllegalArgumentException("flac: truncated stream")
      val bit = (b(i) >> (7 - (pos & 7)).toInt) & 1
      pos += 1
      bit
    }

    def readBits(n: Int): Int = {
      require(n >= 0 && n <= 32, s"bad bit count $n")
      readBitsLong(n).toInt
    }

    def readBitsLong(n: Int): Long = {
      require(n >= 0 && n <= 64, s"bad bit count $n")
      var v = 0L
      var left = n
      while (left > 0) {
        val i = (pos >> 3).toInt
        if (i >= b.length) throw new IllegalArgumentException("flac: truncated stream")
        val avail = 8 - (pos & 7).toInt
        val take = math.min(avail, left)
        val chunk = ((b(i) & 0xFF) >>> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | chunk
        pos += take
        left -= take
      }
      v
    }

    /** Signed two's-complement read. */
    def readSigned(n: Int): Int = {
      if (n == 0) 0
      else {
        val v = readBits(n)
        (v << (32 - n)) >> (32 - n)
      }
    }

    def readUnary(): Int = {
      var n = 0
      while (readBit() == 0) n += 1
      n
    }
  }

  // --------------------------------------------------------------- model

  /** Decoded stream: per-channel integer samples plus verification flags.
    * `md5Ok` is the STREAMINFO PCM signature re-computed from the DECODED
    * samples — end-to-end losslessness proof carried in-band by the
    * format itself. */
  case class FlacAudio(sampleRate: Int, bps: Int, channels: Array[Array[Int]],
                       totalSamples: Long, md5Ok: Boolean)

  private val RiceEscape = 15
  private val Rice2Escape = 31

  // ------------------------------------------------------------- encoder

  /** Bits needed to hold `v` as two's complement (0 for v == 0). */
  private def signedBits(v: Int): Int =
    if (v == 0) 0
    else if (v > 0) 33 - Integer.numberOfLeadingZeros(v)
    else 33 - Integer.numberOfLeadingZeros(~v)

  /** Residuals of the order-k fixed polynomial predictor (k-th difference),
    * for samples k until n. Intermediate sums stay well inside Int for
    * bps ≤ 26 (max |residual| ≤ 16 · 2^bps). */
  private def fixedResiduals(x: Array[Int], order: Int): Array[Int] = {
    val n = x.length
    val out = new Array[Int](n - order)
    var i = order
    while (i < n) {
      val e = order match {
        case 0 => x(i)
        case 1 => x(i) - x(i - 1)
        case 2 => x(i) - 2 * x(i - 1) + x(i - 2)
        case 3 => x(i) - 3 * x(i - 1) + 3 * x(i - 2) - x(i - 3)
        case 4 => x(i) - 4 * x(i - 1) + 6 * x(i - 2) - 4 * x(i - 3) + x(i - 4)
      }
      out(i - order) = e
      i += 1
    }
    out
  }

  private def zigzag(v: Int): Long = { val l = v.toLong; (l << 1) ^ (l >> 63) }

  /** (bits, param) of the cheapest Rice parameter for one partition;
    * param == -1 means the raw escape is cheaper (bits include the 5-bit
    * raw-width field, not the 4/5-bit parameter field). */
  private def bestRice(z: Array[Long], from: Int, until: Int, maxParam: Int): (Long, Int) = {
    val cnt = until - from
    var bestBits = Long.MaxValue
    var bestP = 0
    var p = 0
    while (p <= maxParam) {
      var bits = cnt.toLong * (1 + p)
      var i = from
      while (i < until && bits < bestBits) { bits += z(i) >>> p; i += 1 }
      if (i == until && bits < bestBits) { bestBits = bits; bestP = p }
      p += 1
    }
    var maxRaw = 0
    var i = from
    while (i < until) {
      // raw escape stores the residual itself, not the zigzag fold
      val w = signedBits(((z(i) >>> 1) ^ -(z(i) & 1L)).toInt)
      if (w > maxRaw) maxRaw = w
      i += 1
    }
    val rawBits = 5L + cnt.toLong * maxRaw
    if (rawBits < bestBits) (rawBits, -1) else (bestBits, bestP)
  }

  /** Plan the residual coding: partition order, per-partition params
    * (−1 = escape), total bits including method/order/param fields. */
  private case class ResidualPlan(method: Int, po: Int, params: Array[Int], bits: Long)

  private def planResidual(res: Array[Int], blockSize: Int, order: Int): ResidualPlan = {
    val z = new Array[Long](res.length)
    var i = 0
    while (i < res.length) { z(i) = zigzag(res(i)); i += 1 }
    var best: ResidualPlan = null
    var po = 0
    while (po <= 8) {
      val parts = 1 << po
      if (blockSize % parts == 0 && (blockSize >> po) > order) {
        // plan both coding methods; method 0 (4-bit params, 0..14) wins
        // ties via strict < on the later (method 1) candidate
        var method = 0
        while (method <= 1) {
          val maxParam = if (method == 0) 14 else 30
          val params = new Array[Int](parts)
          var bits = 2L + 4L + parts.toLong * (if (method == 0) 4 else 5)
          var j = 0
          while (j < parts) {
            val cnt0 = blockSize >> po
            val from = j * cnt0 - (if (j == 0) 0 else order)
            val until = (j + 1) * cnt0 - order
            val (pb, pp) = bestRice(z, from, until, maxParam)
            params(j) = pp
            bits += pb
            j += 1
          }
          if (best == null || bits < best.bits) best = ResidualPlan(method, po, params, bits)
          method += 1
        }
      }
      po += 1
    }
    best
  }

  private def writeResidual(w: BitWriter, res: Array[Int], blockSize: Int,
                            order: Int, plan: ResidualPlan): Unit = {
    w.writeBits(plan.method.toLong, 2)
    w.writeBits(plan.po.toLong, 4)
    val parts = 1 << plan.po
    val escape = if (plan.method == 0) RiceEscape else Rice2Escape
    val pBits = if (plan.method == 0) 4 else 5
    var j = 0
    var idx = 0
    while (j < parts) {
      val cnt = (blockSize >> plan.po) - (if (j == 0) order else 0)
      val p = plan.params(j)
      if (p < 0) {
        var maxRaw = 0
        var i = 0
        while (i < cnt) { val b = signedBits(res(idx + i)); if (b > maxRaw) maxRaw = b; i += 1 }
        w.writeBits(escape.toLong, pBits)
        w.writeBits(maxRaw.toLong, 5)
        i = 0
        while (i < cnt) { w.writeBits(res(idx + i).toLong & ((1L << maxRaw) - 1), maxRaw); i += 1 }
      } else {
        w.writeBits(p.toLong, pBits)
        var i = 0
        while (i < cnt) {
          val z = zigzag(res(idx + i))
          w.writeUnary((z >>> p).toInt)
          w.writeBits(z & ((1L << p) - 1), p)
          i += 1
        }
      }
      idx += cnt
      j += 1
    }
  }

  /** Encode one subframe. `x` are the (possibly side-channel) samples,
    * `sbps` their bit width. */
  private def writeSubframe(w: BitWriter, x: Array[Int], sbps: Int): Unit = {
    val n = x.length
    var allEq = true
    var i = 1
    while (i < n && allEq) { if (x(i) != x(0)) allEq = false; i += 1 }
    if (allEq) {
      w.writeBits(0L, 1); w.writeBits(0L, 6); w.writeBits(0L, 1) // CONSTANT, no wasted bits
      w.writeBits(x(0).toLong & ((1L << sbps) - 1), sbps)
      return
    }
    // wasted bits: trailing zeros common to every sample (zeros impose none)
    var wasted = sbps - 1
    i = 0
    while (i < n && wasted > 0) {
      if (x(i) != 0) wasted = math.min(wasted, Integer.numberOfTrailingZeros(x(i)))
      i += 1
    }
    val xs = if (wasted > 0) { val a = new Array[Int](n); var k = 0; while (k < n) { a(k) = x(k) >> wasted; k += 1 }; a }
             else x
    val ebps = sbps - wasted

    // cheapest fixed predictor by exact residual-coding cost
    var bestOrder = 0
    var bestPlan: ResidualPlan = null
    var bestRes: Array[Int] = null
    var bestBits = Long.MaxValue
    var o = 0
    while (o <= math.min(4, n - 1)) {
      val res = fixedResiduals(xs, o)
      val plan = planResidual(res, n, o)
      if (plan != null) {
        val bits = plan.bits + o.toLong * ebps
        if (bits < bestBits) { bestBits = bits; bestOrder = o; bestPlan = plan; bestRes = res }
      }
      o += 1
    }
    val verbatimBits = n.toLong * ebps

    def writeWasted(): Unit =
      if (wasted == 0) w.writeBits(0L, 1)
      else { w.writeBits(1L, 1); w.writeUnary(wasted - 1) }

    if (bestPlan == null || verbatimBits <= bestBits) {
      w.writeBits(0L, 1); w.writeBits(1L, 6); writeWasted() // VERBATIM
      i = 0
      while (i < n) { w.writeBits(xs(i).toLong & ((1L << ebps) - 1), ebps); i += 1 }
    } else {
      w.writeBits(0L, 1); w.writeBits(8L + bestOrder, 6); writeWasted() // FIXED
      i = 0
      while (i < bestOrder) { w.writeBits(xs(i).toLong & ((1L << ebps) - 1), ebps); i += 1 }
      writeResidual(w, bestRes, n, bestOrder, bestPlan)
    }
  }

  /** Sum-abs-residual proxy for channel-assignment selection (exact bit
    * planning runs per chosen channel afterwards). */
  private def channelCost(x: Array[Int]): Long = {
    var best = Long.MaxValue
    var o = 0
    while (o <= math.min(4, x.length - 1)) {
      val res = fixedResiduals(x, o)
      var s = 0L
      var i = 0
      while (i < res.length) { s += math.abs(res(i).toLong); i += 1 }
      if (s < best) best = s
      o += 1
    }
    best
  }

  /** UTF-8-style coded number (frame index), up to 36 bits / 7 bytes. */
  private def writeUtf8Number(w: BitWriter, v: Long): Unit = {
    require(v >= 0 && v < (1L << 36), s"frame number out of range: $v")
    if (v < 0x80) w.writeBits(v, 8)
    else {
      val cont = if (v < 0x800) 1 else if (v < 0x10000) 2 else if (v < 0x200000) 3
                 else if (v < 0x4000000) 4 else if (v < 0x80000000L) 5 else 6
      val lead = cont match {
        case 1 => 0xC0L; case 2 => 0xE0L; case 3 => 0xF0L
        case 4 => 0xF8L; case 5 => 0xFCL; case 6 => 0xFEL
      }
      w.writeBits(lead | (if (cont == 6) 0L else v >>> (6 * cont)), 8)
      var k = cont - 1
      while (k >= 0) { w.writeBits(0x80L | ((v >>> (6 * k)) & 0x3F), 8); k -= 1 }
    }
  }

  /** Encode multi-channel integer PCM as a FLAC stream. Supports 1–8
    * channels, 4 ≤ bps ≤ 24, fixed block size (last block may be short).
    * Stereo picks the cheapest of independent/left-side/right-side/
    * mid-side per block. */
  def encode(sampleRate: Int, channels: Array[Array[Int]], bps: Int = 16,
             blockSize: Int = 4096): Array[Byte] = {
    require(channels.nonEmpty && channels.length <= 8, "1..8 channels")
    require(bps >= 4 && bps <= 24, "4..24 bits per sample")
    require(blockSize >= 16 && blockSize <= 65535, "block size 16..65535")
    require(sampleRate > 0 && sampleRate < (1 << 20), "bad sample rate")
    val n = channels(0).length
    require(n > 0, "need at least one sample")
    require(channels.forall(_.length == n), "ragged channels")
    val lim = 1 << (bps - 1)
    channels.foreach(c => require(c.forall(s => s >= -lim && s < lim), "sample out of bps range"))

    // MD5 of the unencoded PCM: channel-interleaved, little-endian,
    // ceil(bps/8) bytes per sample (RFC 9639 §8.2).
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val bytesPer = (bps + 7) / 8
    val rowBuf = new Array[Byte](channels.length * bytesPer)
    var s = 0
    while (s < n) {
      var c = 0
      while (c < channels.length) {
        var b = 0
        while (b < bytesPer) { rowBuf(c * bytesPer + b) = ((channels(c)(s) >> (8 * b)) & 0xFF).toByte; b += 1 }
        c += 1
      }
      md5.update(rowBuf)
      s += 1
    }
    val digest = md5.digest()

    val out = new java.io.ByteArrayOutputStream(64 + n * channels.length)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    val si = new BitWriter(42)
    si.writeBits((1L << 7) | 0L, 8) // last metadata block, type 0 = STREAMINFO
    si.writeBits(34L, 24)
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(0L, 24) // min frame size unknown
    si.writeBits(0L, 24) // max frame size unknown
    si.writeBits(sampleRate.toLong, 20)
    si.writeBits((channels.length - 1).toLong, 3)
    si.writeBits((bps - 1).toLong, 5)
    si.writeBits(n.toLong, 36)
    out.write(si.toArray)
    out.write(digest)

    var frameIdx = 0L
    var off = 0
    while (off < n) {
      val bs = math.min(blockSize, n - off)
      val w = new BitWriter(16 + bs * channels.length * 3)
      w.writeBits(0x3FFEL, 14) // sync
      w.writeBits(0L, 1)       // reserved
      w.writeBits(0L, 1)       // fixed-blocksize stream
      // blocksize code 7: explicit 16-bit (bs-1) — always-valid encoding
      w.writeBits(7L, 4)
      w.writeBits(0L, 4)       // sample rate: from STREAMINFO
      // channel assignment
      val block = Array.tabulate(channels.length)(c =>
        java.util.Arrays.copyOfRange(channels(c), off, off + bs))
      var assign = channels.length - 1
      var sub: Array[(Array[Int], Int)] = block.map(b => (b, bps))
      if (channels.length == 2) {
        val (l, r) = (block(0), block(1))
        val side = new Array[Int](bs)
        val mid = new Array[Int](bs)
        var i = 0
        while (i < bs) { side(i) = l(i) - r(i); mid(i) = (l(i) + r(i)) >> 1; i += 1 }
        val (cl, cr, cs, cm) = (channelCost(l), channelCost(r), channelCost(side), channelCost(mid))
        val costs = Array(cl + cr, cl + cs, cs + cr, cm + cs) // 1, 8, 9, 10
        var bestA = 0
        var i2 = 1
        while (i2 < 4) { if (costs(i2) < costs(bestA)) bestA = i2; i2 += 1 }
        bestA match {
          case 0 => assign = 1;  sub = Array((l, bps), (r, bps))
          case 1 => assign = 8;  sub = Array((l, bps), (side, bps + 1))
          case 2 => assign = 9;  sub = Array((side, bps + 1), (r, bps))
          case 3 => assign = 10; sub = Array((mid, bps), (side, bps + 1))
        }
      }
      w.writeBits(assign.toLong, 4)
      // sample size code; 0 = "from STREAMINFO" covers any width the spec
      // has no direct code for
      val bpsCode = bps match {
        case 8 => 1L; case 12 => 2L; case 16 => 4L; case 20 => 5L; case 24 => 6L
        case _ => 0L
      }
      w.writeBits(bpsCode, 3)
      w.writeBits(0L, 1) // reserved
      writeUtf8Number(w, frameIdx)
      w.writeBits((bs - 1).toLong, 16)
      w.align()
      w.writeBits(crc8(w.bytes, 0, w.size).toLong, 8)
      sub.foreach { case (x, sbps) => writeSubframe(w, x, sbps) }
      w.align()
      w.writeBits(crc16(w.bytes, 0, w.size).toLong, 16)
      out.write(w.toArray)
      frameIdx += 1
      off += bs
    }
    out.toByteArray
  }

  /** 16-bit mono convenience mirroring [[Multimodal.encodeWavPcm]] — the
    * synthesis half of the q107 round-trip gate. */
  def encodeFlacPcm(sampleRate: Int, samples: Array[Short],
                    blockSize: Int = 4096): Array[Byte] =
    encode(sampleRate, Array(samples.map(_.toInt)), 16, blockSize)

  // ------------------------------------------------------------- decoder

  private val SampleRateTable = Array(-1, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000)

  private def readUtf8Number(r: BitReader): Long = {
    val b0 = r.readBits(8)
    if ((b0 & 0x80) == 0) b0.toLong
    else {
      var cont = 0
      var mask = 0x40
      while ((b0 & mask) != 0) { cont += 1; mask >>= 1 }
      require(cont >= 1 && cont <= 6, s"flac: bad coded-number lead byte $b0")
      var v = (b0 & (mask - 1)).toLong
      var k = 0
      while (k < cont) {
        val b = r.readBits(8)
        require((b & 0xC0) == 0x80, "flac: bad coded-number continuation")
        v = (v << 6) | (b & 0x3F)
        k += 1
      }
      v
    }
  }

  private def readResidual(r: BitReader, blockSize: Int, order: Int): Array[Int] = {
    val method = r.readBits(2)
    require(method == 0 || method == 1, s"flac: reserved residual method $method")
    val po = r.readBits(4)
    val parts = 1 << po
    require(blockSize % parts == 0, "flac: partition order does not divide block size")
    require((blockSize >> po) > order, "flac: partition smaller than predictor order")
    val out = new Array[Int](blockSize - order)
    val pBits = if (method == 0) 4 else 5
    val escape = if (method == 0) RiceEscape else Rice2Escape
    var idx = 0
    var j = 0
    while (j < parts) {
      val cnt = (blockSize >> po) - (if (j == 0) order else 0)
      val p = r.readBits(pBits)
      if (p == escape) {
        val raw = r.readBits(5)
        var i = 0
        while (i < cnt) { out(idx + i) = r.readSigned(raw); i += 1 }
      } else {
        var i = 0
        while (i < cnt) {
          val q = r.readUnary().toLong
          val z = (q << p) | r.readBitsLong(p)
          out(idx + i) = ((z >>> 1) ^ -(z & 1L)).toInt
          i += 1
        }
      }
      idx += cnt
      j += 1
    }
    out
  }

  private def readSubframe(r: BitReader, blockSize: Int, sbps: Int): Array[Int] = {
    require(r.readBit() == 0, "flac: subframe padding bit set")
    val tpe = r.readBits(6)
    val wasted = if (r.readBit() == 1) r.readUnary() + 1 else 0
    val ebps = sbps - wasted
    require(ebps > 0, "flac: wasted bits exceed sample size")
    val x = new Array[Int](blockSize)
    if (tpe == 0) { // CONSTANT
      val v = r.readSigned(ebps)
      java.util.Arrays.fill(x, v)
    } else if (tpe == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { x(i) = r.readSigned(ebps); i += 1 }
    } else if (tpe >= 8 && tpe <= 12) { // FIXED, order tpe-8
      val order = tpe - 8
      require(order <= blockSize, "flac: fixed order exceeds block size")
      var i = 0
      while (i < order) { x(i) = r.readSigned(ebps); i += 1 }
      val res = readResidual(r, blockSize, order)
      i = order
      while (i < blockSize) {
        val e = res(i - order)
        x(i) = order match {
          case 0 => e
          case 1 => e + x(i - 1)
          case 2 => e + 2 * x(i - 1) - x(i - 2)
          case 3 => e + 3 * x(i - 1) - 3 * x(i - 2) + x(i - 3)
          case 4 => e + 4 * x(i - 1) - 6 * x(i - 2) + 4 * x(i - 3) - x(i - 4)
        }
        i += 1
      }
    } else if (tpe >= 32) { // LPC, order (tpe & 31) + 1
      val order = (tpe & 31) + 1
      require(order <= blockSize, "flac: lpc order exceeds block size")
      var i = 0
      while (i < order) { x(i) = r.readSigned(ebps); i += 1 }
      val precRaw = r.readBits(4)
      require(precRaw != 15, "flac: invalid lpc precision")
      val precision = precRaw + 1
      val shift = r.readSigned(5)
      require(shift >= 0, "flac: negative lpc shift")
      val coefs = new Array[Int](order)
      i = 0
      while (i < order) { coefs(i) = r.readSigned(precision); i += 1 }
      val res = readResidual(r, blockSize, order)
      i = order
      while (i < blockSize) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coefs(j).toLong * x(i - 1 - j); j += 1 }
        x(i) = (res(i - order) + (acc >> shift)).toInt
        i += 1
      }
    } else throw new IllegalArgumentException(s"flac: reserved subframe type $tpe")
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { x(i) = x(i) << wasted; i += 1 }
    }
    x
  }

  /** Decode a full FLAC stream: metadata walk, every frame (all block-size/
    * sample-rate/sample-size codes, every channel assignment, both Rice
    * methods, wasted bits), CRC-8 + CRC-16 enforced per frame, STREAMINFO
    * MD5 re-computed over the decoded PCM. Throws on any malformation. */
  def decode(payload: Array[Byte]): FlacAudio = {
    require(payload.length > 42 && payload(0) == 'f' && payload(1) == 'L' &&
      payload(2) == 'a' && payload(3) == 'C', "flac: bad magic")
    var off = 4
    var last = false
    var sampleRate = -1; var channels = -1; var bps = -1
    var totalSamples = -1L
    var md5Expect: Array[Byte] = null
    var seenStreamInfo = false
    while (!last) {
      require(off + 4 <= payload.length, "flac: truncated metadata header")
      last = (payload(off) & 0x80) != 0
      val tpe = payload(off) & 0x7F
      val len = ((payload(off + 1) & 0xFF) << 16) | ((payload(off + 2) & 0xFF) << 8) |
        (payload(off + 3) & 0xFF)
      off += 4
      require(off + len <= payload.length, "flac: truncated metadata block")
      if (tpe == 0) {
        require(len == 34, "flac: bad STREAMINFO length")
        val r = new BitReader(payload, off)
        r.readBits(16); r.readBits(16) // min/max block size
        r.readBits(24); r.readBits(24) // min/max frame size
        sampleRate = r.readBits(20)
        channels = r.readBits(3) + 1
        bps = r.readBits(5) + 1
        totalSamples = r.readBitsLong(36)
        md5Expect = java.util.Arrays.copyOfRange(payload, off + 18, off + 34)
        seenStreamInfo = true
      } else require(tpe != 127, "flac: invalid metadata type")
      off += len
    }
    require(seenStreamInfo, "flac: missing STREAMINFO")
    require(sampleRate > 0, "flac: bad sample rate")
    require(bps >= 4 && bps <= 32, "flac: bad sample size")

    val chans = Array.fill(channels)(new scala.collection.mutable.ArrayBuffer[Int](
      math.max(math.min(totalSamples, 1L << 20).toInt, 16)))
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val bytesPer = (bps + 7) / 8

    var decoded = 0L
    while (off < payload.length && (totalSamples == 0 || decoded < totalSamples || totalSamples < 0)) {
      val frameStart = off
      val r = new BitReader(payload, off)
      require(r.readBits(14) == 0x3FFE, "flac: lost frame sync")
      require(r.readBit() == 0, "flac: reserved header bit set")
      r.readBit() // blocking strategy (sample- vs frame-number coding below)
      val bsCode = r.readBits(4)
      val srCode = r.readBits(4)
      val chCode = r.readBits(4)
      val bpsCode = r.readBits(3)
      require(r.readBit() == 0, "flac: reserved header bit set")
      readUtf8Number(r)
      val bs = bsCode match {
        case 0 => throw new IllegalArgumentException("flac: reserved block size code")
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => r.readBits(8) + 1
        case 7 => r.readBits(16) + 1
        case c => 256 << (c - 8)
      }
      srCode match {
        case 0 => ()
        case c if c <= 11 => require(SampleRateTable(c) == sampleRate,
          "flac: frame sample rate differs from STREAMINFO")
        case 12 => r.readBits(8); ()
        case 13 => r.readBits(16); ()
        case 14 => r.readBits(16); ()
        case _ => throw new IllegalArgumentException("flac: invalid sample rate code")
      }
      val fBps = bpsCode match {
        case 0 => bps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
        case _ => throw new IllegalArgumentException("flac: reserved sample size code")
      }
      require(fBps == bps, "flac: frame sample size differs from STREAMINFO")
      require(crc8(payload, frameStart, r.bytePos) == r.readBits(8), "flac: frame header CRC-8 mismatch")

      val nCh = if (chCode <= 7) chCode + 1 else 2
      require(chCode <= 10, s"flac: reserved channel assignment $chCode")
      require(nCh == channels, "flac: frame channel count differs from STREAMINFO")
      val raw = new Array[Array[Int]](nCh)
      var c = 0
      while (c < nCh) {
        val sbps = chCode match {
          case 8 => if (c == 1) fBps + 1 else fBps  // left/side
          case 9 => if (c == 0) fBps + 1 else fBps  // side/right
          case 10 => if (c == 1) fBps + 1 else fBps // mid/side
          case _ => fBps
        }
        raw(c) = readSubframe(r, bs, sbps)
        c += 1
      }
      r.align()
      require(crc16(payload, frameStart, r.bytePos) == r.readBits(16), "flac: frame CRC-16 mismatch")
      off = r.bytePos

      // undo inter-channel decorrelation
      val lr: Array[Array[Int]] = chCode match {
        case 8 =>  // (left, side): right = left - side
          val l = raw(0); val sd = raw(1); val rr = new Array[Int](bs)
          var i = 0; while (i < bs) { rr(i) = l(i) - sd(i); i += 1 }
          Array(l, rr)
        case 9 =>  // (side, right): left = side + right
          val sd = raw(0); val rt = raw(1); val ll = new Array[Int](bs)
          var i = 0; while (i < bs) { ll(i) = sd(i) + rt(i); i += 1 }
          Array(ll, rt)
        case 10 => // (mid, side): restore the dropped low bit from side's parity
          val m = raw(0); val sd = raw(1)
          val ll = new Array[Int](bs); val rr = new Array[Int](bs)
          var i = 0
          while (i < bs) {
            val mid2 = (m(i) << 1) | (sd(i) & 1)
            ll(i) = (mid2 + sd(i)) >> 1
            rr(i) = (mid2 - sd(i)) >> 1
            i += 1
          }
          Array(ll, rr)
        case _ => raw
      }

      val rowBuf = new Array[Byte](nCh * bytesPer)
      var s = 0
      while (s < bs) {
        c = 0
        while (c < nCh) {
          var b = 0
          while (b < bytesPer) { rowBuf(c * bytesPer + b) = ((lr(c)(s) >> (8 * b)) & 0xFF).toByte; b += 1 }
          c += 1
        }
        md5.update(rowBuf)
        s += 1
      }
      c = 0
      while (c < nCh) { chans(c) ++= lr(c); c += 1 }
      decoded += bs
    }
    if (totalSamples > 0) require(decoded == totalSamples,
      s"flac: decoded $decoded samples, STREAMINFO promised $totalSamples")
    val md5Ok = md5Expect.forall(_ == 0) || java.util.Arrays.equals(md5.digest(), md5Expect)
    FlacAudio(sampleRate, bps, chans.map(_.toArray), decoded, md5Ok)
  }

  /** Feature decoder with [[Multimodal.WavPcmDecoder]]'s contract:
    * `[duration_sec, rms, zero_crossing_rate, peak]`, channel-averaged,
    * amplitudes normalized to [-1, 1]. Registered for kind "flac" in the
    * built-in routing — compressed audio no longer stubs for the one
    * lossless codec the JVM can host spec-complete. */
  class FlacDecoder extends Multimodal.Decoder {
    val featureDim = 4
    def decode(kind: String, payload: Array[Byte]): Array[Float] = {
      val a = Flac.decode(payload)
      require(a.md5Ok, "flac: PCM MD5 signature mismatch")
      val scale = (1L << (a.bps - 1)).toDouble
      val n = a.totalSamples.toInt
      var sumSq = 0.0; var peak = 0.0; var crossings = 0L; var prev = 0.0
      var i = 0
      while (i < n) {
        var mix = 0.0
        var c = 0
        while (c < a.channels.length) { mix += a.channels(c)(i) / scale; c += 1 }
        val x = mix / a.channels.length
        sumSq += x * x
        if (math.abs(x) > peak) peak = math.abs(x)
        if (i > 0 && ((prev < 0 && x >= 0) || (prev >= 0 && x < 0))) crossings += 1
        prev = x
        i += 1
      }
      val d = math.max(n, 1)
      Array(n.toFloat / a.sampleRate, math.sqrt(sumSq / d).toFloat,
        if (n > 1) crossings.toFloat / (n - 1) else 0.0f, peak.toFloat)
    }
  }

  /** Exact integer stats of a MONO stream's decoded samples
    * (n, Σq, Σq², max q) — [[Multimodal.WavPcmDecoder.rawStats]]'s contract
    * through the FLAC codec, for the q107 round-trip gate. Requires the
    * in-band MD5 to verify: the stats are only meaningful if the decode is
    * provably lossless. */
  def rawStats(payload: Array[Byte]): (Long, Long, Long, Long) = {
    val a = decode(payload)
    require(a.channels.length == 1, "rawStats expects mono")
    require(a.md5Ok, "flac: PCM MD5 signature mismatch")
    val xs = a.channels(0)
    var sumQ = 0L; var sumQ2 = 0L; var peak = Long.MinValue
    var i = 0
    while (i < xs.length) {
      val q = xs(i).toLong
      sumQ += q; sumQ2 += q * q
      if (q > peak) peak = q
      i += 1
    }
    (xs.length.toLong, sumQ, sumQ2, if (xs.isEmpty) 0L else peak)
  }
}
