package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Identities that pin the filterbank implementation:
  *   1. the ISO V/U/W synthesis flow == the direct modulated-filter form
  *      (the block-sign identity in the Mp3Filterbank scaladoc),
  *   2. analysis -> synthesis round trip >= 55 dB (the designed pair's
  *      measured 60.8 dB with margin),
  *   3. forward MDCT + spec IMDCT + overlap-add is the exact TDAC identity.
  */
class Mp3FilterbankSpec extends AnyFunSuite {

  private def lcg(n: Int, seed: Long): Array[Double] = {
    var s = seed
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 33).toDouble / (1L << 31).toDouble - 0.5
    }
  }

  test("ISO-flow synthesis equals the direct modulated-filter form") {
    val blocks = 40
    val S = Array.fill(blocks)(lcg(32, 7L))
    // ISO flow
    val syn = new Mp3Filterbank.Synthesis
    val flow = S.flatMap(syn.step)
    // direct form: out[n] += sum_k S_t[k] * w[m] cos((2k+1)(m+16)pi/64), m = n-32t
    val direct = new Array[Double](32 * blocks + 512)
    for (t <- 0 until blocks; m <- 0 until 512; k <- 0 until 32)
      direct(32 * t + m) += S(t)(k) * Mp3Filterbank.SynthesisWindow(m) *
        math.cos((2 * k + 1) * (m + 16) * math.Pi / 64)
    var maxErr = 0.0
    for (n <- 0 until 32 * blocks)
      maxErr = math.max(maxErr, math.abs(flow(n) - direct(n)))
    assert(maxErr < 1e-9, s"flow vs direct max err $maxErr")
  }

  test("ISO-flow analysis equals the direct modulated-filter form") {
    val n = 32 * 50
    val x = lcg(n, 11L)
    val ana = new Mp3Filterbank.Analysis
    val flow = (0 until n / 32).map(t => ana.step(x.slice(32 * t, 32 * t + 32)))
    // direct: S_t[k] = sum_i w[i] cos((2k+1)(i-16)pi/64) X[i],
    // X[i] = x[32t+31-i] (zero before stream start)
    for (t <- Seq(20, 35, 49); k <- Seq(0, 1, 7, 31)) {
      var s = 0.0
      for (i <- 0 until 512) {
        val src = 32 * t + 31 - i
        if (src >= 0)
          s += Mp3Filterbank.AnalysisWindow(i) *
            math.cos((2 * k + 1) * (i - 16) * math.Pi / 64) * x(src)
      }
      assert(math.abs(flow(t)(k) - s) < 1e-9, s"t=$t k=$k: ${flow(t)(k)} vs $s")
    }
  }

  test("analysis -> synthesis round trip clears 55 dB at unity gain") {
    val n = 32 * 400
    val x = lcg(n, 3L)
    val ana = new Mp3Filterbank.Analysis
    val syn = new Mp3Filterbank.Synthesis
    val out = new Array[Double](n)
    var pos = 0
    for (t <- 0 until n / 32) {
      val s = ana.step(x.slice(32 * t, 32 * t + 32))
      val y = syn.step(s)
      System.arraycopy(y, 0, out, pos, 32)
      pos += 32
    }
    // group delay: the analysis FIFO convention puts S_t at the trailing
    // edge of its 512-sample window, so the pair's end-to-end delay is
    // 480 + 1 = 481 samples; search around it and require the best to clear
    var best = -1e9
    for (d <- 470 to 492) {
      var se = 0.0; var sx = 0.0
      for (i <- 2000 until n - 2600) {
        val e = x(i) - out(i + d)
        se += e * e; sx += x(i) * x(i)
      }
      best = math.max(best, 10 * math.log10(sx / math.max(se, 1e-30)))
    }
    assert(best > 55.0, f"round-trip SNR $best%.1f dB < 55 dB")
  }

  test("forward MDCT + IMDCT + overlap-add is the exact TDAC identity") {
    val hops = 24
    val x = lcg(18 * (hops + 2), 5L)
    val rec = new Array[Double](18 * (hops + 2))
    for (t <- 0 until hops) {
      val frame = x.slice(18 * t, 18 * t + 36)
      val spec = Mp3Imdct.forwardMdctLong(frame)
      val z = Mp3Imdct.imdct(spec, 0)
      for (i <- 0 until 36) rec(18 * t + i) += z(i)
    }
    for (i <- 36 until 18 * hops) // fully-overlapped interior
      assert(math.abs(rec(i) - x(i)) < 1e-10, s"TDAC broken at $i")
  }

  test("forward short MDCT + short IMDCT + overlap-add is the exact TDAC identity") {
    // all-short granule chain: forward consumes 36-sample spans hopping 18
    // (three 12-point MDCTs each), inverse overlap-adds the same spans
    val hops = 24
    val x = lcg(18 * (hops + 2), 13L)
    val rec = new Array[Double](18 * (hops + 2))
    for (t <- 0 until hops) {
      val spec = Mp3Imdct.forwardMdctShort(x.slice(18 * t, 18 * t + 36))
      val z = Mp3Imdct.imdct(spec, 2)
      for (i <- 0 until 36) rec(18 * t + i) += z(i)
    }
    // interior excludes the half-window edges of the short chain (the
    // first/last 12 samples have incomplete hop-6 coverage)
    for (i <- 48 until 18 * hops - 12)
      assert(math.abs(rec(i) - x(i)) < 1e-10, s"short TDAC broken at $i")
  }

  test("short-block IMDCT occupies only the 6..29 window span") {
    val spec = lcg(18, 9L)
    val z = Mp3Imdct.imdct(spec, 2)
    for (i <- 0 until 6) assert(z(i) == 0.0)
    for (i <- 30 until 36) assert(z(i) == 0.0)
    assert(z.slice(6, 30).exists(_ != 0.0))
  }

  test("start/stop windows agree with the long window on their long half") {
    for (i <- 0 until 18)
      assert(Mp3Imdct.winStart(i) == Mp3Imdct.winLong(i))
    for (i <- 18 until 36)
      assert(Mp3Imdct.winStop(i) == Mp3Imdct.winLong(i))
  }
}
