package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.BloomMightContain

/** Distributed Bloom-filter build + probe — the decontamination shape when
  * the contaminant set itself is too large to broadcast as rows.
  *
  * The q43 broadcast-semi-join decontamination scan is right while the
  * benchmark set is small. When the blocklist grows to hundreds of
  * millions of fingerprints (every eval-set shingle across dozens of
  * benchmarks), the 100 TB substitute is the classic one: build a compact
  * Bloom filter over the blocklist ONCE (mergeable per-partition bit
  * arrays, OR-combine — an embarrassingly parallel aggregate), broadcast
  * the bits (m/8 bytes regardless of key count), prefilter the corpus with
  * a codegen'd k-probe, and run the exact verification join only on the
  * tiny surviving fraction. Bloom filters have ZERO false negatives by
  * construction, so prefilter + exact-verify is exactly equal to the
  * direct exact join — q60 exploits that: it computes contamination
  * THROUGH this path while the DuckDB oracle computes it directly, so any
  * false negative (a dropped contaminated doc) breaks the hash.
  *
  * Sizing uses the standard formulas m = -n·ln(p)/(ln 2)², k = (m/n)·ln 2.
  */
object Bloom {

  /** Compact summary: `numBits = words.length * 64`. */
  case class Filter(words: Array[Long], numBits: Long, numHashes: Int) {
    def mightContain(hash: Long): Boolean =
      BloomMightContain.contains(words, numBits, numHashes, hash)
    def sizeBytes: Long = words.length * 8L
  }

  /** Optimal bit count for `n` keys at false-positive rate `fpp`,
    * rounded up to a whole word. */
  def optimalNumBits(n: Long, fpp: Double): Long = {
    require(n > 0 && fpp > 0 && fpp < 1, "need n > 0 and fpp in (0,1)")
    val m = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    ((m + 63) / 64) * 64
  }

  /** Optimal probe count for `m` bits over `n` keys. */
  def optimalNumHashes(m: Long, n: Long): Int =
    math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)

  private class BuildAgg(numBits: Long, numHashes: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long]((numBits / 64).toInt)
    def reduce(b: Array[Long], h: Long): Array[Long] = {
      BloomMightContain.set(b, numBits, numHashes, h); b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = bufferEncoder
  }

  /** Build a filter over a 64-bit-hash column (`xxhash64(...)`, hashed
    * shingles, fingerprints — hash upstream, once per scan). One
    * distributed aggregate; only the m/64-word array reaches the driver. */
  def build(hashes: DataFrame, hashCol: String, expectedKeys: Long,
            fpp: Double = 0.01): Filter = {
    val m = optimalNumBits(expectedKeys, fpp)
    val k = optimalNumHashes(m, expectedKeys)
    import hashes.sparkSession.implicits._
    val words = hashes.select(col(hashCol).cast("long")).as[Long]
      .select(new BuildAgg(m, k).toColumn)
      .head()
    Filter(words, m, k)
  }

  /** Codegen'd membership probe column (no false negatives; false
    * positives at ~the configured fpp — always follow with an exact
    * verification join on the survivors when exactness matters). */
  def mightContain(f: Filter, hashCol: Column): Column =
    BloomMightContain(hashCol, f.words, f.numBits, f.numHashes)
}
