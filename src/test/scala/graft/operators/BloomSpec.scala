package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.functions.BloomMightContain
import org.apache.spark.sql.functions._

class BloomSpec extends SparkSpec {
  import spark.implicits._

  private def hashes(seed: Int, n: Int): Array[Long] =
    Array.tabulate(n)(i => BloomMightContain.mix(seed * 1000003L + i))

  test("no false negatives: every inserted hash probes true (distributed build)") {
    val keys = hashes(1, 5000)
    val f = Bloom.build(keys.toSeq.toDF("h"), "h", keys.length, fpp = 0.01)
    assert(keys.forall(f.mightContain), "bloom dropped an inserted key")
  }

  test("false-positive rate stays near the configured fpp") {
    val keys = hashes(2, 20000)
    val f = Bloom.build(keys.toSeq.toDF("h"), "h", keys.length, fpp = 0.01)
    val probes = hashes(3, 20000) // disjoint from keys (different mix stream)
    val fp = probes.count(f.mightContain)
    // 1% nominal; allow 3x for estimation noise — a broken probe loop lands
    // at ~100% and a broken build at ~0% recall, both far outside this band
    assert(fp <= probes.length * 0.03, s"fpp ${fp.toDouble / probes.length}")
    assert(f.sizeBytes < 64 * 1024, s"filter unexpectedly large: ${f.sizeBytes}")
  }

  test("build aggregate OR-merges across partitions to the same bits as a local build") {
    val keys = hashes(4, 2000)
    val m = Bloom.optimalNumBits(keys.length, 0.01)
    val k = Bloom.optimalNumHashes(m, keys.length)
    val local = new Array[Long]((m / 64).toInt)
    keys.foreach(h => BloomMightContain.set(local, m, k, h))
    val dist = Bloom.build(keys.toSeq.toDF("h").repartition(8), "h",
      keys.length, fpp = 0.01)
    assert(dist.numBits == m && dist.numHashes == k)
    assert(dist.words.sameElements(local), "distributed OR-merge diverged from local build")
  }

  test("codegen probe column agrees with the interpreted path") {
    val keys = hashes(5, 1000)
    val f = Bloom.build(keys.toSeq.toDF("h"), "h", keys.length, fpp = 0.01)
    val mixed = (keys.take(500) ++ hashes(6, 500)).toSeq.toDF("h")
    val viaCol = mixed.withColumn("hit", Bloom.mightContain(f, col("h")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    mixed.collect().foreach { r =>
      val h = r.getLong(0)
      assert(viaCol(h) == f.mightContain(h), s"codegen/interp disagree on $h")
    }
    assert(keys.take(500).forall(viaCol(_)), "codegen probe missed an inserted key")
  }

  test("q60 bloom path computes exactly q43's contamination answer") {
    val d = "/root/testdata/sf0.001"
    val direct = SparkEntry.queries("q43_contamination")(spark, d).collect()
    val bloomed = SparkEntry.queries("q60_bloom_decontaminate")(spark, d).collect()
    assert(direct.length == bloomed.length)
    direct.zip(bloomed).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1))
    }
  }
}
