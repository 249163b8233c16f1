package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class KdeSpec extends SparkSpec {
  import spark.implicits._

  test("KDE of a point mass is the kernel itself") {
    val df = Seq.fill(500)(0.0).toDF("v")
    val r = Kde.fit(df, col("v"), gridSize = 101, bandwidth = Some(0.5),
      bounds = Some((-2.0, 2.0)))
    // peak at grid center = 1/(bw*sqrt(2pi))
    val peak = r.pdf(50)
    assert(math.abs(peak - 1.0 / (0.5 * math.sqrt(2 * math.Pi))) < 1e-9)
    // symmetric
    assert(math.abs(r.pdf(30) - r.pdf(70)) < 1e-12)
  }

  test("binned KDE matches the exact aggregator closely") {
    val rnd = new scala.util.Random(13)
    val df = Seq.fill(3000)(rnd.nextGaussian() * 3 + 1).toDF("v")
    val binned = Kde.fit(df, col("v"), gridSize = 512)
    val exact = Kde.fit(df, col("v"), gridSize = 512, exact = true)
    assert(binned.bandwidth == exact.bandwidth)
    val maxDiff = binned.pdf.zip(exact.pdf).map { case (a, b) => math.abs(a - b) }.max
    val peak = exact.pdf.max
    assert(maxDiff < 0.02 * peak, s"maxDiff=$maxDiff peak=$peak")
  }

  test("exact and binned KDE agree under caller-narrowed bounds (off-grid rows excluded)") {
    // rows far outside the grid must not count toward the normalizing total
    // in EITHER path; before the fix the exact aggregator added their
    // weight while contributing no mass, deflating the density
    val rnd = new scala.util.Random(19)
    val inRange = Seq.fill(1000)(rnd.nextGaussian() * 0.5)
    val farOut = Seq.fill(500)(100.0 + rnd.nextGaussian())
    val df = (inRange ++ farOut).toDF("v")
    val bounds = Some((-3.0, 3.0))
    val binned = Kde.fit(df, col("v"), gridSize = 256, bandwidth = Some(0.3), bounds = bounds)
    val exact = Kde.fit(df, col("v"), gridSize = 256, bandwidth = Some(0.3),
      bounds = bounds, exact = true)
    val maxDiff = binned.pdf.zip(exact.pdf).map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff < 0.02 * exact.pdf.max, s"maxDiff=$maxDiff peak=${exact.pdf.max}")
    // and the density over the grid still integrates to ~1 in the exact path
    val step = exact.step
    val integral = exact.pdf.sum * step
    assert(math.abs(integral - 1.0) < 0.05, s"integral=$integral")
  }

  test("KDE integrates to ~1 (trapz over grid)") {
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(2000)(rnd.nextGaussian()).toDF("v")
    val r = Kde.fit(df, col("v"), gridSize = 512)
    val gridDf = r.toDF(spark)
    val integral = Integrate.trapz(gridDf, col("grid_x"), col("pdf")).head().getDouble(0)
    assert(math.abs(integral - 1.0) < 0.01, s"integral=$integral")
  }

  test("fit's one-aggregate bandwidth and bounds equal the separate-query values exactly") {
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(2000)((rnd.nextGaussian() * 1.7 + 0.3, 0.5 + rnd.nextDouble()))
      .toDF("v", "w").repartition(3)
    for (w <- Seq(lit(1.0), col("w"))) {
      val r = Kde.fit(df, col("v"), w, gridSize = 64)
      val bw = Kde.scottBandwidth(df, col("v"), w)
      val mm = df.select(min("v"), max("v")).head()
      assert(r.bandwidth == bw)
      assert(r.gridMin == mm.getDouble(0) - 3 * bw)
      assert(r.gridMax == mm.getDouble(1) + 3 * bw)
      // either value given: the other still comes from the data
      assert(Kde.fit(df, col("v"), w, gridSize = 64, bounds = Some((-9.0, 9.0)))
        .bandwidth == bw)
      val b = Kde.fit(df, col("v"), w, gridSize = 64, bandwidth = Some(0.25))
      assert((b.gridMin, b.gridMax) == (mm.getDouble(0) - 0.75, mm.getDouble(1) + 0.75))
    }
  }

  test("Scott bandwidth matches sigma*n^(-1/5)") {
    val rnd = new scala.util.Random(3)
    val data = Seq.fill(1000)(rnd.nextGaussian() * 2.0)
    val df = data.toDF("v")
    val bw = Kde.scottBandwidth(df, col("v"))
    val n = data.size
    val mean = data.sum / n
    val sd = math.sqrt(data.map(x => (x - mean) * (x - mean)).sum / n)
    assert(math.abs(bw - sd * math.pow(n, -0.2)) < 1e-9)
  }

  test("weighted KDE shifts mass toward weighted points") {
    val df = (Seq.fill(100)((0.0, 1.0)) ++ Seq.fill(100)((1.0, 3.0))).toDF("v", "w")
    val r = Kde.fit(df, col("v"), col("w"), gridSize = 201, bandwidth = Some(0.1),
      bounds = Some((-0.5, 1.5)))
    val at0 = r.interpolateValue(0.0)
    val at1 = r.interpolateValue(1.0)
    assert(at1 > 2.5 * at0, s"at0=$at0 at1=$at1")
  }

  /** `Kde.fit`'s binned path as the Catalyst form computed it: the stats
    * row (Scott's sums, min, max), then an explode/`groupBy` of each row's
    * two linear-binning shares, collected to the driver's convolution. */
  private def catalystFit(df: DataFrame, value: Column, weight: Column, gridSize: Int,
                          bandwidth: Option[Double],
                          bounds: Option[(Double, Double)]): KdeResult = {
    lazy val r = df.select(sum(weight), sum(weight * weight), sum(weight * value),
      sum(weight * value * value), min(value), max(value)).head()
    val bw = bandwidth.getOrElse(Kde.scott(Array.tabulate(4)(r.getDouble)))
    val (lo, hi) = bounds.getOrElse((r.getDouble(4) - 3 * bw, r.getDouble(5) + 3 * bw))
    val step = (hi - lo) / (gridSize - 1)
    val v = value.cast("double")
    val w = weight.cast("double")
    val pos = (v - lit(lo)) / lit(step)
    val i0 = least(greatest(floor(pos).cast("int"), lit(0)), lit(gridSize - 1))
    val frac = least(greatest(pos - i0.cast("double"), lit(0.0)), lit(1.0))
    val pairs = df
      .filter(v.isNotNull && !isnan(v) && w > 0)
      .filter(v >= lit(lo) && v <= lit(hi))
      .select(explode(array(
        struct(i0.as("bin"), (w * (lit(1.0) - frac)).as("bw")),
        struct(least(i0 + 1, lit(gridSize - 1)).as("bin"), (w * frac).as("bw")))).as("p"))
      .groupBy(col("p.bin").as("bin")).agg(sum(col("p.bw")).as("wsum"))
      .collect()
    val bins = new Array[Double](gridSize)
    pairs.foreach(p => bins(p.getAs[Int]("bin")) += p.getAs[Double]("wsum"))
    Kde.fromBins(bins, lo, hi, bw)
  }

  private def bits(r: KdeResult): Seq[Long] =
    (Seq(r.gridMin, r.gridMax, r.bandwidth) ++ r.pdf).map(java.lang.Double.doubleToLongBits)

  test("the one-pass binned fit equals the explode/groupBy binning bit for bit") {
    val rnd = new scala.util.Random(29)
    // skewed values, a few nulls and a tail past the given bounds
    val rows = Seq.tabulate(3000) { i =>
      val v = if (i % 97 == 0) None
        else Some(if (i % 13 == 0) 9.0 + rnd.nextDouble() else rnd.nextGaussian() * 1.3 + 0.2)
      (v, rnd.nextDouble() * 2.0)
    }
    // pinned: over the bare repartition of a local relation the optimizer
    // filtered the rows before the round-robin exchange, so the Catalyst
    // form summed other partitions than the frame's (the fold equals it
    // over the pinned frame there)
    for (parts <- Seq(1, 3, 4, 8, 17)) {
      val df = rows.toDF("v", "w").repartition(parts).localCheckpoint()
      for (w <- Seq(lit(1.0), col("w")); bandwidth <- Seq(None, Some(0.2));
           bounds <- Seq(None, Some((-3.0, 4.0)))) {
        val got = Kde.fit(df, col("v"), w, gridSize = 256, bandwidth = bandwidth, bounds = bounds)
        val want = catalystFit(df, col("v"), w, 256, bandwidth, bounds)
        assert(bits(got) == bits(want), s"$parts partitions, weight $w, $bandwidth, $bounds")
      }
    }
  }

  test("a fit with bounds given is one job") {
    val df = Seq.tabulate(500)(i => math.sin(i.toDouble)).toDF("v").repartition(4).localCheckpoint()
    val (r, jobs) = withJobCount(Kde.fit(df, col("v"), gridSize = 64, bounds = Some((-1.5, 1.5))))
    assert(jobs == 1, s"$jobs jobs")
    assert(r.bandwidth == Kde.scottBandwidth(df, col("v")))
  }

  test("interpolation matches np.interp semantics (clamp at edges)") {
    val r = KdeResult(0.0, 1.0, 2, 1.0, Array(1.0, 3.0))
    val df = Seq(-1.0, 0.0, 0.25, 0.5, 1.0, 2.0).toDF("y")
    val got = df.select(r.interpolate(col("y")).as("p")).as[Double].collect()
    assert(got.sameElements(Array(1.0, 1.0, 1.5, 2.0, 3.0, 3.0)), got.mkString(","))
    assert(got.sameElements(Seq(-1.0, 0.0, 0.25, 0.5, 1.0, 2.0).map(r.interpolateValue)))
  }
}
