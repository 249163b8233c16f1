package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Weighted input sample for the KDE aggregate. */
case class KdeIn(v: Double, w: Double)

/** 1-D weighted Gaussian kernel density estimation on a fixed evaluation
  * grid, as a single-pass distributed aggregate.
  *
  * Re-expression of the reference's `custom_KDE` (reference
  * `core/utils.py:105-120`: Scott-rule bandwidth via `scipy.stats.gaussian_kde`
  * with fallback 1.0 and floor 1e-8, fitted with `KDEpy.FFTKDE`, optional
  * per-point weights, evaluated on an automatic or caller-supplied grid —
  * used at `BigDataQualityAssessment_ActiveSampling.py:34,199-207` and
  * throughout `core/likelihood.py`).
  *
  * Design for scale: the reference's FFT trick is O(n + g log g) on one node;
  * here the buffer is the g-point grid itself (g=1024 → 8 KB), each input row
  * adds its kernel contribution in O(g), partial buffers tree-merge by vector
  * addition, and the result normalizes once at the end. One pass over the
  * data, map-side combine, no shuffle of the input — at 100 TB this is a scan
  * plus an 8 KB-per-partition reduce, which is optimal shape for Spark.
  */
class KdeAggregator(val gridMin: Double, val gridMax: Double,
                    val gridSize: Int, val bandwidth: Double)
    extends Aggregator[KdeIn, Array[Double], Array[Double]] {
  require(gridSize > 1, "gridSize must be > 1")
  require(bandwidth > 0, "bandwidth must be > 0")
  private val step = (gridMax - gridMin) / (gridSize - 1)
  private val invBw = 1.0 / bandwidth
  private val kNorm = invBw / math.sqrt(2.0 * math.Pi)
  // Beyond ~8.5 sigma a float64 Gaussian kernel underflows relative to the
  // peak; restricting each row's update to that band makes reduce O(support)
  // instead of O(grid) for narrow bandwidths.
  private val cut = 8.5

  // Slot gridSize holds the running total weight for final normalization.
  def zero: Array[Double] = new Array[Double](gridSize + 1)

  def reduce(buf: Array[Double], in: KdeIn): Array[Double] = {
    if (!in.v.isNaN && !in.v.isInfinite && in.w > 0) {
      val lo = math.max(0, math.ceil((in.v - cut * bandwidth - gridMin) / step).toInt)
      val hi = math.min(gridSize - 1, math.floor((in.v + cut * bandwidth - gridMin) / step).toInt)
      // A row whose support misses the grid entirely (hi < lo) contributes
      // no density mass — it must not count toward the normalizing total
      // either, matching fitBinned's in-bounds filter; otherwise exact=true
      // and the binned default disagree under caller-narrowed bounds.
      if (hi >= lo) {
        var i = lo
        while (i <= hi) {
          val t = (gridMin + i * step - in.v) * invBw
          buf(i) += in.w * kNorm * math.exp(-0.5 * t * t)
          i += 1
        }
        buf(gridSize) += in.w
      }
    }
    buf
  }

  def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  def finish(buf: Array[Double]): Array[Double] = {
    val total = buf(gridSize)
    val out = new Array[Double](gridSize)
    if (total > 0) {
      var i = 0
      while (i < gridSize) { out(i) = buf(i) / total; i += 1 }
    }
    out
  }

  def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  def outputEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}

/** A fitted KDE: uniform evaluation grid + normalized density values.
  * Small (≤ a few KB) — broadcastable, interpolation against it is a pure
  * column expression (see [[Interp]]). */
case class KdeResult(gridMin: Double, gridMax: Double, gridSize: Int,
                     bandwidth: Double, pdf: Array[Double]) {
  def step: Double = (gridMax - gridMin) / (gridSize - 1)
  def gridX: Array[Double] = Array.tabulate(gridSize)(i => gridMin + i * step)

  /** As a small DataFrame (grid_x, pdf) — the reference's KDE-grid table. */
  def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    gridX.zip(pdf).toSeq.toDF("grid_x", "pdf")
  }

  /** Linear interpolation of this density at column y (np.interp semantics:
    * clamped to edge values outside the grid). */
  def interpolate(y: Column): Column = Interp.linearUniform(y, gridMin, step, pdf)

  /** Derivative of the piecewise-linear density at column y — the slope of
    * the grid interval containing y (the k=1 spline derivative the reference
    * takes at `likelihood.py:74`). */
  def derivative(y: Column): Column =
    Interp.derivativeUniform(y, gridMin, step, pdf)

  /** Driver-side scalar interpolation (same semantics as [[interpolate]]). */
  def interpolateValue(y: Double): Double = {
    val pos = (y - gridMin) / step
    val idx = math.min(math.max(math.floor(pos).toInt, 0), gridSize - 2)
    val frac = math.min(math.max(pos - idx, 0.0), 1.0)
    pdf(idx) + (pdf(idx + 1) - pdf(idx)) * frac
  }
}

object Kde {
  /** Scott's rule bandwidth: sigma_hat * n^(-1/5) — matches
    * `scipy.stats.gaussian_kde` defaults used by the reference
    * (`core/utils.py:110-117`), with the reference's fallback 1.0 when the
    * estimate is degenerate and floor 1e-8. Weighted case uses effective
    * sample size neff = (sum w)^2 / sum w^2 as gaussian_kde does. */
  def scottBandwidth(df: DataFrame, value: Column, weight: Column = lit(1.0)): Double =
    scott(df.select(scottSums(value, weight): _*).head())

  /** The four weighted sums Scott's rule reads (sw, sw2, swv, swv2). */
  private def scottSums(value: Column, weight: Column): Seq[Column] = Seq(
    sum(weight).as("sw"), sum(weight * weight).as("sw2"),
    sum(weight * value).as("swv"), sum(weight * value * value).as("swv2"))

  /** Scott's rule from a row whose first four fields are [[scottSums]]. */
  private def scott(r: Row): Double = {
    val sw = r.getDouble(0); val sw2 = r.getDouble(1)
    if (sw <= 0 || sw2 <= 0) return 1.0
    val mean = r.getDouble(2) / sw
    val varW = r.getDouble(3) / sw - mean * mean
    val neff = sw * sw / sw2
    val bw = if (varW > 0 && neff > 0) math.sqrt(varW) * math.pow(neff, -0.2) else 1.0
    math.max(if (bw.isNaN || bw <= 0) 1.0 else bw, 1e-8)
  }

  /** Fit a weighted KDE over `value`, returning the grid + density.
    * Two passes: one tiny stats aggregate for bandwidth and grid bounds
    * (skipped when the caller gives both), then one binning pass.
    * `bandwidth=None` → Scott's rule; `bounds=None` → [min - 3bw,
    * max + 3bw] (the auto-grid padding the reference inherits from FFTKDE).
    *
    * Default method is BINNED (linear binning to the grid + driver-side
    * kernel convolution over ≤ gridSize bins) — the same
    * approximation FFTKDE itself makes (`utils.py:120`), and on Spark it
    * replaces the per-row O(grid) object aggregate with a codegen'd
    * groupBy over ≤ gridSize+1 keys: a full scan + a ≤1024-row shuffle at
    * any data size. Set `exact=true` for the direct [[KdeAggregator]]. */
  def fit(df: DataFrame, value: Column, weight: Column = lit(1.0),
          gridSize: Int = 1024, bandwidth: Option[Double] = None,
          bounds: Option[(Double, Double)] = None,
          exact: Boolean = false): KdeResult = {
    // one stats row serves whichever of bandwidth and bounds the caller
    // leaves to the data; no round trip when both are given
    lazy val r = df.select(scottSums(value, weight) ++
      Seq(min(value), max(value)): _*).head()
    val bw = bandwidth.getOrElse(scott(r))
    val (lo, hi) = bounds.getOrElse((r.getDouble(4) - 3 * bw, r.getDouble(5) + 3 * bw))
    if (exact) {
      val agg = new KdeAggregator(lo, hi, gridSize, bw)
      val c = udaf(agg, Encoders.product[KdeIn])
        .apply(value.cast("double"), weight.cast("double"))
      val pdf = df.select(c.as("pdf")).head().getSeq[Double](0).toArray
      KdeResult(lo, hi, gridSize, bw, pdf)
    } else {
      fitBinned(df, value, weight, gridSize, bw, lo, hi)
    }
  }

  /** Linear binning + driver convolution. Each row splits its weight between
    * the two grid points flanking its value (exactly FFTKDE's linear
    * binning); bin totals come back as ≤ gridSize+1 rows; the Gaussian
    * smoothing is an O(grid × support) loop on the driver. */
  private def fitBinned(df: DataFrame, value: Column, weight: Column,
                        gridSize: Int, bw: Double, lo: Double, hi: Double): KdeResult = {
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
    pairs.foreach(r => bins(r.getAs[Int]("bin")) += r.getAs[Double]("wsum"))
    val total = bins.sum
    val pdf = new Array[Double](gridSize)
    if (total > 0) {
      val support = math.min(gridSize, math.ceil(8.5 * bw / step).toInt + 1)
      val kNorm = 1.0 / (bw * math.sqrt(2.0 * math.Pi))
      var i = 0
      while (i < gridSize) {
        if (bins(i) > 0) {
          val m = bins(i) / total
          var j = math.max(0, i - support)
          val jMax = math.min(gridSize - 1, i + support)
          while (j <= jMax) {
            val t = (j - i) * step / bw
            pdf(j) += m * kNorm * math.exp(-0.5 * t * t)
            j += 1
          }
        }
        i += 1
      }
    }
    KdeResult(lo, hi, gridSize, bw, pdf)
  }
}

/** Linear interpolation against a broadcast-sized grid (J3 in SURVEY.md §2.3
  * — the reference's `np.interp` at `BigDataQualityAssessment_ActiveSampling.py:51`
  * and spline-k=1 at `core/likelihood.py:56-57`). The grid is uniform, so
  * instead of a range join the bucket index is plain arithmetic and the grid
  * values ride along as an array literal — fully codegen'd, no join, no
  * shuffle. */
object Interp {
  def linearUniform(y: Column, gridMin: Double, step: Double, values: Array[Double]): Column = {
    val n = values.length
    val arr = lit(values)
    val pos = (y.cast("double") - lit(gridMin)) / lit(step)
    val idx = least(greatest(floor(pos).cast("int"), lit(0)), lit(n - 2))
    val frac = least(greatest(pos - idx.cast("double"), lit(0.0)), lit(1.0))
    val v0 = element_at(arr, idx + 1)
    val v1 = element_at(arr, idx + 2)
    v0 + (v1 - v0) * frac
  }

  /** Slope of the interval containing y (piecewise-constant derivative of
    * the linear interpolant; clamped to the edge intervals outside). */
  def derivativeUniform(y: Column, gridMin: Double, step: Double,
                        values: Array[Double]): Column = {
    val n = values.length
    val arr = lit(values)
    val pos = (y.cast("double") - lit(gridMin)) / lit(step)
    val idx = least(greatest(floor(pos).cast("int"), lit(0)), lit(n - 2))
    (element_at(arr, idx + 2) - element_at(arr, idx + 1)) / lit(step)
  }
}
