package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
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
      // either, matching the binned fit's in-bounds filter; otherwise exact=true
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

  /** Driver-side scalar interpolation: [[interpolate]]'s arithmetic, so
    * the same value to the bit. */
  def interpolateValue(y: Double): Double = {
    val pos = (y - gridMin) / step
    val idx = math.min(math.max(math.floor(pos).toLong.toInt, 0), pdf.length - 2)
    val frac = Kde.least(Kde.greatest(pos - idx.toDouble, 0.0), 1.0)
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
    scan(df, value, weight).scott

  /** Scott's rule from the four weighted sums (sw, sw2, swv, swv2). */
  def scott(sums: Array[Double]): Double = {
    val sw = sums(0); val sw2 = sums(1)
    if (sw <= 0 || sw2 <= 0) return 1.0
    val mean = sums(2) / sw
    val varW = sums(3) / sw - mean * mean
    val neff = sw * sw / sw2
    val bw = if (varW > 0 && neff > 0) math.sqrt(varW) * math.pow(neff, -0.2) else 1.0
    math.max(if (bw.isNaN || bw <= 0) 1.0 else bw, 1e-8)
  }

  /** Spark's `greatest(a, b)` and `least(a, b)` on doubles: the first
    * argument unless the second orders strictly after (before) it, NaN
    * above every number and -0.0 equal to 0.0. */
  def greatest(a: Double, b: Double): Double = if (compareDoubles(b, a) > 0) b else a
  def least(a: Double, b: Double): Double = if (compareDoubles(b, a) < 0) b else a

  /** One partition's share of a KDE fit, summed as Spark's aggregates sum
    * it: every row counted; Scott's four weighted sums `sum(w)`,
    * `sum(w*w)`, `sum(w*v)`, `sum(w*v*v)` (nulls skipped); the value range
    * (Spark's `min`/`max`: NaN above every number); and, with `bounds`,
    * the linear-binned weight totals of the rows with a non-NaN value in
    * bounds and a weight above 0 — each row splits its weight between the
    * two grid points flanking its value (exactly FFTKDE's linear binning).
    * The bins depend on the bounds only, never on the bandwidth, so one
    * pass serves Scott's rule and the binning at once.
    *
    * Each sum folds from 0.0 in row order, and [[merge]] folds partitions
    * in partition order, the order in which a shuffle hands Spark's
    * partial aggregates to the final one: every total equals the Catalyst
    * aggregate's to the bit (`KdeSpec` checks the binning against the
    * explode/`groupBy` form it replaced). */
  final class Partial(gridSize: Int, bounds: Option[(Double, Double)])
      extends Serializable {
    require(gridSize > 1, "gridSize must be > 1")
    var rows = 0L
    val sums = new Array[Double](4)
    // least(NaN, x) and greatest(-Inf, x) are x: the aggregates' null start
    var min = Double.NaN
    var max = Double.NegativeInfinity
    val bins: Array[Double] = if (bounds.isEmpty) null else new Array[Double](gridSize)
    private val lo = bounds.fold(0.0)(_._1)
    private val hi = bounds.fold(0.0)(_._2)
    private val step = (hi - lo) / (gridSize - 1)

    /** Adds one row whose double value is at `v` and weight at `w`. */
    def add(r: InternalRow, v: Int, w: Int): Unit = {
      rows += 1
      val hasV = !r.isNullAt(v)
      val x = if (hasV) r.getDouble(v) else 0.0
      if (hasV) { min = least(min, x); max = greatest(max, x) }
      if (!r.isNullAt(w)) {
        val wt = r.getDouble(w)
        sums(0) += wt
        sums(1) += wt * wt
        if (hasV) {
          sums(2) += wt * x
          sums(3) += wt * x * x
          if (bins != null && !x.isNaN && compareDoubles(wt, 0.0) > 0 &&
              compareDoubles(x, lo) >= 0 && compareDoubles(x, hi) <= 0) {
            val pos = (x - lo) / step
            val i0 = math.min(math.max(math.floor(pos).toLong.toInt, 0), gridSize - 1)
            val frac = least(greatest(pos - i0.toDouble, 0.0), 1.0)
            bins(i0) += wt * (1.0 - frac)
            bins(math.min(i0 + 1, gridSize - 1)) += wt * frac
          }
        }
      }
    }

    /** Adds `o`, the next partition's partial, into this one. */
    def merge(o: Partial): Partial = {
      rows += o.rows
      var i = 0
      while (i < 4) { sums(i) += o.sums(i); i += 1 }
      min = least(min, o.min)
      max = greatest(max, o.max)
      if (bins != null) {
        i = 0
        while (i < gridSize) { bins(i) += o.bins(i); i += 1 }
      }
      this
    }

    def scott: Double = Kde.scott(sums)

    /** The auto grid, [min - 3bw, max + 3bw] (the padding the reference
      * inherits from FFTKDE). */
    def paddedRange(bw: Double): (Double, Double) = (min - 3 * bw, max + 3 * bw)

    /** The binned density over `bounds` (Scott's rule without a bandwidth). */
    def result(bandwidth: Option[Double]): KdeResult = {
      require(bins != null, "a KDE partial without bounds holds no bins")
      fromBins(bins, lo, hi, bandwidth.getOrElse(scott))
    }
  }

  /** Partials of `value` weighted by `weight` over `df`, merged in
    * partition order: one job. */
  def scan(df: DataFrame, value: Column, weight: Column = lit(1.0), gridSize: Int = 1024,
           bounds: Option[(Double, Double)] = None): Partial =
    PlanOps.foldPartitions(df.select(value.cast("double"), weight.cast("double"))) { rows =>
      val p = new Partial(gridSize, bounds)
      rows.foreach(p.add(_, 0, 1))
      p
    }.foldLeft(new Partial(gridSize, bounds))(_ merge _)

  /** Fit a weighted KDE over `value`, returning the grid + density.
    * `bandwidth=None` → Scott's rule; `bounds=None` → [min - 3bw,
    * max + 3bw] (the auto-grid padding the reference inherits from FFTKDE).
    *
    * Default method is BINNED ([[Partial]]: linear binning to the grid in
    * a per-partition fold, then the driver's kernel convolution over the
    * gridSize bins, [[fromBins]]) — the same approximation FFTKDE itself
    * makes (`utils.py:120`). With bounds given it is ONE pass, one job,
    * which also sums Scott's rule; without, a stats pass (Scott's sums and
    * the range) comes first. Set `exact=true` for the direct
    * [[KdeAggregator]]. */
  def fit(df: DataFrame, value: Column, weight: Column = lit(1.0),
          gridSize: Int = 1024, bandwidth: Option[Double] = None,
          bounds: Option[(Double, Double)] = None,
          exact: Boolean = false): KdeResult =
    if (exact) {
      // one stats pass serves whichever of bandwidth and bounds the caller
      // leaves to the data; none when both are given
      lazy val stats = scan(df, value, weight, gridSize)
      val bw = bandwidth.getOrElse(stats.scott)
      val (lo, hi) = bounds.getOrElse(stats.paddedRange(bw))
      val agg = new KdeAggregator(lo, hi, gridSize, bw)
      val c = udaf(agg, Encoders.product[KdeIn])
        .apply(value.cast("double"), weight.cast("double"))
      val pdf = df.select(c.as("pdf")).head().getSeq[Double](0).toArray
      KdeResult(lo, hi, gridSize, bw, pdf)
    } else fitCounted(df, value, weight, gridSize, bandwidth, bounds)._1

  /** The binned [[fit]] and the number of rows of `df` it read. */
  def fitCounted(df: DataFrame, value: Column, weight: Column = lit(1.0),
                 gridSize: Int = 1024, bandwidth: Option[Double] = None,
                 bounds: Option[(Double, Double)] = None): (KdeResult, Long) = {
    val first = scan(df, value, weight, gridSize, bounds)
    val kde =
      if (bounds.nonEmpty) first.result(bandwidth)
      else {
        val bw = bandwidth.getOrElse(first.scott)
        scan(df, value, weight, gridSize, Some(first.paddedRange(bw))).result(Some(bw))
      }
    (kde, first.rows)
  }

  /** The density of binned weights over [lo, hi]: bins normalised by their
    * total, each smoothed by the Gaussian kernel within 8.5 bandwidths —
    * an O(grid × support) loop on the driver. */
  def fromBins(bins: Array[Double], lo: Double, hi: Double, bw: Double): KdeResult = {
    val gridSize = bins.length
    val step = (hi - lo) / (gridSize - 1)
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
