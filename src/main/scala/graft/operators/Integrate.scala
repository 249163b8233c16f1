package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Numerical integration / scaling / histogram operators over DataFrames. */
object Integrate {

  /** Trapezoidal rule ∫ y dx over rows ordered by x — the reference's
    * `np.trapz` (`BigDataQualityAssessment_ActiveSampling.py:219`,
    * `core/utils.py:43-52`). Emits a single row `(integral: double)`.
    *
    * Pairing adjacent points needs a total order; partition by nothing is
    * fine for the ~1024-row KDE grids this integrates in the reference. For
    * long series, pass `partitionTieBreak` columns that range-partition the
    * axis (the per-partition partial trapezoids then sum, with boundary
    * terms handled by the lag over the global order — at 100 TB you'd
    * range-partition by x and add the K-1 seam terms; grids here are tiny).
    */
  def trapz(df: DataFrame, x: Column, y: Column): DataFrame = {
    val w = Window.orderBy(col("__x"))
    df.select(x.cast("double").as("__x"), y.cast("double").as("__y"))
      .withColumn("__seg",
        (col("__y") + lag("__y", 1).over(w)) / 2.0 * (col("__x") - lag("__x", 1).over(w)))
      .agg(sum("__seg").cast("double").as("integral"))
  }

  /** [[trapz]] over points the driver holds, `x` ascending: the same
    * segments summed in the same order from 0.0, so the frame form's value
    * to the bit (0.0 below two points, where the frame's sum is null). */
  def trapz(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0
    var i = 1
    while (i < x.length) {
      s += (y(i) + y(i - 1)) / 2.0 * (x(i) - x(i - 1))
      i += 1
    }
    s
  }

  /** Trapezoidal integration over a series carrying a DENSE integer index
    * (consecutive values, e.g. `events.event_id`): adjacent points pair via
    * a self equi-join on `idx = idx − 1` instead of a global window — fully
    * parallel (hash join + partial-aggregated sum), the shape that survives
    * any series length. [[trapz]] stays for small grids / non-dense axes. */
  def trapzByIndex(df: DataFrame, idx: Column, x: Column, y: Column): DataFrame = {
    val cur = df.select(idx.cast("long").as("__i"),
      x.cast("double").as("__x"), y.cast("double").as("__y"))
    val prev = cur.select((col("__i") + 1).as("__i"),
      col("__x").as("__xp"), col("__y").as("__yp"))
    cur.join(prev, Seq("__i"))
      .select(((col("__y") + col("__yp")) / 2.0 * (col("__x") - col("__xp"))).as("__seg"))
      .agg(sum("__seg").cast("double").as("integral"))
  }

  /** Multi-dimensional trapezoidal integration over a rectilinear grid — the
    * reference's `grid_nint` (`core/utils.py:43-52`), which integrates an
    * N-D gridded function one axis at a time. Each step pairs adjacent
    * points along the integrated axis with a lag window PARTITIONED by the
    * remaining axes (parallel across grid lines — the only global window is
    * the final 1-D reduction over a single grid line) and sums segments via
    * groupBy. Emits a single row `(integral: double)`. */
  def trapzGrid(df: DataFrame, axes: Seq[String], y: Column): DataFrame = {
    require(axes.nonEmpty, "need at least one axis")
    var cur = df.select(axes.map(col) :+ y.cast("double").as("__y"): _*)
    for (i <- axes.indices.reverse) {
      val axis = axes(i)
      val rest = axes.take(i)
      val w =
        if (rest.isEmpty) Window.orderBy(col(axis))
        else Window.partitionBy(rest.map(col): _*).orderBy(col(axis))
      cur = cur
        .withColumn("__seg", (col("__y") + lag("__y", 1).over(w)) / 2.0
          * (col(axis) - lag(axis, 1).over(w)))
        .groupBy(rest.map(col): _*)
        .agg(sum("__seg").as("__y"))
    }
    cur.select(col("__y").cast("double").as("integral"))
  }

  /** Min-max scale a column to [0,1] — the reference's sklearn
    * `MinMaxScaler` step (`SDE_forecast_ActiveSampling.py:50-52`).
    * Two-phase: tiny global agg broadcast via cross join (Catalyst turns the
    * 1-row side into a BroadcastNestedLoopJoin; no shuffle of `df`). */
  def minMaxScale(df: DataFrame, value: Column, outCol: String): DataFrame = {
    val stats = df.agg(min(value).cast("double").as("__mn"),
                       max(value).cast("double").as("__mx"))
    df.crossJoin(broadcast(stats))
      .withColumn(outCol,
        when(col("__mx") === col("__mn"), lit(0.0))
          .otherwise((value - col("__mn")) / (col("__mx") - col("__mn"))))
      .drop("__mn", "__mx")
  }

  /** Equi-width histogram with `nbins` buckets over [lo, hi] — the
    * reference's `np.linspace` + `plt.hist(density=True)` profiling step
    * (`BigDataQualityAssessment_ActiveSampling.py:58-61`). Returns
    * (bucket, lo, hi, cnt, density); one groupBy shuffle of nbins keys. */
  def histogram(df: DataFrame, value: Column, lo: Double, hi: Double, nbins: Int): DataFrame = {
    val width = (hi - lo) / nbins
    val bucket = least(greatest(
      floor((value.cast("double") - lit(lo)) / lit(width)).cast("long"), lit(0L)),
      lit(nbins - 1L))
    // Density normalizes over the IN-RANGE total (so it integrates to 1 even
    // when out-of-range rows exist), computed inside the same aggregation —
    // no separate eager count() pass over the input.
    val counted = df.filter(value >= lo && value <= hi)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    counted
      .crossJoin(broadcast(counted.agg(sum("cnt").cast("double").as("__total"))))
      .withColumn("lo", lit(lo) + col("bucket") * lit(width))
      .withColumn("hi", lit(lo) + (col("bucket") + 1) * lit(width))
      .withColumn("density", col("cnt") / col("__total") / lit(width))
      .select("bucket", "lo", "hi", "cnt", "density")
  }
}
