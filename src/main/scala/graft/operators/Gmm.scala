package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gaussian mixture modelling by distributed EM, plus the reference's
  * covariance-shape normalizer (`fix_dim_gmm`, reference
  * `core/utils.py:55-77` — dead code there, implemented here as a live
  * operator so the §2 aggregation surface is complete).
  *
  * Scale shape: the model is k×d driver state (a few hundred doubles);
  * each EM iteration is ONE whole-stage-codegen aggregation pass over the
  * data — per-row responsibilities as closed-form column expressions, then
  * `sum(r)`, `sum(r·x)`, `sum(r·x²)` per (component, dim) with map-side
  * partial aggregation. No per-row shuffle, no driver pull beyond the
  * 1-row aggregate. At 100 TB that is iters × (scan + 32-byte-partial
  * exchange), the same shape as [[Pca.fit]].
  *
  * Determinism and engine-portability (the q81/q26 conventions): init
  * means are the k rows with the smallest md5-portable uniforms — no
  * rand(); every per-row score is rounded to 12 decimals, every
  * responsibility and every parameter update to 9, ALL inside Spark SQL
  * expressions — so the DuckDB oracle (q108) replays the entire EM
  * trajectory bit-for-bit and cross-engine float-sum-order noise (~1e-12
  * absolute) is absorbed at each rounding fence instead of compounding
  * across iterations.
  */
object Gmm {

  /** Diagonal-covariance mixture: `weights(c)`, `means(c)(j)`,
    * `vars(c)(j)` for component c, dimension j. */
  case class DiagGmmModel(weights: Array[Double], means: Array[Array[Double]],
                          vars: Array[Array[Double]]) {
    def k: Int = weights.length
    def d: Int = means.headOption.map(_.length).getOrElse(0)
  }

  private def diagPdf(x: Column, m: Double, s: Double): Column =
    exp(lit(-0.5) * (x - lit(m)) * (x - lit(m)) / lit(s)) /
      sqrt(lit(2 * math.Pi * s))

  /** Per-row rounding fence as pure arithmetic: `floor(x·10^d + 0.5)/10^d`
    * (round-half-up for the non-negative scores/responsibilities this
    * guards). Every operation is IEEE-exact-rounded with identical
    * operands in any engine, so parity holds by construction — and unlike
    * SQL `round()` (a per-call BigDecimal round-trip in Spark, ~6 s of
    * the q108 wall at sf0.1 across 14M calls) it stays inside
    * whole-stage codegen as two multiplies and a floor. */
  private def fence(c: Column, digits: Int): Column = {
    val p = math.pow(10.0, digits)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Per-component responsibility columns for the CURRENT params — scores
    * fenced at 12 decimals, responsibilities at 9 (the cross-engine
    * fences; the DuckDB oracle replays the same floor arithmetic). */
  private def responsibilities(xs: Seq[Column], model: DiagGmmModel): Seq[Column] = {
    val scores = (0 until model.k).map { c =>
      val pdf = xs.zipWithIndex
        .map { case (x, j) => diagPdf(x, model.means(c)(j), model.vars(c)(j)) }
        .reduceLeft(_ * _)
      fence(lit(model.weights(c)) * pdf, 12)
    }
    val total = greatest(scores.reduceLeft(_ + _), lit(1e-30))
    scores.map(sc => fence(sc / total, 9))
  }

  /** Fit a k-component diagonal GMM over `cols` with `iters` EM steps.
    * `keyCols` must uniquely identify a row (init-pick + replay identity).
    * Init: means = the k rows with the smallest `(md5-uniform, key)`;
    * vars = the global per-dimension population variance; weights uniform.
    * Degenerate components are floored at `varFloor` (so a component that
    * captures a single point cannot collapse to a zero-variance spike).
    * Rows whose density rounds to zero under EVERY component (< 5e-13 —
    * extreme outliers relative to the current params) contribute no mass
    * to the M-step; they stay in n, so weights can sum to slightly under
    * one. That is the price of the rounding fences that make the whole
    * trajectory engine-portable — callers using the weights as
    * PROBABILITIES (mixture sampling, per-component priors) should pass
    * `renormalize = true`, which divides the final weights by their sum
    * on the driver so they sum to exactly 1; the oracle-replayed raw
    * weights (q108) keep the default `false`. */
  def fitDiag(df: DataFrame, cols: Seq[String], k: Int, iters: Int,
              keyCols: Seq[Column], salt: String = "gmm",
              varFloor: Double = 1e-6, renormalize: Boolean = false): DiagGmmModel = {
    require(k >= 1 && iters >= 0, "need k >= 1 and iters >= 0")
    val d = cols.length
    require(d >= 1, "need at least one feature column")
    val key = concat_ws("|", keyCols: _*)
    val pts = CheckpointPolicy.pin( // scanned iters+2 times; pin the projection
      df.select(
        (key.as("__key") +: cols.zipWithIndex.map { case (c, j) =>
          col(c).cast("double").as(s"x$j")
        }): _*)
        .filter((0 until d).map(j => col(s"x$j").isNotNull).reduce(_ && _))
        // spread before pinning: the parquet scan yields a handful of
        // partitions, and the pinned blocks keep that count — every E-step's
        // exp-heavy pass would otherwise run on that many cores
        .repartition(df.sparkSession.sparkContext.defaultParallelism))
    val xs = (0 until d).map(j => col(s"x$j"))

    // global per-dim variance (rounded 9 — the init replay fence)
    val gAggs = count(lit(1)).as("n") +:
      (0 until d).map(j => round(var_pop(col(s"x$j")), 9).as(s"v$j"))
    val g = pts.agg(gAggs.head, gAggs.tail: _*).head()
    require(g.getLong(0) >= k, s"need at least $k rows, got ${g.getLong(0)}")
    val globalVar = Array.tabulate(d)(j => math.max(g.getDouble(j + 1), varFloor))

    // order includes the feature values: `keyCols` need NOT be unique (the
    // synthetic fixtures have duplicate (orderkey, linenumber) pairs), so
    // (u, key) alone would leave the k-row pick tie-broken arbitrarily
    val u = graft.functions.TextOps.portableUniform52(
      concat_ws("|", col("__key"), lit(salt)))
    val initRows = pts.orderBy(u +: col("__key") +: xs: _*).limit(k).collect()
    var model = DiagGmmModel(
      weights = {
        // round(1/k, 9) computed through Spark SQL so the literal matches
        // the oracle's round() exactly
        val w = pts.sparkSession.range(1)
          .select(round(lit(1.0) / k, 9)).head().getDouble(0)
        Array.fill(k)(w)
      },
      means = initRows.map(r => Array.tabulate(d)(j => r.getDouble(j + 1))),
      vars = Array.fill(k)(globalVar.clone()))

    for (_ <- 1 to iters) {
      val rs = responsibilities(xs, model)
      val aggs = count(lit(1)).cast("double").as("n") +: (0 until k).flatMap { c =>
        sum(rs(c)).as(s"w$c") +: (0 until d).flatMap(j => Seq(
          sum(rs(c) * xs(j)).as(s"sx${c}_$j"),
          sum(rs(c) * xs(j) * xs(j)).as(s"sxx${c}_$j")))
      }
      // the M-step divisions/roundings run INSIDE Spark SQL over the 1-row
      // aggregate so the rounding engine is the same one the oracle uses
      val upd = pts.agg(aggs.head, aggs.tail: _*).select(
        (0 until k).flatMap { c =>
          val w = greatest(col(s"w$c"), lit(1e-12))
          round(col(s"w$c") / col("n"), 9).as(s"nw$c") +: (0 until d).flatMap { j =>
            val m = round(col(s"sx${c}_$j") / w, 9)
            Seq(m.as(s"nm${c}_$j"),
              round(greatest(col(s"sxx${c}_$j") / w - m * m, lit(varFloor)), 9)
                .as(s"nv${c}_$j"))
          }
        }: _*).head()
      def f(name: String): Double = upd.getAs[Double](name)
      model = DiagGmmModel(
        weights = Array.tabulate(k)(c => f(s"nw$c")),
        means = Array.tabulate(k, d)((c, j) => f(s"nm${c}_$j")),
        vars = Array.tabulate(k, d)((c, j) => f(s"nv${c}_$j")))
    }
    if (renormalize) {
      val total = model.weights.sum
      val ws = model.weights.map(_ / total)
      // fold the float-division residue (≤ a few ulps) into the largest
      // weight so the sum is EXACTLY 1.0 — callers treat this as a
      // probability vector
      ws(ws.indexOf(ws.max)) += 1.0 - ws.sum
      model.copy(weights = ws)
    } else model
  }

  /** Hard assignment under `model`: input rows plus a `component` column —
    * argmax responsibility over the ROUNDED values (ties to the smallest
    * component, the q81 `array_position` device), so the discrete decision
    * replays across engines. */
  def assign(df: DataFrame, cols: Seq[String], model: DiagGmmModel): DataFrame = {
    val xs = cols.map(c => col(c).cast("double"))
    val rArr = array(responsibilities(xs, model): _*)
    df.withColumn("component",
      (array_position(rArr, array_max(rArr)) - 1).cast("long"))
  }

  /** Covariance parameters in each storage shape sklearn supports —
    * the input side of [[fixDimGmm]]. */
  sealed trait GmmCovariances
  /** k matrices of d×d. */
  case class FullCov(m: Array[Array[Array[Double]]]) extends GmmCovariances
  /** one shared d×d matrix. */
  case class TiedCov(m: Array[Array[Double]]) extends GmmCovariances
  /** k vectors of d per-dimension variances. */
  case class DiagCov(m: Array[Array[Double]]) extends GmmCovariances
  /** k scalar variances. */
  case class SphericalCov(m: Array[Double]) extends GmmCovariances

  /** The reference's `fix_dim_gmm` (reference `core/utils.py:55-77`):
    * normalize any covariance storage shape to per-component FULL d×d
    * matrices — full passes through, tied replicates, diag embeds on the
    * diagonal, spherical scales the identity. */
  def fixDimGmm(cov: GmmCovariances, k: Int, d: Int): Array[Array[Array[Double]]] = {
    def zeros() = Array.fill(d, d)(0.0)
    cov match {
      case FullCov(m) =>
        require(m.length == k && m.forall(x => x.length == d && x.forall(_.length == d)),
          "full covariances must be k × d × d")
        m.map(_.map(_.clone()))
      case TiedCov(m) =>
        require(m.length == d && m.forall(_.length == d), "tied covariance must be d × d")
        Array.fill(k)(m.map(_.clone()))
      case DiagCov(m) =>
        require(m.length == k && m.forall(_.length == d), "diag covariances must be k × d")
        m.map { v =>
          val out = zeros()
          var j = 0
          while (j < d) { out(j)(j) = v(j); j += 1 }
          out
        }
      case SphericalCov(m) =>
        require(m.length == k, "spherical covariances must be length k")
        m.map { s =>
          val out = zeros()
          var j = 0
          while (j < d) { out(j)(j) = s; j += 1 }
          out
        }
    }
  }
}
