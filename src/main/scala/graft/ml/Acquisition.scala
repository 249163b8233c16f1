package graft.ml

import graft.operators.KdeResult
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Acquisition functions — the reference's `acquisition_fcn` dispatch
  * (`core/acquisition_fcn.py:33-69`) over likelihood weights
  * (`core/likelihood.py:39-58`), re-expressed as pure column scorers applied
  * to an ensemble-scored pool (columns `pred`, `var`).
  *
  * - `us`  — uncertainty sampling: score = var (with an explicit pool the
  *   reference's nominal weight is 1, `likelihood.py:39-43`).
  * - `usLw` — likelihood-weighted: score = (fx / fy) * var, where fy is the
  *   KDE of the predicted mean interpolated at each row's pred and fx the
  *   input density (1 for an explicit pool).
  * - `usLgw` — higher-order likelihood weight (`likelihood.py:61-78`;
  *   dead code in the reference, implemented here from the published
  *   formula — see the method doc).
  */
object Acquisition {

  def us: Column = col("var")

  def usLw(predKde: KdeResult, fx: Column = lit(1.0), eps: Double = 1e-12): Column =
    (fx / greatest(predKde.interpolate(col("pred")), lit(eps))) * col("var")

  /** Higher-order likelihood weight `us_lgw` — the reference's
    * `importance_ho` (`likelihood.py:61-78`):
    *   w = c_w3 * | fx * |fy'| / (2 fy^2) * (J^T H J) / (‖J‖^4 + c_w3*tol) |
    * and the acquisition multiplies by var. Requires the pool to carry
    * `pred`, `var`, and the jac/hess columns from
    * [[Derivatives.jacobianHessian]]. (This surface is dead code in the
    * reference — neither driver script reaches it — implemented here from
    * the published formula for completeness.) */
  def usLgw(predKde: KdeResult, d: Int, fx: Column = lit(1.0),
            cW3: Double = 1.0, tol: Double = 1e-5): Column = {
    val fy = greatest(predKde.interpolate(col("pred")), lit(1e-300))
    val fyJac = predKde.derivative(col("pred"))
    val term = Derivatives.quadForm(d)
    val norm4 = pow(Derivatives.jacNormSq(d), 2)
    val term2 = fx * abs(fyJac) / (lit(2.0) * fy * fy) * term / (norm4 + lit(cW3 * tol))
    lit(cW3) * abs(term2) * col("var")
  }

  /** Name-dispatched form mirroring the reference's string API
    * (`acquisition_fcn.py:56-69`); requires the scored pool and, for
    * "us_lw"/"us_lgw", the fitted pred-KDE (us_lgw additionally needs the
    * jac/hess columns and feature dimension). */
  def byName(name: String, predKde: Option[KdeResult] = None,
             dim: Option[Int] = None): Column = name match {
    case "us" => us
    case "us_lw" => usLw(predKde.getOrElse(
      throw new IllegalArgumentException("us_lw needs the predicted-mean KDE")))
    case "us_lgw" => usLgw(
      predKde.getOrElse(throw new IllegalArgumentException("us_lgw needs the predicted-mean KDE")),
      dim.getOrElse(throw new IllegalArgumentException("us_lgw needs the feature dimension")))
    case other => throw new IllegalArgumentException(
      s"unknown acquisition '$other' (supported: us, us_lw, us_lgw)")
  }
}
