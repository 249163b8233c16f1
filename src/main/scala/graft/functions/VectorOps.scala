package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over ArrayType columns. The similarity hot-path
  * kernels (dot, cosine) are native codegen'd expressions
  * ([[VectorExprs]]) — Spark's array HOFs are CodegenFallback
  * (interpreted), which dominated the corpus×queries scoring loops; the
  * rest stay as HOFs (cold paths). Same ascending-index fold arithmetic
  * either way, so values are bit-identical across both forms and the
  * DuckDB oracles. Inputs to dot/cosine must be array<double> (callers
  * cast once per scan).
  *
  * Replaces the reference's NumPy vector algebra (`np.dot`, `np.linalg.norm`
  * — reference `core/likelihood.py:77`, `SDE_forecast_ActiveSampling.py:96-98`)
  * for embedding-similarity workloads.
  */
object VectorOps {

  /** sum_i a_i*b_i (native single-pass kernel). */
  def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  /** Cosine similarity; 0 when either vector is all-zero (native
    * single-pass kernel: dot + both norms in one loop). */
  def cosine(a: Column, b: Column): Column = VectorExprs.cosine(a, b)

  /** Mean of an array column (reference `np.mean(Y, axis=0)`,
    * `core/ensemble_model.py:66`). */
  def arrayMean(a: Column): Column =
    aggregate(a, lit(0.0), (acc, v) => acc + v) / size(a).cast("double")

  /** Population variance of an array column — NumPy `np.var` is ddof=0
    * (`core/ensemble_model.py:65-68`), so E[x^2] - E[x]^2, NOT var_samp. */
  def arrayVarPop(a: Column): Column = {
    val n = size(a).cast("double")
    val mean = aggregate(a, lit(0.0), (acc, v) => acc + v) / n
    aggregate(a, lit(0.0), (acc, v) => acc + v * v) / n - mean * mean
  }
}
