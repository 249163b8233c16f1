package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Finite-difference Jacobian & Hessian of an ensemble-mean surface —
  * the Spark mapping of the reference's `_predictive_jac_hess`
  * (`core/ensemble_model.py:70-217`, which differentiates through the
  * network with nested GradientTapes; here the model is a black-box
  * [[ScorerModel]], so we use a central-difference stencil).
  *
  * Shape: ONE union of all stencil-shifted copies of the pool (3x3 cross
  * pattern per feature pair → 1 + 2d + 2d(d-1) rows per point), ONE
  * model.score pass over the union, then a pivot-back by id with
  * conditional-first aggregation. The model evaluates every shifted point
  * in the same distributed pass — no per-point driver loops, matching the
  * reference's batched gradient evaluation.
  */
object Derivatives {

  /** Appends jac_1..jac_d, hess_i_j (i<=j, symmetric) columns to df.
    * df must carry a unique `id` and the feature columns; `model.score`
    * must append `pred`. */
  def jacobianHessian(df: DataFrame, model: ScorerModel, features: Seq[String],
                      h: Double): DataFrame = {
    val d = features.size
    // stencil offsets: (tag, per-feature multiplier)
    val center = Seq(("c", Seq.fill(d)(0)))
    val singles = (0 until d).flatMap { i =>
      Seq((s"p$i", Seq.tabulate(d)(j => if (j == i) 1 else 0)),
          (s"m$i", Seq.tabulate(d)(j => if (j == i) -1 else 0)))
    }
    val crosses = for {
      i <- 0 until d; j <- (i + 1) until d
      (si, sj) <- Seq((1, 1), (1, -1), (-1, 1), (-1, -1))
    } yield (s"x${i}_${j}_${si}_${sj}",
      Seq.tabulate(d)(k => if (k == i) si else if (k == j) sj else 0))

    val shifted = (center ++ singles ++ crosses).map { case (tag, mult) =>
      val sel = col("id") +: features.zipWithIndex.map { case (f, k) =>
        (col(f) + lit(mult(k) * h)).as(f)
      } :+ lit(tag).as("__tag")
      df.select(sel: _*)
    }.reduce(_ unionByName _)

    val scored = model.score(shifted).select("id", "__tag", "pred")
    def at(tag: String): Column = first(when(col("__tag") === tag, col("pred")), true)
    val aggs =
      Seq(at("c").as("__f0")) ++
      (0 until d).flatMap(i => Seq(at(s"p$i").as(s"__fp$i"), at(s"m$i").as(s"__fm$i"))) ++
      (for { i <- 0 until d; j <- (i + 1) until d
             (si, sj) <- Seq((1, 1), (1, -1), (-1, 1), (-1, -1)) }
        yield at(s"x${i}_${j}_${si}_${sj}").as(s"__fx${i}_${j}_${si}_${sj}"))
    val wide = scored.groupBy("id").agg(aggs.head, aggs.tail: _*)

    val withJac = (0 until d).foldLeft(df.join(wide, Seq("id"))) { case (acc, i) =>
      acc.withColumn(s"jac_${i + 1}",
        (col(s"__fp$i") - col(s"__fm$i")) / lit(2 * h))
    }
    val withHess = (for { i <- 0 until d; j <- i until d } yield (i, j))
      .foldLeft(withJac) { case (acc, (i, j)) =>
        val hij =
          if (i == j) (col(s"__fp$i") - lit(2) * col("__f0") + col(s"__fm$i")) / lit(h * h)
          else (col(s"__fx${i}_${j}_1_1") - col(s"__fx${i}_${j}_1_-1")
            - col(s"__fx${i}_${j}_-1_1") + col(s"__fx${i}_${j}_-1_-1")) / lit(4 * h * h)
        acc.withColumn(s"hess_${i + 1}_${j + 1}", hij)
      }
    withHess.drop(withHess.columns.filter(_.startsWith("__f")).toIndexedSeq: _*)
  }

  /** Quadratic form JᵀHJ and squared norm ‖J‖² from the appended columns —
    * the reference's `term` contraction (`likelihood.py:75-76`). */
  def quadForm(d: Int): Column =
    (for { i <- 1 to d; j <- 1 to d } yield {
      val hij = if (i <= j) col(s"hess_${i}_${j}") else col(s"hess_${j}_${i}")
      col(s"jac_$i") * hij * col(s"jac_$j")
    }).reduce(_ + _)

  def jacNormSq(d: Int): Column =
    (1 to d).map(i => col(s"jac_$i") * col(s"jac_$i")).reduce(_ + _)
}
