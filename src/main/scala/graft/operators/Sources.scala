package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A rectangular input domain (reference `core/inputs.py:14-28`). */
case class Domain(bounds: Seq[(Double, Double)]) {
  require(bounds.nonEmpty, "domain needs at least one dimension")
  def dim: Int = bounds.size
}

/** Input-point sources — the reference's `Inputs.draw_samples` surface
  * (`core/inputs.py:30-71`): grid ("grd"), uniform ("uni"), Latin hypercube
  * ("lhs"), and pdf-distributed ("pdf") sampling over a [[Domain]].
  * Columns are x1..xd (scalar doubles — prunable, codegen-friendly) plus a
  * stable `id`.
  */
object Sources {

  /** S1: n^d lattice (reference `inputs.py:62-66`, np.mgrid). Generated as a
    * crossJoin of per-dimension ranges — deterministic, no shuffle (ranges
    * are local), linearized id. */
  def grid(spark: SparkSession, domain: Domain, nPerDim: Int): DataFrame = {
    val dims = domain.bounds.zipWithIndex
    val base = dims.foldLeft(spark.range(1).select(lit(0L).as("id"))) {
      case (acc, ((_, _), i)) =>
        acc.crossJoin(spark.range(nPerDim).select(col("id").as(s"__i$i")))
    }
    val withId = base.withColumn("id",
      dims.map { case (_, i) => col(s"__i$i") * math.pow(nPerDim, domain.dim - 1 - i).toLong }
        .reduce(_ + _))
    dims.foldLeft(withId) { case (df, ((lo, hi), i)) =>
      val step = (hi - lo) / (nPerDim - 1)
      df.withColumn(s"x${i + 1}", lit(lo) + col(s"__i$i") * lit(step))
    }.select(col("id") +: dims.map { case (_, i) => col(s"x${i + 1}") }: _*)
  }

  /** S2: uniform random over the domain (reference `inputs.py:58-60,73-79`),
    * seeded per dimension. */
  def uniform(spark: SparkSession, domain: Domain, n: Long, seed: Long): DataFrame =
    domain.bounds.zipWithIndex.foldLeft(spark.range(n).select(col("id"))) {
      case (df, ((lo, hi), i)) =>
        df.withColumn(s"x${i + 1}", lit(lo) + rand(seed + i) * lit(hi - lo))
    }

  /** S3: Latin hypercube (reference `inputs.py:54-56`, pyDOE.lhs "classic"):
    * per dimension, an independent random permutation of the n strata with a
    * uniform offset inside each stratum. The permutation is a global
    * row_number over a seeded random order, produced by
    * [[Ranking.globalRowNumber]] — range-partitioned, no single-task sort,
    * so the source scales past design-of-experiments sizes. */
  def latinHypercube(spark: SparkSession, domain: Domain, n: Int, seed: Long): DataFrame =
    domain.bounds.zipWithIndex.foldLeft(spark.range(n).select(col("id"))) {
      case (df, ((lo, hi), i)) =>
        val permuted = Ranking.globalRowNumber(
          df.withColumn("__r", rand(seed + 2 * i)),
          Seq(col("__r"), col("id")), out = "__perm")
        val u = rand(seed + 2 * i + 1)
        permuted.withColumn(s"x${i + 1}",
          lit(lo) + ((col("__perm") - 1).cast("double") + u) / n * lit(hi - lo))
          .drop("__r", "__perm")
    }

  /** S4: multivariate-Gaussian-distributed source (reference
    * `inputs.py:169-171`, np.random.multivariate_normal): x = mu + L·z with
    * L the (driver-side, tiny) Cholesky factor of cov and z ~ N(0,I) from
    * seeded randn columns. */
  def gaussian(spark: SparkSession, mu: Seq[Double], cov: Seq[Seq[Double]],
               n: Long, seed: Long): DataFrame = {
    val d = mu.size
    val l = cholesky(cov.map(_.toArray).toArray)
    val withZ = (0 until d).foldLeft(spark.range(n).select(col("id"))) {
      case (df, j) => df.withColumn(s"__z$j", randn(seed + j))
    }
    val withX = (0 until d).foldLeft(withZ) { case (df, i) =>
      val expr = (0 to i).map(j => col(s"__z$j") * lit(l(i)(j))).reduce(_ + _)
      df.withColumn(s"x${i + 1}", lit(mu(i)) + expr)
    }
    withX.select(col("id") +: (1 to d).map(i => col(s"x$i")): _*)
  }

  /** Driver-side Cholesky (cov is d×d with d tiny). */
  private def cholesky(a: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length
    val l = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- 0 to i) {
      var s = 0.0
      for (k <- 0 until j) s += l(i)(k) * l(j)(k)
      if (i == j) {
        val v = a(i)(i) - s
        require(v > 0, s"covariance not positive definite at $i")
        l(i)(j) = math.sqrt(v)
      } else l(i)(j) = (a(i)(j) - s) / l(j)(j)
    }
    l
  }
}
