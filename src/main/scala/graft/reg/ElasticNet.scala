package graft.reg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.formula.Formula
import graft.model.ModelFrame
import graft.model.ModelFrame.Y

/** Elastic-net (lasso / L1+L2) regression by cyclic coordinate descent on
  * the moments kernel — the companion to [[Ridge]]: ONE pass over the
  * corpus yields the centered cross-products A = XcᵀXc, b = Xcᵀyc, after
  * which the ENTIRE coordinate-descent iteration (and the whole λ path,
  * warm-started) runs on the driver's p×p sums. glmnet's "covariance
  * updates" mode, with the covariance computed distributively: at 100 TB a
  * 100-point lasso path costs exactly one corpus read.
  *
  * Objective (raw-SSR scale; λ here ≈ n·λ_glmnet):
  *   ½‖yc − Xcβ‖² + λ Σ_j [ α·s_j·|β_j| + ½(1−α)·s_j²·β_j² ]
  * with s_j² = population variance of column j when `standardize = true`
  * (glmnet's convention — equivalent to unit-variance scaling, common λ,
  * and unscaling), s_j = 1 otherwise. α = 1 is the lasso, α = 0 is
  * [[Ridge]] exactly. The intercept is unpenalized and recovered from the
  * means. Coordinate update (soft-threshold S):
  *   β_j ← S(b_j − Σ_{k≠j} A_jk β_k, λ·α·s_j) / (A_jj + λ(1−α)·s_j²)
  */
object ElasticNet {

  final case class EnetFit(
      lambda: Double,
      alpha: Double,
      terms: IndexedSeq[String], // intercept first
      estimates: IndexedSeq[Double],
      nonzero: Int, // non-intercept slopes ≠ 0
      rss: Double,
      tss: Double,
      iterations: Int,
      converged: Boolean,
      nobs: Long
  ) {
    def r2: Double = 1.0 - rss / tss
    def coef: Map[String, Double] = terms.zip(estimates).toMap
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      terms.zip(estimates).map { case (t, e) => (lambda, alpha, t, e) }
        .toDF("lambda", "alpha", "term", "estimate")
    }
  }

  /** Fit one (λ, α). `tol = 0` pins exactly `maxIter` full cyclic sweeps
    * from β = 0 (the oracle configuration). */
  def fit(
      formula: String,
      df: DataFrame,
      lambda: Double,
      alpha: Double = 1.0,
      standardize: Boolean = true,
      maxIter: Int = 1000,
      tol: Double = 1e-10
  ): EnetFit = path(formula, df, Seq(lambda), alpha, standardize, maxIter, tol).head

  /** Fit a λ path from ONE moments pass, warm-starting each λ from the
    * previous solution (pass λ descending for the classic glmnet path). */
  def path(
      formula: String,
      df: DataFrame,
      lambdas: Seq[Double],
      alpha: Double = 1.0,
      standardize: Boolean = true,
      maxIter: Int = 1000,
      tol: Double = 1e-10
  ): Seq[EnetFit] = {
    require(lambdas.nonEmpty, "need at least one lambda")
    lambdas.foreach(l => require(l >= 0.0, s"negative lambda: $l"))
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    val f = Formula.parse(formula)
    require(f.fe.isEmpty,
      "elastic net does not absorb fixed effects; include them as dummies")
    require(f.intercept, "elastic net requires an intercept (centered form)")

    val d = ModelFrame.design(df, f, intercept = false)
    val mom = MomentsKernel.compute(d.df, Y, d.xNames, intercept = true)
    val p = d.xNames.length
    val n = mom.n
    require(mom.nRows > 1, s"need >1 rows, got ${mom.nRows}")

    val sx = DenseVector.tabulate(p)(i => mom.xtx(0, i + 1))
    val a = DenseMatrix.tabulate(p, p)((i, j) =>
      mom.xtx(i + 1, j + 1) - sx(i) * sx(j) / n)
    val b = DenseVector.tabulate(p)(i => mom.xty(i + 1) - sx(i) * mom.sumY / n)
    val tss = mom.sumYSq - mom.sumY * mom.sumY / n
    val ybar = mom.sumY / n
    // zero-variance columns can take no coordinate step: pinned at 0
    val active = (0 until p).filter(j => a(j, j) > 0)
    val s = DenseVector.tabulate(p)(j =>
      if (standardize) math.sqrt(a(j, j) / n) else 1.0)

    var beta = DenseVector.zeros[Double](p) // warm start carries across λ
    lambdas.map { lambda =>
      var iters = 0
      var converged = false
      while (iters < maxIter && !converged) {
        iters += 1
        var maxDelta = 0.0
        active.foreach { j =>
          // z_j = b_j − Σ_{k≠j} A_jk β_k, computed as residual + own term
          var az = 0.0
          var kk = 0
          while (kk < p) { az += a(j, kk) * beta(kk); kk += 1 }
          val z = b(j) - az + a(j, j) * beta(j)
          val thr = lambda * alpha * s(j)
          val denom = a(j, j) + lambda * (1.0 - alpha) * s(j) * s(j)
          val bNew = math.signum(z) * math.max(math.abs(z) - thr, 0.0) / denom
          val delta = math.abs(bNew - beta(j)) *
            math.sqrt(a(j, j) / n) // scale-free convergence measure
          if (delta > maxDelta) maxDelta = delta
          beta(j) = bNew
        }
        if (tol > 0 && maxDelta < tol) converged = true
      }
      val rss = tss - 2.0 * (beta dot b) + (beta dot (a * beta))
      val intercept = ybar - (0 until p).map(i => beta(i) * sx(i) / n).sum
      EnetFit(
        lambda, alpha,
        "(Intercept)" +: d.displayNames,
        intercept +: IndexedSeq.tabulate(p)(beta(_)),
        (0 until p).count(j => beta(j) != 0.0),
        rss, tss, iters, converged || tol == 0.0, mom.nRows)
    }
  }
}
