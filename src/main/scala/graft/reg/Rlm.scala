package graft.reg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Huber robust regression (M-estimation) via IRLS on the moments kernel —
  * a beyond-reference extension on the residual-IRLS core [[Irls]], which
  * it shares with [[Qreg]]: the OLS init, the steps (each ONE partial+final
  * weighted-moments aggregate, the weight built from the incoming β as
  * literal expressions — the HC1-meat pattern, reference
  * dbreg.R:1805-1902), the fused sandwich pass and the t table. Rlm
  * supplies the Huber weight `w = min(1, k·σ / |y − Xβ|)`, its scale rule
  * and its two sandwich weights. Unlike the GLM, the weight depends on the
  * row through the RESIDUAL, so there is no distinct-x compression; each
  * step scans the (pruned, codegen'd) base relation.
  *
  * Scale: Huber's Proposal 2 — σ starts at the initial OLS √(rss/(n−p))
  * and is re-estimated each step as σ² = Σ min(|r|, kσ)² / ((n−p)·κ(k))
  * with κ(k) = E[min(|Z|,k)²] the Gaussian consistency constant, from a
  * sum that rides along in the SAME aggregate as the weighted moments.
  * (MASS::rlm's default re-estimates σ from the residual MAD — an exact
  * distributed median per step; the truncated-second-moment update keeps
  * every step one hash aggregate, stays robust because outlier residuals
  * are clipped at kσ, and makes the fit expressible as one SQL statement,
  * [[sqlOnly]].) `scale = Some(σ)` pins the scale instead.
  *
  * Standard errors: the M-estimation sandwich A⁻¹BA⁻¹ with
  * A = Xᵀdiag(ψ′)X (ψ′ = 1 inside the |r| ≤ k·σ band, 0 outside) and
  * B = Xᵀdiag(ψ²)X (ψ = clipped residual), finite-sample scaled by
  * n/(n−p) — both triangles come from ONE extra fused scan.
  *
  * Cost: (1 OLS init) + maxIter + 1 (sandwich) scans (pinned in
  * PlanShapeSpec). Like [[Qreg]], a fit that stops at `maxIter` short of
  * `tol > 0` warns on stderr.
  */
object Rlm {

  /** Gaussian consistency constant κ(k) = E[min(|Z|,k)²],
    * Z ~ N(0,1): (2Φ(k)−1) − 2kφ(k) + 2k²(1−Φ(k)). */
  def kappa(k: Double): Double = {
    val nd = new org.apache.commons.math3.distribution.NormalDistribution(0.0, 1.0)
    val cdf = nd.cumulativeProbability(k)
    (2.0 * cdf - 1.0) - 2.0 * k * nd.density(k) + 2.0 * k * k * (1.0 - cdf)
  }

  final case class RlmFit(
      coeftable: Seq[CoefRow],
      sigma: Double, // final Proposal-2 scale (or the pinned value)
      k: Double, // tuning constant (×σ band half-width)
      iterations: Int,
      converged: Boolean,
      nobs: Long,
      insideFrac: Double, // share of rows inside the band at the final β
      collinDropped: Seq[String]
  ) extends CoefTable

  /** Huber fit. `tol = 0` pins exactly `maxIter` IRLS steps (the oracle /
    * [[sqlOnly]] configuration); otherwise stop when the max relative
    * coefficient change drops below `tol`. */
  def fit(
      formula: String,
      df: DataFrame,
      k: Double = 1.345,
      maxIter: Int = 20,
      tol: Double = 1e-8,
      scale: Option[Double] = None
  ): RlmFit = {
    require(k > 0, s"tuning constant must be positive: $k")
    require(maxIter >= 1)
    scale.foreach(s => require(s > 0, s"scale must be positive: $s"))
    val init = Irls.init(formula, df, "rlm")
    import init.{n, p}
    var sigma = scale.getOrElse(init.sigma0)
    require(sigma > 0, "zero residual scale: OLS fits exactly, nothing to robustify")
    val kap = kappa(k)
    def band = lit(k * sigma) // at the current σ, read as each step starts

    val path = Irls.iterate(init, maxIter, tol, "rlm",
      "design lost rank under Huber weights (all mass outside the band?)")(
      weight = res => when(abs(res) <= band, lit(1.0)).otherwise(band / abs(res)),
      // Proposal-2 scale sum Σ min(|r|, kσ)² rides along in the same pass
      extra = res => { val a = least(abs(res), band); Seq("_clip2" -> sum(a * a)) },
      rescale = m =>
        if (scale.isDefined) 0.0
        else {
          val next = math.sqrt(m.extra("_clip2") / ((n - p) * kap))
          val change = math.abs(next - sigma) / math.max(next, 1e-10)
          sigma = next
          change
        })

    // sandwich: A weights rows by ψ′ (1 inside the band), B by ψ²
    val res = init.residual(path.beta)
    val inside = when(abs(res) <= band, 1.0).otherwise(0.0)
    val psi = when(abs(res) <= band, res).otherwise(band * signum(res))
    val (table, insideFrac) = Irls.sandwich(init, path.beta, stat = inside, aW = inside,
      bW = Some(psi * psi), aScale = 1.0, bScale = 1.0,
      "sandwich bread Xᵀdiag(ψ′)X is singular: too few rows inside the band")
    RlmFit(table, sigma, k, path.iterations, path.converged, init.m0.nRows, insideFrac,
      init.dropped)
  }

  /** The whole fixed-iteration fit rendered as ONE runnable SQL statement
    * for the 2-parameter model (intercept + one regressor) — the q62-65/q95
    * self-proving loop: the correctness oracle executes this text. */
  def sqlOnly(
      table: String,
      xCol: String,
      yCol: String,
      k: Double = 1.345,
      iters: Int = 3
  ): String = RlmSqlGen.irlsSql(table, xCol, yCol, k, iters)
}
