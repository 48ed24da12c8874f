package graft.reg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.commons.math3.distribution.TDistribution
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.formula.Formula
import graft.linalg.LinAlg
import graft.model.ModelFrame
import graft.model.ModelFrame.Y

/** Huber robust regression (M-estimation) via IRLS on the moments kernel —
  * a beyond-reference extension sharing the engine's one-scan-per-step
  * shape with [[Glm]]: every IRLS step is ONE partial+final weighted-moments
  * aggregate where the Huber weight
  * `w = min(1, k·σ / |y − Xβ|)` is built from the incoming β as literal
  * expressions (the HC1-meat pattern, reference dbreg.R:1805-1902). Unlike
  * the GLM, the weight depends on the row through the RESIDUAL, so there is
  * no distinct-x compression; each step scans the (pruned, codegen'd)
  * base relation.
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
  * Cost: (1 OLS init) + maxIter + 1 (sandwich) scans.
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
  ) {
    def terms: Seq[String] = coeftable.map(_.term)
    def coef: Map[String, Double] = coeftable.map(r => r.term -> r.estimate).toMap
    def se: Map[String, Double] = coeftable.map(r => r.term -> r.stdError).toMap
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      coeftable.map(r => (r.term, r.estimate, r.stdError, r.statistic, r.pValue))
        .toDF("term", "estimate", "std_error", "statistic", "p_value")
    }
  }

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
    val f = Formula.parse(formula)
    require(f.fe.isEmpty,
      "rlm does not absorb fixed effects; include them as dummies")

    val d = ModelFrame.design(df, f)

    // initial OLS: one unweighted moments pass; collinear columns drop here
    // and stay dropped (the weights at any β cannot restore rank)
    val m0 = MomentsKernel.compute(d.df, Y, d.xNames, intercept = false)
    val s0 = LinAlg.solveDetecting(m0.xtx, m0.xty)
    val keptX = s0.keepIdx.map(d.xNames)
    val keptNames = s0.keepIdx.map(d.displayNames)
    val dropped = s0.dropIdx.map(d.displayNames)
    val p = keptX.length
    val n = m0.n
    require(n > p, s"need n > p, got n=$n p=$p")
    val rss0 = math.max(
      m0.sumYSq - 2.0 * (s0.beta dot DenseVector(s0.keepIdx.map(m0.xty(_)).toArray)) +
        (s0.beta dot (DenseMatrix.tabulate(p, p)((i, j) =>
          m0.xtx(s0.keepIdx(i), s0.keepIdx(j))) * s0.beta)),
      0.0)
    var sigma = scale.getOrElse(math.sqrt(rss0 / (n - p)))
    require(sigma > 0, "zero residual scale: OLS fits exactly, nothing to robustify")
    val kap = kappa(k)

    def residual(beta: DenseVector[Double]): Column =
      keptX.zipWithIndex.foldLeft(col(Y).cast("double")) {
        case (acc, (xn, i)) => acc - lit(beta(i)) * col(xn).cast("double")
      }

    var beta = s0.beta
    var iters = 0
    var converged = false
    while (iters < maxIter && !converged) {
      iters += 1
      val band = k * sigma
      val res = residual(beta)
      val w = when(abs(res) <= lit(band), lit(1.0))
        .otherwise(lit(band) / abs(res))
      val work = d.df.withColumn("__rw", w)
      // Proposal-2 scale sum Σ min(|r|, kσ)² rides along in the same pass
      val clip2 = {
        val a = least(abs(res), lit(band)); a * a
      }
      val m = MomentsKernel.compute(work, Y, keptX, intercept = false,
        weightName = Some("__rw"), extraAggs = Seq("_clip2" -> sum(clip2)))
      val s = LinAlg.solveDetecting(m.xtx, m.xty)
      require(s.dropIdx.isEmpty,
        "design lost rank under Huber weights (all mass outside the band?)")
      val sigmaNew =
        if (scale.isDefined) sigma
        else math.sqrt(m.extra("_clip2") / ((n - p) * kap))
      val delta = math.max(
        (0 until p).map(i =>
          math.abs(s.beta(i) - beta(i)) / math.max(math.abs(s.beta(i)), 1e-10)).max,
        math.abs(sigmaNew - sigma) / math.max(sigmaNew, 1e-10))
      beta = s.beta
      sigma = sigmaNew
      if (tol > 0 && delta < tol) converged = true
    }
    val band = k * sigma

    // fused sandwich pass: BOTH triangles (A: ψ′ indicator, B: ψ²) in one scan
    val res = residual(beta)
    val inside = abs(res) <= lit(band)
    val aW = when(inside, 1.0).otherwise(0.0)
    val psi = when(inside, res).otherwise(lit(band) * signum(res))
    val bW = psi * psi
    val xs = keptX.map(col(_).cast("double"))
    // both weights in a projection below the packed aggregate
    val row = d.df.withColumns(Map("_aw" -> aW, "_bw" -> bW))
      .agg(sum(col("_aw")).as("_in"), MomentsKernel.triangle("a", xs, Some(col("_aw"))),
        MomentsKernel.triangle("b", xs, Some(col("_bw"))))
      .collect()(0)
    val aM = MomentsKernel.readTriangle(row, "a", p)
    val bM = MomentsKernel.readTriangle(row, "b", p)
    val aSolve = LinAlg.solveDetecting(aM, DenseVector.zeros[Double](p))
    require(aSolve.dropIdx.isEmpty,
      "sandwich bread Xᵀdiag(ψ′)X is singular: too few rows inside the band")
    val aInv = aSolve.xtxInv
    val v = (aInv * bM * aInv) * (n / (n - p))

    val tdist = new TDistribution(n - p)
    val rows = (0 until p).map { i =>
      val est = beta(i)
      val se = math.sqrt(math.max(v(i, i), 0.0))
      val t = if (se > 0) est / se else Double.NaN
      val pv = if (se > 0) 2.0 * tdist.cumulativeProbability(-math.abs(t)) else Double.NaN
      CoefRow(keptNames(i), est, se, t, pv)
    }
    RlmFit(rows, sigma, k, iters, converged || tol == 0.0, m0.nRows,
      MomentsKernel.double(row, "_in") / n, dropped)
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
