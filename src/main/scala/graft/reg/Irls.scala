package graft.reg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.formula.Formula
import graft.linalg.LinAlg
import graft.model.ModelFrame
import graft.model.ModelFrame.{Design, Y}

/** The residual-weighted IRLS core [[Rlm]] and [[Qreg]] share. Their row
  * weight depends on the row only through its residual y − xᵀβ, so there is
  * no distinct-x compression: after one OLS-init pass every step is ONE
  * partial+final weighted-moments aggregate over the pruned, codegen'd base
  * relation, with the weight built from the incoming β as literal
  * expressions, and one fused pass at the final β collects both sandwich
  * triangles for V = A⁻¹BA⁻¹ · n/(n−p). A caller supplies only its weight
  * column, its scale or bandwidth rule and its two sandwich weights.
  *
  * Cost: 1 (OLS init) + steps + 1 (sandwich) scans.
  */
private[reg] object Irls {

  /** The design and its OLS init: everything that does not depend on the
    * weight rule, so [[Conformal.cqr]] shares one across its two τ fits. */
  final case class Init(d: Design, m0: MomentsResult, s0: LinAlg.SolveOutcome) {
    val keptX: IndexedSeq[String] = s0.keepIdx.map(d.xNames)
    val keptNames: IndexedSeq[String] = s0.keepIdx.map(d.displayNames)
    val dropped: Seq[String] = s0.dropIdx.map(d.displayNames)
    val p: Int = keptX.length
    val n: Double = m0.n
    /** OLS residual scale σ̂₀ = √(rss₀/(n−p)). */
    val sigma0: Double = math.sqrt(rss(m0.sumYSq, m0.xtx, m0.xty, s0) / (n - p))

    def residual(beta: DenseVector[Double]): Column =
      keptX.zipWithIndex.foldLeft(col(Y).cast("double")) {
        case (acc, (xn, i)) => acc - lit(beta(i)) * col(xn).cast("double")
      }
  }

  /** Parses `formula` (fixed effects refused in `model`'s name), builds the
    * design and runs the unweighted OLS-init pass. Collinear columns drop
    * here and stay dropped: no residual weighting can restore rank. */
  def init(formula: String, df: DataFrame, model: String): Init = {
    val f = Formula.parse(formula)
    require(f.fe.isEmpty,
      s"$model does not absorb fixed effects; include them as dummies")
    val d = ModelFrame.design(df, f)
    val m0 = MomentsKernel.compute(d.df, Y, d.xNames, intercept = false)
    require(m0.nRows > 0, "no rows after missing-value filtering (empty input?)")
    val in = Init(d, m0, LinAlg.solveDetecting(m0.xtx, m0.xty))
    require(in.n > in.p, s"need n > p, got n=${in.n} p=${in.p}")
    in
  }

  /** Residual sum of squares of the solve `s` from the moments it solved. */
  def rss(syy: Double, xtx: DenseMatrix[Double], xty: DenseVector[Double],
      s: LinAlg.SolveOutcome): Double = {
    val k = s.keepIdx
    val xtyK = DenseVector(k.map(xty(_)).toArray)
    val xtxK = DenseMatrix.tabulate(k.length, k.length)((i, j) => xtx(k(i), k(j)))
    math.max(syy - 2.0 * (s.beta dot xtyK) + (s.beta dot (xtxK * s.beta)), 0.0)
  }

  final case class Path(beta: DenseVector[Double], iterations: Int, converged: Boolean)

  /** Weighted steps from the OLS β. Each step aggregates the moments under
    * `weight(residual)` together with the sums `extra(residual)`, solves,
    * and passes the moments to `rescale`, which updates the caller's scale
    * and returns its relative change (0 without one). `tol = 0` pins
    * exactly `maxIter` steps; otherwise the loop stops once the largest
    * relative change of β and scale drops below `tol`, and says so loudly
    * on stderr when it never does. */
  def iterate(init: Init, maxIter: Int, tol: Double, model: String, rankLoss: String)(
      weight: Column => Column,
      extra: Column => Seq[(String, Column)] = _ => Nil,
      rescale: MomentsResult => Double = _ => 0.0
  ): Path = {
    var beta = init.s0.beta
    var iters = 0
    var converged = false
    while (iters < maxIter && !converged) {
      iters += 1
      val res = init.residual(beta)
      val m = MomentsKernel.compute(init.d.df.withColumn("__w", weight(res)), Y,
        init.keptX, intercept = false, weightName = Some("__w"), extraAggs = extra(res))
      val s = LinAlg.solveDetecting(m.xtx, m.xty)
      require(s.dropIdx.isEmpty, rankLoss)
      val delta = math.max(
        (0 until init.p).map(i =>
          math.abs(s.beta(i) - beta(i)) / math.max(math.abs(s.beta(i)), 1e-10)).max,
        rescale(m))
      beta = s.beta
      if (tol > 0 && delta < tol) converged = true
    }
    // the hdfe contract: non-convergence is LOUD, never silent — a
    // reweighted surrogate converges linearly, so tight tolerances can need
    // 100+ steps (each one corpus scan)
    if (tol > 0 && !converged)
      Console.err.println(
        s"[$model] WARNING: IRLS did not converge in $maxIter steps at " +
          s"tol=$tol; estimates are the last weighted solve — raise maxIter " +
          "or loosen tol")
    Path(beta, iters, converged || tol == 0.0)
  }

  /** The fused final pass at `beta`: the mean of `stat`, A = Σ aW·xxᵀ and
    * B = Σ bW·xxᵀ (Σ xxᵀ when `bW` is None) in ONE scan, the weights
    * projected below the packed aggregate. Scales A by `aScale` and B by
    * `bScale` and returns the t table of V = A⁻¹BA⁻¹ · n/(n−p) with that
    * mean; `singular` is the refusal when A is singular. */
  def sandwich(init: Init, beta: DenseVector[Double], stat: Column, aW: Column,
      bW: Option[Column], aScale: Double, bScale: Double, singular: String)
      : (Seq[CoefRow], Double) = {
    import init.{n, p}
    val xs = init.keptX.map(col(_).cast("double"))
    val row = init.d.df
      .withColumns(Map("_stat" -> stat, "_aw" -> aW) ++ bW.map("_bw" -> _))
      .agg(sum(col("_stat")).as("_sum"), MomentsKernel.triangle("a", xs, Some(col("_aw"))),
        MomentsKernel.triangle("b", xs, bW.map(_ => col("_bw"))))
      .collect()(0)
    val aM = MomentsKernel.readTriangle(row, "a", p) * aScale
    val bM = MomentsKernel.readTriangle(row, "b", p) * bScale
    val aSolve = LinAlg.solveDetecting(aM, DenseVector.zeros[Double](p))
    require(aSolve.dropIdx.isEmpty, singular)
    val aInv = aSolve.xtxInv
    val v = (aInv * bM * aInv) * (n / (n - p))
    val table = (0 until p).map { i =>
      val se = math.sqrt(math.max(v(i, i), 0.0))
      val t = if (se > 0) beta(i) / se else Double.NaN
      CoefRow(init.keptNames(i), beta(i), se, t, LinAlg.pValue(t, n - p))
    }
    (table, MomentsKernel.double(row, "_sum") / n)
  }

  /** One group's step in a grouped fit: solve a keyed [[MomentsKernel.normalAggs]]
    * row and pad β to all `p` columns (a dropped column reads 0). Touches
    * only the row, so it runs executor-side. */
  def solveGroup(r: Row, p: Int): (LinAlg.SolveOutcome, Array[Double]) = {
    val (xtx, xty) = MomentsKernel.readNormal(r, p)
    val sol = LinAlg.solveDetecting(xtx, xty)
    val full = Array.fill(p)(0.0)
    sol.keepIdx.zipWithIndex.foreach { case (orig, ki) => full(orig) = sol.beta(ki) }
    (sol, full)
  }
}

/** The coefficient-table accessors of the IRLS fits' results. */
private[reg] trait CoefTable {
  def coeftable: Seq[CoefRow]
  def terms: Seq[String] = coeftable.map(_.term)
  def coef: Map[String, Double] = coeftable.map(r => r.term -> r.estimate).toMap
  def se: Map[String, Double] = coeftable.map(r => r.term -> r.stdError).toMap
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    coeftable.toDF("term", "estimate", "std_error", "statistic", "p_value")
  }
}
