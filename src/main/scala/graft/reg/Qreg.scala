package graft.reg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.commons.math3.distribution.TDistribution
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Staging.StagedFrame
import graft.formula.Formula
import graft.linalg.LinAlg
import graft.model.ModelFrame
import graft.model.ModelFrame.{Design, Y}

/** Quantile regression (Koenker & Bassett 1978) via iteratively reweighted
  * least squares on the moments kernel — a beyond-reference extension of the
  * engine's regression family (reference dbreg.R:1805-1902 fits only the
  * conditional MEAN; the conditional-quantile analogue is the standard
  * robustness companion). Minimizes the check loss
  * `ρ_τ(r) = r·(τ − 1{r<0})` with the classic IRLS surrogate: each step is
  * ONE partial+final weighted-moments aggregate where the weight
  * `w = (τ·1{r≥0} + (1−τ)·1{r<0}) / max(|r|, ε)` is built from the incoming
  * β as literal expressions (the [[Rlm]] shape — the weight depends on the
  * row through the residual, so there is no distinct-x compression; each
  * step scans the pruned, codegen'd base relation). ε floors the
  * denominator at near-zero residuals (the usual smoothing of the
  * non-differentiable check loss); `tol = 0` pins exactly `maxIter` steps
  * (the oracle / [[sqlOnly]] configuration).
  *
  * Standard errors: the Powell (1991) kernel sandwich A⁻¹BA⁻¹ with the
  * uniform kernel — A = Σ 1{|r| ≤ h}·x xᵀ / (2h) estimates the density-
  * weighted bread E[f(0|x)·x xᵀ]·n, B = τ(1−τ)·Σ x xᵀ — finite-sample
  * scaled by n/(n−p) (the [[Rlm]] convention). Both triangles plus the
  * final pinball loss come from ONE extra fused scan. The default
  * bandwidth is `h = σ̂₀ · n^(−1/3)` with σ̂₀ the OLS-init residual scale:
  * deterministic, oracle-able, and satisfying Powell's h → 0, n·h → ∞
  * rates (constants tune finite-sample quality only; pass `bandwidth` to
  * override).
  *
  * Cost: (1 OLS init) + maxIter + 1 (sandwich) scans.
  */
object Qreg {

  final case class QregFit(
      coeftable: Seq[CoefRow],
      tau: Double,
      iterations: Int,
      converged: Boolean,
      nobs: Long,
      pinball: Double, // mean check loss at the final β
      bandwidth: Double, // Powell sandwich half-width actually used
      collinDropped: Seq[String],
      fitCol: Column // point prediction Σβ̂ᵢ·xᵢ over the ORIGINAL input columns
  ) {
    def terms: Seq[String] = coeftable.map(_.term)
    def coef: Map[String, Double] = coeftable.map(r => r.term -> r.estimate).toMap
    def se: Map[String, Double] = coeftable.map(r => r.term -> r.stdError).toMap
    /** Distributed point prediction (the conditional τ-quantile) on any
      * frame carrying the formula's input columns — a pure projection.
      * Factor levels are pinned to the TRAINING expansion; an unseen
      * level scores as the reference level (all dummies zero). */
    def predict(newdata: DataFrame, colName: String = "fit"): DataFrame =
      newdata.withColumn(colName, fitCol)
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      coeftable.map(r => (r.term, r.estimate, r.stdError, r.statistic, r.pValue))
        .toDF("term", "estimate", "std_error", "statistic", "p_value")
    }
  }

  /** The τ-independent part of a quantile fit: design + the OLS-init
    * moments pass and solve. [[Conformal.cqr]] shares ONE of these across
    * its lower and upper fits (β₀ and σ̂₀ do not depend on τ — the same
    * economy the generated cqrSql oracle gets from its shared f0 CTE). */
  private[reg] final case class QregInit(
      f: Formula,
      d: Design,
      m0: MomentsResult,
      s0: LinAlg.SolveOutcome)

  private[reg] def prepareInit(formula: String, df: DataFrame): QregInit = {
    val f = Formula.parse(formula)
    require(f.fe.isEmpty,
      "qreg does not absorb fixed effects; include them as dummies")
    val d = ModelFrame.design(df, f)
    // initial OLS: one unweighted moments pass; collinear columns drop here
    // and stay dropped (check-loss weights cannot restore rank)
    val m0 = MomentsKernel.compute(d.df, Y, d.xNames, intercept = false)
    QregInit(f, d, m0, LinAlg.solveDetecting(m0.xtx, m0.xty))
  }

  /** Quantile fit at `tau`. `tol = 0` pins exactly `maxIter` IRLS steps
    * (the oracle configuration); otherwise stop when the max relative
    * coefficient change drops below `tol`. */
  def fit(
      formula: String,
      df: DataFrame,
      tau: Double = 0.5,
      maxIter: Int = 30,
      tol: Double = 1e-8,
      eps: Double = 1e-6,
      bandwidth: Option[Double] = None
  ): QregFit =
    fitFromInit(prepareInit(formula, df), tau, maxIter, tol, eps, bandwidth)

  private[reg] def fitFromInit(
      init: QregInit,
      tau: Double,
      maxIter: Int,
      tol: Double,
      eps: Double,
      bandwidth: Option[Double]
  ): QregFit = {
    require(tau > 0 && tau < 1, s"tau must be in (0,1): $tau")
    require(maxIter >= 1)
    require(eps > 0, s"eps must be positive: $eps")
    bandwidth.foreach(h => require(h > 0, s"bandwidth must be positive: $h"))
    val QregInit(_, d, m0, s0) = init
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
    val sigma0 = math.sqrt(rss0 / (n - p))
    val h = bandwidth.getOrElse(sigma0 * math.pow(n, -1.0 / 3.0))
    require(h > 0,
      "zero Powell bandwidth: the OLS init fits exactly (every quantile " +
        "line coincides) — pass bandwidth explicitly if SEs are still wanted")

    def residual(beta: DenseVector[Double]): Column =
      keptX.zipWithIndex.foldLeft(col(Y).cast("double")) {
        case (acc, (xn, i)) => acc - lit(beta(i)) * col(xn).cast("double")
      }

    var beta = s0.beta
    var iters = 0
    var converged = false
    while (iters < maxIter && !converged) {
      iters += 1
      val res = residual(beta)
      val w = when(res >= 0, lit(tau)).otherwise(lit(1.0 - tau)) /
        greatest(abs(res), lit(eps))
      val work = d.df.withColumn("__qw", w)
      val m = MomentsKernel.compute(work, Y, keptX, intercept = false,
        weightName = Some("__qw"))
      val s = LinAlg.solveDetecting(m.xtx, m.xty)
      require(s.dropIdx.isEmpty,
        "design lost rank under check-loss weights")
      val delta = (0 until p).map(i =>
        math.abs(s.beta(i) - beta(i)) / math.max(math.abs(s.beta(i)), 1e-10)).max
      beta = s.beta
      if (tol > 0 && delta < tol) converged = true
    }
    // the hdfe contract: non-convergence is LOUD, never silent — the
    // eps-floored IRLS surrogate converges linearly, so tight tolerances
    // can need 100+ sweeps (each one corpus scan)
    if (tol > 0 && !converged)
      Console.err.println(
        s"[qreg] WARNING: check-loss IRLS did not converge in $maxIter " +
          s"steps at tol=$tol; estimates are the last surrogate solve — " +
          "raise maxIter or loosen tol (the eps floor bounds attainable " +
          "precision near eps·leverage)")

    // fused final pass: pinball loss + BOTH sandwich triangles in one scan
    val res = residual(beta)
    val pin = when(res >= 0, lit(tau) * res).otherwise(lit(tau - 1.0) * res)
    val inside = when(abs(res) <= lit(h), 1.0).otherwise(0.0)
    val xs = keptX.map(col(_).cast("double"))
    // loss and weight in a projection below the packed aggregate
    val row = d.df.withColumns(Map("_pinr" -> pin, "_inside" -> inside))
      .agg(sum(col("_pinr")).as("_pin"),
        MomentsKernel.triangle("a", xs, Some(col("_inside"))), MomentsKernel.triangle("b", xs))
      .collect()(0)
    val aM = MomentsKernel.readTriangle(row, "a", p) / (2.0 * h)
    val bM = MomentsKernel.readTriangle(row, "b", p) * (tau * (1.0 - tau))
    val aSolve = LinAlg.solveDetecting(aM, DenseVector.zeros[Double](p))
    require(aSolve.dropIdx.isEmpty,
      "Powell bread Σ1{|r|≤h}·xxᵀ is singular: no residual mass within the " +
        "bandwidth — widen `bandwidth`")
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
    val fitCol = s0.keepIdx.zipWithIndex.map { case (orig, i) =>
      lit(beta(i)) * d.cols(orig).col.cast("double")
    }.reduce(_ + _)
    QregFit(rows, tau, iters, converged || tol == 0.0, m0.nRows,
      MomentsKernel.double(row, "_pin") / n, h, dropped, fitCol)
  }

  /** Per-group quantile fits (conditional τ-quantiles by domain — the
    * per-segment p75-latency / price-band shape). Mirrors
    * [[Glm.fitGrouped]]: every step is ONE keyed (partial+final) moment
    * aggregation over the corpus; the G per-group solves run executor-side
    * over the G moment rows; β re-attaches with a `_g`-keyed equi-join
    * that AQE downgrades to broadcast while G×p stays small — the corpus
    * is never shuffled. Fixed `maxIter` IRLS steps after the per-group OLS
    * init (the grouped-fit convention; group tolerances would need
    * per-group stopping, which breaks the one-scan-per-step shape). The
    * final keyed scan carries each group's pinball loss and both Powell
    * sandwich triangles (per-group bandwidth h_g = σ̂₀g·n_g^(−1/3) from
    * the init). Returns (group, term, estimate, std_error, n, pinball).
    */
  def fitGrouped(
      formula: String,
      df: DataFrame,
      groupCol: String,
      tau: Double = 0.5,
      maxIter: Int = 3,
      eps: Double = 1e-6
  ): DataFrame = {
    require(tau > 0 && tau < 1, s"tau must be in (0,1): $tau")
    require(maxIter >= 1)
    require(eps > 0)
    val f = Formula.parse(formula)
    require(f.fe.isEmpty, "grouped qreg does not support fixed effects (| fe)")
    val d = ModelFrame.design(df, f, Seq(groupCol))
    val xNames = d.xNames
    val displayNames = d.displayNames
    require(xNames.nonEmpty, "empty design")
    val p = xNames.length

    val rowFrame = d.df.select(
      col(groupCol).cast("string").as("_g") +: xNames.map(col) :+ col(Y).as("_yb"): _*)
      .staged // every step + the sandwich rescans this frame

    val spark = df.sparkSession
    import spark.implicits._

    val xs = xNames.map(col)

    // per-group OLS init: β₀ plus the Powell bandwidth from the init rss
    val init = MomentsKernel.aggregate(rowFrame, Seq(col("_g")), col("_yb"), xs)
    var betas: DataFrame = init.map { r =>
      val m = MomentsKernel.readRaw(r, p)
      val sol = LinAlg.solveDetecting(m.sxx, m.sxy)
      val full = Array.fill(p)(0.0)
      sol.keepIdx.zipWithIndex.foreach { case (orig, ki) => full(orig) = sol.beta(ki) }
      val keep = sol.keepIdx
      val xtyK = DenseVector(keep.map(m.sxy(_)).toArray)
      val xtxK = DenseMatrix.tabulate(keep.length, keep.length)((i, j) =>
        m.sxx(keep(i), keep(j)))
      val rss = math.max(
        m.syy - 2.0 * (sol.beta dot xtyK) + (sol.beta dot (xtxK * sol.beta)), 0.0)
      val dfRes = math.max(m.n - keep.length, 1.0)
      val h = math.sqrt(rss / dfRes) * math.pow(math.max(m.n, 1.0), -1.0 / 3.0)
      (r.getAs[String]("_g"), full, h, keep.toArray)
    }.toDF("_g", "_b", "_h", "_kept").staged

    def residual: Column =
      col("_yb") - (0 until p).map(i => xs(i) * element_at(col("_b"), i + 1))
        .reduce(_ + _)

    for (_ <- 1 to maxIter) {
      val src = rowFrame.join(betas, "_g")
      val r = residual
      val w = when(r >= 0, lit(tau)).otherwise(lit(1.0 - tau)) /
        greatest(abs(r), lit(eps))
      val aggs = MomentsKernel.normalAggs(col("_yb"), xs, col("__qw"))
      val mom = src.withColumn("__qw", w).groupBy(col("_g")).agg(aggs.head, aggs.tail: _*)
        .join(betas.select(col("_g"), col("_h")), "_g")
      betas = mom.map { r2 =>
        val (xtx, xty) = MomentsKernel.readNormal(r2, p)
        val sol = LinAlg.solveDetecting(xtx, xty)
        val full = Array.fill(p)(0.0)
        sol.keepIdx.zipWithIndex.foreach { case (orig, ki) => full(orig) = sol.beta(ki) }
        (r2.getAs[String]("_g"), full, r2.getAs[Double]("_h"), sol.keepIdx.toArray)
      }.toDF("_g", "_b", "_h", "_kept").staged
    }

    // final keyed scan: pinball + BOTH Powell triangles per group
    val src = rowFrame.join(betas, "_g")
    val r = residual
    val pin = when(r >= 0, lit(tau) * r).otherwise(lit(tau - 1.0) * r)
    val inside = when(abs(r) <= col("_h"), 1.0).otherwise(0.0)
    val aggs = Seq(
      count(lit(1)).cast("double").as("_n"),
      sum(pin).as("_pin"),
      first(col("_h")).as("_hh"),
      first(col("_kept")).as("_keptg")) ++
      (0 until p).map(i => first(element_at(col("_b"), i + 1)).as(s"_beta$i")) ++
      MomentsKernel.keyedTriangle("a", xs, Some(inside)) ++
      MomentsKernel.keyedTriangle("b", xs)
    val names = displayNames
    val tauL = tau
    src.groupBy(col("_g")).agg(aggs.head, aggs.tail: _*).flatMap { row =>
      def dd(nm: String): Double = MomentsKernel.double(row, nm)
      val g = row.getAs[String]("_g")
      val n = dd("_n"); val h = dd("_hh")
      val beta = Array.tabulate(p)(i => dd(s"_beta$i"))
      // Qreg.fit parity: a group whose design lost rank reports ONLY the
      // kept terms (the collinDropped contract) — the sandwich runs over
      // the final solve's kept coordinates, never the padded full set
      // (whose all-zero dropped row would make A singular and poison
      // every term's SE)
      val kept: Array[Int] = row.getAs[scala.collection.Seq[Int]]("_keptg").toArray
      val pk = kept.length
      val a = MomentsKernel.readKeyedTriangle(row, "a", p)
      val b = MomentsKernel.readKeyedTriangle(row, "b", p)
      val aM = DenseMatrix.tabulate(pk, pk)((i, j) => a(kept(i), kept(j)) / (2.0 * h))
      val bM = DenseMatrix.tabulate(pk, pk)((i, j) =>
        tauL * (1.0 - tauL) * b(kept(i), kept(j)))
      val ses: Array[Double] =
        if (h <= 0 || pk == 0) Array.fill(pk)(Double.NaN)
        else
          try {
            val aInv = breeze.linalg.inv(aM)
            val v = (aInv * bM * aInv) * (n / math.max(n - pk, 1.0))
            Array.tabulate(pk)(i => math.sqrt(math.max(v(i, i), 0.0)))
          } catch {
            // only the linear-algebra failure (no residual mass within h
            // in this group) degrades to NaN — anything else propagates
            case _: breeze.linalg.MatrixSingularException =>
              Array.fill(pk)(Double.NaN)
          }
      kept.indices.map(i =>
        (g, names(kept(i)), beta(kept(i)), ses(i), n.round, dd("_pin") / n))
    }.toDF("group", "term", "estimate", "std_error", "n", "pinball")
  }

  /** The whole fixed-iteration fit rendered as ONE runnable SQL statement
    * for the 2-parameter model (intercept + one regressor) — the q62-65/q95
    * self-proving loop: the correctness oracle executes this text. */
  def sqlOnly(
      table: String,
      xCol: String,
      yCol: String,
      tau: Double,
      iters: Int = 3,
      eps: Double = 1e-6
  ): String = QregSqlGen.irlsSql(table, xCol, yCol, tau, iters, eps)
}
