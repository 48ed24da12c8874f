package graft.reg

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Staging.StagedFrame
import graft.formula.Formula
import graft.linalg.LinAlg
import graft.model.ModelFrame
import graft.model.ModelFrame.Y

/** Quantile regression (Koenker & Bassett 1978) via iteratively reweighted
  * least squares on the moments kernel — a beyond-reference extension of the
  * engine's regression family (reference dbreg.R:1805-1902 fits only the
  * conditional MEAN; the conditional-quantile analogue is the standard
  * robustness companion). Minimizes the check loss
  * `ρ_τ(r) = r·(τ − 1{r<0})` with the classic IRLS surrogate on the
  * residual-IRLS core [[Irls]] it shares with [[Rlm]] (OLS init, steps of
  * ONE partial+final weighted-moments aggregate each, fused sandwich pass,
  * t table). Qreg supplies the weight
  * `w = (τ·1{r≥0} + (1−τ)·1{r<0}) / max(|r|, ε)`, built from the incoming
  * β as literal expressions, the bandwidth rule and the two Powell
  * sandwich weights. The weight depends on the row through the residual,
  * so there is no distinct-x compression; each step scans the pruned,
  * codegen'd base relation. ε floors the denominator at near-zero
  * residuals (the usual smoothing of the non-differentiable check loss);
  * `tol = 0` pins exactly `maxIter` steps (the oracle / [[sqlOnly]]
  * configuration).
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
  * Cost: (1 OLS init) + maxIter + 1 (sandwich) scans (pinned in
  * PlanShapeSpec).
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
  ) extends CoefTable {
    /** Distributed point prediction (the conditional τ-quantile) on any
      * frame carrying the formula's input columns — a pure projection.
      * Factor levels are pinned to the TRAINING expansion; an unseen
      * level scores as the reference level (all dummies zero). */
    def predict(newdata: DataFrame, colName: String = "fit"): DataFrame =
      newdata.withColumn(colName, fitCol)
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
    fitFromInit(Irls.init(formula, df, "qreg"), tau, maxIter, tol, eps, bandwidth)

  /** The fit from an OLS init, which is τ-independent: [[Conformal.cqr]]
    * shares ONE across its lower and upper fits (the same economy the
    * generated cqrSql oracle gets from its shared f0 CTE). */
  private[reg] def fitFromInit(
      init: Irls.Init,
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
    val h = bandwidth.getOrElse(init.sigma0 * math.pow(init.n, -1.0 / 3.0))
    require(h > 0,
      "zero Powell bandwidth: the OLS init fits exactly (every quantile " +
        "line coincides) — pass bandwidth explicitly if SEs are still wanted")

    // the eps floor bounds attainable precision near eps·leverage: a tight
    // tol may never be met
    val path = Irls.iterate(init, maxIter, tol, "qreg",
      "design lost rank under check-loss weights")(
      weight = res => when(res >= 0, lit(tau)).otherwise(lit(1.0 - tau)) /
        greatest(abs(res), lit(eps)))

    // sandwich: A counts rows within the bandwidth, B is unweighted
    val res = init.residual(path.beta)
    val (table, pinball) = Irls.sandwich(init, path.beta,
      stat = when(res >= 0, lit(tau) * res).otherwise(lit(tau - 1.0) * res),
      aW = when(abs(res) <= lit(h), 1.0).otherwise(0.0), bW = None,
      aScale = 1.0 / (2.0 * h), bScale = tau * (1.0 - tau),
      "Powell bread Σ1{|r|≤h}·xxᵀ is singular: no residual mass within the " +
        "bandwidth — widen `bandwidth`")
    val fitCol = init.s0.keepIdx.zipWithIndex.map { case (orig, i) =>
      lit(path.beta(i)) * init.d.cols(orig).col.cast("double")
    }.reduce(_ + _)
    QregFit(table, tau, path.iterations, path.converged, init.m0.nRows, pinball, h,
      init.dropped, fitCol)
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
    *
    * Cost: the staged row frame, the staged init, `maxIter` staged steps
    * and the final keyed pass (pinned in PlanShapeSpec).
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
      val dfRes = math.max(m.n - sol.keepIdx.length, 1.0)
      val h = math.sqrt(Irls.rss(m.syy, m.sxx, m.sxy, sol) / dfRes) *
        math.pow(math.max(m.n, 1.0), -1.0 / 3.0)
      (r.getAs[String]("_g"), full, h, sol.keepIdx.toArray)
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
        val (sol, full) = Irls.solveGroup(r2, p)
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
        tau * (1.0 - tau) * b(kept(i), kept(j)))
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
        (g, displayNames(kept(i)), beta(kept(i)), ses(i), n.round, dd("_pin") / n))
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
