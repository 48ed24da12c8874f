package graft.reg

import graft.Staging.StagedFrame
import breeze.linalg.DenseMatrix
import org.apache.commons.math3.distribution.NormalDistribution
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.formula.{Formula, Vcov}
import graft.linalg.LinAlg
import graft.model.ModelFrame

/** GLM fit result — the IRLS analogue of [[DbregResult]]. Tiny,
  * driver-resident; `coeftable` statistics are Wald z (normal reference
  * distribution, the GLM convention), not t.
  */
final case class GlmResult(
    family: String,
    strategy: String,
    coeftable: Seq[CoefRow],
    vcov: DenseMatrix[Double],
    nobs: Double, // Σ prior weights (== row count unweighted)
    nCells: Long, // rows the IRLS passes scanned (cells for compress)
    deviance: Double,
    nullDeviance: Double,
    iterations: Int,
    converged: Boolean,
    collinDropped: Seq[String],
    @transient scoreFn: DataFrame => Column = null,
    @transient termCols: Seq[Column] = null,
    @transient offsetCol: Option[Column] = None
) {
  def terms: Seq[String] = coeftable.map(_.term)
  def coef: Map[String, Double] = coeftable.map(r => r.term -> r.estimate).toMap
  def se: Map[String, Double] = coeftable.map(r => r.term -> r.stdError).toMap

  /** McFadden pseudo-R²: 1 − deviance/null-deviance. */
  def pseudoR2: Double = 1.0 - deviance / nullDeviance

  /** AIC up to the family's data-only constant: deviance + 2p. Exact for
    * binomial with 0/1 responses (saturated loglik = 0); for Poisson the
    * Σln y! term is a model-independent constant, so DIFFERENCES between
    * fits on the same data are exact AIC differences. */
  def aic: Double = deviance + 2.0 * coeftable.length

  /** Wald (normal) two-sided confidence intervals at `level`. */
  def confint(level: Double = 0.95): Seq[(String, Double, Double)] = {
    val crit = new org.apache.commons.math3.distribution.NormalDistribution(0.0, 1.0)
      .inverseCumulativeProbability(1.0 - (1.0 - level) / 2.0)
    coeftable.map(r => (r.term, r.estimate - crit * r.stdError, r.estimate + crit * r.stdError))
  }

  /** Response-scale prediction μ̂ = g⁻¹(xᵀβ̂) appended as `colName`.
    * Distributed: a pure projection over `newdata`, no shuffle. */
  def predictResponse(newdata: DataFrame, colName: String = "mu"): DataFrame = {
    require(scoreFn != null, "predictor not available (deserialized result?)")
    newdata.withColumn(colName, scoreFn(newdata))
  }

  /** Link-scale prediction with delta-method intervals, as a pure
    * projection: η̂ = xᵀβ̂ (+ offset), se(η̂)² = xᵀVx rendered as the
    * p(p+1)/2-term quadratic form over the ACTIVE vcov (iid or sandwich),
    * and the response-scale band transforms the link-scale endpoints
    * (monotone links ⇒ valid coverage). Appends eta, se_eta, mu, mu_lwr,
    * mu_upr. No shuffle; O(p²) expression terms, fine for GLM-sized p. */
  def predictLink(newdata: DataFrame, level: Double = 0.95): DataFrame = {
    require(termCols != null, "predictor not available (deserialized result?)")
    val beta = coeftable.map(_.estimate)
    val xs = termCols.map(_.cast("double"))
    val etaX = xs.zip(beta).map { case (c, b) => c * lit(b) }.reduce(_ + _)
    val eta = offsetCol.fold(etaX)(o => etaX + o)
    val p = xs.length
    val quad =
      (0 until p).map(i => xs(i) * xs(i) * lit(vcov(i, i))) ++
        (for (i <- 0 until p; j <- i + 1 until p)
          yield xs(i) * xs(j) * lit(2.0 * vcov(i, j)))
    val se = org.apache.spark.sql.functions.sqrt(quad.reduce(_ + _))
    val crit = new org.apache.commons.math3.distribution.NormalDistribution(0.0, 1.0)
      .inverseCumulativeProbability(1.0 - (1.0 - level) / 2.0)
    newdata
      .withColumn("eta", eta)
      .withColumn("se_eta", se)
      .withColumn("mu", Glm.linkInv(family, col("eta")))
      .withColumn("mu_lwr", Glm.linkInv(family, col("eta") - lit(crit) * col("se_eta")))
      .withColumn("mu_upr", Glm.linkInv(family, col("eta") + lit(crit) * col("se_eta")))
  }

  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    coeftable.toDF("term", "estimate", "std_error", "statistic", "p_value")
  }

  /** broom-style alias (API symmetry with [[DbregResult.tidy]]). */
  def tidy(spark: SparkSession): DataFrame = toDF(spark)

  def glance(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((family, strategy, deviance, nullDeviance, pseudoR2, aic, nobs, nCells,
      iterations, converged))
      .toDF("family", "strategy", "deviance", "null_deviance", "pseudo_r2",
        "aic", "nobs", "n_cells", "iterations", "converged")
  }

  override def toString: String = {
    val header =
      f"glm-spark [$family/$strategy] n=$nobs%,.0f (aggregated to $nCells%,d) " +
        f"iter=$iterations converged=$converged"
    val lines = coeftable.map { r =>
      f"  ${r.term}%-28s ${r.estimate}% .6e  ${r.stdError}% .4e  ${r.statistic}% 8.3f  ${r.pValue}% .4g"
    }
    val gof = f"  deviance=$deviance%.6g null=$nullDeviance%.6g pseudoR²=$pseudoR2%.6f"
    val collin =
      if (collinDropped.nonEmpty) s"\n  dropped (collinear): ${collinDropped.mkString(", ")}"
      else ""
    (header +: lines).mkString("\n") + "\n" + gof + collin
  }
}

/** Generalized linear models via iteratively reweighted least squares, with
  * the same sufficient-statistics discipline as [[Dbreg]]: every IRLS
  * iteration is ONE partial+final hash aggregate (the weighted moments
  * triangle from [[MomentsKernel]]), so a k-iteration fit costs k codegen'd
  * scans and nothing per-row ever reaches the driver.
  *
  * The compression insight the reference builds on (Wong et al. 2021,
  * arXiv:2102.11297 — cited in reference README.md:143-150) extends beyond
  * OLS to any GLM: the IRLS working weights and response depend on a row
  * only through its regressor tuple x and response y, and the weighted
  * moments are additive, so grouping by the DISTINCT x tuples with
  * (Σw, ȳ_cell) carried per cell reproduces the row-level iterates
  * EXACTLY. `strategy="compress"` therefore scans the corpus once to build
  * cells and runs every IRLS iteration over the (tiny) cell table —
  * "logistic regression at 100 TB" becomes one shuffle plus driver-speed
  * iterations when the design is low-cardinality (the quality-classifier /
  * A-B-test shape).
  *
  * Families: `binomial` (logit link), `poisson` (log link), `gaussian`
  * (identity; equivalent to OLS, included for uniformity). Fixed effects
  * are NOT supported (no `| fe` term): absorb small-cardinality factors as
  * RHS dummies instead — the incidental-parameters problem makes demean
  * tricks invalid for nonlinear models, so an honest refusal beats a wrong
  * answer (mirrors the reference's multiway-cluster refusal,
  * dbreg.R:330-339).
  */
object Glm {

  /** Inverse links, exposed for composing score columns in queries. */
  def sigmoid(eta: Column): Column = lit(1.0) / (lit(1.0) + exp(-eta))

  /** `sql_only` analogue: the whole fixed-iteration IRLS fit rendered as
    * one runnable ANSI-SQL statement (2-parameter models — see
    * [[GlmSqlGen]]). `ySql` is the response expression in SQL (e.g.
    * `"CASE WHEN flag = 'R' THEN 1.0 ELSE 0.0 END"`). */
  def sqlOnly(
      table: String,
      xCol: String,
      ySql: String,
      family: String = "binomial",
      iters: Int = 4,
      groupCol: Option[String] = None,
      extraWhere: Seq[String] = Nil,
      theta: Double = 1.0
  ): String = {
    val cells = GlmSqlGen.cellsSql(table, xCol, ySql, groupCol, extraWhere)
    groupCol match {
      case Some(_) => GlmSqlGen.groupedIrlsSql(cells, family, iters, xCol, theta)
      case None => GlmSqlGen.irlsSql(cells, family, iters, xCol, theta)
    }
  }

  def linkInv(family: String, eta: Column): Column = family match {
    case "binomial" => sigmoid(eta)
    case "poisson" | "gamma" | "negbin" => exp(eta)
    case "gaussian" => eta
    case other => throw new IllegalArgumentException(s"unknown family: $other")
  }

  /** Families the engine fits. Gamma uses the log link with UNIT working
    * weight (μ²/V(μ) = 1), so its compressed iterates are cell-exact like
    * the others; SEs follow the engine's φ = 1 convention (as for
    * gaussian) — scale by your preferred dispersion estimate if needed.
    * `negbin` is NB2 with FIXED dispersion θ (the `theta` parameter):
    * log link, V(μ) = μ + μ²/θ ⇒ working weight μθ/(θ+μ) — the standard
    * overdispersed-count model (Cameron & Trivedi 2013 §3.3; estimating θ
    * itself needs the profile likelihood and stays out of scope). */
  val Families: Set[String] = Set("binomial", "poisson", "gaussian", "gamma", "negbin")

  /** Fit a GLM.
    *
    * @param formula  `y ~ x1 + x2*x3` (no `| fe` part; factors expand to
    *                 dummies exactly as in [[Dbreg]])
    * @param family   binomial | poisson | gaussian
    * @param strategy auto | irls | compress. `auto` probes the distinct
    *                 regressor-tuple count (approx, one scan) and picks
    *                 compress when cells ≤ `compressRatio` × rows.
    * @param maxIter  IRLS iteration cap; with `tol = 0` exactly `maxIter`
    *                 iterations run (deterministic, oracle-friendly)
    * @param tol      relative deviance-change convergence tolerance
    * @param weights  prior (frequency) weight column: a row with weight w
    *                 counts as w identical observations
    * @param offset   fixed linear-predictor component (η = Xβ + offset) —
    *                 the Poisson-exposure / prior-log-odds term. With an
    *                 offset the null deviance is NaN (an offset-only null
    *                 model would need its own iterative fit).
    */
  def fit(
      formula: String,
      df: DataFrame,
      family: String = "binomial",
      strategy: String = "auto",
      maxIter: Int = 25,
      tol: Double = 1e-9,
      weights: Option[String] = None,
      offset: Option[String] = None,
      compressRatio: Double = 0.25,
      vcov: String = "iid",
      theta: Double = 1.0
  ): GlmResult = {
    val v = Vcov.parse(vcov)
    require(Families(family), s"unknown family: $family")
    require(theta > 0.0, s"negbin dispersion theta must be positive, got $theta")
    require(Set("auto", "irls", "compress")(strategy), s"unknown strategy: $strategy")
    require(maxIter >= 1, "maxIter must be >= 1")
    val f = Formula.parse(formula)
    require(f.fe.isEmpty,
      "GLM does not support fixed effects (| fe): absorb small factors as RHS dummies")

    val clusterCol = v match { case Vcov.Cluster(c) => Some(c); case _ => None }
    val base = ModelFrame.prepare(df, f, offset.toSeq ++ clusterCol, weights)
    // Design: explicit intercept column + expanded terms (dummies,
    // interactions, drop-ref), all cast to double — same algebra as Dbreg.
    val d = ModelFrame.buildDesign(base, f, weights.toSeq ++ offset, intercept = true)
    val xNames = d.xNames
    require(xNames.nonEmpty, "empty design")
    require(xNames.length <= Dbreg.MaxDesignCols,
      s"design too wide (${xNames.length} > ${Dbreg.MaxDesignCols})")

    val y = col(ModelFrame.Y)
    val wt = weights.map(col(_).cast("double")).getOrElse(lit(1.0))
    // _ylogy (Σ w·y·ln y within the unit) makes the Poisson deviance
    // cell-exact: it is the one deviance term not linear in y.
    // _ylogy doubles as the family's log-moment cell stat: w·y·ln y for
    // the Poisson deviance, w·ln y for the gamma deviance. A y ≤ 0 row
    // under gamma poisons the stat with NaN, which survives every sum —
    // the first IRLS pass detects it without a separate validation scan.
    val ylogy = family match {
      case "poisson" => when(y > 0.0, wt * y * log(y)).otherwise(0.0)
      case "gamma" => when(y > 0.0, wt * log(y)).otherwise(lit(Double.NaN))
      // negbin carries the whole non-μ-linear deviance part per unit:
      // w·[y·ln y − (y+θ)·ln(y+θ)]; a y < 0 row poisons it with NaN (the
      // explicit branch matters: Spark's ln yields NULL below zero and sum
      // would silently skip it)
      case "negbin" =>
        when(y < 0.0, lit(Double.NaN)).otherwise(
          when(y > 0.0, wt * y * log(y)).otherwise(lit(0.0)) -
            wt * (y + lit(theta)) * log(y + lit(theta)))
      case _ => lit(0.0)
    }
    val off = offset.map(col(_).cast("double")).getOrElse(lit(0.0))
    val rowFrame = d.df.select(
      xNames.map(col) ++ Seq(wt.as("_wt"), y.as("_yb"), ylogy.as("_ylogy"), off.as("_off")): _*)

    val chosen = strategy match {
      case "auto" =>
        val probe = rowFrame
          .agg(count(lit(1)).as("_n"),
            approx_count_distinct(struct((xNames.map(col) :+ col("_off")): _*))
              .as("_cells"))
          .collect()(0)
        if (probe.getAs[Long]("_cells") <= compressRatio * probe.getAs[Long]("_n"))
          "compress"
        else "irls"
      case s => s
    }

    val work = chosen match {
      case "compress" =>
        rowFrame
          .groupBy((xNames.map(col) :+ col("_off")): _*)
          .agg(
            sum("_wt").as("_wt"),
            (sum(col("_wt") * col("_yb")) / sum("_wt")).as("_yb"),
            sum("_ylogy").as("_ylogy"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      case _ => rowFrame
    }

    val exprByName: Map[String, Column] = d.displayNames.zip(d.cols.map(_.col)).toMap
    val res0 =
      try fitIrls(f, family, chosen, work, xNames, d.displayNames, exprByName,
        maxIter, tol, offset, theta)
      finally if (chosen == "compress") { work.unpersist(); () }
    v match {
      case Vcov.Iid => res0
      case _ => sandwich(res0, v, base, exprByName, f, family, wt, offset, theta)
    }
  }

  /** Robust/cluster sandwich at the reported β: V = A⁻¹ M A⁻¹ with
    * A = XᵀWX (the final IRLS curvature, already inverted in `res.vcov`)
    * and M the outer-product "meat" of the estimating-equation scores
    * u_i = w_i·(y_i − μ_i) (canonical links ⇒ ∂ℓ/∂η = y − μ):
    * HC1 sums per-row u²·xxᵀ with the n/(n−p) factor; cluster sums
    * per-cluster score vectors s_g = Σ_{i∈g} u_i·x_i first (one keyed
    * aggregate, map-side combine) and applies the CR1 factor — the exact
    * shape of Dbreg's cluster path. ONE extra corpus scan either way,
    * regardless of the fit strategy (compress fits still get row-level
    * meat, since clusters cut across cells). */
  private def sandwich(
      res: GlmResult,
      v: Vcov,
      base: DataFrame,
      exprByName: Map[String, Column],
      f: Formula,
      family: String,
      wt: Column,
      offset: Option[String],
      theta: Double = 1.0
  ): GlmResult = {
    val kept = res.coeftable.map(_.term).toIndexedSeq
    val p = kept.length
    val beta = res.coeftable.map(_.estimate).toArray
    val etaX = kept.zip(beta).map { case (nm, b) =>
      exprByName(nm).cast("double") * lit(b)
    }.reduce(_ + _)
    val eta = offset.fold(etaX)(o => etaX + col(o).cast("double"))
    val mu = linkInv(family, eta)
    // ∂ℓ/∂η = y − μ for the canonical links; the NON-canonical log-link
    // negbin score carries the extra factor (dμ/dη)/V(μ) = θ/(θ+μ)
    val scoreFac = family match {
      case "negbin" => lit(theta) / (mu + lit(theta))
      case _ => lit(1.0)
    }
    val r = (col(f.y).cast("double") - mu) * scoreFac
    // frequency-weight semantics: w replicated rows contribute w·(rx)(rx)ᵀ
    // to the per-ROW meat but a single combined w·r·x to their CLUSTER's
    // score — so HC1 scales by w, cluster sums scale by w
    val u = wt * r
    val xs = kept.map(nm => exprByName(nm).cast("double"))
    val inv = res.vcov
    val n = res.nobs
    val vc = v match {
      case Vcov.Hc1 =>
        val meat = MomentsKernel.hc1Meat(base, wt * r * r, xs)
        LinAlg.vcovHc1(inv, meat, n, math.max(n - p, 1.0))
      case Vcov.Cluster(c) =>
        val (g, meat) = MomentsKernel.cr1Meat(base, col(c), u, xs)
        LinAlg.vcovCr1(inv, meat, n, g.toDouble, p)
      case Vcov.Iid => throw new IllegalStateException("unreachable")
    }
    val norm = new NormalDistribution(0.0, 1.0)
    val table = res.coeftable.zipWithIndex.map { case (r, j) =>
      val se = math.sqrt(math.max(vc(j, j), 0.0))
      val z = if (se > 0) r.estimate / se else Double.NaN
      val pv = if (z.isNaN) Double.NaN else 2.0 * norm.cumulativeProbability(-math.abs(z))
      r.copy(stdError = se, statistic = z, pValue = pv)
    }
    res.copy(coeftable = table, vcov = vc)
  }

  /** Grouped GLM: one IRLS fit PER GROUP — the "per-domain quality
    * classifier" shape. Exactly `maxIter` Newton steps run for every group
    * (no per-group convergence bookkeeping: deterministic, oracle-friendly,
    * and the fixed-point is insensitive to a step or two past
    * stabilization). Each step is one keyed aggregation of the weighted
    * moments triangle (partial+final, map-side combine), the per-group
    * solves run EXECUTOR-SIDE on the G moment rows, and the next step
    * re-attaches β per group with an equi-join AQE downgrades to broadcast
    * while G×p stays small — the corpus itself is never shuffled.
    *
    * `strategy="compress"` collapses the corpus to distinct
    * (group × regressor-tuple) cells in ONE pass and iterates over the
    * cell table (identical iterates — see [[fit]]); `auto` probes the cell
    * count. At 100 TB with low-cardinality designs, G·cells rows iterate
    * after a single corpus scan.
    *
    * Returns a distributed DataFrame (group, term, estimate, std_error,
    * n, deviance) — Wald z SEs from the final step's XᵀWX; `deviance` is
    * measured at the penultimate β (the same one-lag as [[fit]] with
    * tol=0; for stabilized groups the two are equal to solver precision).
    */
  def fitGrouped(
      formula: String,
      df: DataFrame,
      groupCol: String,
      family: String = "binomial",
      strategy: String = "auto",
      maxIter: Int = 8,
      compressRatio: Double = 0.25,
      theta: Double = 1.0
  ): DataFrame = {
    require(Families(family), s"unknown family: $family")
    require(theta > 0.0, s"negbin dispersion theta must be positive, got $theta")
    require(Set("auto", "irls", "compress")(strategy), s"unknown strategy: $strategy")
    require(maxIter >= 1, "maxIter must be >= 1")
    val f = Formula.parse(formula)
    require(f.fe.isEmpty, "grouped GLM does not support fixed effects (| fe)")
    val d = ModelFrame.design(df, f, Seq(groupCol))
    val xNames = d.xNames
    val displayNames = d.displayNames
    require(xNames.nonEmpty, "empty design")
    val p = xNames.length

    val y = col(ModelFrame.Y)
    // gamma: a y ≤ 0 row poisons its group's log-moment with NaN, so that
    // group reports NaN deviance/null-deviance/pseudo-R² (no extra
    // validation scan; other groups are unaffected)
    val ylogy = family match {
      case "poisson" => when(y > 0.0, y * log(y)).otherwise(0.0)
      case "gamma" => when(y > 0.0, log(y)).otherwise(lit(Double.NaN))
      case "negbin" =>
        when(y < 0.0, lit(Double.NaN)).otherwise(
          when(y > 0.0, y * log(y)).otherwise(lit(0.0)) -
            (y + lit(theta)) * log(y + lit(theta)))
      case _ => lit(0.0)
    }
    val rowFrame = d.df.select(
      col(groupCol).cast("string").as("_g") +:
        (xNames.map(col) ++ Seq(lit(1.0).as("_wt"), y.as("_yb"), (y * y).as("_ybb"),
          ylogy.as("_ylogy"))): _*)

    val chosen = strategy match {
      case "auto" =>
        val probe = rowFrame
          .agg(count(lit(1)).as("_n"),
            approx_count_distinct(struct((col("_g") +: xNames.map(col)): _*)).as("_cells"))
          .collect()(0)
        if (probe.getAs[Long]("_cells") <= compressRatio * probe.getAs[Long]("_n"))
          "compress"
        else "irls"
      case s => s
    }
    val work0 = chosen match {
      case "compress" =>
        rowFrame.groupBy((col("_g") +: xNames.map(col)): _*)
          .agg(
            sum("_wt").as("_wt"),
            (sum(col("_wt") * col("_yb")) / sum("_wt")).as("_yb"),
            (sum(col("_wt") * col("_ybb")) / sum("_wt")).as("_ybb"),
            sum("_ylogy").as("_ylogy"))
      case _ => rowFrame
    }
    // one materialization barrier: every iteration rescans this frame, and
    // for compress the cell build must not rerun per step. Context-cleaner
    // releases the blocks with the result (same pattern as Dedup).
    val work = work0.staged

    val spark = df.sparkSession
    import spark.implicits._

    // working weight/response given the β-attachment state of `src`
    def withWZ(src: DataFrame, haveBeta: Boolean): DataFrame = {
      val eta =
        if (!haveBeta) lit(0.0)
        else (0 until p).map(i => col(xNames(i)) * element_at(col("_b"), i + 1))
          .reduce(_ + _)
      val yb = col("_yb"); val w = col("_wt")
      val Eps = 1e-12
      val (w2, z, devTerm) = family match {
        case "binomial" =>
          val mu = least(greatest(sigmoid(eta), lit(Eps)), lit(1.0 - Eps))
          val wrow = mu * (lit(1.0) - mu)
          val dt = (when(yb > 0.0, yb * log(mu)).otherwise(0.0) +
            when(yb < 1.0, (lit(1.0) - yb) * log(lit(1.0) - mu)).otherwise(0.0)) *
            w * lit(-2.0)
          (w * wrow, eta + (yb - mu) / wrow, dt)
        case "poisson" =>
          val mu = greatest(exp(eta), lit(Eps))
          val dt = (col("_ylogy") * lit(1.0) / w - yb * log(mu) - yb + mu) * w * lit(2.0)
          (w * mu, eta + (yb - mu) / mu, dt)
        case "gamma" =>
          val mu = greatest(exp(eta), lit(Eps))
          val dt = (w * log(mu) + w * yb / mu - w - col("_ylogy")) * lit(2.0)
          (w, eta + (yb - mu) / mu, dt)
        case "negbin" =>
          val mu = greatest(exp(eta), lit(Eps))
          val dt = (col("_ylogy") - w * yb * log(mu) +
            w * (yb + lit(theta)) * log(mu + lit(theta))) * lit(2.0)
          (w * mu * lit(theta) / (mu + lit(theta)), eta + (yb - mu) / mu, dt)
        case "gaussian" =>
          (w, yb, w * (yb - eta) * (yb - eta))
      }
      src.withColumn("_w2", w2).withColumn("_z", z).withColumn("_devt", devTerm)
    }

    def momentAgg(wz: DataFrame): DataFrame = {
      val aggs = Seq(
        sum(col("_wt")).as("_wn"),
        sum(col("_devt")).as("_dev"),
        sum(col("_wt") * col("_yb")).as("_swy"),
        sum(col("_wt") * col("_ybb")).as("_swyy"),
        sum(col("_ylogy")).as("_sylogy")) ++
        MomentsKernel.normalAggs(col("_z"), xNames.map(col), col("_w2"))
      wz.groupBy(col("_g")).agg(aggs.head, aggs.tail: _*)
    }

    def solveRow(r: org.apache.spark.sql.Row): LinAlg.SolveOutcome = {
      val (xtx, xty) = MomentsKernel.readNormal(r, p)
      LinAlg.solveDetecting(xtx, xty)
    }

    var betas: DataFrame = null
    for (k <- 1 to maxIter - 1) {
      val src = if (k == 1) work else work.join(betas, "_g")
      val mom = momentAgg(withWZ(src, haveBeta = k > 1))
      betas = mom.map { r =>
        val sol = solveRow(r)
        val full = Array.fill(p)(0.0)
        sol.keepIdx.zipWithIndex.foreach { case (orig, ki) => full(orig) = sol.beta(ki) }
        (r.getAs[String]("_g"), full)
      }.toDF("_g", "_b").staged
    }
    val lastSrc = if (maxIter == 1) work else work.join(betas, "_g")
    val lastMom = momentAgg(withWZ(lastSrc, haveBeta = maxIter > 1))
    val names = displayNames
    val fam = family
    val thetaLocal = theta
    lastMom.flatMap { r =>
      val g = r.getAs[String]("_g")
      val sol = solveRow(r)
      def dd(nm: String): Double = MomentsKernel.double(r, nm)
      val n = dd("_wn"); val dev = dd("_dev")
      val swy = dd("_swy"); val syy = dd("_swyy"); val sylogy = dd("_sylogy")
      val yb = swy / n
      val nullDev = fam match {
        case "binomial" =>
          if (yb <= 0.0 || yb >= 1.0) 0.0
          else -2.0 * (swy * math.log(yb) + (n - swy) * math.log(1.0 - yb))
        case "poisson" =>
          if (yb <= 0.0) 0.0 else 2.0 * (sylogy - swy * math.log(yb))
        case "gamma" => 2.0 * (n * math.log(yb) - sylogy)
        case "negbin" =>
          if (yb <= 0.0) 0.0
          else 2.0 * (sylogy - swy * math.log(yb) +
            (swy + thetaLocal * n) * math.log(yb + thetaLocal))
        case "gaussian" => syy - swy * swy / n
      }
      val pr2 = if (nullDev > 0.0) 1.0 - dev / nullDev else 0.0
      sol.keepIdx.zipWithIndex.map { case (orig, ki) =>
        val se = math.sqrt(math.max(sol.xtxInv(ki, ki), 0.0))
        (g, names(orig), sol.beta(ki), se, n.round, dev, pr2)
      }
    }.toDF("group", "term", "estimate", "std_error", "n", "deviance", "pseudo_r2")
  }

  /** One IRLS pass: weighted moments of the working response + deviance of
    * the INCOMING β, all in a single aggregate. */
  private final case class Pass(
      mom: MomentsResult,
      dev: Double,
      sw: Double,
      swy: Double,
      sylogy: Double)

  private def irlsPass(
      work: DataFrame,
      xNames: IndexedSeq[String],
      family: String,
      beta: Array[Double],
      firstPass: Boolean,
      hasOffset: Boolean = false,
      theta: Double = 1.0
  ): Pass = {
    val etaX =
      if (beta.forall(_ == 0.0)) lit(0.0)
      else xNames.zip(beta).map { case (n, b) => col(n) * lit(b) }.reduce(_ + _)
    // μ sees the full linear predictor; the working response regresses only
    // the Xβ part (the offset is fixed)
    val eta = if (hasOffset) etaX + col("_off") else etaX
    val yb = col("_yb")
    val w = col("_wt")
    val Eps = 1e-12
    val (w2, z, devAgg) = family match {
      case "binomial" =>
        val mu = least(greatest(sigmoid(eta), lit(Eps)), lit(1.0 - Eps))
        val wrow = mu * (lit(1.0) - mu)
        val dev = sum(w * (
          when(yb > 0.0, yb * log(mu)).otherwise(0.0) +
            when(yb < 1.0, (lit(1.0) - yb) * log(lit(1.0) - mu)).otherwise(0.0)
        )) * lit(-2.0)
        (w * wrow, etaX + (yb - mu) / wrow, dev)
      case "poisson" =>
        val mu = greatest(exp(eta), lit(Eps))
        val dev = sum(col("_ylogy") - w * yb * log(mu) - w * yb + w * mu) * lit(2.0)
        (w * mu, etaX + (yb - mu) / mu, dev)
      case "gamma" =>
        val mu = greatest(exp(eta), lit(Eps))
        // 2Σw[−ln(y/μ) + (y−μ)/μ]; Σw·ln y rides in _ylogy, the rest is
        // linear in ȳ so the compressed cells are exact
        val dev = sum(w * log(mu) + w * yb / mu - w - col("_ylogy")) * lit(2.0)
        (w, etaX + (yb - mu) / mu, dev)
      case "negbin" =>
        val mu = greatest(exp(eta), lit(Eps))
        // d = 2Σw[y·ln y − y·ln μ − (y+θ)·ln(y+θ) + (y+θ)·ln(μ+θ)];
        // the y-only part rides in _ylogy, the μ part is linear in ȳ —
        // compressed cells stay exact (μ constant within a cell)
        val dev = sum(col("_ylogy") - w * yb * log(mu) +
          w * (yb + lit(theta)) * log(mu + lit(theta))) * lit(2.0)
        (w * mu * lit(theta) / (mu + lit(theta)), etaX + (yb - mu) / mu, dev)
      case "gaussian" =>
        val mu = eta
        val dev = sum(w * (yb - mu) * (yb - mu))
        (w, if (hasOffset) yb - col("_off") else yb, dev)
    }
    val extras = Seq("_dev" -> devAgg) ++ (
      if (firstPass)
        Seq("_sw" -> sum(w), "_swy" -> sum(w * yb), "_sylogy" -> sum(col("_ylogy")))
      else Nil)
    val mom = MomentsKernel.compute(
      work.withColumn("_w2", w2).withColumn("_z", z),
      "_z", xNames, intercept = false, weightName = Some("_w2"),
      extraAggs = extras)
    Pass(mom, mom.extra("_dev"),
      if (firstPass) mom.extra("_sw") else 0.0,
      if (firstPass) mom.extra("_swy") else 0.0,
      if (firstPass) mom.extra("_sylogy") else 0.0)
  }

  private def fitIrls(
      f: Formula,
      family: String,
      strategy: String,
      work: DataFrame,
      xNames0: IndexedSeq[String],
      displayNames0: IndexedSeq[String],
      exprByName: Map[String, Column],
      maxIter: Int,
      tol: Double,
      offset: Option[String] = None,
      theta: Double = 1.0
  ): GlmResult = {
    val hasOffset = offset.isDefined
    var xNames = xNames0
    var displayNames = displayNames0
    var dropped = Vector.empty[String]

    var beta = Array.fill(xNames.length)(0.0)
    var inv: DenseMatrix[Double] = null
    var devPrev = Double.NaN
    var iters = 0
    var converged = false
    var sw = 0.0; var swy = 0.0; var sylogy = 0.0; var nCells = 0L

    var i = 1
    while (i <= maxIter && !converged) {
      val pass = irlsPass(work, xNames, family, beta, firstPass = i == 1, hasOffset, theta)
      if (i == 1) {
        sw = pass.sw; swy = pass.swy; sylogy = pass.sylogy; nCells = pass.mom.nRows
        require(nCells > 0, "no rows after missing-value filtering (empty input?)")
        require(family != "gamma" || !sylogy.isNaN,
          "gamma family requires strictly positive response values")
        require(family != "negbin" || !sylogy.isNaN,
          "negbin family requires nonnegative response values")
      }
      if (i > 1 && math.abs(pass.dev - devPrev) / (math.abs(pass.dev) + 0.1) < tol) {
        // deviance stabilized: report the β that produced it (the previous
        // solve); `inv` already holds its (XᵀWX)⁻¹
        devPrev = pass.dev
        converged = true
      } else {
        devPrev = pass.dev
        val sol = LinAlg.solveDetecting(pass.mom.xtx, pass.mom.xty)
        if (sol.dropIdx.nonEmpty) {
          // collinear columns: drop them permanently and restart (W at β=0
          // is constant, so rank defects surface on the very first solve)
          dropped = dropped ++ sol.dropIdx.map(displayNames)
          xNames = sol.keepIdx.map(xNames).toIndexedSeq
          displayNames = sol.keepIdx.map(displayNames).toIndexedSeq
          beta = Array.fill(xNames.length)(0.0)
          inv = null
          devPrev = Double.NaN
          i = 0 // restart counter (will ++ to 1)
        } else {
          beta = sol.beta.toArray
          inv = sol.xtxInv
          iters = i
        }
      }
      i += 1
    }
    // final deviance at the REPORTED β (one cheap 1-row aggregate); when the
    // loop converged devPrev already measures it, since convergence compared
    // the deviance OF the reported β against its predecessor's
    val deviance =
      if (converged) devPrev
      else irlsPass(work, xNames, family, beta, firstPass = false, hasOffset, theta).dev

    val ybarAll = swy / sw
    val nullDeviance = if (hasOffset) Double.NaN else family match {
      case "binomial" =>
        if (ybarAll <= 0.0 || ybarAll >= 1.0) 0.0
        else -2.0 * (swy * math.log(ybarAll) + (sw - swy) * math.log(1.0 - ybarAll))
      case "poisson" =>
        if (ybarAll <= 0.0) 0.0 else 2.0 * (sylogy - swy * math.log(ybarAll))
      case "gamma" =>
        // at μ = ȳ the linear term vanishes: 2(Σw·ln ȳ − Σw·ln y)
        2.0 * (sw * math.log(ybarAll) - sylogy)
      case "negbin" =>
        // sylogy = Σw[y·ln y − (y+θ)·ln(y+θ)]; at μ = ȳ the deviance is
        // 2[sylogy − Σwy·ln ȳ + (Σwy + θΣw)·ln(ȳ+θ)]
        if (ybarAll <= 0.0) 0.0
        else 2.0 * (sylogy - swy * math.log(ybarAll) +
          (swy + theta * sw) * math.log(ybarAll + theta))
      case "gaussian" =>
        // Σw(y−ȳ)²: recover from the LAST pass? cheaper: dev at β=(ȳ,0,…) is
        // exactly the TSS — one extra pass only for gaussian (rare path)
        val b = Array.fill(xNames.length)(0.0)
        val icept = displayNames.indexOf("(Intercept)")
        if (icept >= 0) { b(icept) = ybarAll }
        irlsPass(work, xNames, family, b, firstPass = false).dev
    }

    val norm = new NormalDistribution(0.0, 1.0)
    val table = xNames.indices.map { j =>
      val se = math.sqrt(math.max(inv(j, j), 0.0))
      val zstat = if (se > 0) beta(j) / se else Double.NaN
      val p = if (zstat.isNaN) Double.NaN
        else 2.0 * norm.cumulativeProbability(-math.abs(zstat))
      CoefRow(displayNames(j), beta(j), se, zstat, p)
    }

    // response-scale scorer over new data: kept display-name → original
    // design expression (factor levels frozen at fit time, so the stored
    // Columns replay on any frame carrying the input columns — same closure
    // shape as Dbreg.withLinearPredictor)
    val betaFinal = beta
    val keptNames = displayNames
    val scorer: DataFrame => Column = _ => {
      val etaX = keptNames.zip(betaFinal).map { case (nm, b) =>
        exprByName(nm).cast("double") * lit(b)
      }.reduce(_ + _)
      val eta = offset.fold(etaX)(o => etaX + col(o).cast("double"))
      linkInv(family, eta)
    }

    GlmResult(family, strategy, table, inv, sw, nCells, deviance, nullDeviance,
      iters, converged, dropped, scoreFn = scorer,
      termCols = keptNames.map(exprByName),
      offsetCol = offset.map(o => col(o).cast("double")))
  }
}
