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
) extends CoefTable {

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
  * A-B-test shape). That identity holds only while the per-row and
  * per-cell formulas agree, so each family is defined once (`Family`) and
  * [[fit]] and [[fitGrouped]], rows and cells, all read that definition.
  *
  * Families: `binomial` (logit link), `poisson`, `gamma` and `negbin` (log
  * link), `gaussian` (identity; equivalent to OLS, included for
  * uniformity). Fixed effects
  * are NOT supported (no `| fe` term): absorb small-cardinality factors as
  * RHS dummies instead — the incidental-parameters problem makes demean
  * tricks invalid for nonlinear models, so an honest refusal beats a wrong
  * answer (mirrors the reference's multiway-cluster refusal,
  * dbreg.R:330-339).
  *
  * Cost: the `auto` probe (one scan), then `maxIter` passes with `tol = 0`
  * plus one for the deviance at the reported β (the cell build rides the
  * first pass under compress), plus one meat scan for a sandwich vcov
  * (pinned in PlanShapeSpec).
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

  /** One family, defined once for [[fit]] and [[fitGrouped]]. Both iterate
    * over units — rows (irls) or distinct-x cells (compress) — carrying the
    * prior weight `_wt`, the weighted mean response `_yb` and the summed
    * cell stat `_ylogy`. Given μ, every deviance term is linear in ȳ except
    * the cell stat, which carries the family's one non-linear part per
    * unit; so the per-row and per-cell formulas are the same formulas and
    * compressed iterates and deviances are exact (Wong et al. 2021). */
  private final case class Family(name: String, theta: Double) {
    private def th: Column = lit(theta)

    /** The cell stat of a row with response y and prior weight w: w·y·ln y
      * (poisson), w·ln y (gamma), w·[y·ln y − (y+θ)·ln(y+θ)] (negbin),
      * w·y² (gaussian), 0 (binomial). A response outside gamma's or
      * negbin's support makes it NaN, which survives every sum, so the
      * first pass detects it without a separate validation scan (the
      * explicit negbin branch matters: Spark's ln yields NULL below zero
      * and sum would silently skip it). */
    def cellStat(y: Column, w: Column): Column = name match {
      case "poisson" => when(y > 0.0, w * y * log(y)).otherwise(0.0)
      case "gamma" => when(y > 0.0, w * log(y)).otherwise(lit(Double.NaN))
      case "negbin" =>
        when(y < 0.0, lit(Double.NaN)).otherwise(
          when(y > 0.0, w * y * log(y)).otherwise(lit(0.0)) - w * (y + th) * log(y + th))
      case "gaussian" => w * y * y
      case _ => lit(0.0)
    }

    /** Working weight, working response and deviance term of one unit at
      * the linear predictor `etaX` plus `offset` (μ sees the offset; the
      * working response regresses only the Xβ part, the offset is fixed). */
    def step(etaX: Column, offset: Option[Column], yb: Column, w: Column, ylogy: Column)
        : (Column, Column, Column) = {
      val Eps = 1e-12
      val eta = offset.fold(etaX)(etaX + _)
      name match {
        case "binomial" =>
          val mu = least(greatest(sigmoid(eta), lit(Eps)), lit(1.0 - Eps))
          val v = mu * (lit(1.0) - mu)
          val dev = w * (when(yb > 0.0, yb * log(mu)).otherwise(0.0) +
            when(yb < 1.0, (lit(1.0) - yb) * log(lit(1.0) - mu)).otherwise(0.0)) * lit(-2.0)
          (w * v, etaX + (yb - mu) / v, dev)
        case "gaussian" =>
          // w·(ȳ−μ)² plus the within-cell Σw·y² − w·ȳ², exactly 0 on a row
          (w, offset.fold(yb)(yb - _),
            w * (yb - eta) * (yb - eta) + (ylogy - w * yb * yb))
        case _ =>
          val mu = greatest(exp(eta), lit(Eps))
          val (w2, dev) = name match {
            case "poisson" => (w * mu, ylogy - w * yb * log(mu) - w * yb + w * mu)
            // 2Σw[−ln(y/μ) + (y−μ)/μ]
            case "gamma" => (w, w * log(mu) + w * yb / mu - w - ylogy)
            // 2Σw[y·ln y − y·ln μ − (y+θ)·ln(y+θ) + (y+θ)·ln(μ+θ)]
            case "negbin" => (w * mu * th / (mu + th),
              ylogy - w * yb * log(mu) + w * (yb + th) * log(mu + th))
          }
          (w2, etaX + (yb - mu) / mu, dev * lit(2.0))
      }
    }

    /** Deviance of the null model from the totals Σw, Σw·y and Σ cell stat:
      * μ = ȳ, except that the gaussian null model of a design without an
      * intercept is μ = 0. */
    def nullDeviance(sw: Double, swy: Double, sylogy: Double, intercept: Boolean): Double = {
      val yb = swy / sw
      name match {
        case "binomial" =>
          if (yb <= 0.0 || yb >= 1.0) 0.0
          else -2.0 * (swy * math.log(yb) + (sw - swy) * math.log(1.0 - yb))
        case "poisson" => if (yb <= 0.0) 0.0 else 2.0 * (sylogy - swy * math.log(yb))
        // at μ = ȳ the linear term vanishes: 2(Σw·ln ȳ − Σw·ln y)
        case "gamma" => 2.0 * (sw * math.log(yb) - sylogy)
        case "negbin" =>
          if (yb <= 0.0) 0.0
          else 2.0 * (sylogy - swy * math.log(yb) + (swy + theta * sw) * math.log(yb + theta))
        case "gaussian" => if (intercept) sylogy - swy * yb else sylogy
      }
    }
  }

  /** The family, after the argument checks [[fit]] and [[fitGrouped]] share. */
  private def family(name: String, theta: Double, strategy: String, maxIter: Int): Family = {
    require(Families(name), s"unknown family: $name")
    require(theta > 0.0, s"negbin dispersion theta must be positive, got $theta")
    require(Set("auto", "irls", "compress")(strategy), s"unknown strategy: $strategy")
    require(maxIter >= 1, "maxIter must be >= 1")
    Family(name, theta)
  }

  /** A unit frame's columns: the design columns, `_wt`, `_yb` and `_ylogy`. */
  private def unitCols(xNames: Seq[String], y: Column, wt: Column, fam: Family): Seq[Column] =
    xNames.map(col) ++ Seq(wt.as("_wt"), y.as("_yb"), fam.cellStat(y, wt).as("_ylogy"))

  /** `auto` probes the distinct `keys` tuples (approx, one scan) and picks
    * compress when they number at most `ratio` × rows. */
  private def chooseStrategy(strategy: String, units: DataFrame, keys: Seq[Column],
      ratio: Double): String =
    if (strategy != "auto") strategy
    else {
      val probe = units
        .agg(count(lit(1)).as("_n"), approx_count_distinct(struct(keys: _*)).as("_cells"))
        .collect()(0)
      if (probe.getAs[Long]("_cells") <= ratio * probe.getAs[Long]("_n")) "compress"
      else "irls"
    }

  /** The compress strategy's cell table: one unit per distinct `keys` tuple. */
  private def cells(units: DataFrame, keys: Seq[Column]): DataFrame =
    units.groupBy(keys: _*).agg(
      sum("_wt").as("_wt"),
      (sum(col("_wt") * col("_yb")) / sum("_wt")).as("_yb"),
      sum("_ylogy").as("_ylogy"))

  /** Wald z row: normal reference distribution, the GLM convention. */
  private def zRow(term: String, est: Double, se: Double): CoefRow = {
    val z = if (se > 0) est / se else Double.NaN
    val pv = if (z.isNaN) Double.NaN
      else 2.0 * new NormalDistribution(0.0, 1.0).cumulativeProbability(-math.abs(z))
    CoefRow(term, est, se, z, pv)
  }

  /** Fit a GLM.
    *
    * @param formula  `y ~ x1 + x2*x3` (no `| fe` part; factors expand to
    *                 dummies exactly as in [[Dbreg]])
    * @param family   binomial | poisson | gaussian | gamma | negbin
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
    val fam = this.family(family, theta, strategy, maxIter)
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

    val wt = weights.map(col(_).cast("double")).getOrElse(lit(1.0))
    val off = offset.map(col(_).cast("double")).getOrElse(lit(0.0))
    val units = d.df.select(
      unitCols(xNames, col(ModelFrame.Y), wt, fam) :+ off.as("_off"): _*)
    val keys = xNames.map(col) :+ col("_off")
    val chosen = chooseStrategy(strategy, units, keys, compressRatio)
    val work =
      if (chosen == "compress")
        cells(units, keys).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else units

    val res0 =
      try fitIrls(fam, chosen, work, d, maxIter, tol, offset)
      finally if (chosen == "compress") { work.unpersist(); () }
    v match {
      case Vcov.Iid => res0
      case _ => sandwich(res0, v, base, f, fam, wt)
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
      f: Formula,
      fam: Family,
      wt: Column
  ): GlmResult = {
    val p = res.coeftable.length
    val mu = res.scoreFn(base)
    // ∂ℓ/∂η = y − μ for the canonical links; the NON-canonical log-link
    // negbin score carries the extra factor (dμ/dη)/V(μ) = θ/(θ+μ)
    val scoreFac = fam.name match {
      case "negbin" => lit(fam.theta) / (mu + lit(fam.theta))
      case _ => lit(1.0)
    }
    val r = (col(f.y).cast("double") - mu) * scoreFac
    // frequency-weight semantics: w replicated rows contribute w·(rx)(rx)ᵀ
    // to the per-ROW meat but a single combined w·r·x to their CLUSTER's
    // score — so HC1 scales by w, cluster sums scale by w
    val u = wt * r
    val xs = res.termCols.map(_.cast("double"))
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
    val table = res.coeftable.zipWithIndex.map { case (r, j) =>
      zRow(r.term, r.estimate, math.sqrt(math.max(vc(j, j), 0.0)))
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
    * while G×p stays small — the corpus itself is never shuffled. Every
    * per-unit formula is the family definition [[fit]] reads.
    *
    * `strategy="compress"` collapses the corpus to distinct
    * (group × regressor-tuple) cells in ONE pass and iterates over the
    * cell table (identical iterates — see [[fit]]); `auto` probes the cell
    * count. At 100 TB with low-cardinality designs, G·cells rows iterate
    * after a single corpus scan.
    *
    * Returns a distributed DataFrame (group, term, estimate, std_error,
    * n, deviance, pseudo_r2) — Wald z SEs from the final step's XᵀWX;
    * `deviance` is measured at the penultimate β (the same one-lag as
    * [[fit]] with tol=0; for stabilized groups the two are equal to solver
    * precision).
    *
    * Cost: 1 staged pass (plus the probe for `auto`) + `maxIter` keyed
    * passes, the first `maxIter − 1` staged (pinned in PlanShapeSpec).
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
    val fam = this.family(family, theta, strategy, maxIter)
    val f = Formula.parse(formula)
    require(f.fe.isEmpty, "grouped GLM does not support fixed effects (| fe)")
    val d = ModelFrame.design(df, f, Seq(groupCol))
    val xNames = d.xNames
    val displayNames = d.displayNames
    require(xNames.nonEmpty, "empty design")
    val p = xNames.length

    // gamma: a y ≤ 0 row poisons its group's cell stat with NaN, so that
    // group reports NaN deviance/null-deviance/pseudo-R² (no extra
    // validation scan; other groups are unaffected)
    val units = d.df.select(col(groupCol).cast("string").as("_g") +:
      unitCols(xNames, col(ModelFrame.Y), lit(1.0), fam): _*)
    val keys = col("_g") +: xNames.map(col)
    val chosen = chooseStrategy(strategy, units, keys, compressRatio)
    // one materialization barrier: every iteration rescans this frame, and
    // for compress the cell build must not rerun per step. Context-cleaner
    // releases the blocks with the result (same pattern as Dedup).
    val work = (if (chosen == "compress") cells(units, keys) else units).staged

    val spark = df.sparkSession
    import spark.implicits._

    // step k's weighted moments of the working response plus each group's
    // deviance and null-model totals; step 1 starts from β = 0
    var betas: DataFrame = null
    def momentAgg(k: Int): DataFrame = {
      val etaX =
        if (k == 1) lit(0.0)
        else (0 until p).map(i => col(xNames(i)) * element_at(col("_b"), i + 1))
          .reduce(_ + _)
      val (w2, z, devTerm) = fam.step(etaX, None, col("_yb"), col("_wt"), col("_ylogy"))
      val aggs = Seq(
        sum(col("_wt")).as("_wn"),
        sum(col("_devt")).as("_dev"),
        sum(col("_wt") * col("_yb")).as("_swy"),
        sum(col("_ylogy")).as("_sylogy")) ++
        MomentsKernel.normalAggs(col("_z"), xNames.map(col), col("_w2"))
      (if (k == 1) work else work.join(betas, "_g"))
        .withColumn("_w2", w2).withColumn("_z", z).withColumn("_devt", devTerm)
        .groupBy(col("_g")).agg(aggs.head, aggs.tail: _*)
    }

    for (k <- 1 until maxIter)
      betas = momentAgg(k).map(r => (r.getAs[String]("_g"), Irls.solveGroup(r, p)._2))
        .toDF("_g", "_b").staged
    momentAgg(maxIter).flatMap { r =>
      val g = r.getAs[String]("_g")
      val (sol, _) = Irls.solveGroup(r, p)
      def dd(nm: String): Double = MomentsKernel.double(r, nm)
      val n = dd("_wn"); val dev = dd("_dev")
      val nullDev = fam.nullDeviance(n, dd("_swy"), dd("_sylogy"),
        sol.keepIdx.exists(displayNames(_) == "(Intercept)"))
      val pr2 = if (nullDev > 0.0) 1.0 - dev / nullDev else 0.0
      sol.keepIdx.zipWithIndex.map { case (orig, ki) =>
        val se = math.sqrt(math.max(sol.xtxInv(ki, ki), 0.0))
        (g, displayNames(orig), sol.beta(ki), se, n.round, dev, pr2)
      }
    }.toDF("group", "term", "estimate", "std_error", "n", "deviance", "pseudo_r2")
  }

  /** One IRLS pass: weighted moments of the working response, deviance of
    * the INCOMING β and the null-model totals Σw, Σw·y and Σ cell stat, all
    * in a single aggregate. */
  private def irlsPass(
      work: DataFrame,
      xNames: IndexedSeq[String],
      fam: Family,
      beta: Array[Double],
      hasOffset: Boolean
  ): MomentsResult = {
    val etaX =
      if (beta.forall(_ == 0.0)) lit(0.0)
      else xNames.zip(beta).map { case (n, b) => col(n) * lit(b) }.reduce(_ + _)
    val w = col("_wt")
    val yb = col("_yb")
    val (w2, z, devTerm) =
      fam.step(etaX, if (hasOffset) Some(col("_off")) else None, yb, w, col("_ylogy"))
    val extras = Seq("_dev" -> sum(devTerm), "_sw" -> sum(w), "_swy" -> sum(w * yb),
      "_sylogy" -> sum(col("_ylogy")))
    MomentsKernel.compute(
      work.withColumn("_w2", w2).withColumn("_z", z),
      "_z", xNames, intercept = false, weightName = Some("_w2"),
      extraAggs = extras)
  }

  private def fitIrls(
      fam: Family,
      strategy: String,
      work: DataFrame,
      d: ModelFrame.Design,
      maxIter: Int,
      tol: Double,
      offset: Option[String]
  ): GlmResult = {
    val hasOffset = offset.isDefined
    var xNames = d.xNames
    var displayNames = d.displayNames
    var dropped = Vector.empty[String]

    var beta = Array.fill(xNames.length)(0.0)
    var inv: DenseMatrix[Double] = null
    var devPrev = Double.NaN
    var iters = 0
    var converged = false
    var sw = 0.0; var swy = 0.0; var sylogy = 0.0; var nCells = 0L

    var i = 1
    while (i <= maxIter && !converged) {
      val pass = irlsPass(work, xNames, fam, beta, hasOffset)
      val dev = pass.extra("_dev")
      if (i == 1) {
        sw = pass.extra("_sw"); swy = pass.extra("_swy"); sylogy = pass.extra("_sylogy")
        nCells = pass.nRows
        require(nCells > 0, "no rows after missing-value filtering (empty input?)")
        require(fam.name != "gamma" || !sylogy.isNaN,
          "gamma family requires strictly positive response values")
        require(fam.name != "negbin" || !sylogy.isNaN,
          "negbin family requires nonnegative response values")
      }
      if (i > 1 && math.abs(dev - devPrev) / (math.abs(dev) + 0.1) < tol) {
        // deviance stabilized: report the β that produced it (the previous
        // solve); `inv` already holds its (XᵀWX)⁻¹
        devPrev = dev
        converged = true
      } else {
        devPrev = dev
        val sol = LinAlg.solveDetecting(pass.xtx, pass.xty)
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
      else irlsPass(work, xNames, fam, beta, hasOffset).extra("_dev")
    val nullDeviance =
      if (hasOffset) Double.NaN
      else fam.nullDeviance(sw, swy, sylogy, displayNames.contains("(Intercept)"))

    val table = xNames.indices.map { j =>
      zRow(displayNames(j), beta(j), math.sqrt(math.max(inv(j, j), 0.0)))
    }

    // response-scale scorer over new data: kept display-name → original
    // design expression (factor levels frozen at fit time, so the stored
    // Columns replay on any frame carrying the input columns — same closure
    // shape as Dbreg.withLinearPredictor)
    val exprByName = d.displayNames.zip(d.cols.map(_.col)).toMap
    val betaFinal = beta
    val keptNames = displayNames
    val scorer: DataFrame => Column = _ => {
      val etaX = keptNames.zip(betaFinal).map { case (nm, b) =>
        exprByName(nm).cast("double") * lit(b)
      }.reduce(_ + _)
      val eta = offset.fold(etaX)(o => etaX + col(o).cast("double"))
      linkInv(fam.name, eta)
    }

    GlmResult(fam.name, strategy, table, inv, sw, nCells, deviance, nullDeviance,
      iters, converged, dropped, scoreFn = scorer,
      termCols = keptNames.map(exprByName),
      offsetCol = offset.map(o => col(o).cast("double")))
  }
}
