package graft.reg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.formula.Formula

/** Split-conformal prediction intervals (Vovk et al., "Algorithmic Learning
  * in a Random World"; Lei et al. 2018 JASA, "Distribution-Free Predictive
  * Inference for Regression").
  *
  * Procedure: hash-split the frame into a train and a calibration part
  * (deterministic md5 deal — reproducible across engines, partitions and
  * reruns, as [[graft.sources.ScaleOps.hashSplit]]); fit the regression on
  * train; let qhat be the k-th smallest absolute calibration residual with
  * k = ceil((1−α)(n_cal+1)). Intervals ŷ ± qhat on exchangeable new data
  * then cover the truth with probability ≥ 1−α, with NO distributional
  * assumptions on the errors — the finite-sample guarantee the reference's
  * normal-theory prediction intervals (stats-methods.R:94-236) lack under
  * misspecification.
  *
  * Scale shape: the fit is the usual one-pass moments aggregation; the
  * calibration residual is a pure projection over the calibration split
  * (one scan, no shuffle). The order statistic has two modes, mirroring the
  * quantile-binning precedent (W1/K12: exact NTILE for parity, approx at
  * scale): `exact=true` takes the m-th LARGEST residual (m = n_cal+1−k ≈
  * α·n_cal, the small tail) via a TakeOrdered heap — right for bounded
  * calibration sets; `exact=false` uses distributed Greenwald-Khanna
  * (`approxQuantile`, `approxErr` rank error) and never funnels rows
  * anywhere — the 100 TB default.
  */
final case class ConformalModel(
    fit: DbregResult,
    alpha: Double,
    qhat: Double,
    nCal: Long,
    k: Long
) {
  /** Distributed (fit, lo, hi) columns on `newdata`: ŷ ± qhat. */
  def intervals(newdata: DataFrame): DataFrame =
    fit
      .predict(newdata)
      .withColumn("lo", col("fit") - lit(qhat))
      .withColumn("hi", col("fit") + lit(qhat))
}

/** Conformalized quantile regression (Romano, Patterson & Candès 2019,
  * "Conformalized Quantile Regression"): fit LOWER and UPPER conditional
  * quantiles at α/2 and 1−α/2 ([[Qreg]]) on the train split, then
  * conformalize with the CQR score `s = max(q̂_lo(x) − y, y − q̂_hi(x))` on
  * the calibration split — intervals `[q̂_lo(x) − qhat, q̂_hi(x) + qhat]`
  * keep the ≥ 1−α finite-sample marginal guarantee while the WIDTH adapts
  * to x (heteroscedastic data gets narrow intervals where noise is small),
  * which the symmetric ±qhat of [[ConformalModel]] cannot do. qhat may be
  * NEGATIVE (the quantile fits over-cover and the calibration shrinks
  * them) — that is the algorithm, not a bug. */
final case class CqrModel(
    lo: Qreg.QregFit,
    hi: Qreg.QregFit,
    alpha: Double,
    qhat: Double,
    nCal: Long,
    k: Long
) {
  /** Distributed (fit_lo, fit_hi, lo, hi) on `newdata`: the fitted
    * quantile band, conformally widened by qhat. Pure projection. */
  def intervals(newdata: DataFrame): DataFrame =
    newdata
      .withColumn("fit_lo", lo.fitCol)
      .withColumn("fit_hi", hi.fitCol)
      .withColumn("lo", col("fit_lo") - lit(qhat))
      .withColumn("hi", col("fit_hi") + lit(qhat))
}

object Conformal {

  /** Fit + calibrate. `keyCol` drives the deterministic train/calibration
    * deal; `trainFrac` of rows train, the rest calibrate. */
  def fit(
      formula: String,
      df: DataFrame,
      keyCol: String,
      alpha: Double = 0.1,
      salt: String = "",
      trainFrac: Double = 0.5,
      strategy: String = "auto",
      exact: Boolean = true,
      approxErr: Double = 1e-4
  ): ConformalModel = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    require(trainFrac > 0.0 && trainFrac < 1.0,
      s"trainFrac must be in (0,1), got $trainFrac")
    val f = Formula.parse(formula)
    val splitCol = "__conformal_split"
    require(!df.columns.contains(splitCol), s"reserved column: $splitCol")
    val dealt = graft.sources.ScaleOps.hashSplit(df, keyCol,
      Seq("train" -> trainFrac, "cal" -> (1.0 - trainFrac)),
      salt = salt, splitCol = splitCol)
    val train = dealt.filter(col(splitCol) === "train").drop(splitCol)
    val cal = dealt.filter(col(splitCol) === "cal").drop(splitCol)

    val m = Dbreg.fit(formula, train, strategy = strategy)
    val resid = m
      .predict(cal)
      .select(abs(col(f.y).cast("double") - col("fit")).as("__r"))
      // NaN would sort ABOVE every real residual (Spark's NaN ordering)
      // and silently displace the order statistic — treat it as missing,
      // exactly as the training side's ModelFrame.prepare does
      .filter(col("__r").isNotNull && !isnan(col("__r")))
    val nCal = resid.count()
    val k = math.ceil((1.0 - alpha) * (nCal + 1.0)).toLong
    require(k >= 1L && k <= nCal,
      s"calibration set too small for alpha=$alpha: n_cal=$nCal needs " +
        s"k=ceil((1-alpha)(n+1))=$k <= n_cal")
    val qhat =
      if (exact) {
        val tail = nCal + 1L - k // m-th largest = k-th smallest
        require(tail <= Int.MaxValue,
          s"exact tail of $tail rows exceeds the TakeOrdered limit; " +
            "use exact=false (distributed approxQuantile) at this scale")
        resid
          .orderBy(col("__r").desc)
          .limit(tail.toInt)
          .agg(min(col("__r")))
          .head().getDouble(0)
      } else {
        resid.stat.approxQuantile("__r", Array(k.toDouble / nCal), approxErr).head
      }
    ConformalModel(m, alpha, qhat, nCal, k)
  }

  /** Conformalized quantile regression (see [[CqrModel]]). The quantile
    * fits run `maxIter` pinned IRLS steps (the oracle configuration);
    * `eps` is the check-loss smoothing at the data scale. The CQR score
    * can be negative, so the exact order statistic takes the
    * (n_cal+1−k)-th from the top exactly as the symmetric path — signs
    * flow through untouched.
    *
    * Cost: one OLS init shared by both τ fits, `maxIter` + 1 scans per
    * τ, the calibration count and the order statistic (pinned in
    * PlanShapeSpec). */
  def cqr(
      formula: String,
      df: DataFrame,
      keyCol: String,
      alpha: Double = 0.1,
      salt: String = "",
      trainFrac: Double = 0.5,
      maxIter: Int = 3,
      eps: Double = 1e-6,
      exact: Boolean = true,
      approxErr: Double = 1e-4
  ): CqrModel = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    require(trainFrac > 0.0 && trainFrac < 1.0,
      s"trainFrac must be in (0,1), got $trainFrac")
    val f = Formula.parse(formula)
    val splitCol = "__conformal_split"
    require(!df.columns.contains(splitCol), s"reserved column: $splitCol")
    val dealt = graft.sources.ScaleOps.hashSplit(df, keyCol,
      Seq("train" -> trainFrac, "cal" -> (1.0 - trainFrac)),
      salt = salt, splitCol = splitCol)
    val train = dealt.filter(col(splitCol) === "train").drop(splitCol)
    val cal = dealt.filter(col(splitCol) === "cal").drop(splitCol)

    // ONE shared OLS init feeds both quantile chains (β₀/σ̂₀ are
    // τ-independent — the generated cqrSql oracle shares its f0 CTE the
    // same way), saving a full train-split moments scan
    val qInit = Irls.init(formula, train, "qreg")
    val lo = Qreg.fitFromInit(qInit, tau = alpha / 2.0,
      maxIter = maxIter, tol = 0.0, eps = eps, bandwidth = None)
    val hi = Qreg.fitFromInit(qInit, tau = 1.0 - alpha / 2.0,
      maxIter = maxIter, tol = 0.0, eps = eps, bandwidth = None)
    val score = cal
      .select(greatest(
        lo.fitCol - col(f.y).cast("double"),
        col(f.y).cast("double") - hi.fitCol).as("__s"))
      // NaN sorts above every real score and would corrupt the exact
      // k-th order statistic — treat as missing (the training side's
      // ModelFrame.prepare rule)
      .filter(col("__s").isNotNull && !isnan(col("__s")))
    val nCal = score.count()
    val k = math.ceil((1.0 - alpha) * (nCal + 1.0)).toLong
    require(k >= 1L && k <= nCal,
      s"calibration set too small for alpha=$alpha: n_cal=$nCal needs " +
        s"k=ceil((1-alpha)(n+1))=$k <= n_cal")
    val qhat =
      if (exact) {
        val tail = nCal + 1L - k
        require(tail <= Int.MaxValue,
          s"exact tail of $tail rows exceeds the TakeOrdered limit; " +
            "use exact=false (distributed approxQuantile) at this scale")
        score.orderBy(col("__s").desc).limit(tail.toInt)
          .agg(min(col("__s"))).head().getDouble(0)
      } else {
        score.stat.approxQuantile("__s", Array(k.toDouble / nCal), approxErr).head
      }
    CqrModel(lo, hi, alpha, qhat, nCal, k)
  }
}
