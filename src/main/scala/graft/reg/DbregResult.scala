package graft.reg

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.linalg.LinAlg

/** One row of the coefficient table (reference utils.R:10-17). */
final case class CoefRow(
    term: String,
    estimate: Double,
    stdError: Double,
    statistic: Double,
    pValue: Double
)

/** Fit result — the Spark analogue of the reference's `dbreg` object
  * (reference dbreg.R:2087-2100). Tiny, driver-resident.
  */
final case class DbregResult(
    coeftable: Seq[CoefRow],
    vcov: DenseMatrix[Double],
    vcovType: String,
    strategy: String,
    nobs: Long,        // rows the final aggregation saw (cells for compress)
    nobsOrig: Long,    // N after missing-value filter
    dfResidual: Double,
    rss: Double,
    tss: Double,
    fe: Seq[String],
    collinDropped: Seq[String],
    nClusters: Option[Long] = None,
    compressionRatio: Option[Double] = None,
    @transient predictor: Option[Predictor] = None,
    feTerms: Seq[String] = Nil, // FE dummy terms (compress), for fe= filtering
    // hdfe only: alternating-projection sweeps run, and whether the loop
    // stopped on tolerance (false = maxSweeps exhausted first — the
    // estimates are a TRUNCATED projection; fixest/reghdfe warn the same
    // way). None for every other strategy. tol = 0 is the fixed-sweep
    // contract (the q200 oracle mode), reported as converged.
    hdfeSweeps: Option[Int] = None,
    hdfeConverged: Option[Boolean] = None
) {
  /** Coefficient rows excluding FE dummies (the reference's `fe = "none"`
    * print filter for compress fits). */
  def coeftableMain: Seq[CoefRow] = coeftable.filterNot(r => feTerms.contains(r.term))

  /** Distributed prediction on new data (reference stats-methods.R:94-236).
    * interval: "none" | "confidence" | "prediction". For the demean
    * strategy intervals are downgraded to point predictions (reference
    * parity, stats-methods.R:104-111). */
  def predict(
      newdata: DataFrame,
      interval: String = "none",
      level: Double = 0.95
  ): DataFrame =
    predictor
      .getOrElse(throw new UnsupportedOperationException(
        s"predict not available for strategy $strategy"))
      .predict(newdata, interval, level)

  def terms: Seq[String] = coeftable.map(_.term)
  def coef: Map[String, Double] = coeftable.map(r => r.term -> r.estimate).toMap
  def se: Map[String, Double] = coeftable.map(r => r.term -> r.stdError).toMap

  /** R² / adjusted R² / RMSE (reference gof.R:22-24). For the demean
    * strategy these are within-R² (tss is the demeaned total SS,
    * reference dbreg.R:1214). */
  def r2: Double = 1.0 - rss / tss
  def adjR2: Double = 1.0 - (rss / dfResidual) / (tss / (nobsOrig - 1.0))
  def rmse: Double = math.sqrt(rss / nobsOrig)

  /** Goodness-of-fit map (reference `gof()` export, gof.R:22-24). */
  def gof: Map[String, Double] = Map("r2" -> r2, "adj_r2" -> adjR2, "rmse" -> rmse)

  /** Two-sided confidence intervals at `level`. */
  def confint(level: Double = 0.95): Seq[(String, Double, Double)] = {
    val crit = LinAlg.tCrit(level, dfResidual)
    coeftable.map(r => (r.term, r.estimate - crit * r.stdError, r.estimate + crit * r.stdError))
  }

  /** Coefficient table as a queryable DataFrame. */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    coeftable.toDF("term", "estimate", "std_error", "statistic", "p_value")
  }

  /** broom-style tidiers (reference R/tidiers.R): `tidy` = per-term rows,
    * `glance` = one-row model summary. */
  def tidy(spark: SparkSession): DataFrame = toDF(spark)

  def glance(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((r2, adjR2, rmse, nobs, nobsOrig, dfResidual, rss, tss, strategy, vcovType,
      nClusters.getOrElse(0L)))
      .toDF("r2", "adj_r2", "rmse", "nobs", "nobs_orig", "df_residual", "rss", "tss",
        "strategy", "vcov_type", "n_clusters")
  }

  override def toString: String = {
    val header = f"dbreg-spark [$strategy] n=$nobsOrig%,d (aggregated to $nobs%,d) vcov=$vcovType"
    val lines = coeftable.map { r =>
      f"  ${r.term}%-28s ${r.estimate}% .6e  ${r.stdError}% .4e  ${r.statistic}% 8.3f  ${r.pValue}% .4g"
    }
    val gof = f"  R²=$r2%.6f adjR²=$adjR2%.6f rmse=$rmse%.6g df=$dfResidual%.0f"
    val collin =
      if (collinDropped.nonEmpty) s"\n  dropped (collinear): ${collinDropped.mkString(", ")}" else ""
    (header +: "  term                         estimate      std.error    statistic  p.value" +: lines)
      .mkString("\n") + "\n" + gof + collin
  }
}
