package graft.reg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.formula.Formula
import graft.linalg.LinAlg
import graft.model.ModelFrame
import graft.model.ModelFrame.Y

/** L2-regularized (ridge) regression on the moments kernel — a
  * beyond-reference extension of the engine's sufficient-statistics family
  * (reference dbreg.R:703-872 computes the same [1,X,y]ᵀ[1,X,y] triangle;
  * ridge only changes the driver-side solve).
  *
  * Semantics (the standard centered, slope-penalized form):
  *   - X and y are centered, so the intercept is never penalized and is
  *     recovered as ȳ − β̂ᵀx̄.
  *   - `standardize = true` (default, glmnet's convention) applies the
  *     penalty on the standardized scale: the system solved is
  *     (XcᵀXc + λ·diag(s²)) β = Xcᵀyc with s²_j = Σ(x_j−x̄_j)²/n (population
  *     variance of column j) — algebraically identical to scaling columns
  *     to unit variance, solving with λ·I, and unscaling.
  *     `standardize = false` penalizes with λ·I on the raw scale.
  *
  * Scale shape: ONE moments aggregation (partial+final hash agg, one scan
  * of the corpus) yields XᵀX/Xᵀy; every λ after that is O(p³) driver
  * algebra on a p×p matrix. `path()` therefore evaluates a whole
  * regularization path — estimates, effective df tr(H(λ)), RSS and GCV —
  * from a single pass over the data, which is the shape you want when the
  * corpus is 100 TB and the λ grid has 50 points.
  */
object Ridge {

  final case class RidgeFit(
      lambda: Double,
      terms: IndexedSeq[String], // intercept first
      estimates: IndexedSeq[Double],
      dfEff: Double, // tr(Xc(A+λD)⁻¹Xcᵀ) + 1 for the (unpenalized) intercept
      rss: Double,
      tss: Double,
      gcv: Double, // n·rss / (n − dfEff)²
      nobs: Long
  ) {
    def r2: Double = 1.0 - rss / tss
    def coef: Map[String, Double] = terms.zip(estimates).toMap
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      terms.zip(estimates).map { case (t, e) => (lambda, t, e) }
        .toDF("lambda", "term", "estimate")
    }
  }

  /** Fit one λ. FE are not absorbed (include them as factor dummies, which
    * the penalty then shrinks like any other slope — the usual regularized
    * encoding — or demean beforehand). */
  def fit(
      formula: String,
      df: DataFrame,
      lambda: Double,
      standardize: Boolean = true
  ): RidgeFit = path(formula, df, Seq(lambda), standardize).head

  /** Fit a whole λ path from ONE moments pass; results in `lambdas` order. */
  def path(
      formula: String,
      df: DataFrame,
      lambdas: Seq[Double],
      standardize: Boolean = true
  ): Seq[RidgeFit] = {
    require(lambdas.nonEmpty, "need at least one lambda")
    lambdas.foreach(l => require(l >= 0.0, s"negative lambda: $l"))
    val f = Formula.parse(formula)
    require(f.fe.isEmpty,
      "ridge does not absorb fixed effects; include them as dummies")
    require(f.intercept, "ridge requires an intercept (centered form)")

    // design WITHOUT an explicit intercept column (centering absorbs it);
    // intercept=true on the kernel makes the column sums ride along in row 0
    val d = ModelFrame.design(df, f, intercept = false)
    val mom = MomentsKernel.compute(d.df, Y, d.xNames, intercept = true)
    require(mom.nRows > 1, s"need >1 rows, got ${mom.nRows}")
    pathFromTriangle(d.displayNames, mom.xtx, mom.xty, mom.sumYSq, mom.nRows,
      lambdas, standardize)
  }

  /** The driver-side solve from a raw intercept-augmented moment triangle
    * (row/col 0 = n and column sums, the MomentsKernel intercept layout).
    * Exposed within the engine so STREAMED sufficient statistics — the
    * additive sums a Structured Streaming aggregation maintains — fit a
    * ridge path the same way a batch scan does (see StreamingReg). */
  private[graft] def pathFromTriangle(
      displayNames: IndexedSeq[String],
      xtx: DenseMatrix[Double],
      xty: DenseVector[Double],
      sumYSq: Double,
      nRows: Long,
      lambdas: Seq[Double],
      standardize: Boolean
  ): Seq[RidgeFit] = {
    val p = displayNames.length
    val n = xtx(0, 0)
    val sumY = xty(0)
    // centered cross-products from the raw triangle
    val sx = DenseVector.tabulate(p)(i => xtx(0, i + 1))
    val a = DenseMatrix.tabulate(p, p)((i, j) =>
      xtx(i + 1, j + 1) - sx(i) * sx(j) / n)
    val b = DenseVector.tabulate(p)(i => xty(i + 1) - sx(i) * sumY / n)
    val tss = sumYSq - sumY * sumY / n
    val ybar = sumY / n

    lambdas.map { lambda =>
      val pen = DenseVector.tabulate(p)(j =>
        if (standardize) lambda * a(j, j) / n else lambda)
      val m = a.copy
      var j = 0
      while (j < p) { m(j, j) += pen(j); j += 1 }
      // λ>0 keeps the system PD unless a column is constant (variance 0 ⇒
      // penalty 0); solveDetecting drops those like any collinear column
      val s = LinAlg.solveDetecting(m, b)
      val keep = s.keepIdx
      val beta = DenseVector.zeros[Double](p)
      keep.zipWithIndex.foreach { case (k, i) => beta(k) = s.beta(i) }
      // dfEff = tr((A+λD)⁻¹A) over kept columns, +1 for the intercept
      var tr = 0.0
      for (i <- keep.indices; k <- keep.indices)
        tr += s.xtxInv(i, k) * a(keep(k), keep(i))
      val dfEff = tr + 1.0
      val rss = tss - 2.0 * (beta dot b) + (beta dot (a * beta))
      val gcv = n * rss / math.pow(n - dfEff, 2)
      val intercept = ybar - (0 until p).map(i => beta(i) * sx(i) / n).sum
      RidgeFit(
        lambda,
        "(Intercept)" +: displayNames,
        intercept +: IndexedSeq.tabulate(p)(beta(_)),
        dfEff, rss, tss, gcv, nRows)
    }
  }

  final case class CvResult(
      lambdas: IndexedSeq[Double],
      cvSse: IndexedSeq[Double], // Σ over folds of held-out SSE, `lambdas` order
      bestLambda: Double,
      fit: RidgeFit, // refit on ALL data at bestLambda
      folds: Int,
      nobs: Long) {
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      lambdas.zip(cvSse).map { case (l, s) => (l, s, l == bestLambda) }
        .toDF("lambda", "cv_sse", "chosen")
    }
  }

  /** K-fold cross-validated λ selection from ONE corpus scan.
    *
    * Folds are dealt deterministically by the md5-derived 32-bit hash of
    * `idCol` (the [[graft.sources.ScaleOps.hashSplit]] convention: stable
    * across engines, partitions and reruns — and expressible in ANSI SQL,
    * so the whole procedure has a DuckDB oracle). ONE keyed aggregation
    * computes a per-fold raw moment triangle; every (fold, λ) train solve
    * is then driver algebra on the k collected triangles: train sums =
    * total − fold (no second scan), held-out SSE evaluates on the fold's
    * OWN triangle via SSE = Σy² − 2cᵀ[Xᵀy] + cᵀ[XᵀX]c. The winning λ
    * (smallest CV SSE; first in `lambdas` order on ties) is refit on the
    * total triangle — still the same single scan. */
  def cv(
      formula: String,
      df: DataFrame,
      idCol: String,
      lambdas: Seq[Double],
      folds: Int = 5,
      standardize: Boolean = true,
      salt: String = ""
  ): CvResult = {
    import org.apache.spark.sql.functions._
    require(lambdas.nonEmpty, "need at least one lambda")
    lambdas.foreach(l => require(l >= 0.0, s"negative lambda: $l"))
    require(folds >= 2, s"need at least 2 folds, got $folds")
    val f = Formula.parse(formula)
    require(f.fe.isEmpty, "ridge does not absorb fixed effects")
    require(f.intercept, "ridge requires an intercept (centered form)")
    val d = ModelFrame.design(df, f, Seq(idCol), intercept = false)
    val p = d.xNames.length
    val fold = graft.pipeline.TextOps
      .hash32(concat(lit(salt), col(idCol).cast("string"))) % folds

    val perFold = MomentsKernel.aggregate(d.df.withColumn("_fold", fold),
      Seq(col("_fold")), col(Y), d.xNames.map(col))
      .collect().sortBy(_.getAs[Long]("_fold"))
    require(perFold.length >= 2,
      s"data hashed into ${perFold.length} non-empty fold(s); need >= 2")
    val foldSums = perFold.map(MomentsKernel.readRaw(_, p))
    val total = foldSums.reduce(_ + _)

    val cvSse = Array.fill(lambdas.length)(0.0)
    foldSums.foreach { fs =>
      val tr = total - fs
      val (m, v) = tr.withIntercept
      val fits = pathFromTriangle(d.displayNames, m, v, tr.syy, tr.n.round,
        lambdas, standardize)
      fits.zipWithIndex.foreach { case (ft, li) =>
        val c0 = ft.estimates(0) // intercept
        val b = DenseVector.tabulate(p)(i => ft.estimates(i + 1))
        val sse = fs.syy -
          2.0 * (c0 * fs.sy + (b dot fs.sxy)) +
          (c0 * c0 * fs.n + 2.0 * c0 * (b dot fs.sx) + (b dot (fs.sxx * b)))
        cvSse(li) += sse
      }
    }
    val bestI = cvSse.indices.minBy(i => (cvSse(i), i))
    val (tm, tv) = total.withIntercept
    val best = pathFromTriangle(d.displayNames, tm, tv, total.syy, total.n.round,
      Seq(lambdas(bestI)), standardize).head
    CvResult(lambdas.toIndexedSeq, cvSse.toIndexedSeq, lambdas(bestI), best,
      folds, total.n.round)
  }

  /** One ridge fit PER GROUP — per-domain shrinkage at millions of groups.
    * ONE keyed (partial+final) moment aggregation over the corpus, then the
    * penalized centered solves run EXECUTOR-SIDE (a narrow flatMap over the
    * moment rows, the fitGrouped OLS pattern), so the result is a
    * distributed DataFrame (group, term, estimate, n, df_eff).
    * λ is shared across groups; `standardize` uses each group's OWN column
    * variances (every domain shrinks on its own scale). */
  def fitGrouped(
      formula: String,
      df: DataFrame,
      groupCol: String,
      lambda: Double,
      standardize: Boolean = true,
      maxGroups: Long = 10000000L
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    require(lambda >= 0.0, s"negative lambda: $lambda")
    val f = Formula.parse(formula)
    require(f.fe.isEmpty, "grouped ridge does not absorb fixed effects")
    require(f.intercept, "grouped ridge requires an intercept (centered form)")
    val d = ModelFrame.design(df, f, Seq(groupCol), intercept = false)
    val moments = MomentsKernel.capGroups(MomentsKernel.aggregate(d.df,
      Seq(col(groupCol)), col(Y), d.xNames.map(col)), maxGroups)

    val spark = df.sparkSession
    import spark.implicits._
    val displayNames = d.displayNames
    val pN = d.xNames.length
    val lam = lambda
    val std = standardize
    moments.flatMap { r =>
      val g = String.valueOf(r.getAs[Any](groupCol))
      val m = MomentsKernel.readRaw(r, pN)
      val (xtx, xty) = m.withIntercept
      val fit = pathFromTriangle(displayNames, xtx, xty, m.syy, m.n.round,
        Seq(lam), std).head
      fit.terms.zip(fit.estimates).map { case (t, e) => (g, t, e, fit.nobs, fit.dfEff) }
    }.toDF("group", "term", "estimate", "n", "df_eff")
  }
}
