package graft.reg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.formula.{Formula, Vcov}
import graft.linalg.LinAlg
import graft.model.ModelFrame
import graft.model.ModelFrame.Y

/** Two-stage least squares (instrumental-variables) regression — a
  * beyond-reference extension of the engine's sufficient-statistics family
  * (the reference computes the same one-pass cross-product triangle for
  * OLS, dbreg.R:703-872; 2SLS only changes the driver-side solve).
  *
  * Model: y = Xβ + u with some X columns endogenous. Z = [exogenous X
  * columns, instruments]. β̂ = (XᵀP_Z X)⁻¹ XᵀP_Z y with P_Z the projection
  * onto span(Z). Requires #instruments ≥ #endogenous (order condition).
  *
  * Scale shape: ONE moments aggregation over the joint column set
  * [X ∪ instruments, y] (partial+final hash agg, one scan — the q01 shape)
  * yields every block (XᵀX, ZᵀZ, ZᵀX, Zᵀy, Xᵀy, yᵀy) as slices of a single
  * triangle; both 2SLS stages, the iid vcov, and the per-endogenous-column
  * first-stage partial F statistics are then O(p³) driver algebra with NO
  * second scan. HC1/cluster sandwiches take exactly one extra scan, with
  * x̂ = Zγ̂ spelled as literal-coefficient column expressions (the engine's
  * literal-β residual trick, MomentsKernel.hc1Meat and cr1Meat).
  */
object Iv {

  final case class IvRow(
      term: String,
      estimate: Double,
      stdError: Double,
      statistic: Double,
      pValue: Double)

  final case class IvResult(
      coeftable: IndexedSeq[IvRow],
      vcovType: String,
      nobs: Long,
      dfRes: Double,
      rss: Double,
      tss: Double,
      /** endogenous column → first-stage partial F of the excluded
        * instruments (weak-instrument diagnostic). */
      firstStageF: Map[String, Double],
      dropped: Seq[String]) {
    def coef: Map[String, Double] = coeftable.map(r => r.term -> r.estimate).toMap
    def se: Map[String, Double] = coeftable.map(r => r.term -> r.stdError).toMap
    def r2: Double = 1.0 - rss / tss
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      coeftable.map(r => (r.term, r.estimate, r.stdError, r.statistic, r.pValue))
        .toDF("term", "estimate", "std_error", "statistic", "p_value")
    }
  }

  /** Fit by 2SLS.
    *
    * @param formula     `y ~ x1 + x2` — the STRUCTURAL equation (factors and
    *                    interactions expand as in [[Dbreg]]; no `| fe` part)
    * @param endog       RHS columns treated as endogenous (must appear as
    *                    plain terms in the formula)
    * @param instruments excluded instrument columns (numeric)
    * @param vcov        "iid" | "hc1" | "~cluster_col"
    */
  def fit(
      formula: String,
      df: DataFrame,
      endog: Seq[String],
      instruments: Seq[String],
      vcov: String = "iid"
  ): IvResult = {
    val v = Vcov.parse(vcov)
    val f = Formula.parse(formula)
    require(f.fe.isEmpty, "IV does not absorb fixed effects; include them as dummies")
    require(endog.nonEmpty, "no endogenous columns given (use Dbreg for OLS)")
    require(instruments.nonEmpty, "no instruments given")
    require(instruments.size >= endog.size,
      s"order condition fails: ${instruments.size} instruments < ${endog.size} endogenous")
    require(endog.intersect(instruments).isEmpty,
      "a column cannot be both endogenous and an instrument")

    val clusterCol = v match { case Vcov.Cluster(c) => Seq(c); case _ => Nil }
    val d = ModelFrame.design(df, f, instruments ++ clusterCol)
    val displayNames = d.displayNames
    endog.foreach(e => require(displayNames.contains(e),
      s"endogenous column '$e' is not a term of the expanded design ($displayNames)"))

    val xNames = d.xNames
    val p = xNames.length
    val m = instruments.length
    val zNames = (0 until m).map(i => s"__iv_z$i")
    val joint = d.df.select(
      (col(Y) +: xNames.map(col)) ++
        instruments.zipWithIndex.map { case (z, i) => col(z).cast("double").as(zNames(i)) } ++
        clusterCol.map(col): _*)

    // Conditioning: raw cross-products of price-scale columns cancel
    // catastrophically in the projection solve (n·Szz − Sz·Sz loses ~9
    // significant digits at 60k rows, and more as n grows — the raw-sum
    // route would get WORSE at 100× data). When the model has an
    // intercept, demean every design/instrument/y column first (one tiny
    // extra agg) and run the same moments pass on the centered columns:
    // slopes and their vcov rows are an exact reparameterization
    // (invariant), and the intercept row is un-shifted driver-side after
    // the solve. Conditioning is then flat in n.
    val interceptSlot = if (f.intercept) Some(0) else None
    val demeanable: Seq[String] =
      (Y +: xNames.zipWithIndex.collect {
        case (nm, i) if !interceptSlot.contains(i) => nm
      }) ++ zNames
    val means: Map[String, Double] =
      if (!f.intercept) Map.empty
      else {
        val r = joint
          .agg(avg(col(demeanable.head)).as(demeanable.head),
            demeanable.tail.map(c => avg(col(c)).as(c)): _*)
          .collect()(0)
        demeanable.map(c => c -> r.getAs[Double](c)).toMap
      }
    val jointC =
      if (!f.intercept) joint
      else joint.select(joint.columns.toIndexedSeq.map { c =>
        if (means.contains(c)) (col(c) - lit(means(c))).as(c) else col(c)
      }: _*)

    // ONE scan: the full (p+m)-wide triangle + y cross-moments
    val mom = MomentsKernel.compute(jointC, Y, xNames ++ zNames, intercept = false)
    require(mom.nRows > p, s"need more rows than parameters (n=${mom.nRows}, p=$p)")

    val endogIdx = endog.map(displayNames.indexOf).toIndexedSeq
    val exogIdx = (0 until p).filterNot(endogIdx.contains)
    val zIdx = exogIdx ++ (p until p + m) // Z = exogenous X ++ instruments
    val k = zIdx.length
    require(k >= p, s"order condition fails after expansion: $k < $p")

    def slice(rows: Seq[Int], cols: Seq[Int]): DenseMatrix[Double] =
      DenseMatrix.tabulate(rows.length, cols.length)((i, j) => mom.xtx(rows(i), cols(j)))
    def sliceV(rows: Seq[Int]): DenseVector[Double] =
      DenseVector.tabulate(rows.length)(i => mom.xty(rows(i)))

    val xIdxAll = (0 until p).toIndexedSeq
    val g = slice(zIdx, zIdx) // ZᵀZ
    val gInvZtX = g \ slice(zIdx, xIdxAll) // γ̂: k×p first-stage coefficients
    val gInvZty = g \ sliceV(zIdx)

    // X̂ᵀX̂ = (ZᵀX)ᵀ(ZᵀZ)⁻¹(ZᵀX) and X̂ᵀy, then the second-stage solve with
    // collinearity detection (drops propagate through W's rows/cols)
    val w0 = slice(zIdx, xIdxAll).t * gInvZtX
    val c0 = slice(zIdx, xIdxAll).t * gInvZty
    val sol = LinAlg.solveDetecting(w0, c0)
    val keep = sol.keepIdx
    val dropped = sol.dropIdx.map(displayNames)
    val beta = sol.beta
    val keptNames = keep.map(displayNames).toIndexedSeq

    // residual variance uses the REAL X (not X̂): rss = yᵀy − 2βᵀXᵀy + βᵀXᵀXβ
    val xtxK = slice(keep.map(xIdxAll), keep.map(xIdxAll))
    val xtyK = sliceV(keep.map(xIdxAll))
    val rss = mom.sumYSq - 2.0 * (beta dot xtyK) + (beta dot (xtxK * beta))
    val tss =
      if (f.intercept) mom.sumYSq - mom.sumY * mom.sumY / mom.n else mom.sumYSq
    val n = mom.n
    val pk = keep.length
    val dfRes = n - pk

    val vc: DenseMatrix[Double] = v match {
      case Vcov.Iid => sol.xtxInv * (rss / dfRes)
      case _ =>
        // x̂ⱼ = Σ_k γ̂(k,j)·z_k with literal coefficients; u = y − Xβ at the
        // reported (kept) β — ONE extra scan for the meat
        val zCols: IndexedSeq[Column] = zIdx.map {
          case i if i < p => col(xNames(i))
          case i => col(zNames(i - p))
        }
        val xhat: IndexedSeq[Column] = keep.map { j =>
          (0 until k).map(r => zCols(r) * lit(gInvZtX(r, j))).reduce(_ + _)
        }.toIndexedSeq
        val u = col(Y) -
          keep.zipWithIndex.map { case (j, i) => col(xNames(j)) * lit(beta(i)) }
            .reduce(_ + _)
        v match {
          case Vcov.Hc1 =>
            LinAlg.vcovHc1(sol.xtxInv, MomentsKernel.hc1Meat(jointC, u * u, xhat), n, dfRes)
          case Vcov.Cluster(c) =>
            val (g, meat) = MomentsKernel.cr1Meat(jointC, col(c), u, xhat)
            LinAlg.vcovCr1(sol.xtxInv, meat, n, g.toDouble, pk)
          case Vcov.Iid => throw new IllegalStateException("unreachable")
        }
    }

    // Un-shift: the solve ran in centered coordinates (y−ȳ on the demeaned
    // design). Slopes and their vcov block are invariant; the intercept
    // maps back via b0 = b0_c + ȳ − Σ x̄_j·β_j and the congruence
    // vcov_o = A⁻¹·vcov_c·A⁻ᵀ with A⁻¹ = [[1, −x̄ᵀ],[0, I]] — an exact
    // linear reparameterization, valid for iid and sandwich vcovs alike.
    val (betaO, vcO) = interceptSlot match {
      case Some(s) if keep.contains(s) =>
        val i0 = keep.indexOf(s)
        val shifts = DenseVector.tabulate(pk)(j =>
          if (j == i0) 0.0 else means(xNames(keep(j))))
        val bO = beta.copy
        bO(i0) = beta(i0) + means(Y) - (shifts dot beta)
        val aInv = DenseMatrix.eye[Double](pk)
        for (j <- 0 until pk if j != i0) aInv(i0, j) = -shifts(j)
        (bO, aInv * vc * aInv.t)
      case _ => (beta, vc)
    }

    // first-stage partial F per endogenous column, from the SAME triangle:
    // full = e on Z; restricted = e on exogenous X only
    val fStats = endogIdx.map { e =>
      val ete = mom.xtx(e, e)
      val zte = DenseVector.tabulate(k)(i => mom.xtx(zIdx(i), e))
      val rss1 = ete - (zte dot (g \ zte))
      val rss0 =
        if (exogIdx.isEmpty) ete
        else {
          val g0 = slice(exogIdx, exogIdx)
          val z0te = DenseVector.tabulate(exogIdx.length)(i => mom.xtx(exogIdx(i), e))
          ete - (z0te dot (g0 \ z0te))
        }
      val fv =
        if (rss1 <= 0.0) Double.PositiveInfinity
        else ((rss0 - rss1) / m) / (rss1 / (n - k))
      displayNames(e) -> fv
    }.toMap

    val table = keptNames.indices.map { i =>
      val seI = math.sqrt(math.max(vcO(i, i), 0.0))
      val t = betaO(i) / seI
      IvRow(keptNames(i), betaO(i), seI, t, LinAlg.pValue(t, dfRes))
    }
    IvResult(table, v match {
      case Vcov.Iid => "iid"
      case Vcov.Hc1 => "hc1"
      case Vcov.Cluster(c) => s"cluster:$c"
    }, mom.nRows, dfRes, rss, tss, fStats, dropped)
  }

  /** `sql_only` analogue for the just-identified simple model
    * `y ~ x` with x endogenous and one instrument z (intercept implicit):
    * the whole 2SLS fit — Wald solve, iid SEs from σ²(XᵀP_Z X)⁻¹ — as one
    * runnable ANSI-SQL statement. The emitted text IS the oracle for q115
    * (the q62-q65 parity loop).
    *
    * Mirrors [[fit]]'s centering: a means CTE feeds a CENTERED moments
    * aggregate, so every downstream term is O(variance)-scaled — the
    * raw-sum form's `n·szz − sz·sz` style differences cancel ~9
    * significant digits at 60k price-scale rows (and more as n grows),
    * which is what pushed the engine and this oracle apart at float32
    * precision. In centered coordinates the just-identified 2SLS solve is
    * the textbook ratio b1 = Czy/Cxz with b0 = ȳ − b1·x̄. */
  def sqlOnly(
      table: String,
      xCol: String,
      zCol: String,
      ySql: String,
      extraWhere: Seq[String] = Nil
  ): String = {
    val where = (Seq(s"$xCol IS NOT NULL", s"$zCol IS NOT NULL") ++ extraWhere)
      .mkString(" AND ")
    s"""WITH r AS (
       | SELECT CAST($xCol AS DOUBLE) AS x, CAST($zCol AS DOUBLE) AS z,
       |   $ySql AS y FROM $table WHERE $where),
       |m AS (
       | SELECT count(*)::DOUBLE AS n, avg(x) AS mx, avg(z) AS mz, avg(y) AS my
       | FROM r),
       |s AS (
       | SELECT n, mx, my,
       |   sum((x-mx)*(x-mx)) AS cxx, sum((z-mz)*(z-mz)) AS czz,
       |   sum((y-my)*(y-my)) AS cyy, sum((x-mx)*(z-mz)) AS cxz,
       |   sum((x-mx)*(y-my)) AS cxy, sum((z-mz)*(y-my)) AS czy
       | FROM r CROSS JOIN m GROUP BY n, mx, my),
       |b AS (SELECT *, czy / cxz AS b1 FROM s),
       |f AS (
       | SELECT *, my - b1*mx AS b0,
       |   (cyy - 2.0*b1*cxy + b1*b1*cxx) / (n - 2.0) AS sig2
       | FROM b)
       |SELECT term, estimate::REAL AS estimate, std_error::REAL AS std_error
       |FROM (
       | SELECT '(Intercept)' AS term, b0 AS estimate,
       |   sqrt(sig2*(1.0/n + mx*mx*czz/(cxz*cxz))) AS std_error FROM f
       | UNION ALL
       | SELECT '$xCol', b1, sqrt(sig2*czz/(cxz*cxz)) FROM f) u
       |ORDER BY term""".stripMargin
  }
}
