package graft.linalg

import breeze.linalg.{DenseMatrix, DenseVector, cholesky, qrp}
import org.apache.commons.math3.distribution.TDistribution

/** Driver-side dense kernels for the regression engine.
  *
  * These operate on the tiny results of Spark aggregations (a p×p moment
  * matrix with p ≲ a few hundred), mirroring the reference's R-local math
  * (reference utils.R:10-80, dbreg.R:770-809). Breeze + commons-math3 both
  * ship in Spark's jar directory.
  */
object LinAlg {

  final case class CollinResult(
      xtx: DenseMatrix[Double],
      xty: DenseVector[Double],
      keepIdx: IndexedSeq[Int],
      dropIdx: IndexedSeq[Int]
  )

  /** Rank-reveal via pivoted QR of XᵀX (LAPACK dgeqp3, same family as R's
    * qr()); columns pivoted past the numerical rank are dropped.
    * cf. reference utils.R:25-62 (tol = 1e-10).
    */
  def detectCollinearity(
      xtx: DenseMatrix[Double],
      xty: DenseVector[Double],
      tol: Double = 1e-10
  ): CollinResult = {
    val p = xtx.cols
    val decomp = qrp(xtx)
    val r = decomp.r
    val pivots = decomp.pivotIndices // 0-based column order
    val r00 = math.abs(r(0, 0))
    val rank =
      if (r00 == 0.0) 0
      else (0 until p).count(i => math.abs(r(i, i)) > tol * r00)
    if (rank >= p) {
      CollinResult(xtx, xty, 0 until p, IndexedSeq.empty)
    } else {
      val keep = pivots.take(rank).toIndexedSeq.sorted
      val drop = pivots.drop(rank).toIndexedSeq.sorted
      val xtxK = DenseMatrix.tabulate(rank, rank)((i, j) => xtx(keep(i), keep(j)))
      val xtyK = DenseVector.tabulate(rank)(i => xty(keep(i)))
      CollinResult(xtxK, xtyK, keep, drop)
    }
  }

  final case class SolveResult(beta: DenseVector[Double], xtxInv: DenseMatrix[Double])

  /** Combined solve + collinearity handling with a fast path:
    * LAPACK dpotrf/dpotrs/dpotri (one O(p³/3) sweep) when XᵀX is positive
    * definite — the common full-rank case — and pivoted-QR rank detection
    * ONLY on Cholesky failure. At p ≈ 2000 this is ~6× faster than always
    * running the pivoted QR.
    */
  final case class SolveOutcome(
      beta: DenseVector[Double],
      xtxInv: DenseMatrix[Double],
      keepIdx: IndexedSeq[Int],
      dropIdx: IndexedSeq[Int]
  )

  def solveDetecting(
      xtx: DenseMatrix[Double],
      xty: DenseVector[Double],
      tol: Double = 1e-10
  ): SolveOutcome = {
    // scale-equilibrate: D⁻½ XᵀX D⁻½ with D = diag(XᵀX). Columns of wildly
    // different magnitude otherwise make both the rank tolerance and the
    // Cholesky pivots meaningless (a 1e10-scale column hides a collinear
    // 1e0-scale one). Indices are unaffected; β and V unscale afterwards.
    val p = xtx.cols
    val d = DenseVector.tabulate(p)(i => {
      val v = math.sqrt(math.abs(xtx(i, i))); if (v > 0) v else 1.0
    })
    val xtxS = DenseMatrix.tabulate(p, p)((i, j) => xtx(i, j) / (d(i) * d(j)))
    val xtyS = DenseVector.tabulate(p)(i => xty(i) / d(i))

    val scaled = choleskySolveInv(xtxS, xtyS) match {
      case Some((beta, inv)) =>
        SolveOutcome(beta, inv, 0 until p, IndexedSeq.empty)
      case None =>
        val collin = detectCollinearity(xtxS, xtyS, tol)
        choleskySolveInv(collin.xtx, collin.xty) match {
          case Some((beta, inv)) =>
            SolveOutcome(beta, inv, collin.keepIdx, collin.dropIdx)
          case None =>
            val s = solveWithFallback(collin.xtx, collin.xty)
            SolveOutcome(s.beta, s.xtxInv, collin.keepIdx, collin.dropIdx)
        }
    }
    val keep = scaled.keepIdx
    val beta = DenseVector.tabulate(keep.length)(i => scaled.beta(i) / d(keep(i)))
    val inv = DenseMatrix.tabulate(keep.length, keep.length)(
      (i, j) => scaled.xtxInv(i, j) / (d(keep(i)) * d(keep(j))))
    SolveOutcome(beta, inv, keep, scaled.dropIdx)
  }

  /** dpotrf + dpotrs + dpotri; None if not (comfortably) positive definite.
    * A tiny Cholesky pivot means numerical rank deficiency that dpotrf can
    * slip past with rounding noise — route those to the pivoted-QR path
    * (same 1e-10 relative tolerance as the rank test). */
  private def choleskySolveInv(
      xtx: DenseMatrix[Double],
      xty: DenseVector[Double]
  ): Option[(DenseVector[Double], DenseMatrix[Double])] = {
    val p = xtx.cols
    if (p == 0) return Some((DenseVector.zeros[Double](0), DenseMatrix.zeros[Double](0, 0)))
    val lapack = dev.ludovic.netlib.lapack.LAPACK.getInstance
    val a = new Array[Double](p * p)
    System.arraycopy(xtx.toDenseMatrix.toArray, 0, a, 0, p * p)
    val info = new org.netlib.util.intW(0)
    lapack.dpotrf("L", p, a, p, info)
    if (info.`val` != 0) return None
    // pivot check: L_ii² spans the conditioning of the factorization
    var maxPiv = 0.0; var minPiv = Double.MaxValue
    var d = 0
    while (d < p) {
      val piv = a(d * p + d) * a(d * p + d)
      if (piv > maxPiv) maxPiv = piv
      if (piv < minPiv) minPiv = piv
      d += 1
    }
    if (minPiv <= 1e-10 * maxPiv) return None
    val b = xty.toArray.clone()
    lapack.dpotrs("L", p, 1, a, p, b, p, info)
    if (info.`val` != 0) return None
    lapack.dpotri("L", p, a, p, info)
    if (info.`val` != 0) return None
    val inv = DenseMatrix.zeros[Double](p, p)
    var j = 0
    while (j < p) {
      var i = j
      while (i < p) {
        val v = a(j * p + i) // lower triangle, column-major
        inv(i, j) = v; inv(j, i) = v
        i += 1
      }
      j += 1
    }
    Some((DenseVector(b), inv))
  }

  /** Cholesky solve with QR-style fallback (reference utils.R:66-80). */
  def solveWithFallback(xtx: DenseMatrix[Double], xty: DenseVector[Double]): SolveResult = {
    val p = xtx.cols
    try {
      val lower = cholesky(xtx)
      val beta = backSolveUpper(lower.t, forwardSolveLower(lower, xty))
      // (XᵀX)⁻¹ column-by-column through the same factor (chol2inv)
      val inv = DenseMatrix.zeros[Double](p, p)
      var j = 0
      while (j < p) {
        val e = DenseVector.zeros[Double](p); e(j) = 1.0
        inv(::, j) := backSolveUpper(lower.t, forwardSolveLower(lower, e))
        j += 1
      }
      SolveResult(beta, inv)
    } catch {
      case _: breeze.linalg.NotConvergedException | _: breeze.linalg.MatrixNotSymmetricException |
          _: breeze.linalg.MatrixNotSquareException | _: IllegalArgumentException |
          _: breeze.linalg.MatrixSingularException =>
        val beta = xtx \ xty
        val inv = xtx \ DenseMatrix.eye[Double](p)
        SolveResult(beta, inv)
    }
  }

  private def forwardSolveLower(l: DenseMatrix[Double], b: DenseVector[Double]): DenseVector[Double] = {
    val n = b.length
    val x = DenseVector.zeros[Double](n)
    var i = 0
    while (i < n) {
      var s = b(i)
      var j = 0
      while (j < i) { s -= l(i, j) * x(j); j += 1 }
      x(i) = s / l(i, i)
      i += 1
    }
    x
  }

  private def backSolveUpper(u: DenseMatrix[Double], b: DenseVector[Double]): DenseVector[Double] = {
    val n = b.length
    val x = DenseVector.zeros[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < n) { s -= u(i, j) * x(j); j += 1 }
      x(i) = s / u(i, i)
      i -= 1
    }
    x
  }

  /** Two-sided Student-t p-value, p = 2·P(T ≤ −|t|). */
  def pValue(t: Double, df: Double): Double = {
    if (df <= 0 || t.isNaN) Double.NaN
    else 2.0 * new TDistribution(df).cumulativeProbability(-math.abs(t))
  }

  /** t critical value for a two-sided (1−α) interval. */
  def tCrit(level: Double, df: Double): Double =
    new TDistribution(df).inverseCumulativeProbability(1.0 - (1.0 - level) / 2.0)

  /** Sandwich variance estimators (reference dbreg.R:1754-1803).
    * iid: σ²(XᵀX)⁻¹; HC1: (N/df)·A⁻¹MA⁻¹; CR1: (G/(G−1))(N/(N−K))·A⁻¹MA⁻¹,
    * with N−K floored at 1 like every residual df here. CR1 needs at least
    * two clusters: G/(G−1) is undefined for one.
    */
  def vcovIid(xtxInv: DenseMatrix[Double], rss: Double, dfRes: Double): DenseMatrix[Double] =
    xtxInv * (rss / dfRes)

  def vcovHc1(
      xtxInv: DenseMatrix[Double],
      meat: DenseMatrix[Double],
      nObs: Double,
      dfRes: Double
  ): DenseMatrix[Double] =
    (xtxInv * meat * xtxInv) * (nObs / dfRes)

  def vcovCr1(
      xtxInv: DenseMatrix[Double],
      meat: DenseMatrix[Double],
      nObs: Double,
      nClusters: Double,
      nParams: Double
  ): DenseMatrix[Double] = {
    require(nClusters >= 2,
      s"clustered standard errors need at least 2 clusters, got ${nClusters.toLong}")
    val scale = (nClusters / (nClusters - 1.0)) * (nObs / math.max(nObs - nParams, 1.0))
    (xtxInv * meat * xtxInv) * scale
  }

  /** Fill a symmetric p×p matrix from its upper triangle, row-major
    * (s(0,0), s(0,1), …, s(0,p−1), s(1,1), …). */
  def symmetricFromUpper(p: Int, upper: Array[Double]): DenseMatrix[Double] = {
    require(upper.length == p * (p + 1) / 2, s"need ${p * (p + 1) / 2} values, got ${upper.length}")
    val m = DenseMatrix.zeros[Double](p, p)
    var k = 0
    var i = 0
    while (i < p) {
      var j = i
      while (j < p) {
        m(i, j) = upper(k); m(j, i) = upper(k)
        j += 1; k += 1
      }
      i += 1
    }
    m
  }
}
