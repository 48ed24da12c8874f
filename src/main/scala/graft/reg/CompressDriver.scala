package graft.reg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.formula.{Formula, Vcov}
import graft.linalg.LinAlg
import graft.model.ModelMatrix
import graft.model.ModelMatrix.{Atom, ConstAtom, DesignCol, DummyAtom, NumericAtom, RawAtom}

/** Driver-side sparse WLS over compressed cells, for high-cardinality
  * fixed effects where the distributed moment triangle would need too many
  * aggregate columns (reference dbreg.R:1601-1616's sparse.model.matrix
  * path, with the same `compress_nmax` transfer guard, dbreg.R:57-61).
  *
  * The collect is bounded: ≤ `compressNmax` cells × (key columns + 3
  * statistics). Each cell contributes a SPARSE design vector (numeric x's,
  * one dummy per factor term, one dummy per FE), so XᵀX accumulation costs
  * cells × nnz² with nnz ≈ #terms + #FE, not cells × P². The layout is
  * the dense path's (`termCols` = intercept + terms, `feCols` = FE dummies,
  * from Dbreg.fitCompress), so both paths expand a formula identically.
  */
private[graft] object CompressDriver {

  def fit(
      f: Formula,
      base: DataFrame,
      comp: DataFrame,
      cellKeys: Seq[String],
      termCols: List[DesignCol],
      feCols: List[DesignCol],
      v: Vcov,
      ssc: String,
      compressNmax: Long
  ): DbregResult = {
    val nCells = comp.limit((compressNmax + 1).toInt).count() match {
      case c if c > compressNmax =>
        throw new IllegalArgumentException(
          s"compressed size exceeds compress_nmax=$compressNmax; " +
            "raise compressNmax or use demean/mundlak")
      case c => c
    }

    def numVal(r: Row, c: String): Double = r.getAs[Any](c) match {
      case null => 0.0
      case x: Number => x.doubleValue
      case x => x.toString.toDouble
    }
    def strVal(r: Row, c: String): String = String.valueOf(r.getAs[Any](c))
    def atomVal(r: Row, a: Atom): Double = a match {
      case NumericAtom(c) => numVal(r, c)
      case DummyAtom(c, lvl) => if (strVal(r, c) == lvl) 1.0 else 0.0
      case ConstAtom(x) => x
      case RawAtom(c) => numVal(r, c)
    }
    // the term columns evaluate their atoms on the cell row (the product
    // associates like ModelMatrix.renderCol); each FE contributes at most
    // one nonzero, found by a level → column lookup
    val feLookups: Seq[(String, Map[String, Int])] = f.fe.map { fe =>
      fe -> feCols.zipWithIndex.collect {
        case (DesignCol(_, List(DummyAtom(`fe`, lvl))), i) => lvl -> (termCols.size + i)
      }.toMap
    }
    val names = (termCols ++ feCols).map(_.name).toIndexedSeq
    val p = names.length

    // ---- collect cells and accumulate sparse normal equations ----
    val rows = comp.collect()
    val xtx = DenseMatrix.zeros[Double](p, p)
    val xty = DenseVector.zeros[Double](p)
    var sumSyy = 0.0; var sumSy = 0.0; var nOrig = 0.0
    def designOf(r: Row): Seq[(Int, Double)] = {
      val fromTerms = termCols.zipWithIndex.flatMap { case (dc, i) =>
        val x = dc.atoms.map(atomVal(r, _)).reduceRight(_ * _)
        if (x == 0.0) None else Some(i -> x)
      }
      val fromFe = feLookups.flatMap { case (fe, pos) => pos.get(strVal(r, fe)).map(_ -> 1.0) }
      fromTerms ++ fromFe
    }
    rows.foreach { r =>
      val n = r.getAs[Double]("__g_n")
      val sy = r.getAs[Double]("__g_sy")
      val syy = r.getAs[Double]("__g_syy")
      nOrig += n; sumSy += sy; sumSyy += syy
      val d = designOf(r)
      d.foreach { case (i, vi) =>
        xty(i) += sy * vi
        d.foreach { case (j, vj) => if (j >= i) xtx(i, j) += n * vi * vj }
      }
    }
    // mirror upper triangle
    for (i <- 0 until p; j <- i + 1 until p) xtx(j, i) = xtx(i, j)

    val solved = LinAlg.solveDetecting(xtx, xty)
    val keep = solved.keepIdx
    val beta = solved.beta
    val xtxInv = solved.xtxInv
    val rss = {
      val xtyK = DenseVector(keep.map(xty(_)).toArray)
      val xtxK = DenseMatrix.tabulate(keep.length, keep.length)((i, j) => xtx(keep(i), keep(j)))
      sumSyy - 2.0 * beta.dot(xtyK) + beta.dot(xtxK * beta)
    }
    val tss = sumSyy - sumSy * sumSy / nOrig
    val dfRes = math.max(nOrig - p, 1.0)

    val keepPos: Map[Int, Int] = keep.zipWithIndex.toMap
    def yhatOf(r: Row): Double =
      designOf(r).foldLeft(0.0) { case (acc, (i, vv)) =>
        keepPos.get(i).map(k => acc + beta(k) * vv).getOrElse(acc)
      }

    val (vmat, vtype, nClusters) = v match {
      case Vcov.Iid => (LinAlg.vcovIid(xtxInv, rss, dfRes), "iid", None)
      case Vcov.Hc1 =>
        val pk = keep.length
        val meat = DenseMatrix.zeros[Double](pk, pk)
        rows.foreach { r =>
          val n = r.getAs[Double]("__g_n"); val sy = r.getAs[Double]("__g_sy")
          val syy = r.getAs[Double]("__g_syy")
          val yh = yhatOf(r)
          val rssg = syy - 2.0 * yh * sy + n * yh * yh
          val d = designOf(r).flatMap { case (i, vv) => keepPos.get(i).map(_ -> vv) }
          d.foreach { case (i, vi) =>
            d.foreach { case (j, vj) => if (j >= i) meat(i, j) += rssg * vi * vj }
          }
        }
        for (i <- 0 until pk; j <- i + 1 until pk) meat(j, i) = meat(i, j)
        (LinAlg.vcovHc1(xtxInv, meat, nOrig, dfRes), "hc1", None)
      case Vcov.Cluster(cl) =>
        // cluster×cell stats (A12) — collected, guarded by the same nmax
        val gc = base
          .groupBy((cl +: cellKeys).distinct.map(col): _*)
          .agg(count(lit(1)).cast("double").as("__g_n"),
            sum(col(f.y).cast("double")).as("__g_sy"))
        val gcRows = gc.collect()
        require(gcRows.length <= compressNmax,
          s"cluster-by-cell table ${gcRows.length} exceeds compress_nmax")
        val pk = keep.length
        val scores = scala.collection.mutable.HashMap.empty[String, DenseVector[Double]]
        gcRows.foreach { r =>
          val n = r.getAs[Double]("__g_n"); val sy = r.getAs[Double]("__g_sy")
          val resid = sy - n * yhatOf(r)
          val s = scores.getOrElseUpdate(strVal(r, cl), DenseVector.zeros[Double](pk))
          designOf(r).foreach { case (i, vv) =>
            keepPos.get(i).foreach(k => s(k) += resid * vv)
          }
        }
        val meat = DenseMatrix.zeros[Double](pk, pk)
        scores.values.foreach(s => meat += s * s.t)
        val g = scores.size.toDouble
        val nested =
          if (ssc == "nested") NestedFe.count(base, f.fe, cl) else 0.0
        val k = p - nested
        (LinAlg.vcovCr1(xtxInv, meat, nOrig, g, k), "cluster", Some(scores.size.toLong))
    }

    val keptNames = keep.map(names)
    val coeftable = keptNames.zipWithIndex.map { case (nm, i) =>
      val se = math.sqrt(vmat(i, i))
      val t = beta(i) / se
      CoefRow(ModelMatrix.displayName(nm), beta(i), se, t, LinAlg.pValue(t, dfRes))
    }
    DbregResult(
      coeftable = coeftable,
      vcov = vmat,
      vcovType = vtype,
      strategy = "compress",
      nobs = nCells,
      nobsOrig = nOrig.round,
      dfResidual = dfRes,
      rss = rss,
      tss = tss,
      fe = f.fe,
      collinDropped = solved.dropIdx.map(i => ModelMatrix.displayName(names(i))),
      nClusters = nClusters,
      compressionRatio = Some(nCells.toDouble / math.max(nOrig, 1.0)),
      feTerms = feCols.map(c => ModelMatrix.displayName(c.name))
    )
  }
}

/** Shared nested-FE level counter (reference dbreg.R:1718-1752). */
private[graft] object NestedFe {
  def count(base: DataFrame, fe: Seq[String], cluster: String): Double =
    fe.map { f =>
      val spans = base
        .groupBy(col(f))
        .agg(countDistinct(col(cluster)).as("__g_nc"))
        .filter(col("__g_nc") > 1)
        .limit(1)
        .count()
      if (spans == 0)
        base.agg(countDistinct(col(f)).cast("double").as("n")).collect()(0).getAs[Double]("n")
      else 0.0
    }.sum
}
