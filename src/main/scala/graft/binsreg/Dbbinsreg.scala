package graft.binsreg

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.formula.Formula
import graft.linalg.LinAlg
import graft.model.ModelFrame
import graft.reg.{Dbreg, DbregResult}

/** Binscatter (binned regression) on Spark DataFrames — the Spark-native
  * analogue of the reference's `dbbinsreg()` (reference R/dbbinsreg.R).
  *
  * `y ~ x + w1 + w2 | fe` bins the FIRST regressor into `nbins` bins
  * (quantile `"qs"` or equal-spaced `"es"`), fits a piecewise polynomial of
  * `degree` with `smoothness` continuity constraints (0 = unconstrained per
  * bin, ≥1 = regression spline with truncated-power basis at interior bin
  * edges), and evaluates fit ± CI at per-bin x-means and on a line grid.
  *
  * Scale design: bin edges come from [[histQuantiles]] — a fixed-width
  * histogram CDF (no global NTILE sort — the reference's own large-n
  * mitigation, dbbinsreg.R:449-573, made the default); bin assignment is a
  * literal CASE chain; the inner regression is a recursive `Dbreg` call on
  * the binned DataFrame, so the whole pipeline is plan composition with no
  * row-level collect.
  */
object Dbbinsreg {

  /** Lagrange interpolation through 3 control points (K13, reference
    * dbbinsreg.R:1605-1624): evaluates the unique quadratic through
    * (xPts(i), yPts(i)) at `x`. A pure per-row arithmetic `Column` —
    * codegen'd, no UDF, embarrassingly parallel at any scale; the
    * denominators are plan-time constants (Catalyst constant-folds them). */
  def lagrangeInterp3(x: Column, xPts: Seq[Double], yPts: Seq[Double]): Column = {
    require(xPts.length == 3 && yPts.length == 3,
      s"need exactly 3 control points, got ${xPts.length}/${yPts.length}")
    require(xPts.distinct.length == 3, s"x control points must be distinct: $xPts")
    val l0 = (x - xPts(1)) * (x - xPts(2)) / lit((xPts(0) - xPts(1)) * (xPts(0) - xPts(2)))
    val l1 = (x - xPts(0)) * (x - xPts(2)) / lit((xPts(1) - xPts(0)) * (xPts(1) - xPts(2)))
    val l2 = (x - xPts(0)) * (x - xPts(1)) / lit((xPts(2) - xPts(0)) * (xPts(2) - xPts(1)))
    lit(yPts(0)) * l0 + lit(yPts(1)) * l1 + lit(yPts(2)) * l2
  }

  /** Distributed quantile breaks via a fixed-width histogram CDF.
    *
    * Replaces `DataFrame.stat.approxQuantile`, whose QuantileSummaries
    * sketch maintenance is the dominant cost of a binsreg fit and grows
    * superlinearly as `relErr` shrinks (measured 10 s at 6M rows /
    * relErr=1e-4 vs 0.85 s for the underlying scan). Two narrow codegen'd
    * scans instead: (1) min/max/count, (2) a bucket-count groupBy whose
    * map-side partial aggregation ships at most `buckets` rows per task —
    * driver state is one ≤`buckets`-row CDF regardless of n, so the cost is
    * pure linear scan at any scale. Quantiles are linearly interpolated
    * inside the target bucket by count fraction, so the error is bounded by
    * one bucket width: (max−min)·relErr with buckets = ⌈1/relErr⌉ — the
    * same precision contract the approxQuantile `relErr` parameter carried
    * (reference dbbinsreg.R:449-573 `randcut` analogue).
    *
    * Deterministic (exact integer counts + fixed fold order on the driver),
    * unlike the merge-order-dependent sketch. p=0 and p=1 return the exact
    * min/max.
    */
  private[graft] def histQuantiles(
      base: DataFrame,
      xvar: String,
      probs: Array[Double],
      relErr: Double
  ): Array[Double] = {
    val x = col(xvar).cast("double")
    // NaN passes isNotNull and would poison max() and every break; exclude
    // it like the reference's na.rm quantiles do
    val clean = base.filter(!isnan(x))
    val r = clean.agg(min(x).as("mn"), max(x).as("mx"), count(x).as("n")).collect()(0)
    if (r.isNullAt(0) || r.getLong(2) == 0L) return Array.empty
    val (mn, mx, n) = (r.getDouble(0), r.getDouble(1), r.getLong(2))
    if (mn == mx) return Array(mn)
    val buckets = math.min(1 << 20, math.max(1024, math.ceil(1.0 / relErr).toLong)).toInt
    val w = (mx - mn) / buckets
    val bucketCol = least(floor((x - mn) / w), lit(buckets - 1)).cast("int")
    val hist = new Array[Long](buckets)
    clean.groupBy(bucketCol.as("__b")).agg(count(lit(1)).as("__c"))
      .collect().foreach(row => hist(row.getInt(0)) = row.getLong(1))
    val cum = hist.scanLeft(0L)(_ + _) // cum(i) = rows strictly below bucket i
    probs.map { p =>
      if (p <= 0.0) mn
      else if (p >= 1.0) mx
      else {
        val target = p * n
        // first bucket whose cumulative count reaches the target
        var b = 0
        while (b < buckets - 1 && cum(b + 1) < target) b += 1
        val within = if (hist(b) > 0) (target - cum(b)) / hist(b) else 1.0
        mn + w * (b + within)
      }
    }
  }

  /** The `bins − 1` interior equal-frequency cut points of `xvar` via
    * [[histQuantiles]] — the scale-safe replacement for a row-level global
    * NTILE (the SURVEY §7.4.2 hazard: `ntile(B) OVER (ORDER BY v)` is a
    * single-partition total-order sort of the whole relation). Shared by
    * the bucketed modes of `Eval.liftCurve` and `Features.woeBins`.
    *
    * Returns None when there are no usable rows, Some(empty) when the
    * column is single-valued (min == max — there ARE rows but no interior
    * cuts exist; callers place the whole tied mass in one bin), and
    * Some(bins − 1 cuts) otherwise. The appended p = 1.0 sentinel is what
    * disambiguates the single-valued collapse (histQuantiles returns the
    * bare 1-element min) from the bins = 2 single-interior-cut answer;
    * it reads the same histogram, no extra scan.
    */
  private[graft] def quantileCutBins(
      base: DataFrame, xvar: String, bins: Int, relErr: Double): Option[Array[Double]] = {
    val probs = (1 until bins).map(_.toDouble / bins).toArray :+ 1.0
    val qs = histQuantiles(base, xvar, probs, relErr)
    if (qs.isEmpty) None
    else if (qs.length != probs.length) Some(Array.empty)
    else Some(qs.dropRight(1))
  }

  /** Ascending bucket id from interior cut points: bin(v) = 1 + |{j : v >
    * c_j}| (left-closed cuts, ties go to the lower bin; duplicated cuts
    * leave their bin empty — callers spine-join a dense bucket axis; NULL
    * and NaN fall through to bin B + 1). A pure codegen'd projection — no
    * sort, no shuffle beyond the caller's own aggregation.
    *
    * ≤ 64 cuts: a literal CASE chain (folds into the surrounding codegen —
    * the measured sweet spot for small literal lookup tables). Above that
    * the chain's per-row cost is linear in B and its plan size grows with
    * B, so it switches to the codegen'd binary-search [[graft.functions.BucketBin]]
    * (O(log B) probes, cuts as ONE plan reference) — same bin for every
    * input by construction.
    */
  private[graft] def caseChainBin(v: Column, cuts: Array[Double]): Column =
    if (cuts.isEmpty) lit(1)
    else if (cuts.length > 64) graft.functions.BinExprs.bucketBin(v, cuts)
    else cuts.drop(1).zipWithIndex
      .foldLeft(when(v <= lit(cuts(0)), lit(1))) { case (acc, (c, i)) =>
        acc.when(v <= lit(c), lit(i + 2))
      }
      .otherwise(lit(cuts.length + 1))

  final case class BinInfo(bin: Int, left: Double, right: Double, xMean: Double, n: Long)
  final case class BinPoint(
      bin: Int, x: Double, fit: Double, se: Double, lwr: Double, upr: Double,
      cbLwr: Double = Double.NaN, cbUpr: Double = Double.NaN)
  final case class LinePoint(bin: Int, x: Double, fit: Double)
  final case class BinsregResult(
      points: Seq[BinPoint],
      line: Seq[LinePoint],
      bins: Seq[BinInfo],
      knots: Seq[Double],
      model: DbregResult,
      nbins: Int,
      nobs: Long
  ) {
    def pointsDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      points.toDF("bin", "x", "fit", "se", "lwr", "upr", "cb_lwr", "cb_upr")
    }
    def lineDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      line.toDF("bin", "x", "fit")
    }

    /** The plot layer (reference `R/plot.r:31-126`, tinyplot
      * ribbon/line/pointrange) re-expressed as a renderer-agnostic
      * Vega-Lite v5 layered spec: a sup-t confidence RIBBON (when cb
      * bounds exist), the evaluated LINE broken per bin via the `detail`
      * channel (the reference inserts NA rows between bins for the same
      * effect), CI point-RANGES (rule marks), and the bin points. Pure
      * string assembly over the already-collected, bins-sized plot data —
      * no graphics dependency, no extra Spark work; render with any
      * Vega-Lite client. Layer presence mirrors the reference's `ci`,
      * `cb`, `line` switches and its has_ci/has_cb data probes
      * (all-NaN bound columns drop the layer). */
    def plotSpec(
        xLab: String = "x",
        yLab: String = "y",
        ci: Boolean = true,
        cb: Boolean = true,
        showLine: Boolean = true
    ): String = {
      def esc(s: String): String = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      // JSON has no NaN/Infinity: unavailable bounds serialize as null,
      // which Vega-Lite skips per mark
      def num(d: Double): String =
        if (d.isNaN || d.isInfinite) "null" else d.toString
      val hasCi = ci && points.exists(p => !p.lwr.isNaN && !p.upr.isNaN)
      val hasCb = cb && points.exists(p => !p.cbLwr.isNaN && !p.cbUpr.isNaN)
      val hasLn = showLine && line.nonEmpty
      val ptValues = points.map(p =>
        s"""{"bin":${p.bin},"x":${num(p.x)},"fit":${num(p.fit)},""" +
          s""""lwr":${num(p.lwr)},"upr":${num(p.upr)},""" +
          s""""cb_lwr":${num(p.cbLwr)},"cb_upr":${num(p.cbUpr)}}""")
        .mkString("[", ",", "]")
      val lnValues = line.map(l =>
        s"""{"bin":${l.bin},"x":${num(l.x)},"fit":${num(l.fit)}}""")
        .mkString("[", ",", "]")
      val x = s"""{"field":"x","type":"quantitative","title":"${esc(xLab)}"}"""
      val yFit =
        s"""{"field":"fit","type":"quantitative","title":"${esc(yLab)}"}"""
      val layers = Seq(
        if (hasCb) Some(
          s"""{"mark":{"type":"errorband","opacity":0.25},"encoding":{""" +
            s""""x":$x,"y":{"field":"cb_lwr","type":"quantitative","title":"${esc(yLab)}"},""" +
            s""""y2":{"field":"cb_upr"}}}""") else None,
        if (hasLn) Some(
          s"""{"data":{"values":$lnValues},"mark":{"type":"line"},""" +
            s""""encoding":{"x":$x,"y":$yFit,""" +
            s""""detail":{"field":"bin","type":"nominal"}}}""") else None,
        if (hasCi) Some(
          s"""{"mark":{"type":"rule"},"encoding":{"x":$x,""" +
            s""""y":{"field":"lwr","type":"quantitative","title":"${esc(yLab)}"},""" +
            s""""y2":{"field":"upr"}}}""") else None,
        Some(s"""{"mark":{"type":"point","filled":true},""" +
          s""""encoding":{"x":$x,"y":$yFit}}""")
      ).flatten.mkString("[", ",", "]")
      s"""{"$$schema":"https://vega.github.io/schema/vega-lite/v5.json",""" +
        s""""data":{"values":$ptValues},"layer":$layers}"""
    }
  }

  def fit(
      formula: String,
      df: DataFrame,
      nbins: Int = 10,
      binspos: String = "qs",
      degree: Int = 0,
      smoothness: Int = 0,
      vcov: String = "iid",
      level: Double = 0.95,
      lineGrid: Int = 20,
      manualKnots: Option[Array[Double]] = None,
      cb: Boolean = false,
      cbSims: Int = 2000,
      cbSeed: Long = 42L,
      line: Option[(Int, Int)] = None,
      quantileRelErr: Double = 1e-4 // histQuantiles precision (randcut analogue)
  ): BinsregResult = {
    // reference execute_separate_binsreg (dbbinsreg.R:649-740): when the
    // line's (degree, smoothness) differ from the points', fit two models
    // and combine — points/CIs from the first, the line from the second.
    line match {
      case Some((ld, ls)) if (ld, ls) != (degree, smoothness) =>
        val pointsFit = fit(formula, df, nbins, binspos, degree, smoothness,
          vcov, level, lineGrid, manualKnots, cb, cbSims, cbSeed, line = None,
          quantileRelErr = quantileRelErr)
        val lineFit = fit(formula, df, nbins, binspos, ld, ls,
          vcov, level, lineGrid, manualKnots, line = None,
          quantileRelErr = quantileRelErr)
        return pointsFit.copy(line = lineFit.line)
      case _ => ()
    }
    require(degree >= 0 && smoothness >= 0 && smoothness <= degree + 1,
      s"invalid (degree, smoothness) = ($degree, $smoothness)")
    val f = Formula.parse(formula)
    val xvar = f.terms.head.parts match {
      case List(v) => v
      case other => throw new IllegalArgumentException(
        s"first regressor must be the plain binning variable, got ${other.mkString(":")}")
    }
    val controls = f.terms.tail
    val clusterCol = if (vcov.startsWith("~")) Seq(vcov.drop(1).trim) else Nil
    val base = ModelFrame.prepare(df, f, clusterCol)

    val x = col(xvar).cast("double")

    // ---- bin edges (K12 / W1-W2 equivalents; manual knots = reference
    // binspos numeric vector) ----
    val breaks: Array[Double] = manualKnots match {
      case Some(ks) =>
        val r = base.agg(min(x).as("mn"), max(x).as("mx")).collect()(0)
        (r.getDouble(0) +: ks.sorted.toVector :+ r.getDouble(1)).distinct.sorted.toArray
      case None => binspos match {
        case "qs" =>
          val probs = (0 to nbins).map(_.toDouble / nbins).toArray
          histQuantiles(base, xvar, probs, quantileRelErr).distinct.sorted
        case "es" =>
          val r = base.agg(min(x).as("mn"), max(x).as("mx")).collect()(0)
          val (mn, mx) = (r.getDouble(0), r.getDouble(1))
          (0 to nbins).map(i => mn + (mx - mn) * i / nbins).toArray
        case other => throw new IllegalArgumentException(s"binspos must be qs|es, got $other")
      }
    }
    require(breaks.nonEmpty,
      "no rows after missing-value filtering (empty input?)")
    val b = breaks.length - 1
    require(b >= 1, "need at least one bin after deduplicating edges")

    // bin id: number of interior edges strictly below x (CASE-chain, no sort)
    val binCol: Column =
      (1 until b).map(k => when(x > breaks(k), 1).otherwise(0))
        .foldLeft(lit(0))(_ + _)

    val binned = base.withColumn("__bin", binCol)

    // ---- bin geometry (A14) ----
    // sum(y) rides the SAME aggregate: the demean strategies re-add the
    // grand outcome mean as the plot offset, and deriving it here
    // (Σ per-bin y-sums / Σ n) removes the separate full-corpus avg(y)
    // scan those fits paid (r16, guide §2.4 — one pass, not two; the
    // per-bin partial-sum regrouping is within float tolerance of the
    // one-shot avg, whose own partial order was partition-arbitrary)
    val yd = col(f.y).cast("double")
    val geoRows = binned
      .groupBy("__bin")
      .agg(min(x).as("left"), max(x).as("right"), avg(x).as("xmean"),
        count(lit(1)).as("n"), sum(yd).as("ysum"))
      .orderBy("__bin")
      .collect()
    val geo = geoRows
      .map(r => BinInfo(r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toSeq
    val nobs = geo.map(_.n).sum
    val grandMean =
      if (nobs > 0) geoRows.map(_.getDouble(5)).sum / nobs else 0.0
    val interiorKnots = (1 until b).map(breaks(_))

    // control means for evaluation (binsreg evaluates at covariate means)
    val controlVars = controls.flatMap(_.parts).distinct
    val controlMeans: Map[String, Double] =
      if (controlVars.isEmpty) Map.empty
      else {
        val aggs = controlVars.map(v => avg(col(v).cast("double")).as(v))
        val row = base.agg(aggs.head, aggs.tail: _*).collect()(0)
        controlVars.map(v => v -> row.getAs[Double](v)).toMap
      }

    if (cb && smoothness > 0)
      // reference parity: CBs warned & skipped for constrained fits
      // (dbbinsreg.R:1299-1303)
      System.err.println("[dbbinsreg] confidence bands not supported for smoothness > 0; skipping")
    val cbOpt = if (cb && smoothness == 0) Some((cbSims, cbSeed)) else None

    if (smoothness == 0) fitUnconstrained(f, binned, geo, degree, vcov, level, lineGrid,
      controls.map(_.label), controlMeans, interiorKnots, nobs, cbOpt, grandMean)
    else fitConstrained(f, binned, geo, degree, smoothness, interiorKnots, vcov, level,
      lineGrid, controls.map(_.label), controlMeans, nobs, xvar, grandMean)
  }

  /** s = 0: per-bin polynomial in u = (x − left)/h, all bins independent
    * (reference execute_unconstrained_binsreg — but fully distributed:
    * the binned rows never reach the driver). */
  private def fitUnconstrained(
      f: Formula,
      binned: DataFrame,
      geo: Seq[BinInfo],
      degree: Int,
      vcov: String,
      level: Double,
      lineGrid: Int,
      controlTerms: Seq[String],
      controlMeans: Map[String, Double],
      knots: Seq[Double],
      nobs: Long,
      cbOpt: Option[(Int, Long)],
      grandMean: Double
  ): BinsregResult = {
    val x = col(f.terms.head.parts.head).cast("double")
    val width = math.max(2, geo.map(_.bin).max.toString.length)
    // zero-padded factor labels keep lexicographic == numeric bin order
    val binf = concat(lit("b"), lpad(col("__bin").cast("string"), width, "0"))
    // u lookup via literal CASE over the (small) geometry
    def uCol: Column = geo.map { g =>
      val h = if (g.right > g.left) g.right - g.left else 1.0
      (g.bin, (x - lit(g.left)) / lit(h))
    }.foldLeft(lit(0.0)) { case (acc, (bin, expr)) =>
      when(col("__bin") === bin, expr).otherwise(acc)
    }

    var dfb = binned.withColumn("__binf", binf)
    (1 to degree).foreach(j => dfb = dfb.withColumn(s"__u$j", pow(uCol, j)))

    val fml = (s"${f.y} ~ 0 + __binf" +:
      (1 to degree).map(j => s"__binf:__u$j")) ++ controlTerms
    val fmlStr = fml.mkString(" + ") +
      (if (f.fe.nonEmpty) " | " + f.fe.mkString(" + ") else "")
    val strategy =
      if (degree == 0) "compress"
      else if (f.fe.isEmpty) "moments"
      else if (f.fe.length <= 2) "demean" else "compress"
    // the __binf level set is KNOWN (constructed two lines up from the bin
    // geometry — zero-padded, so sorted = bin order): hint it to the fit
    // instead of paying the per-fit distinct-probe job (ModelMatrix r16)
    val binfLevels = geo.map(g =>
      "b" + g.bin.toString.reverse.padTo(width, '0').reverse).sorted
    val model = graft.model.ModelMatrix.withLevelHint(
      Map("__binf" -> binfLevels)) {
      Dbreg.fit(fmlStr, dfb, vcov = vcov, strategy = strategy)
    }
    // demean absorbs the level into the FEs: re-add the grand mean so points
    // plot on the outcome scale (standard absorbed-FE binscatter practice).
    // The mean was folded into the bin-geometry aggregate (no extra scan).
    val offset = if (model.strategy == "demean") grandMean else 0.0

    def label(bin: Int) = "b" + bin.toString.reverse.padTo(width, '0').reverse
    // weight vector for evaluation at (bin, x)
    def wRow(bin: Int, xv: Double): DenseVector[Double] = {
      val g = geo.find(_.bin == bin).get
      val h = if (g.right > g.left) g.right - g.left else 1.0
      val u = (xv - g.left) / h
      DenseVector(model.terms.map { t =>
        if (t == s"__binf${label(bin)}") 1.0
        else if (t.startsWith("__binf") && t.contains(":__u")) {
          val Array(bpart, upart) = t.split(":")
          if (bpart == s"__binf${label(bin)}") math.pow(u, upart.drop(3).toInt) else 0.0
        } else controlMeans.getOrElse(t, 0.0)
      }.toArray)
    }
    evalResult(model, geo, knots, wRow, level, lineGrid, nobs, offset, cbOpt)
  }

  /** s ≥ 1: global truncated-power spline basis (reference
    * execute_constrained_binsreg / P6). */
  private def fitConstrained(
      f: Formula,
      binned: DataFrame,
      geo: Seq[BinInfo],
      degree: Int,
      smoothness: Int,
      knots: Seq[Double],
      vcov: String,
      level: Double,
      lineGrid: Int,
      controlTerms: Seq[String],
      controlMeans: Map[String, Double],
      nobs: Long,
      xvar: String,
      grandMean: Double
  ): BinsregResult = {
    val x = col(xvar).cast("double")
    var dfb = binned
    val basisNames = scala.collection.mutable.ArrayBuffer.empty[String]
    (1 to degree).foreach { j =>
      val nm = s"__p$j"; basisNames += nm
      dfb = dfb.withColumn(nm, pow(x, j))
    }
    knots.zipWithIndex.foreach { case (k, ki) =>
      (math.max(smoothness, 1) to degree).foreach { r =>
        val nm = s"__tp${ki}_$r"; basisNames += nm
        dfb = dfb.withColumn(nm, when(x > k, pow(x - k, r)).otherwise(0.0))
      }
    }
    val fmlStr = (s"${f.y} ~ " + (basisNames ++ controlTerms).mkString(" + ")) +
      (if (f.fe.nonEmpty) " | " + f.fe.mkString(" + ") else "")
    val strategy =
      if (f.fe.isEmpty) "moments" else if (f.fe.length <= 2) "demean" else "compress"
    val model = Dbreg.fit(fmlStr, dfb, vcov = vcov, strategy = strategy)
    // grand mean from the geometry aggregate — see fitUnconstrained
    val offset = if (model.strategy == "demean") grandMean else 0.0

    def wRow(bin: Int, xv: Double): DenseVector[Double] =
      DenseVector(model.terms.map { t =>
        if (t == "(Intercept)") 1.0
        else if (t.startsWith("__p")) math.pow(xv, t.drop(3).toInt)
        else if (t.startsWith("__tp")) {
          val Array(ki, r) = t.drop(4).split("_").map(_.toInt)
          if (xv > knots(ki)) math.pow(xv - knots(ki), r) else 0.0
        } else controlMeans.getOrElse(t, 0.0)
      }.toArray)
    evalResult(model, geo, knots, wRow, level, lineGrid, nobs, offset, None)
  }

  /** fit/SE/CI at bin means + line grid (K10), optional sup-t confidence
    * bands via simulation (K11, reference dbbinsreg.R:1675-1686). */
  private def evalResult(
      model: DbregResult,
      geo: Seq[BinInfo],
      knots: Seq[Double],
      wRow: (Int, Double) => DenseVector[Double],
      level: Double,
      lineGrid: Int,
      nobs: Long,
      offset: Double,
      cbOpt: Option[(Int, Long)]
  ): BinsregResult = {
    val beta = DenseVector(model.coeftable.map(_.estimate).toArray)
    val v = model.vcov
    val crit = LinAlg.tCrit(level, model.dfResidual)

    // sup-t critical value: draws from N(0, WVWᵀ), sup_b |z_b|/se_b
    val cbCrit: Double = cbOpt match {
      case None => Double.NaN
      case Some((nsims, seed)) =>
        val b = geo.length
        val wm = DenseMatrix.zeros[Double](b, beta.length)
        geo.zipWithIndex.foreach { case (g, i) => wm(i, ::) := wRow(g.bin, g.xMean).t }
        val vp = wm * v * wm.t
        val ses = (0 until b).map(i => math.sqrt(math.max(vp(i, i), 1e-300)))
        val jitter = breeze.linalg.trace(vp) / b * 1e-10 + 1e-300
        val lch = breeze.linalg.cholesky(vp + DenseMatrix.eye[Double](b) * jitter)
        val rng = new scala.util.Random(seed)
        val sups = Array.fill(nsims) {
          val g = DenseVector.fill(b)(rng.nextGaussian())
          val z = lch * g
          (0 until b).map(i => math.abs(z(i)) / ses(i)).max
        }.sorted
        sups(math.min((level * nsims).toInt, nsims - 1))
    }

    val points = geo.map { g =>
      val w = wRow(g.bin, g.xMean)
      val fit = offset + w.dot(beta)
      val se = math.sqrt(math.max(w.dot(v * w), 0.0))
      val (cl, cu) =
        if (cbCrit.isNaN) (Double.NaN, Double.NaN)
        else (fit - cbCrit * se, fit + cbCrit * se)
      BinPoint(g.bin, g.xMean, fit, se, fit - crit * se, fit + crit * se, cl, cu)
    }
    val line = geo.flatMap { g =>
      (0 until lineGrid).map { i =>
        val xv = g.left + (g.right - g.left) * i / math.max(lineGrid - 1, 1)
        LinePoint(g.bin, xv, offset + wRow(g.bin, xv).dot(beta))
      }
    }
    BinsregResult(points, line, geo, knots, model, geo.length, nobs)
  }
}
