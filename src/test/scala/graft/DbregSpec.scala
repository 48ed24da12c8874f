package graft

import breeze.linalg.{DenseMatrix, DenseVector, inv}
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.model.ModelMatrix
import graft.reg.Dbreg

/** Differential tests: every strategy against a textbook dense OLS computed
  * driver-side on the same data (the role fixest/lm play in the reference's
  * tinytest suite, cf. SURVEY.md §5).
  */
case class PanelRow(
    y: Double, x1: Double, x2: Double, x3: Double,
    unit: String, time: String, grp: String, fct: String)

object DensePanel {
  // deterministic balanced panel: 20 units × 5 periods
  val rows: Seq[PanelRow] = {
    val rng = new scala.util.Random(42)
    for (u <- 0 until 20; t <- 0 until 5) yield {
      val x1 = (u + t) % 4
      val x2 = math.sin(u * 2.7 + t * 1.3) * 2.0
      val uEff = (u % 7) * 0.4
      val tEff = t * 0.25
      val eps = rng.nextGaussian() * 0.5
      val y = 1.0 + 0.5 * x1 - 0.3 * x2 + uEff + tEff + eps
      PanelRow(y, x1.toDouble, x2, x1 * 2.0, s"u$u", s"t$t",
        s"g${u % 5}", if (u % 3 == 0) "a" else if (u % 3 == 1) "b" else "c")
    }
  }

  /** Dense OLS with explicit design matrix. Returns (beta, seIid, seHc1). */
  def ols(x: DenseMatrix[Double], y: DenseVector[Double], dfRes: Double)
      : (DenseVector[Double], DenseVector[Double], DenseVector[Double]) = {
    val xtx = x.t * x
    val xty = x.t * y
    val xtxInv = inv(xtx)
    val beta = xtxInv * xty
    val e = y - x * beta
    val rss = e.dot(e)
    val n = x.rows
    val p = x.cols
    val vIid = xtxInv * (rss / dfRes)
    val meat = DenseMatrix.zeros[Double](p, p)
    for (i <- 0 until n) {
      val xi = x(i, ::).t
      meat += (xi * xi.t) * (e(i) * e(i))
    }
    val vHc1 = (xtxInv * meat * xtxInv) * (n.toDouble / dfRes)
    def diagSqrt(m: DenseMatrix[Double]) =
      DenseVector.tabulate(p)(i => math.sqrt(m(i, i)))
    (beta, diagSqrt(vIid), diagSqrt(vHc1))
  }

  def clusterSe(
      x: DenseMatrix[Double], y: DenseVector[Double],
      clusters: Seq[String], k: Double): DenseVector[Double] = {
    val xtxInv = inv(x.t * x)
    val beta = xtxInv * (x.t * y)
    val e = y - x * beta
    val n = x.rows; val p = x.cols
    val byG = clusters.zipWithIndex.groupBy(_._1)
    val meat = DenseMatrix.zeros[Double](p, p)
    byG.values.foreach { idxs =>
      val s = DenseVector.zeros[Double](p)
      idxs.foreach { case (_, i) => s += x(i, ::).t * e(i) }
      meat += s * s.t
    }
    val g = byG.size.toDouble
    val scale = (g / (g - 1.0)) * (n.toDouble / (n.toDouble - k))
    val v = (xtxInv * meat * xtxInv) * scale
    DenseVector.tabulate(p)(i => math.sqrt(v(i, i)))
  }
}

class DbregSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val df = spark.createDataFrame(DensePanel.rows)
  private val n = DensePanel.rows.length
  private val tol = 1e-8

  private def denseXy(
      cols: Seq[PanelRow => Double], intercept: Boolean = true
  ): (DenseMatrix[Double], DenseVector[Double]) = {
    val fns = (if (intercept) Seq((_: PanelRow) => 1.0) else Nil) ++ cols
    val x = DenseMatrix.tabulate(n, fns.length)((i, j) => fns(j)(DensePanel.rows(i)))
    val y = DenseVector(DensePanel.rows.map(_.y).toArray)
    (x, y)
  }

  private def assertClose(a: Double, b: Double, t: Double = tol, msg: String = "") =
    assert(math.abs(a - b) <= t * math.max(1.0, math.abs(b)), s"$msg: $a vs $b")

  test("moments matches dense OLS (iid + hc1)") {
    val (x, y) = denseXy(Seq(_.x1, _.x2))
    val (beta, seIid, seHc1) = DensePanel.ols(x, y, n - 3.0)
    val fit = Dbreg.fit("y ~ x1 + x2", df, strategy = "moments")
    assert(fit.terms == Seq("(Intercept)", "x1", "x2"))
    assertClose(fit.coef("x1"), beta(1), tol, "beta x1")
    assertClose(fit.coef("x2"), beta(2), tol, "beta x2")
    assertClose(fit.se("(Intercept)"), seIid(0), tol, "se0")
    assertClose(fit.se("x1"), seIid(1), tol, "se1")
    val fitH = Dbreg.fit("y ~ x1 + x2", df, vcov = "hc1", strategy = "moments")
    assertClose(fitH.se("x1"), seHc1(1), tol, "hc1 se x1")
    assertClose(fitH.se("x2"), seHc1(2), tol, "hc1 se x2")
  }

  test("moments matches dense clustered CR1") {
    val (x, y) = denseXy(Seq(_.x1, _.x2))
    val seCl = DensePanel.clusterSe(x, y, DensePanel.rows.map(_.grp), 3.0)
    val fit = Dbreg.fit("y ~ x1 + x2", df, vcov = "~grp", strategy = "moments")
    assertClose(fit.se("x1"), seCl(1), tol, "cl se x1")
    assert(fit.nClusters.contains(5L))
  }

  test("compress equals moments on discrete regressors") {
    val m = Dbreg.fit("y ~ x1", df, strategy = "moments")
    val c = Dbreg.fit("y ~ x1", df, strategy = "compress")
    assertClose(c.coef("x1"), m.coef("x1"), 1e-8, "beta")
    assertClose(c.se("x1"), m.se("x1"), 1e-8, "se")
    assertClose(c.rss, m.rss, 1e-8, "rss")
    assert(c.nobs < m.nobs) // actually compressed
    val mh = Dbreg.fit("y ~ x1", df, vcov = "hc1", strategy = "moments")
    val ch = Dbreg.fit("y ~ x1", df, vcov = "hc1", strategy = "compress")
    assertClose(ch.se("x1"), mh.se("x1"), 1e-8, "hc1 se")
    val mc = Dbreg.fit("y ~ x1", df, vcov = "~grp", strategy = "moments")
    val cc = Dbreg.fit("y ~ x1", df, vcov = "~grp", strategy = "compress")
    assertClose(cc.se("x1"), mc.se("x1"), 1e-8, "cluster se")
  }

  test("demean 1 FE matches dense LSDV") {
    // dense: intercept + x1 + x2 + unit dummies (drop first)
    val units = DensePanel.rows.map(_.unit).distinct.sorted
    val dums = units.tail.map(u => (r: PanelRow) => if (r.unit == u) 1.0 else 0.0)
    val (x, y) = denseXy(Seq((r: PanelRow) => r.x1, (r: PanelRow) => r.x2) ++ dums)
    val dfRes = n - 2.0 - units.size // = n - p - n_fe1
    val (beta, seIid, _) = DensePanel.ols(x, y, dfRes)
    val fit = Dbreg.fit("y ~ x1 + x2 | unit", df, strategy = "demean")
    assertClose(fit.coef("x1"), beta(1), 1e-7, "beta x1")
    assertClose(fit.coef("x2"), beta(2), 1e-7, "beta x2")
    assertClose(fit.se("x1"), seIid(1), 1e-7, "se x1")
    assertClose(fit.dfResidual, dfRes, tol, "df")
  }

  test("demean 2 FE (balanced) matches dense TWFE") {
    val units = DensePanel.rows.map(_.unit).distinct.sorted
    val times = DensePanel.rows.map(_.time).distinct.sorted
    val du = units.tail.map(u => (r: PanelRow) => if (r.unit == u) 1.0 else 0.0)
    val dt = times.tail.map(t => (r: PanelRow) => if (r.time == t) 1.0 else 0.0)
    val (x, y) = denseXy(Seq((r: PanelRow) => r.x1, (r: PanelRow) => r.x2) ++ du ++ dt)
    val dfRes = n - 2.0 - (units.size + times.size - 1)
    val (beta, seIid, _) = DensePanel.ols(x, y, dfRes)
    val fit = Dbreg.fit("y ~ x1 + x2 | unit + time", df, strategy = "demean")
    assertClose(fit.coef("x1"), beta(1), 1e-7, "beta x1")
    assertClose(fit.coef("x2"), beta(2), 1e-7, "beta x2")
    assertClose(fit.se("x2"), seIid(2), 1e-7, "se x2")
  }

  test("hdfe: 1 FE equals the demean strategy on all vcovs") {
    for (vc <- Seq("iid", "hc1", "~grp")) {
      val h = Dbreg.fit("y ~ x1 + x2 | unit", df, vcov = vc, strategy = "hdfe")
      val d = Dbreg.fit("y ~ x1 + x2 | unit", df, vcov = vc, strategy = "demean")
      assert(h.strategy == "hdfe")
      assertClose(h.coef("x1"), d.coef("x1"), 1e-9, s"$vc beta x1")
      assertClose(h.coef("x2"), d.coef("x2"), 1e-9, s"$vc beta x2")
      assertClose(h.se("x1"), d.se("x1"), 1e-9, s"$vc se x1")
      assertClose(h.rss, d.rss, 1e-9, s"$vc rss")
      assertClose(h.dfResidual, d.dfResidual, tol, s"$vc df")
    }
    // prediction: the recovered FE intercepts reproduce the demean
    // strategy's fitted values row for row
    val hp = Dbreg.fit("y ~ x1 | unit", df, strategy = "hdfe")
      .predict(df).select(col("unit"), col("time"), col("fit")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val dp = Dbreg.fit("y ~ x1 | unit", df, strategy = "demean")
      .predict(df).select(col("unit"), col("time"), col("fit")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(hp.keySet === dp.keySet)
    hp.foreach { case (k, v) => assert(math.abs(v - dp(k)) < 1e-8, s"fit at $k") }
  }

  test("hdfe: 2 FE balanced converges to the GROUPING SETS demean answer") {
    val h = Dbreg.fit("y ~ x1 + x2 | unit + time", df, strategy = "hdfe",
      hdfeTol = 1e-12, hdfeMaxSweeps = 200)
    val d = Dbreg.fit("y ~ x1 + x2 | unit + time", df, strategy = "demean")
    assertClose(h.coef("x1"), d.coef("x1"), 1e-8, "beta x1")
    assertClose(h.coef("x2"), d.coef("x2"), 1e-8, "beta x2")
    assertClose(h.se("x1"), d.se("x1"), 1e-8, "se x1")
    assertClose(h.dfResidual, d.dfResidual, tol, "df")
  }

  test("hdfe: 3 crossed FEs match dense dummy OLS (coef, se, df)") {
    // three crossed factors (12 × 6 × 5; c rides i mod 5, coprime with
    // the 72-cycle of (a, b), so no factor is nested in another)
    val rng = new scala.util.Random(7)
    val rows = (0 until 360).map { i =>
      val a = i % 12; val b = (i / 12) % 6; val c = (i * 7 + 3) % 5
      val x = math.sin(i * 0.7) * 2.0 + (i % 5) * 0.3
      val y = 2.0 + 0.8 * x + a * 0.15 - b * 0.4 + c * 0.22 +
        rng.nextGaussian() * 0.5
      (y, x, s"a$a", s"b$b", s"c$c")
    }
    val d3 = rows.zipWithIndex
      .map { case ((y, xv, fa, fb, fc), i) => (i, y, xv, fa, fb, fc) }
      .toDF("i", "y", "x", "fa", "fb", "fc")
    val nn = rows.length
    val la = 12; val lb = 6; val lc = 5
    val dums =
      (1 until la).map(k => (r: (Double, Double, String, String, String)) =>
        if (r._3 == s"a$k") 1.0 else 0.0) ++
      (1 until lb).map(k => (r: (Double, Double, String, String, String)) =>
        if (r._4 == s"b$k") 1.0 else 0.0) ++
      (1 until lc).map(k => (r: (Double, Double, String, String, String)) =>
        if (r._5 == s"c$k") 1.0 else 0.0)
    val fns = Seq((r: (Double, Double, String, String, String)) => 1.0,
      (r: (Double, Double, String, String, String)) => r._2) ++ dums
    val x = DenseMatrix.tabulate(nn, fns.length)((i, j) => fns(j)(rows(i)))
    val y = DenseVector(rows.map(_._1).toArray)
    val dfRes = nn.toDouble - fns.length // 360 − 22 = 338
    val (beta, seIid, _) = DensePanel.ols(x, y, dfRes)
    val fit = Dbreg.fit("y ~ x | fa + fb + fc", d3, strategy = "hdfe",
      hdfeTol = 1e-13, hdfeMaxSweeps = 300)
    assertClose(fit.coef("x"), beta(1), 1e-7, "beta x")
    assertClose(fit.se("x"), seIid(1), 1e-7, "se x")
    assertClose(fit.dfResidual, dfRes, tol, "df") // ΣL − (K−1) bookkeeping
    // prediction with 3 recovered FE tables ≡ dense LSDV fitted values
    val denseFit = x * beta
    val got = fit.predict(d3)
      .select(col("i"), col("fit")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.indices.foreach { i =>
      assertClose(got(i), denseFit(i), 1e-6, s"fitted row $i")
    }
    // unseen FE level → visible null fit, not a silent drop
    val unseen = Seq((0.0, 1.0, "aX", "b0", "c0")).toDF("y", "x", "fa", "fb", "fc")
    val nf = fit.predict(unseen).select(col("fit")).collect()
    assert(nf.length === 1 && nf(0).isNullAt(0))
  }

  test("hdfe: correlated worker×firm FEs — convergence reported, matches dense LSDV") {
    // worker/firm mobility network whose movers form one long PATH of
    // firms (worker 4f+3 splits spells between firm f and firm f+1):
    // information crosses the FE graph one firm per sweep, the textbook
    // slow-alternating-projections topology (mixing ~ path-length²).
    // The path also keeps the bipartite graph ONE connected component,
    // so dfFe = Lw + Lf − 1 and the dense-LSDV df agree exactly.
    val rng = new scala.util.Random(11)
    val nF = 3 // 12 workers; even this 3-firm path needs ~200 sweeps
    val nW = 4 * nF // per firm: 3 stayers + 1 mover to the next firm
    val rows = (0 until 8 * nW).map { i =>
      val w = i % nW
      val f = w / 4
      val mover = w % 4 == 3 && f < nF - 1
      val firm = if (mover && (i / nW) % 2 == 1) f + 1 else f
      val x = rng.nextGaussian()
      val y = 1.5 * x + (w % 7) * 0.1 - firm * 0.3 + rng.nextGaussian() * 0.3
      (i, y, x, s"w$w", s"f$firm")
    }
    val d = rows.toDF("i", "y", "x", "fw", "ff")
    val nn = rows.length
    val dums =
      (1 until nW).map(k => (r: (Int, Double, Double, String, String)) =>
        if (r._4 == s"w$k") 1.0 else 0.0) ++
      (1 until nF).map(k => (r: (Int, Double, Double, String, String)) =>
        if (r._5 == s"f$k") 1.0 else 0.0)
    val fns = Seq((r: (Int, Double, Double, String, String)) => 1.0,
      (r: (Int, Double, Double, String, String)) => r._3) ++ dums
    val x = DenseMatrix.tabulate(nn, fns.length)((i, j) => fns(j)(rows(i)))
    val y = DenseVector(rows.map(_._2).toArray)
    val dfRes = nn.toDouble - fns.length // 96 − 15
    val (beta, seIid, _) = DensePanel.ols(x, y, dfRes)
    val fit = Dbreg.fit("y ~ x | fw + ff", d, strategy = "hdfe",
      hdfeTol = 1e-7, hdfeMaxSweeps = 500)
    assert(fit.hdfeConverged === Some(true))
    // correlated FEs genuinely need iteration — far past the default
    // 60-sweep cap (which is exactly why the cap now warns + reports)
    assert(fit.hdfeSweeps.exists(s => s > 60 && s < 500),
      s"unexpected sweep count ${fit.hdfeSweeps}")
    assertClose(fit.coef("x"), beta(1), 1e-5, "beta x")
    assertClose(fit.se("x"), seIid(1), 1e-5, "se x")
    assertClose(fit.dfResidual, dfRes, tol, "df")
    // cap exhaustion on the same panel: flagged, not silent
    val trunc = Dbreg.fit("y ~ x | fw + ff", d, strategy = "hdfe",
      hdfeTol = 1e-7, hdfeMaxSweeps = 2)
    assert(trunc.hdfeConverged === Some(false))
    assert(trunc.hdfeSweeps === Some(2))
    // non-hdfe strategies carry no sweep state
    val dm = Dbreg.fit("y ~ x | fw", d, strategy = "demean")
    assert(dm.hdfeSweeps.isEmpty && dm.hdfeConverged.isEmpty)
  }

  test("demean/mundlak above the inline-means threshold take the join branch (120 levels)") {
    // InlineMeansMaxLevels = 64: every other FE test uses tiny factors, so
    // this is the only coverage of the broadcast-join tier of
    // withMeanColumns. 120 units × 3 periods, balanced.
    val rng = new scala.util.Random(7)
    val rows = for (u <- 0 until 120; t <- 0 until 3) yield {
      val x = rng.nextGaussian() + (u % 10) * 0.1
      val y = 0.7 * x + (u % 13) * 0.3 + t * 0.2 + rng.nextGaussian() * 0.3
      (y, x, s"u$u", s"t$t")
    }
    val wdf = spark.createDataFrame(rows).toDF("y", "x1", "unit", "time")
    val m = rows.length
    val units = rows.map(_._3).distinct.sorted
    val times = rows.map(_._4).distinct.sorted
    def dense(extra: Seq[((Double, Double, String, String)) => Double], dfRes: Double) = {
      val fns = Seq((_: (Double, Double, String, String)) => 1.0,
        (r: (Double, Double, String, String)) => r._2) ++ extra
      val x = DenseMatrix.tabulate(m, fns.length)((i, j) => fns(j)(rows(i)))
      val y = DenseVector(rows.map(_._1).toArray)
      DensePanel.ols(x, y, dfRes)
    }
    // 1 FE (join branch for the unit means)
    val du = units.tail.map(u => (r: (Double, Double, String, String)) =>
      if (r._3 == u) 1.0 else 0.0)
    val (b1, se1, _) = dense(du, m - 1.0 - units.size)
    val fit1 = Dbreg.fit("y ~ x1 | unit", wdf, strategy = "demean")
    assertClose(fit1.coef("x1"), b1(1), 1e-7, "wide demean beta")
    assertClose(fit1.se("x1"), se1(1), 1e-7, "wide demean se")
    // 2 FE: unit takes the join branch, time the inline branch, overall a literal
    val dt = times.tail.map(t => (r: (Double, Double, String, String)) =>
      if (r._4 == t) 1.0 else 0.0)
    val (b2, _, _) = dense(du ++ dt, m - 1.0 - (units.size + times.size - 1))
    val fit2 = Dbreg.fit("y ~ x1 | unit + time", wdf, strategy = "demean")
    assertClose(fit2.coef("x1"), b2(1), 1e-7, "wide twfe beta")
    // mundlak with a >64-level mean join: CRE slope equals the within slope
    val fitM = Dbreg.fit("y ~ x1 | unit", wdf, strategy = "mundlak")
    assertClose(fitM.coef("x1"), fit1.coef("x1"), 1e-7, "wide mundlak beta")
    // 2-FE mundlak from one GROUPING SETS aggregate with mixed tiers: unit
    // means join (120 levels), time means inline (3) — the dense CRE
    // regression of y on 1, x1 and both group means of x1
    def meanOf(key: ((Double, Double, String, String)) => String) = {
      val means = rows.groupBy(key).map { case (k, rs) => k -> rs.map(_._2).sum / rs.size }
      (r: (Double, Double, String, String)) => means(key(r))
    }
    val (bm, sem, _) = dense(Seq(meanOf(_._3), meanOf(_._4)), m - 4.0)
    val fitM2 = Dbreg.fit("y ~ x1 | unit + time", wdf, strategy = "mundlak")
    assertClose(fitM2.coef("x1"), bm(1), 1e-7, "wide 2-FE mundlak beta")
    assertClose(fitM2.se("x1"), sem(1), 1e-7, "wide 2-FE mundlak se")
    assertClose(fitM2.coef("x1_bar_unit"), bm(2), 1e-7, "wide 2-FE mundlak unit-mean beta")
    assertClose(fitM2.coef("x1_bar_time"), bm(3), 1e-7, "wide 2-FE mundlak time-mean beta")
  }

  test("hdfe above the inline tier holds one persisted α table per join-tier FE") {
    // 120 units × 3 periods: unit takes the join tier, time the inline
    // one. The running sums each sweep stages are released once the next
    // one (or the α table) has materialized; the α table is what the
    // predictor holds.
    val rng = new scala.util.Random(7)
    val rows = for (u <- 0 until 120; t <- 0 until 3) yield {
      val x = rng.nextGaussian() + (u % 10) * 0.1
      (0.7 * x + (u % 13) * 0.3 + t * 0.2 + rng.nextGaussian() * 0.3, x, s"u$u", s"t$t")
    }
    val wdf = spark.createDataFrame(rows).toDF("y", "x1", "unit", "time")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val fit = Dbreg.fit("y ~ x1 | unit + time", wdf, strategy = "hdfe",
      hdfeTol = 1e-10, hdfeMaxSweeps = 50)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(fit.hdfeSweeps.exists(_ > 1), fit.hdfeSweeps)
    assert(added.size == 1, s"persisted RDDs left by the fit: $added")
    // the held table still serves predictions
    val pred = fit.predict(wdf).select("fit").collect()
    assert(pred.length == rows.length && pred.forall(r => !r.isNullAt(0)))
  }

  test("compress with FE equals demean coefficients") {
    val c = Dbreg.fit("y ~ x1 + x2 | unit", df, strategy = "compress")
    val d = Dbreg.fit("y ~ x1 + x2 | unit", df, strategy = "demean")
    assertClose(c.coef("x1"), d.coef("x1"), 1e-7, "beta x1")
    assertClose(c.coef("x2"), d.coef("x2"), 1e-7, "beta x2")
  }

  test("mundlak matches dense CRE (x + group means)") {
    val unitMeans: Map[String, (Double, Double)] =
      DensePanel.rows.groupBy(_.unit).map { case (u, rs) =>
        u -> (rs.map(_.x1).sum / rs.size, rs.map(_.x2).sum / rs.size)
      }
    val (x, y) = denseXy(Seq(
      (r: PanelRow) => r.x1, (r: PanelRow) => r.x2,
      (r: PanelRow) => unitMeans(r.unit)._1,
      (r: PanelRow) => unitMeans(r.unit)._2))
    val (beta, _, _) = DensePanel.ols(x, y, n - 5.0)
    val fit = Dbreg.fit("y ~ x1 + x2 | unit", df, strategy = "mundlak")
    assertClose(fit.coef("x1"), beta(1), 1e-7, "beta x1")
    assertClose(fit.coef("x2"), beta(2), 1e-7, "beta x2")
  }

  test("collinear column detected and dropped by name") {
    val fit = Dbreg.fit("y ~ x1 + x3 + x2", df, strategy = "moments")
    assert(fit.collinDropped == Seq("x3") || fit.collinDropped == Seq("x1"))
    assert(fit.coeftable.length == 3) // intercept + 2 kept
  }

  test("factor regressor expands to dummies dropping first level") {
    val lvls = Seq("a", "b", "c")
    val dums = lvls.tail.map(l => (r: PanelRow) => if (r.fct == l) 1.0 else 0.0)
    val (x, y) = denseXy(Seq((r: PanelRow) => r.x2) ++ dums)
    val (beta, seIid, _) = DensePanel.ols(x, y, n - 4.0)
    val fit = Dbreg.fit("y ~ x2 + fct", df, strategy = "moments")
    assert(fit.terms == Seq("(Intercept)", "x2", "fctb", "fctc"))
    assertClose(fit.coef("fctb"), beta(2), 1e-7, "beta fctb")
    assertClose(fit.se("fctc"), seIid(3), 1e-7, "se fctc")
  }

  test("the factor level probe caps levels, not rows") {
    import spark.implicits._
    // rows 40..50 hold a level no earlier row has: a row cap would code
    // them as the reference level
    val df = (0 until 50).map(i => if (i < 39) s"l${i % 3}" else "late").toDF("v")
    assert(ModelMatrix.factorLevels(df, "v", maxLevels = 10) == Seq("l0", "l1", "l2", "late"))
    val wide = (0 until 50).map(i => s"w${i % 11}").toDF("v")
    val e = intercept[IllegalArgumentException](ModelMatrix.factorLevels(wide, "v", maxLevels = 10))
    assert(e.getMessage.contains("more than 10 levels") && e.getMessage.contains("fixed effect"),
      e.getMessage)
    // an eviction round can empty the summary: 12 single-occurrence levels
    // in one partition, and two disjoint partitions of 11 levels each
    val ids = (n: Int, parts: Int) =>
      spark.range(0, n, 1, parts).select(concat(lit("w"), col("id").cast("string")).as("v"))
    for ((n, parts) <- Seq(12 -> 1, 22 -> 2)) {
      val ev = intercept[IllegalArgumentException](
        ModelMatrix.factorLevels(ids(n, parts), "v", maxLevels = 10))
      assert(ev.getMessage.contains("more than 10 levels"), s"$n/$parts: ${ev.getMessage}")
    }
    // an absorbed var is already a fixed effect: point at the strategies instead
    val fe = intercept[IllegalArgumentException](
      ModelMatrix.levels(ids(12, 1), Seq("v"), maxLevels = 10, absorbed = Seq("v")))
    assert(fe.getMessage.contains("more than 10 levels") && fe.getMessage.contains("demean") &&
      !fe.getMessage.contains("fixed effect"), fe.getMessage)
    // every factor from one aggregate
    val two = df.withColumn("w", col("v").substr(1, 1))
    val run = PlanStats.capturedQueries(spark) {
      assert(ModelMatrix.levels(two, Seq("v", "w")) ==
        Map("v" -> Seq("l0", "l1", "l2", "late"), "w" -> Seq("l"))); ()
    }
    assert(run.size == 1, run.map(_._1))
  }

  test("interaction numeric:factor matches dense") {
    // y ~ x2 + fct + x2:fct — with both mains present, interaction drops ref
    val lvls = Seq("a", "b", "c")
    val dums = lvls.tail.map(l => (r: PanelRow) => if (r.fct == l) 1.0 else 0.0)
    val inter = lvls.tail.map(l => (r: PanelRow) => if (r.fct == l) r.x2 else 0.0)
    val (x, y) = denseXy(Seq((r: PanelRow) => r.x2) ++ dums ++ inter)
    val (beta, _, _) = DensePanel.ols(x, y, n - 6.0)
    val fit = Dbreg.fit("y ~ x2*fct", df, strategy = "moments")
    assertClose(fit.coef("x2"), beta(1), 1e-7, "x2")
    assertClose(fit.coef("x2:fctb"), beta(4), 1e-7, "x2:fctb")
    assertClose(fit.coef("x2:fctc"), beta(5), 1e-7, "x2:fctc")
  }

  test("auto chooser follows the reference decision tree") {
    // n=100: cells(x1)=4 → ratio .04 > .01 ⇒ moments; continuous x2 ⇒ moments;
    // cells(x1,unit)=80 → ratio .8 > .6 ⇒ demean
    assert(Dbreg.fit("y ~ x1", df).strategy == "moments")
    assert(Dbreg.fit("y ~ x2", df).strategy == "moments")
    assert(Dbreg.fit("y ~ x1 | unit", df).strategy == "demean")
    // replicate 50×: ratios shrink 50-fold ⇒ compress on both
    val big = (1 to 50).map(_ => df).reduce(_ union _)
    assert(Dbreg.fit("y ~ x1", big).strategy == "compress")
    assert(Dbreg.fit("y ~ x1 | unit", big).strategy == "compress")
  }

  test("ssc=nested subtracts nested FE levels from K in the CR1 correction") {
    // unit (20 levels) is nested in grp (unit u -> grp u%5): K drops by 20
    val full = Dbreg.fit("y ~ x1 + x2 | unit", df, vcov = "~grp",
      strategy = "demean", ssc = "full")
    val nested = Dbreg.fit("y ~ x1 + x2 | unit", df, vcov = "~grp",
      strategy = "demean", ssc = "nested")
    // same meat/bread; only the scale factor differs:
    // full K = 2 + 20 = 22, nested K = 2 + 20 - 20 = 2
    val n = 100.0; val g = 5.0
    val ratio = ((g / (g - 1)) * (n / (n - 2.0))) / ((g / (g - 1)) * (n / (n - 22.0)))
    val seRatio = nested.se("x1") / full.se("x1")
    assert(math.abs(seRatio - math.sqrt(ratio)) < 1e-10,
      s"se ratio $seRatio vs expected ${math.sqrt(ratio)}")
    // time FE (5 levels) spans multiple grp clusters -> NOT nested, K unchanged
    val t1 = Dbreg.fit("y ~ x1 | time", df, vcov = "~grp", strategy = "demean", ssc = "full")
    val t2 = Dbreg.fit("y ~ x1 | time", df, vcov = "~grp", strategy = "demean", ssc = "nested")
    assert(math.abs(t1.se("x1") - t2.se("x1")) < 1e-12)
  }

  test("auto on unbalanced high-ratio 2-FE panel routes to hdfe and stays exact") {
    // duplicate one unit's rows -> unequal cell counts (the balance probe
    // checks COUNT(DISTINCT per-cell count), matching the reference);
    // x2 continuous keeps the compression ratio high. Pre-round-7 this
    // case REFUSED ("exact TWFE infeasible"); alternating projections
    // give it an exact distributed path.
    val extraRows = DensePanel.rows.filter(_.unit == "u1")
    val unbal = df.union(df.filter(col("unit") === "u1"))
    val fit = Dbreg.fit("y ~ x2 | unit + time", unbal, strategy = "auto",
      hdfeTol = 1e-13, hdfeMaxSweeps = 300)
    assert(fit.strategy == "hdfe")
    // dense LSDV on the unbalanced rows
    val rowsU = DensePanel.rows ++ extraRows
    val units = rowsU.map(_.unit).distinct.sorted
    val times = rowsU.map(_.time).distinct.sorted
    val fns = Seq((r: PanelRow) => 1.0, (r: PanelRow) => r.x2) ++
      units.tail.map(u => (r: PanelRow) => if (r.unit == u) 1.0 else 0.0) ++
      times.tail.map(t => (r: PanelRow) => if (r.time == t) 1.0 else 0.0)
    val x = DenseMatrix.tabulate(rowsU.length, fns.length)((i, j) => fns(j)(rowsU(i)))
    val y = DenseVector(rowsU.map(_.y).toArray)
    val dfRes = rowsU.length.toDouble - fns.length
    val (beta, seIid, _) = DensePanel.ols(x, y, dfRes)
    assertClose(fit.coef("x2"), beta(1), 1e-7, "beta x2")
    assertClose(fit.se("x2"), seIid(1), 1e-7, "se x2")
    // explicit mundlak still works on the same data (CRE alternative)
    val m = Dbreg.fit("y ~ x2 | unit + time", unbal, strategy = "mundlak")
    assert(!m.coef("x2").isNaN)
  }

  test("compressedData returns the cell table (data_only parity)") {
    val cells = Dbreg.compressedData("y ~ x1 | unit", df)
    assert(cells.columns.toSet ==
      Set("x1", "unit", "n", "sum_y", "sum_y_sq", "mean_y", "wts"))
    val total = cells.agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(total == DensePanel.rows.length)
    assert(cells.count() < DensePanel.rows.length)
  }

  test("r2 and confint are sane") {
    val fit = Dbreg.fit("y ~ x1 + x2", df, strategy = "moments")
    assert(fit.r2 > 0.0 && fit.r2 < 1.0)
    val ci = fit.confint(0.95).map(c => c._1 -> (c._2, c._3)).toMap
    val (lo, hi) = ci("x1")
    assert(lo < fit.coef("x1") && fit.coef("x1") < hi)
  }

  test("weighted moments fit matches dense WLS (iid and hc1)") {
    val wOf = (r: PanelRow) => 1.0 + (r.x1 - r.x2).abs // positive weights
    val wdf = df.withColumn("w",
      org.apache.spark.sql.functions.abs(col("x1") - col("x2")) + 1.0)
    // dense WLS: scale rows by sqrt(w); rss = Σ w e²; df = n − p
    val (x0, y0) = denseXy(Seq(_.x1, _.x2))
    val sw = DenseVector(DensePanel.rows.map(r => math.sqrt(wOf(r))).toArray)
    val xw = DenseMatrix.tabulate(n, x0.cols)((i, j) => x0(i, j) * sw(i))
    val yw = DenseVector.tabulate(n)(i => y0(i) * sw(i))
    val xtxInv = inv(xw.t * xw)
    val beta = xtxInv * (xw.t * yw)
    val ew = yw - xw * beta // √w-scaled residuals
    val rss = ew.dot(ew)
    val dfRes = n.toDouble - x0.cols
    val seIid = DenseVector.tabulate(x0.cols)(i =>
      math.sqrt(xtxInv(i, i) * rss / dfRes))
    val meat = DenseMatrix.zeros[Double](x0.cols, x0.cols)
    for (i <- 0 until n) { // score = w·e·x = √w·ew·x
      val xi = x0(i, ::).t
      meat += (xi * xi.t) * (wOf(DensePanel.rows(i)) * ew(i) * ew(i))
    }
    val vH = (xtxInv * meat * xtxInv) * (n.toDouble / dfRes)

    val fit = Dbreg.fit("y ~ x1 + x2", wdf, strategy = "moments", weights = Some("w"))
    val terms = Seq("(Intercept)", "x1", "x2")
    terms.zipWithIndex.foreach { case (t, i) =>
      assert(math.abs(fit.coef(t) - beta(i)) < tol, s"beta $t")
      assert(math.abs(fit.se(t) - seIid(i)) < tol, s"se $t")
    }
    val fitH = Dbreg.fit("y ~ x1 + x2", wdf, vcov = "hc1",
      strategy = "moments", weights = Some("w"))
    terms.zipWithIndex.foreach { case (t, i) =>
      assert(math.abs(fitH.se(t) - math.sqrt(vH(i, i))) < tol, s"hc1 se $t")
    }
  }

  test("fitGrouped matches fitting each group separately") {
    val grouped = Dbreg.fitGrouped("y ~ x1 + x2", df, "grp")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    val groups = DensePanel.rows.map(_.grp).distinct
    groups.foreach { g =>
      val one = Dbreg.fit("y ~ x1 + x2", df.filter(col("grp") === g), strategy = "moments")
      one.coeftable.foreach { row =>
        val (est, se) = grouped((g, row.term))
        assert(math.abs(est - row.estimate) < 1e-9, s"$g ${row.term} est")
        assert(math.abs(se - row.stdError) < 1e-9, s"$g ${row.term} se")
      }
    }
  }

  test("fitGrouped with one FE matches the demean strategy fit per group") {
    val grouped = Dbreg.fitGrouped("y ~ x1 + x2 | unit", df, "grp")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(5))))
      .toMap
    val groups = DensePanel.rows.map(_.grp).distinct
    groups.foreach { g =>
      val one = Dbreg.fit("y ~ x1 + x2 | unit", df.filter(col("grp") === g),
        strategy = "demean")
      one.coeftable.foreach { row =>
        val (est, se, r2) = grouped((g, row.term))
        assert(math.abs(est - row.estimate) < 1e-9, s"$g ${row.term} est")
        assert(math.abs(se - row.stdError) < 1e-9, s"$g ${row.term} se")
        assert(math.abs(r2 - one.r2) < 1e-9, s"$g within-R2")
      }
    }
    // two FE refuse (per-group 2-FE = run the engine's strategies instead)
    intercept[IllegalArgumentException] {
      Dbreg.fitGrouped("y ~ x1 | unit + time", df, "grp")
    }
  }

  test("sqlOnly emits the reference's sql_only contract for all four strategies") {
    // reference test_trade.R:49-57: returns a string starting with WITH;
    // test_interactions.R:179-185: factor expansion appears as CASE WHEN
    val li = sf("sf0.001", "lineitem")
    val fml = "l_extendedprice ~ l_quantity + l_returnflag"
    val strategies = Seq("moments", "compress", "demean", "mundlak")
    val sqls = strategies.map { st =>
      val fe = if (st == "demean" || st == "mundlak") " | l_linestatus" else ""
      st -> Dbreg.sqlOnly(fml + fe, li, "lineitem", st)
    }.toMap
    sqls.values.foreach { s =>
      assert(s.startsWith("WITH"), s.take(40))
      assert(s.contains("FROM lineitem"))
    }
    // factor expansion reaches the SQL (except compress, which groups raw values)
    Seq("moments", "demean", "mundlak").foreach { st =>
      assert(sqls(st).contains("CASE WHEN"), st)
      assert(sqls(st).contains("'N'") || sqls(st).contains("'A'"), st) // literal levels
    }
    assert(sqls("compress").contains("GROUP BY"))
    // 2-FE demean variant renders the double-demean algebra
    val two = Dbreg.sqlOnly("l_extendedprice ~ l_quantity | l_returnflag + l_linestatus",
      li, "lineitem", "demean")
    assert(two.contains("CROSS JOIN") && two.contains("n_fe2"))
    // dump for external runnability checks (DuckDB executes these verbatim)
    val dir = java.nio.file.Paths.get("/tmp/sqlgen")
    java.nio.file.Files.createDirectories(dir)
    (sqls + ("demean2" -> two)).foreach { case (st, s) =>
      java.nio.file.Files.write(dir.resolve(s"$st.sql"), s.getBytes("UTF-8"))
    }
    intercept[IllegalArgumentException] { Dbreg.sqlOnly(fml, li, "lineitem", "nope") }
  }

  test("fitGrouped: a million tiny groups solve executor-side, output stays distributed") {
    import spark.implicits._
    // 10^6 groups × 3 rows: the moment agg shuffles 10^6 small rows, every
    // per-group Cholesky runs in the flatMap on executors, and the result
    // is a distributed DataFrame — the driver never holds G×(p+1) rows
    val g = 1000000L
    val data = spark.range(3L * g).select(
      (col("id") % g).as("grp"),
      (col("id") % 7).cast("double").as("x"))
      .withColumn("y", col("x") * 2.0 + (col("grp") % 11).cast("double"))
    val fit = Dbreg.fitGrouped("y ~ x", data, "grp")
    // no LocalTableScan: the plan must not route through a driver-side Seq
    assert(!fit.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    assert(fit.count() == 2L * g) // (Intercept) + x per group
    // spot-check: within every group y = 2x + c exactly, so slope = 2
    val bad = fit.filter(col("term") === "x")
      .filter(org.apache.spark.sql.functions.abs(col("estimate") - 2.0) > 1e-8).count()
    assert(bad == 0L, s"$bad groups with wrong slope")
  }

  test("fitGrouped: maxGroups guard neither overflows nor under-enforces") {
    // a near-Long.MaxValue guard must not overflow limit()'s Int argument
    val all = Dbreg.fitGrouped("y ~ x1 + x2", df, "grp", maxGroups = Long.MaxValue - 1)
    val nGroups = DensePanel.rows.map(_.grp).distinct.length.toLong
    assert(all.select("group").distinct().count() == nGroups)
    // and a too-small guard still fires (rows stream, so it fires early)
    intercept[IllegalArgumentException] {
      Dbreg.fitGrouped("y ~ x1 + x2", df, "grp", maxGroups = 1L)
    }
    intercept[IllegalArgumentException] {
      Dbreg.fitGrouped("y ~ x1 + x2", df, "grp", maxGroups = 0L)
    }
  }

  test("unit weights reproduce the unweighted fit exactly") {
    val wdf = df.withColumn("w", org.apache.spark.sql.functions.lit(1.0))
    val unw = Dbreg.fit("y ~ x1 + x2", df, strategy = "moments")
    val w1 = Dbreg.fit("y ~ x1 + x2", wdf, strategy = "moments", weights = Some("w"))
    unw.coeftable.zip(w1.coeftable).foreach { case (a, b) =>
      assert(a.term == b.term)
      assert(math.abs(a.estimate - b.estimate) < 1e-12)
      assert(math.abs(a.stdError - b.stdError) < 1e-12)
    }
    assert(unw.nobsOrig == w1.nobsOrig && math.abs(unw.rss - w1.rss) < 1e-6)
  }

  test("weights refuse fixed effects and non-moments strategies") {
    val wdf = df.withColumn("w", org.apache.spark.sql.functions.lit(2.0))
    val e1 = intercept[IllegalArgumentException] {
      Dbreg.fit("y ~ x1 | unit", wdf, weights = Some("w"))
    }
    assert(e1.getMessage.contains("weights"))
    val e2 = intercept[IllegalArgumentException] {
      Dbreg.fit("y ~ x1", wdf, strategy = "compress", weights = Some("w"))
    }
    assert(e2.getMessage.contains("weights"))
  }

  test("cross-strategy fuzz: all applicable strategies agree on random panels") {
    // seeded random balanced panels: every strategy that claims the same
    // estimand must produce the same coefficients (the fixed-case
    // differentials above pin values; this sweeps the config space)
    val rng = new scala.util.Random(20240813)
    val ftol = 1e-6
    (1 to 8).foreach { trial =>
      val nu = 5 + rng.nextInt(12)
      val nt = 3 + rng.nextInt(5)
      val levels = 2 + rng.nextInt(4)
      val rows = for (u <- 0 until nu; t <- 0 until nt) yield {
        val x1 = rng.nextInt(levels).toDouble
        val x2 = math.rint(rng.nextGaussian() * 3) / 2.0
        val y = 0.7 + 0.4 * x1 - 0.2 * x2 + (u % 3) * 0.3 + t * 0.1 +
          rng.nextGaussian() * 0.4
        (y, x1, x2, s"u$u", s"t$t")
      }
      val d = rows.toDF("y", "x1", "x2", "unit", "time")
      def close(a: Double, b: Double, what: String): Unit =
        assert(math.abs(a - b) <= ftol * math.max(1.0, math.abs(b)),
          s"trial $trial $what: $a vs $b (nu=$nu nt=$nt levels=$levels)")
      // no FE: moments ≡ compress
      val fm = Dbreg.fit("y ~ x1 + x2", d, strategy = "moments")
      val fc = Dbreg.fit("y ~ x1 + x2", d, strategy = "compress")
      fm.coef.foreach { case (k, v) => close(fc.coef(k), v, s"noFE $k") }
      // 1 FE: compress ≡ demean ≡ mundlak on the x coefficients
      val c1 = Dbreg.fit("y ~ x1 + x2 | unit", d, strategy = "compress")
      val d1 = Dbreg.fit("y ~ x1 + x2 | unit", d, strategy = "demean")
      val m1 = Dbreg.fit("y ~ x1 + x2 | unit", d, strategy = "mundlak")
      Seq("x1", "x2").foreach { k =>
        close(d1.coef(k), c1.coef(k), s"1fe demean $k")
        close(m1.coef(k), c1.coef(k), s"1fe mundlak $k")
      }
      // 2 FE (complete grid ⇒ balanced): demean ≡ compress
      val c2 = Dbreg.fit("y ~ x1 + x2 | unit + time", d, strategy = "compress")
      val d2 = Dbreg.fit("y ~ x1 + x2 | unit + time", d, strategy = "demean")
      Seq("x1", "x2").foreach(k => close(d2.coef(k), c2.coef(k), s"2fe $k"))
    }
  }
}
