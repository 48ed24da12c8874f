package graft

import breeze.linalg.{DenseMatrix, DenseVector, inv}
import org.apache.spark.sql.functions._

import graft.reg.Iv

/** 2SLS against a direct driver-side matrix reference on collected data. */
class IvSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic panel with a genuine endogeneity structure: z exogenous,
  // x = z + v, y = 1 + 2x + u where u and v are correlated (via shared h)
  private def panel(n: Int) = (0 until n).map { i =>
    val z = (i % 7).toDouble
    val h = ((i * 2654435761L) % 11).toDouble / 11.0 - 0.5 // confounder
    val v = ((i * 48271) % 13).toDouble / 13.0 - 0.5
    val x = 0.8 * z + v + h
    val y = 1.0 + 2.0 * x + 1.5 * h + 0.3 * v
    val w = (i % 5).toDouble // exogenous control
    val g = s"g${i % 6}" // cluster
    (y, x, z, w, g)
  }

  private def ref2sls(
      xs: Array[Array[Double]], zs: Array[Array[Double]], ys: Array[Double]
  ): (DenseVector[Double], DenseMatrix[Double], Double) = {
    val n = ys.length
    val p = xs(0).length; val k = zs(0).length
    val ztz = DenseMatrix.zeros[Double](k, k)
    val ztx = DenseMatrix.zeros[Double](k, p)
    val zty = DenseVector.zeros[Double](k)
    val xtx = DenseMatrix.zeros[Double](p, p)
    val xty = DenseVector.zeros[Double](p)
    var syy = 0.0
    for (r <- 0 until n) {
      for (i <- 0 until k; j <- 0 until k) ztz(i, j) += zs(r)(i) * zs(r)(j)
      for (i <- 0 until k; j <- 0 until p) ztx(i, j) += zs(r)(i) * xs(r)(j)
      for (i <- 0 until k) zty(i) += zs(r)(i) * ys(r)
      for (i <- 0 until p; j <- 0 until p) xtx(i, j) += xs(r)(i) * xs(r)(j)
      for (i <- 0 until p) xty(i) += xs(r)(i) * ys(r)
      syy += ys(r) * ys(r)
    }
    val w = ztx.t * (ztz \ ztx)
    val c = ztx.t * (ztz \ zty)
    val beta = w \ c
    val rss = syy - 2.0 * (beta dot xty) + (beta dot (xtx * beta))
    (beta, inv(w) * (rss / (n - p)), rss)
  }

  test("just-identified 2SLS equals the Wald estimator and matrix reference") {
    val df = panel(700).toDF("y", "x", "z", "w", "g")
    val fit = Iv.fit("y ~ x", df, endog = Seq("x"), instruments = Seq("z"))

    val rows = df.select("y", "x", "z").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val (bref, vref, _) = ref2sls(
      rows.map(r => Array(1.0, r._2)), rows.map(r => Array(1.0, r._3)),
      rows.map(_._1))
    assert(math.abs(fit.coef("(Intercept)") - bref(0)) < 1e-9 * math.abs(bref(0)))
    assert(math.abs(fit.coef("x") - bref(1)) < 1e-10)
    assert(math.abs(fit.se("x") - math.sqrt(vref(1, 1))) < 1e-10)

    // Wald identity: b1 = Cov(z,y)/Cov(z,x)
    val n = rows.length.toDouble
    val (sy, sx, sz) = (rows.map(_._1).sum, rows.map(_._2).sum, rows.map(_._3).sum)
    val szy = rows.map(r => r._3 * r._1).sum
    val szx = rows.map(r => r._3 * r._2).sum
    val wald = (n * szy - sz * sy) / (n * szx - sz * sx)
    assert(math.abs(fit.coef("x") - wald) < 1e-9)
    // x is endogenous by construction: 2SLS must differ from OLS
    val ols = graft.reg.Dbreg.fit("y ~ x", df)
    assert(math.abs(ols.coef("x") - fit.coef("x")) > 0.01)
  }

  test("overidentified 2SLS with exogenous control matches matrix reference") {
    val df = panel(900).toDF("y", "x", "z", "w", "g")
      .withColumn("z2", col("z") * col("z"))
    val fit = Iv.fit("y ~ x + w", df, endog = Seq("x"), instruments = Seq("z", "z2"))
    val rows = df.select("y", "x", "w", "z", "z2").collect()
      .map(r => (0 until 5).map(r.getDouble).toArray)
    val (bref, vref, _) = ref2sls(
      rows.map(r => Array(1.0, r(1), r(2))),
      rows.map(r => Array(1.0, r(2), r(3), r(4))),
      rows.map(_(0)))
    for ((t, i) <- Seq("(Intercept)" -> 0, "x" -> 1, "w" -> 2)) {
      assert(math.abs(fit.coef(t) - bref(i)) < 1e-8 * math.max(1.0, math.abs(bref(i))), t)
      assert(math.abs(fit.se(t) - math.sqrt(vref(i, i))) < 1e-8, s"se $t")
    }
    assert(fit.firstStageF("x") > 10.0, "strong instrument should have large F")
    assert(fit.dfRes == rows.length - 3.0)
  }

  test("first-stage partial F matches the two-RSS formula") {
    val df = panel(500).toDF("y", "x", "z", "w", "g")
    val fit = Iv.fit("y ~ x + w", df, endog = Seq("x"), instruments = Seq("z"))
    val rows = df.select("x", "w", "z").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    def rssOf(design: Array[Array[Double]], target: Array[Double]): Double = {
      val p = design(0).length
      val a = DenseMatrix.zeros[Double](p, p); val b = DenseVector.zeros[Double](p)
      var tt = 0.0
      for (r <- design.indices) {
        for (i <- 0 until p; j <- 0 until p) a(i, j) += design(r)(i) * design(r)(j)
        for (i <- 0 until p) b(i) += design(r)(i) * target(r)
        tt += target(r) * target(r)
      }
      tt - ((a \ b) dot b)
    }
    val xcol = rows.map(_._1)
    val rss1 = rssOf(rows.map(r => Array(1.0, r._2, r._3)), xcol)
    val rss0 = rssOf(rows.map(r => Array(1.0, r._2)), xcol)
    val fRef = ((rss0 - rss1) / 1.0) / (rss1 / (rows.length - 3.0))
    assert(math.abs(fit.firstStageF("x") - fRef) < 1e-6 * fRef)
  }

  test("hc1 and cluster sandwiches match driver computation") {
    val df = panel(600).toDF("y", "x", "z", "w", "g")
    val fit = Iv.fit("y ~ x", df, endog = Seq("x"), instruments = Seq("z"))
    val hc1 = Iv.fit("y ~ x", df, endog = Seq("x"), instruments = Seq("z"), vcov = "hc1")
    val cl = Iv.fit("y ~ x", df, endog = Seq("x"), instruments = Seq("z"), vcov = "~g")
    // same point estimates, different SEs
    assert(math.abs(hc1.coef("x") - fit.coef("x")) < 1e-12)
    assert(math.abs(cl.coef("x") - fit.coef("x")) < 1e-12)

    val rows = df.select("y", "x", "z", "g").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
    val n = rows.length
    // driver reference: γ̂ from first stage, x̂ = Zγ̂, u = y − Xβ̂
    val zs = rows.map(r => Array(1.0, r._3))
    val xs = rows.map(r => Array(1.0, r._2))
    val ztz = DenseMatrix.zeros[Double](2, 2); val ztx = DenseMatrix.zeros[Double](2, 2)
    for (r <- 0 until n) {
      for (i <- 0 until 2; j <- 0 until 2) {
        ztz(i, j) += zs(r)(i) * zs(r)(j); ztx(i, j) += zs(r)(i) * xs(r)(j)
      }
    }
    val gam = ztz \ ztx
    val beta = DenseVector(fit.coef("(Intercept)"), fit.coef("x"))
    val w = ztx.t * gam
    val winv = inv(w)
    val meatH = DenseMatrix.zeros[Double](2, 2)
    val scores = scala.collection.mutable.Map[String, DenseVector[Double]]()
    for (r <- 0 until n) {
      val xh = Array(gam(0, 0) * zs(r)(0) + gam(1, 0) * zs(r)(1),
        gam(0, 1) * zs(r)(0) + gam(1, 1) * zs(r)(1))
      val u = rows(r)._1 - (beta(0) * xs(r)(0) + beta(1) * xs(r)(1))
      for (i <- 0 until 2; j <- 0 until 2) meatH(i, j) += u * u * xh(i) * xh(j)
      val s = scores.getOrElseUpdate(rows(r)._4, DenseVector.zeros[Double](2))
      for (i <- 0 until 2) s(i) += u * xh(i)
    }
    val vH = (winv * meatH * winv) * (n.toDouble / (n - 2.0))
    assert(math.abs(hc1.se("x") - math.sqrt(vH(1, 1))) < 1e-9)
    val gN = scores.size.toDouble
    val meatC = scores.values.map(s => s * s.t).reduce(_ + _)
    val vC = (winv * meatC * winv) * ((gN / (gN - 1.0)) * (n / (n - 2.0)))
    assert(math.abs(cl.se("x") - math.sqrt(vC(1, 1))) < 1e-9)
  }

  test("refusals: order condition, overlap, missing columns, OLS hint") {
    val df = panel(50).toDF("y", "x", "z", "w", "g")
    intercept[IllegalArgumentException] {
      Iv.fit("y ~ x + w", df, endog = Seq("x", "w"), instruments = Seq("z"))
    }
    intercept[IllegalArgumentException] {
      Iv.fit("y ~ x", df, endog = Seq("x"), instruments = Seq("x"))
    }
    intercept[IllegalArgumentException] {
      Iv.fit("y ~ x", df, endog = Seq("x"), instruments = Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      Iv.fit("y ~ x", df, endog = Nil, instruments = Seq("z"))
    }
  }

  test("a row with a NULL cluster is dropped like any incomplete row") {
    val cols = Seq("y", "x", "z", "w", "g")
    val df = panel(600).toDF(cols: _*)
    // shifted responses, so keeping these rows would move the fit
    val orphans = panel(60).map { case (y, x, z, w, _) => (y + 3.0, x, z, w, null: String) }
    val withNull = df.union(orphans.toDF(cols: _*))
    val got = Iv.fit("y ~ x + w", withNull, endog = Seq("x"), instruments = Seq("z"),
      vcov = "~g")
    val want = Iv.fit("y ~ x + w", df, endog = Seq("x"), instruments = Seq("z"),
      vcov = "~g")
    assert(got.nobs == want.nobs)
    for ((a, b) <- got.coeftable.zip(want.coeftable)) {
      assert(a.term == b.term)
      assert(math.abs(a.estimate - b.estimate) <= 1e-9 * math.abs(b.estimate), s"$a vs $b")
      assert(math.abs(a.stdError - b.stdError) <= 1e-9 * b.stdError, s"$a vs $b")
    }
  }
}
