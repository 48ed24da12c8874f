package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.functions._

import graft.reg.{Dbreg, Glm}

/** GLM/IRLS correctness: every fit is checked against an independent
  * driver-side IRLS on the collected rows (plain breeze arithmetic, no
  * shared code with the engine's aggregation path).
  */
class GlmSpec extends SparkTestBase {
  import spark.implicits._

  /** Reference IRLS on local data: exactly maxIter Newton steps from β=0
    * (tol=0 semantics), returning (β, se) at the last solve. */
  private def refIrls(
      xs: Array[Array[Double]], // rows × p (including intercept column)
      ys: Array[Double],
      ws: Array[Double],
      family: String,
      iters: Int,
      theta: Double = 1.0
  ): (DenseVector[Double], DenseVector[Double]) = {
    val n = xs.length
    val p = xs.head.length
    var beta = DenseVector.zeros[Double](p)
    var inv: DenseMatrix[Double] = null
    for (_ <- 1 to iters) {
      val xtx = DenseMatrix.zeros[Double](p, p)
      val xty = DenseVector.zeros[Double](p)
      for (r <- 0 until n) {
        val eta = (0 until p).map(j => xs(r)(j) * beta(j)).sum
        val (w2, z) = family match {
          case "binomial" =>
            val mu = 1.0 / (1.0 + math.exp(-eta))
            val wr = mu * (1.0 - mu)
            (ws(r) * wr, eta + (ys(r) - mu) / wr)
          case "poisson" =>
            val mu = math.exp(eta)
            (ws(r) * mu, eta + (ys(r) - mu) / mu)
          case "gamma" =>
            val mu = math.exp(eta)
            (ws(r), eta + (ys(r) - mu) / mu)
          case "negbin" =>
            val mu = math.exp(eta)
            (ws(r) * mu * theta / (mu + theta), eta + (ys(r) - mu) / mu)
          case "gaussian" => (ws(r), ys(r))
        }
        for (i <- 0 until p; j <- 0 until p) xtx(i, j) += w2 * xs(r)(i) * xs(r)(j)
        for (i <- 0 until p) xty(i) += w2 * xs(r)(i) * z
      }
      inv = breeze.linalg.inv(xtx)
      beta = inv * xty
    }
    (beta, DenseVector.tabulate(p)(j => math.sqrt(inv(j, j))))
  }

  /** Deterministic synthetic logistic panel. */
  private def logitData(n: Int) = {
    (0 until n).map { i =>
      val x1 = (i % 17) / 8.0 - 1.0
      val x2 = (i % 5).toDouble
      val eta = -0.5 + 1.2 * x1 - 0.3 * x2
      val mu = 1.0 / (1.0 + math.exp(-eta))
      // deterministic "draw": hash-based uniform
      val u = ((i * 2654435761L) & 0xffffffffL).toDouble / 4294967296.0
      val y = if (u < mu) 1.0 else 0.0
      (y, x1, x2)
    }.toDF("y", "x1", "x2")
  }

  test("binomial IRLS matches driver-side reference (fixed iterations)") {
    val df = logitData(800)
    val fit = Glm.fit("y ~ x1 + x2", df, family = "binomial",
      strategy = "irls", maxIter = 6, tol = 0.0)
    val rows = df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val (bref, seref) = refIrls(
      rows.map(r => Array(1.0, r._2, r._3)), rows.map(_._1),
      Array.fill(rows.length)(1.0), "binomial", 6)
    val terms = Seq("(Intercept)", "x1", "x2")
    for ((t, j) <- terms.zipWithIndex) {
      assert(math.abs(fit.coef(t) - bref(j)) < 1e-8, s"$t estimate")
      assert(math.abs(fit.se(t) - seref(j)) < 1e-8, s"$t se")
    }
    assert(fit.nobs === 800.0)
    assert(!fit.converged && fit.iterations === 6)
  }

  test("compress strategy reproduces row-level iterates exactly") {
    val df = logitData(2000) // x-design has 17*5 distinct tuples -> compresses
    val a = Glm.fit("y ~ x1 + x2", df, family = "binomial",
      strategy = "irls", maxIter = 8, tol = 0.0)
    val b = Glm.fit("y ~ x1 + x2", df, family = "binomial",
      strategy = "compress", maxIter = 8, tol = 0.0)
    for (t <- a.terms) {
      assert(math.abs(a.coef(t) - b.coef(t)) < 1e-9, s"$t estimate")
      assert(math.abs(a.se(t) - b.se(t)) < 1e-9, s"$t se")
    }
    assert(math.abs(a.deviance - b.deviance) < 1e-7)
    assert(math.abs(a.nullDeviance - b.nullDeviance) < 1e-7)
    assert(b.nCells === 85L)
    // auto should pick compress here (85 cells / 2000 rows)
    val c = Glm.fit("y ~ x1 + x2", df, family = "binomial", maxIter = 8, tol = 0.0)
    assert(c.strategy === "compress")
  }

  test("poisson IRLS matches reference; deviance is cell-exact") {
    val df = (0 until 600).map { i =>
      val x = (i % 9) / 4.0
      val y = ((i * 48271) % 7).toDouble // deterministic counts 0..6
      (y, x)
    }.toDF("y", "x")
    val a = Glm.fit("y ~ x", df, family = "poisson",
      strategy = "irls", maxIter = 6, tol = 0.0)
    val b = Glm.fit("y ~ x", df, family = "poisson",
      strategy = "compress", maxIter = 6, tol = 0.0)
    val rows = df.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val (bref, seref) = refIrls(rows.map(r => Array(1.0, r._2)), rows.map(_._1),
      Array.fill(rows.length)(1.0), "poisson", 6)
    assert(math.abs(a.coef("(Intercept)") - bref(0)) < 1e-8)
    assert(math.abs(a.coef("x") - bref(1)) < 1e-8)
    assert(math.abs(a.se("x") - seref(1)) < 1e-8)
    assert(math.abs(a.deviance - b.deviance) < 1e-7, "compress deviance drifted")
    assert(math.abs(a.coef("x") - b.coef("x")) < 1e-9)
  }

  test("gamma IRLS matches reference; compress is exact; refuses y <= 0") {
    val df = (0 until 600).map { i =>
      val x = (i % 9) / 4.0
      val y = 0.5 + ((i * 48271) % 7).toDouble // strictly positive skewed
      (y, x)
    }.toDF("y", "x")
    val a = Glm.fit("y ~ x", df, family = "gamma",
      strategy = "irls", maxIter = 6, tol = 0.0)
    val b = Glm.fit("y ~ x", df, family = "gamma",
      strategy = "compress", maxIter = 6, tol = 0.0)
    val rows = df.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val (bref, seref) = refIrls(rows.map(r => Array(1.0, r._2)), rows.map(_._1),
      Array.fill(rows.length)(1.0), "gamma", 6)
    assert(math.abs(a.coef("(Intercept)") - bref(0)) < 1e-8)
    assert(math.abs(a.coef("x") - bref(1)) < 1e-8)
    assert(math.abs(a.se("x") - seref(1)) < 1e-8)
    assert(math.abs(a.coef("x") - b.coef("x")) < 1e-9)
    assert(math.abs(a.deviance - b.deviance) < 1e-7, "compress deviance drifted")
    // deviance against the direct formula at the reported β
    val dev = rows.map { case (y, x) =>
      val mu = math.exp(a.coef("(Intercept)") + a.coef("x") * x)
      2.0 * (-math.log(y / mu) + (y - mu) / mu)
    }.sum
    assert(math.abs(a.deviance - dev) < 1e-6 * dev)
    // intercept-only: μ̂ = ȳ and deviance = null deviance
    val io = Glm.fit("y ~ 0 + one", df.withColumn("one", lit(1.0)), family = "gamma",
      strategy = "irls", maxIter = 12, tol = 1e-12)
    val ybar = rows.map(_._1).sum / rows.length
    assert(math.abs(io.coef("one") - math.log(ybar)) < 1e-8)
    assert(math.abs(io.deviance - io.nullDeviance) < 1e-8)
    val bad = intercept[IllegalArgumentException] {
      Glm.fit("y ~ x", df.withColumn("y", col("y") - lit(1.0)),
        family = "gamma", strategy = "irls")
    }
    assert(bad.getMessage.contains("positive"))
  }

  test("negbin IRLS matches reference; compress exact; big theta approaches poisson") {
    val df = (0 until 600).map { i =>
      val x = (i % 9) / 4.0
      val y = ((i * 48271) % 7).toDouble // deterministic counts 0..6
      (y, x)
    }.toDF("y", "x")
    val a = Glm.fit("y ~ x", df, family = "negbin", theta = 2.0,
      strategy = "irls", maxIter = 6, tol = 0.0)
    val b = Glm.fit("y ~ x", df, family = "negbin", theta = 2.0,
      strategy = "compress", maxIter = 6, tol = 0.0)
    val rows = df.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val (bref, seref) = refIrls(rows.map(r => Array(1.0, r._2)), rows.map(_._1),
      Array.fill(rows.length)(1.0), "negbin", 6, theta = 2.0)
    assert(math.abs(a.coef("(Intercept)") - bref(0)) < 1e-8)
    assert(math.abs(a.coef("x") - bref(1)) < 1e-8)
    assert(math.abs(a.se("x") - seref(1)) < 1e-8)
    assert(math.abs(a.coef("x") - b.coef("x")) < 1e-9)
    assert(math.abs(a.deviance - b.deviance) < 1e-7, "compress deviance drifted")
    // deviance against the direct NB2 formula at the reported β
    val th = 2.0
    val dev = rows.map { case (y, x) =>
      val mu = math.exp(a.coef("(Intercept)") + a.coef("x") * x)
      val t1 = if (y > 0.0) y * math.log(y / mu) else 0.0
      2.0 * (t1 - (y + th) * math.log((y + th) / (mu + th)))
    }.sum
    assert(math.abs(a.deviance - dev) < 1e-6 * math.abs(dev))
    // V(μ) = μ + μ²/θ → μ as θ → ∞: coefficients approach the Poisson fit
    val nbBig = Glm.fit("y ~ x", df, family = "negbin", theta = 1e8,
      strategy = "irls", maxIter = 6, tol = 0.0)
    val pois = Glm.fit("y ~ x", df, family = "poisson",
      strategy = "irls", maxIter = 6, tol = 0.0)
    assert(math.abs(nbBig.coef("x") - pois.coef("x")) < 1e-6)
    assert(math.abs(nbBig.coef("(Intercept)") - pois.coef("(Intercept)")) < 1e-6)
    // refusals: negative response, nonpositive theta
    val bad = intercept[IllegalArgumentException] {
      Glm.fit("y ~ x", df.withColumn("y", col("y") - lit(10.0)),
        family = "negbin", strategy = "irls")
    }
    assert(bad.getMessage.contains("nonnegative"))
    val badTheta = intercept[IllegalArgumentException] {
      Glm.fit("y ~ x", df, family = "negbin", theta = 0.0)
    }
    assert(badTheta.getMessage.contains("theta"))
    // grouped negbin equals per-group solo fits
    val gdf = df.withColumn("dom", when(col("x") < 1.0, "lo").otherwise("hi"))
    val grouped = Glm.fitGrouped("y ~ x", gdf, "dom", family = "negbin",
      theta = 2.0, strategy = "irls", maxIter = 6)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    for (g <- Seq("lo", "hi")) {
      val solo = Glm.fit("y ~ x", gdf.filter(col("dom") === g),
        family = "negbin", theta = 2.0, strategy = "irls", maxIter = 6, tol = 0.0)
      for (t <- Seq("(Intercept)", "x"))
        assert(math.abs(grouped((g, t)) - solo.coef(t)) < 1e-8, s"$g/$t grouped")
    }
  }

  test("poisson intercept-only recovers log(mean); null deviance = deviance") {
    val df = (0 until 200).map(i => ((i % 4).toDouble, 1.0)).toDF("y", "one")
    val fit = Glm.fit("y ~ 0 + one", df, family = "poisson", strategy = "irls",
      maxIter = 10, tol = 1e-12)
    assert(math.abs(fit.coef("one") - math.log(1.5)) < 1e-8)
    assert(math.abs(fit.deviance - fit.nullDeviance) < 1e-8)
    assert(fit.converged)
  }

  test("gaussian family equals OLS") {
    val df = logitData(500).withColumn("yc", col("y") * 2.0 + col("x1"))
    val glm = Glm.fit("yc ~ x1 + x2", df, family = "gaussian",
      strategy = "irls", maxIter = 3, tol = 0.0)
    val ols = Dbreg.fit("yc ~ x1 + x2", df, strategy = "moments")
    for (t <- Seq("(Intercept)", "x1", "x2"))
      assert(math.abs(glm.coef(t) - ols.coef(t)) < 1e-9, s"$t")
    // compress cells carry Σw·y², so the deviances keep the within-cell sum
    val comp = Glm.fit("yc ~ x1 + x2", df, family = "gaussian",
      strategy = "compress", maxIter = 3, tol = 0.0)
    assert(math.abs(comp.deviance - glm.deviance) < 1e-9 * glm.deviance,
      s"${comp.deviance} vs ${glm.deviance}")
    assert(math.abs(comp.nullDeviance - glm.nullDeviance) < 1e-9 * glm.nullDeviance,
      s"${comp.nullDeviance} vs ${glm.nullDeviance}")
  }

  test("prior weights equal row duplication") {
    val base = logitData(300)
    val doubled = base.union(base)
    val weighted = base.withColumn("w", lit(2.0))
    val a = Glm.fit("y ~ x1 + x2", doubled, family = "binomial",
      strategy = "irls", maxIter = 5, tol = 0.0)
    val b = Glm.fit("y ~ x1 + x2", weighted, family = "binomial",
      strategy = "irls", maxIter = 5, tol = 0.0, weights = Some("w"))
    for (t <- a.terms) {
      assert(math.abs(a.coef(t) - b.coef(t)) < 1e-9)
      assert(math.abs(a.se(t) - b.se(t)) < 1e-9)
    }
    assert(b.nobs === 600.0)
  }

  test("collinear column is dropped and reported") {
    val df = logitData(400).withColumn("x1dup", col("x1") * 2.0)
    val fit = Glm.fit("y ~ x1 + x1dup + x2", df, family = "binomial",
      strategy = "irls", maxIter = 5, tol = 0.0)
    assert(fit.collinDropped.nonEmpty)
    assert(fit.terms.size === 3) // intercept + one of the x1s + x2
    val clean = Glm.fit("y ~ x1 + x2", logitData(400), family = "binomial",
      strategy = "irls", maxIter = 5, tol = 0.0)
    assert(math.abs(fit.coef("x2") - clean.coef("x2")) < 1e-8)
  }

  test("convergence by deviance; factor expansion; predictResponse") {
    val df = logitData(900)
      .withColumn("grp", when(col("x2") < 2.0, "a").otherwise("b"))
    val fit = Glm.fit("y ~ x1 + grp", df, family = "binomial",
      strategy = "irls", maxIter = 25, tol = 1e-10)
    assert(fit.converged && fit.iterations < 25)
    assert(fit.terms.contains("grpb")) // ref level 'a' dropped
    val scored = fit.predictResponse(df, "mu")
    val mm = scored.agg(min("mu"), max("mu")).collect()(0)
    assert(mm.getDouble(0) > 0.0 && mm.getDouble(1) < 1.0)
    // mean(mu) == mean(y) at the MLE with intercept (score equation)
    val agg = scored.agg(avg("mu"), avg("y")).collect()(0)
    assert(math.abs(agg.getDouble(0) - agg.getDouble(1)) < 1e-6)
  }

  test("separation is bounded: hits maxIter without diverging to NaN") {
    val df = (0 until 100).map { i =>
      val x = i.toDouble / 50.0 - 1.0
      (if (x > 0) 1.0 else 0.0, x)
    }.toDF("y", "x")
    val fit = Glm.fit("y ~ x", df, family = "binomial",
      strategy = "irls", maxIter = 8, tol = 0.0)
    assert(!fit.converged)
    assert(!fit.coef("x").isNaN && !fit.deviance.isNaN)
  }

  test("offset: constant log-exposure shifts the intercept exactly") {
    val df = (0 until 600).map { i =>
      val x = (i % 9) / 4.0
      val y = ((i * 48271) % 7).toDouble
      (y, x, math.log(2.5))
    }.toDF("y", "x", "lexp")
    val base = Glm.fit("y ~ x", df, family = "poisson", strategy = "irls",
      maxIter = 25, tol = 1e-13)
    val off = Glm.fit("y ~ x", df, family = "poisson", strategy = "irls",
      maxIter = 25, tol = 1e-13, offset = Some("lexp"))
    // at the MLE: E[y] = exp(b0 + b1 x + ln E) -> intercept absorbs -ln E
    assert(math.abs(off.coef("(Intercept)") - (base.coef("(Intercept)") - math.log(2.5))) < 1e-7)
    assert(math.abs(off.coef("x") - base.coef("x")) < 1e-7)
    assert(off.nullDeviance.isNaN) // documented: no offset-only null model
    // zero offset is the identity, iterate-for-iterate
    val zero = Glm.fit("y ~ x", df.withColumn("z0", lit(0.0)), family = "poisson",
      strategy = "irls", maxIter = 6, tol = 0.0, offset = Some("z0"))
    val plain = Glm.fit("y ~ x", df, family = "poisson",
      strategy = "irls", maxIter = 6, tol = 0.0)
    assert(math.abs(zero.coef("x") - plain.coef("x")) < 1e-12)
    // compress keys the offset into the cells: identical iterates
    val offC = Glm.fit("y ~ x", df, family = "poisson", strategy = "compress",
      maxIter = 25, tol = 1e-13, offset = Some("lexp"))
    assert(math.abs(offC.coef("x") - off.coef("x")) < 1e-9)
    assert(math.abs(offC.coef("(Intercept)") - off.coef("(Intercept)")) < 1e-9)
  }

  test("grouped GLM equals per-group fits, compress equals irls") {
    val df = logitData(1200)
      .withColumn("dom", when(col("x2") < 2.0, "a")
        .when(col("x2") < 4.0, "b").otherwise("c"))
      .withColumn("cnt", col("y") + col("x2"))
      .withColumn("pos", lit(0.5) + col("y") + col("x2") * 0.25)
    // every family, plus the intercept-free gaussian whose null deviance
    // is Σw·y² rather than the centred sum
    val cases = Seq("binomial" -> "y ~ x1", "poisson" -> "cnt ~ x1",
      "gamma" -> "pos ~ x1", "gaussian" -> "pos ~ x1", "gaussian" -> "pos ~ 0 + x1",
      "negbin" -> "cnt ~ x1")
    for ((family, formula) <- cases) {
      def grouped(strategy: String, maxIter: Int) =
        Glm.fitGrouped(formula, df, "dom", family = family, strategy = strategy,
          maxIter = maxIter)
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            (r.getDouble(2), r.getDouble(3), r.getDouble(6))).toMap
      val irls = grouped("irls", 6)
      for (g <- Seq("a", "b", "c")) {
        val solo = Glm.fit(formula, df.filter(col("dom") === g),
          family = family, strategy = "irls", maxIter = 6, tol = 0.0)
        for (t <- solo.terms) {
          val (est, se, _) = irls((g, t))
          assert(math.abs(est - solo.coef(t)) < 1e-8, s"$family $formula $g/$t estimate")
          assert(math.abs(se - solo.se(t)) < 1e-8, s"$family $formula $g/$t se")
        }
      }
      val comp = grouped("compress", 6)
      irls.foreach { case (k, (est, _, pr2)) =>
        assert(math.abs(comp(k)._1 - est) < 1e-9, s"$family $formula $k compress drift")
        assert(math.abs(comp(k)._3 - pr2) < 1e-9, s"$family $formula $k compress pseudo_r2")
      }
      // per-group pseudo-R2 tracks the solo fits (deviance is at the
      // penultimate beta — equal to solver precision once stabilized)
      val pr2 = grouped("irls", 12).map { case ((g, _), (_, _, r2)) => g -> r2 }
      for (g <- Seq("a", "b", "c")) {
        val solo = Glm.fit(formula, df.filter(col("dom") === g),
          family = family, strategy = "irls", maxIter = 12, tol = 0.0)
        assert(math.abs(pr2(g) - solo.pseudoR2) < 1e-6, s"$family $formula $g pseudo_r2")
      }
    }
    // auto picks compress here (x1 has 17 distinct values per group)
    val auto = Glm.fitGrouped("y ~ x1", df, "dom", maxIter = 6)
    assert(auto.count() === 6L)
  }

  test("grouped poisson: per-group log-mean with intercept-only design") {
    val df = (0 until 300).map { i =>
      val g = if (i % 2 == 0) "even" else "odd"
      val y = if (i % 2 == 0) (i % 3).toDouble else (i % 5).toDouble
      (g, y, 1.0)
    }.toDF("dom", "y", "one")
    val out = Glm.fitGrouped("y ~ 0 + one", df, "dom", family = "poisson",
      strategy = "irls", maxIter = 12)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(out("even") - math.log(1.0)) < 1e-9) // mean of 0,1,2
    assert(math.abs(out("odd") - math.log(2.0)) < 1e-9) // mean of 0..4
  }

  test("predictLink: delta-method SEs match driver x'Vx; bands bracket mu") {
    val df = logitData(500)
    val fit = Glm.fit("y ~ x1 + x2", df, family = "binomial",
      strategy = "irls", maxIter = 8, tol = 0.0)
    val out = fit.predictLink(df.limit(50)).select("x1", "x2", "eta", "se_eta",
      "mu", "mu_lwr", "mu_upr").collect()
    val beta = Array("(Intercept)", "x1", "x2").map(fit.coef)
    val v = fit.vcov
    out.foreach { r =>
      val x = Array(1.0, r.getDouble(0), r.getDouble(1))
      val eta = (0 until 3).map(j => x(j) * beta(j)).sum
      var s2 = 0.0
      for (i <- 0 until 3; j <- 0 until 3) s2 += x(i) * v(i, j) * x(j)
      assert(math.abs(r.getDouble(2) - eta) < 1e-10)
      assert(math.abs(r.getDouble(3) - math.sqrt(s2)) < 1e-10)
      assert(r.getDouble(5) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(6))
    }
    // with a sandwich vcov the band uses the ROBUST V
    val cl = Glm.fit("y ~ x1 + x2", df.withColumn("c", col("x2")),
      family = "binomial", strategy = "irls", maxIter = 8, tol = 0.0, vcov = "~c")
    val seIid = out.head.getDouble(3)
    val seCl = cl.predictLink(df.limit(1)).select("se_eta").collect()(0).getDouble(0)
    assert(math.abs(seIid - seCl) > 1e-12) // different V, different band
  }

  test("robust SEs: hc1 and cluster sandwiches match driver computation") {
    val df = logitData(600)
      .withColumn("cl", (col("x2") * 10.0).cast("long") % 7)
    val iters = 7
    val iid = Glm.fit("y ~ x1 + x2", df, family = "binomial",
      strategy = "irls", maxIter = iters, tol = 0.0)
    val hc1 = Glm.fit("y ~ x1 + x2", df, family = "binomial",
      strategy = "irls", maxIter = iters, tol = 0.0, vcov = "hc1")
    val cl = Glm.fit("y ~ x1 + x2", df, family = "binomial",
      strategy = "irls", maxIter = iters, tol = 0.0, vcov = "~cl")
    // estimates never move, only the SEs
    for (t <- iid.terms) {
      assert(math.abs(iid.coef(t) - hc1.coef(t)) < 1e-12)
      assert(math.abs(iid.coef(t) - cl.coef(t)) < 1e-12)
    }
    // driver-side sandwich at the engine's beta
    val rows = df.select("y", "x1", "x2", "cl").collect()
      .map(r => (r.getDouble(0), Array(1.0, r.getDouble(1), r.getDouble(2)), r.getLong(3)))
    val beta = Array("(Intercept)", "x1", "x2").map(iid.coef)
    val p = 3; val n = rows.length.toDouble
    val a = DenseMatrix.zeros[Double](p, p)
    val mHc = DenseMatrix.zeros[Double](p, p)
    val sG = scala.collection.mutable.Map.empty[Long, DenseVector[Double]]
    rows.foreach { case (y, x, c) =>
      val eta = (0 until p).map(j => x(j) * beta(j)).sum
      val mu = 1.0 / (1.0 + math.exp(-eta))
      val w = mu * (1.0 - mu); val u = y - mu
      for (i <- 0 until p; j <- 0 until p) {
        a(i, j) += w * x(i) * x(j)
        mHc(i, j) += u * u * x(i) * x(j)
      }
      val s = sG.getOrElseUpdate(c, DenseVector.zeros[Double](p))
      for (i <- 0 until p) s(i) += u * x(i)
    }
    val inv = breeze.linalg.inv(a)
    val vHc = (inv * mHc * inv) * (n / (n - p))
    val g = sG.size.toDouble
    val mCl = sG.values.map(s => s * s.t).reduce(_ + _)
    val vCl = (inv * mCl * inv) * ((g / (g - 1.0)) * (n / (n - p)))
    for ((t, j) <- Seq("(Intercept)", "x1", "x2").zipWithIndex) {
      assert(math.abs(hc1.se(t) - math.sqrt(vHc(j, j))) < 1e-8, s"hc1 $t")
      assert(math.abs(cl.se(t) - math.sqrt(vCl(j, j))) < 1e-8, s"cluster $t")
    }
    // robust SEs compose with the compress fit (meat is row-level either way)
    val clC = Glm.fit("y ~ x1 + x2", df, family = "binomial",
      strategy = "compress", maxIter = iters, tol = 0.0, vcov = "~cl")
    for (t <- cl.terms) assert(math.abs(cl.se(t) - clC.se(t)) < 1e-9, s"compress $t")
    // frequency-weight semantics: weight 2 == the row appearing twice, for
    // BOTH sandwiches (hc1 meat scales by w, cluster scores sum w·r·x)
    val doubled = df.union(df)
    val weighted = df.withColumn("w", lit(2.0))
    for (vc <- Seq("hc1", "~cl")) {
      val a = Glm.fit("y ~ x1 + x2", doubled, family = "binomial",
        strategy = "irls", maxIter = iters, tol = 0.0, vcov = vc)
      val b = Glm.fit("y ~ x1 + x2", weighted, family = "binomial",
        strategy = "irls", maxIter = iters, tol = 0.0, vcov = vc,
        weights = Some("w"))
      for (t <- a.terms)
        assert(math.abs(a.se(t) - b.se(t)) < 1e-9, s"$vc $t weighted se")
    }
  }

  test("fuzz: engine matches driver-side IRLS across random designs/families") {
    for (seed <- Seq(11, 42, 77)) {
      val rng = new scala.util.Random(seed)
      val n = 300 + rng.nextInt(300)
      val b0 = rng.nextGaussian() * 0.5
      val b1 = rng.nextGaussian() * 0.8
      val fam = Seq("binomial", "poisson")(rng.nextInt(2))
      val rows = (0 until n).map { _ =>
        val x = rng.nextGaussian()
        val eta = b0 + b1 * x
        val y = fam match {
          case "binomial" => if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) 1.0 else 0.0
          case "poisson" =>
            // crude but deterministic-enough Poisson draw: count uniform
            // arrivals below the rate's CDF via inversion on a grid
            val mu = math.exp(eta)
            var k = 0; var p = math.exp(-mu); var cdf = p; val u = rng.nextDouble()
            while (cdf < u && k < 50) { k += 1; p *= mu / k; cdf += p }
            k.toDouble
        }
        (y, x)
      }
      val df = rows.toDF("y", "x")
      val iters = 5 + rng.nextInt(3)
      val fit = Glm.fit("y ~ x", df, family = fam, strategy = "irls",
        maxIter = iters, tol = 0.0)
      val (bref, seref) = refIrls(rows.map(r => Array(1.0, r._2)).toArray,
        rows.map(_._1).toArray, Array.fill(n)(1.0), fam, iters)
      assert(math.abs(fit.coef("(Intercept)") - bref(0)) < 1e-7, s"seed=$seed $fam b0")
      assert(math.abs(fit.coef("x") - bref(1)) < 1e-7, s"seed=$seed $fam b1")
      assert(math.abs(fit.se("x") - seref(1)) < 1e-7, s"seed=$seed $fam se")
    }
  }

  test("wide design (p > 24) routes through the fused moments aggregate") {
    // 26 regressors + intercept: the IRLS weight column rides through
    // MomentsAgg's one-buffer triangle, well past the 100-field codegen cap
    val rng = new scala.util.Random(5)
    val p = 26
    val rows = (0 until 400).map { _ =>
      val x = Array.fill(p)(rng.nextGaussian())
      val eta = -0.3 + x.take(3).sum * 0.5
      val y = if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) 1.0 else 0.0
      (y, x.toSeq)
    }
    val df = rows.toDF("y", "xs")
      .select(col("y") +: (0 until p).map(i => element_at(col("xs"), i + 1).as(s"x$i")): _*)
    val formula = "y ~ " + (0 until p).map(i => s"x$i").mkString(" + ")
    val fit = Glm.fit(formula, df, family = "binomial", strategy = "irls",
      maxIter = 5, tol = 0.0)
    val (bref, seref) = refIrls(
      rows.map(r => 1.0 +: r._2.toArray).toArray, rows.map(_._1).toArray,
      Array.fill(rows.length)(1.0), "binomial", 5)
    assert(math.abs(fit.coef("(Intercept)") - bref(0)) < 1e-7)
    for (i <- 0 until p)
      assert(math.abs(fit.coef(s"x$i") - bref(i + 1)) < 1e-7, s"x$i")
    assert(math.abs(fit.se("x0") - seref(1)) < 1e-7)
  }

  test("refusals: fixed effects and unknown family") {
    val df = logitData(50)
    intercept[IllegalArgumentException] {
      Glm.fit("y ~ x1 | x2", df)
    }
    intercept[IllegalArgumentException] {
      Glm.fit("y ~ x1", df, family = "gamma")
    }
  }
}
