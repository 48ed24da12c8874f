package graft

import org.apache.spark.sql.functions._
import graft.reg.Dbreg

/** Prediction tests (mirror of the reference's test_sim.R:122-183 coverage):
  * in-sample predictions reproduce ŷ = Xβ̂ (+ FE effects), CI/PI sanity. */
class PredictSpec extends SparkTestBase {

  private lazy val df = spark.createDataFrame(DensePanel.rows)

  test("moments predictions equal driver-computed Xb, CIs bracket, PIs wider") {
    val fit = Dbreg.fit("y ~ x1 + x2", df, strategy = "moments")
    val b = fit.coef
    val pred = fit.predict(df, interval = "prediction").select("x1", "x2", "fit", "se", "lwr", "upr")
    val ci = fit.predict(df, interval = "confidence").select("x1", "x2", "se")
    val rows = pred.collect()
    rows.foreach { r =>
      val expect = b("(Intercept)") + b("x1") * r.getDouble(0) + b("x2") * r.getDouble(1)
      assert(math.abs(r.getDouble(2) - expect) < 1e-10, s"fit mismatch: $r")
      assert(r.getDouble(4) < r.getDouble(2) && r.getDouble(2) < r.getDouble(5))
    }
    // prediction intervals strictly wider than confidence intervals
    val pSe = rows.map(_.getDouble(3)).sum / rows.length
    val cSe = ci.collect().map(_.getDouble(2)).sum / rows.length
    assert(pSe > cSe)
  }

  test("compress predictions equal moments predictions") {
    val m = Dbreg.fit("y ~ x1", df, strategy = "moments")
    val c = Dbreg.fit("y ~ x1", df, strategy = "compress")
    val pm = m.predict(df).select("fit").collect().map(_.getDouble(0)).sorted
    val pc = c.predict(df).select("fit").collect().map(_.getDouble(0)).sorted
    pm.zip(pc).foreach { case (a, bb) => assert(math.abs(a - bb) < 1e-8) }
  }

  test("demean predictions re-add FE effects (match dense LSDV fitted values)") {
    val fit = Dbreg.fit("y ~ x1 + x2 | unit", df, strategy = "demean")
    // dense LSDV fitted values
    val units = DensePanel.rows.map(_.unit).distinct.sorted
    val dums = units.tail.map(u => (r: PanelRow) => if (r.unit == u) 1.0 else 0.0)
    val fns = Seq((_: PanelRow) => 1.0, (r: PanelRow) => r.x1, (r: PanelRow) => r.x2) ++ dums
    val n = DensePanel.rows.length
    val x = breeze.linalg.DenseMatrix.tabulate(n, fns.length)((i, j) => fns(j)(DensePanel.rows(i)))
    val y = breeze.linalg.DenseVector(DensePanel.rows.map(_.y).toArray)
    val beta = breeze.linalg.inv(x.t * x) * (x.t * y)
    val fitted = (x * beta).toArray
    val preds = fit.predict(df).select(col("unit"), col("time"), col("fit")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    DensePanel.rows.zipWithIndex.foreach { case (r, i) =>
      val p = preds((r.unit, r.time))
      assert(math.abs(p - fitted(i)) < 1e-6, s"row $i: $p vs ${fitted(i)}")
    }
  }

  test("2-FE demean predictions match dense TWFE fitted values") {
    val fit = Dbreg.fit("y ~ x1 + x2 | unit + time", df, strategy = "demean")
    val units = DensePanel.rows.map(_.unit).distinct.sorted
    val times = DensePanel.rows.map(_.time).distinct.sorted
    val du = units.tail.map(u => (r: PanelRow) => if (r.unit == u) 1.0 else 0.0)
    val dt = times.tail.map(t => (r: PanelRow) => if (r.time == t) 1.0 else 0.0)
    val fns = Seq((_: PanelRow) => 1.0, (r: PanelRow) => r.x1, (r: PanelRow) => r.x2) ++ du ++ dt
    val n = DensePanel.rows.length
    val x = breeze.linalg.DenseMatrix.tabulate(n, fns.length)((i, j) => fns(j)(DensePanel.rows(i)))
    val y = breeze.linalg.DenseVector(DensePanel.rows.map(_.y).toArray)
    val beta = breeze.linalg.inv(x.t * x) * (x.t * y)
    val fitted = (x * beta).toArray
    val preds = fit.predict(df)
      .select(col("unit"), col("time"), col("fit")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    DensePanel.rows.zipWithIndex.foreach { case (r, i) =>
      val p = preds((r.unit, r.time))
      assert(math.abs(p - fitted(i)) < 1e-6, s"row $i: $p vs ${fitted(i)}")
    }
  }

  test("mundlak predictions include group-mean terms") {
    val fit = Dbreg.fit("y ~ x1 + x2 | unit", df, strategy = "mundlak")
    val preds = fit.predict(df).select("fit").collect().map(_.getDouble(0))
    assert(preds.length == DensePanel.rows.length)
    assert(preds.forall(p => !p.isNaN && math.abs(p) < 100))
  }

  test("demean and mundlak predictors on ≤64-level FEs plan no join and no training scan") {
    // the FE intercepts and group means come from the fit's collected mean
    // rows as literals: predicting never re-reads the training data
    val dir = java.nio.file.Files.createTempDirectory("graft-predict").toString
    try {
      df.write.mode("overwrite").parquet(dir)
      val train = spark.read.parquet(dir)
      val newdata = spark.createDataFrame(DensePanel.rows.take(7))
      Seq("y ~ x1 + x2 | unit" -> "demean", "y ~ x1 + x2 | unit + time" -> "demean",
          "y ~ x1 + x2 | unit + time" -> "mundlak").foreach { case (formula, strategy) =>
        val fit = Dbreg.fit(formula, train, strategy = strategy)
        val plan = fit.predict(newdata).queryExecution.executedPlan
        assert(PlanStats.planStats(plan).joinCount == 0, s"$strategy $formula: $plan")
        assert(PlanStats.fileScans(plan).isEmpty, s"$strategy $formula: $plan")
        // same predictions as on the training frame
        val onNew = fit.predict(newdata).select("unit", "time", "fit").collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
        val onTrain = fit.predict(train).select("unit", "time", "fit").collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
        onNew.foreach { case (k, v) => assert(math.abs(v - onTrain(k)) < 1e-12, s"$k") }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("demean intervals downgrade to point predictions (reference parity)") {
    val fit = Dbreg.fit("y ~ x1 | unit", df, strategy = "demean")
    val out = fit.predict(df, interval = "confidence")
    assert(!out.columns.contains("lwr")) // downgraded
    assert(out.columns.contains("fit"))
  }
}
