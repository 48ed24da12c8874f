package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.functions._
import graft.reg.{Dbreg, MomentsKernel}

/** The packed moment buffer every global triangle goes through must equal
  * the moments summed on the driver over the collected rows, and a wide
  * regression routed through it must match a dense solve of those rows. */
class MomentsAggSpec extends SparkTestBase {

  private lazy val li = sf("sf0.001", "lineitem")
    .select(
      col("l_extendedprice").cast("double").as("y"),
      col("l_quantity").cast("double").as("x0"),
      col("l_discount").cast("double").as("x1"),
      col("l_tax").cast("double").as("x2"))

  private def close(a: Double, b: Double, what: String): Unit =
    assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"$what: $a vs $b")

  /** [1?, X]ᵀW[1?, X], [1?, X]ᵀWy, Σw, Σwy and Σwy² of the collected rows. */
  private def driverSums(rows: Seq[(Double, Array[Double], Double)], intercept: Boolean) = {
    val q = rows.head._2.length + (if (intercept) 1 else 0)
    val xtx = DenseMatrix.zeros[Double](q, q)
    val xty = DenseVector.zeros[Double](q)
    var n, sy, syy = 0.0
    rows.foreach { case (y, x0, w) =>
      val x = if (intercept) 1.0 +: x0 else x0
      for (i <- 0 until q) {
        xty(i) += w * x(i) * y
        for (j <- 0 until q) xtx(i, j) += w * x(i) * x(j)
      }
      n += w; sy += w * y; syy += w * y * y
    }
    (xtx, xty, n, sy, syy)
  }

  private def collected(df: org.apache.spark.sql.DataFrame, xs: Seq[String], w: Option[String]) =
    df.select((Seq("y") ++ xs ++ w).map(col(_).cast("double")): _*).collect().toSeq
      .map(r => (r.getDouble(0), Array.tabulate(xs.length)(i => r.getDouble(1 + i)),
        w.map(_ => r.getDouble(1 + xs.length)).getOrElse(1.0)))

  test("fused buffer equals column-wise sums (unweighted)") {
    val xs = Seq("x0", "x1", "x2")
    val m = MomentsKernel.compute(li, "y", xs, intercept = true)
    val rows = collected(li, xs, None)
    val (xtx, xty, n, sy, syy) = driverSums(rows, intercept = true)
    assert(m.nRows == rows.length && m.n == n)
    close(m.sumY, sy, "Σy")
    close(m.sumYSq, syy, "Σy²")
    for (i <- 0 until xtx.rows; j <- 0 until xtx.cols)
      close(m.xtx(i, j), xtx(i, j), s"xtx($i,$j)")
    for (i <- 0 until xty.length) close(m.xty(i), xty(i), s"xty($i)")
  }

  test("fused buffer equals column-wise sums (weighted)") {
    val w = li.withColumn("w", (col("x0") % 3) + 1.0)
    val xs = Seq("x0", "x1")
    val m = MomentsKernel.compute(w, "y", xs, intercept = false, weightName = Some("w"))
    val rows = collected(w, xs, Some("w"))
    val (xtx, xty, n, sy, syy) = driverSums(rows, intercept = false)
    assert(m.nRows == rows.length)
    close(m.n, n, "Σw")
    close(m.sumY, sy, "Σwy")
    close(m.sumYSq, syy, "Σwy²")
    for (i <- 0 until xtx.rows; j <- 0 until xtx.cols)
      close(m.xtx(i, j), xtx(i, j), s"xtx($i,$j)")
    for (i <- 0 until xty.length) close(m.xty(i), xty(i), s"xty($i)")
  }

  test("wide regression (p > threshold) routes through fused agg and matches dense") {
    // 30 regressors: powers/interactions of the numeric columns
    var d = li
    val names = (0 until 30).map { i =>
      val nm = s"f$i"
      d = d.withColumn(nm,
        pow(col("x0"), 1 + i % 3) * pow(col("x1") + 1.0, i % 2) + lit(i) * col("x2"))
      nm
    }
    val fml = "y ~ " + names.mkString(" + ")
    val fit = Dbreg.fit(fml, d, strategy = "moments")
    val rows = d.select((Seq("y") ++ names).map(col): _*).collect()
    assert(fit.nobsOrig == rows.length)
    // the kept terms span the design; a dense least-squares solve over
    // exactly those columns of the collected rows gives the same β
    val kept = fit.terms
    val x = DenseMatrix.tabulate(rows.length, kept.length) { (r, k) =>
      if (kept(k) == "(Intercept)") 1.0 else rows(r).getDouble(1 + names.indexOf(kept(k)))
    }
    val y = DenseVector.tabulate(rows.length)(r => rows(r).getDouble(0))
    val beta = x \ y
    kept.indices.foreach { k =>
      val b = fit.coef(kept(k))
      assert(math.abs(b - beta(k)) <= 1e-6 * math.max(1.0, math.abs(beta(k))),
        s"${kept(k)}: $b vs ${beta(k)}")
    }
    assert(fit.rss > 0 && fit.r2 >= 0 && fit.r2 <= 1.0)
  }
}
