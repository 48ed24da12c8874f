package graft

import org.apache.spark.sql.functions._

import graft.reg.Ridge

/** K-fold CV ridge against a direct driver-side replay: fold hashes,
  * leave-fold-out solves and held-out SSE recomputed from collected rows. */
class RidgeCvSpec extends SparkTestBase {
  import spark.implicits._

  private def md5fold(salt: String, id: String, k: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((salt + id).getBytes("UTF-8"))
    val hex = d.take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % k).toInt
  }

  test("cv matches driver-side leave-fold-out replay; refit equals path()") {
    val rows = (0 until 800).map { i =>
      val x = (i % 23).toDouble
      val y = 3.0 + 0.7 * x + ((i * 48271) % 17).toDouble - 8.0
      (s"id$i", y, x)
    }
    val df = rows.toDF("rid", "y", "x")
    val lambdas = Seq(0.0, 1.0, 10.0, 100.0, 1000.0)
    val cv = Ridge.cv("y ~ x", df, "rid", lambdas, folds = 4, salt = "s")

    // driver replay
    val byFold = rows.groupBy(r => md5fold("s", r._1, 4))
    assert(byFold.size == 4)
    val want = lambdas.map { lam =>
      byFold.toSeq.map { case (_, fr) =>
        val tr = rows.diff(fr)
        val n = tr.size.toDouble
        val sx = tr.map(_._3).sum; val sy = tr.map(_._2).sum
        val sxx = tr.map(r => r._3 * r._3).sum
        val sxy = tr.map(r => r._3 * r._2).sum
        val a = sxx - sx * sx / n; val b = sxy - sx * sy / n
        val b1 = b / (a + lam * a / n) // standardize=true, p=1
        val b0 = sy / n - b1 * sx / n
        fr.map(r => math.pow(r._2 - b0 - b1 * r._3, 2)).sum
      }.sum
    }
    cv.cvSse.zip(want).foreach { case (got, w) =>
      assert(math.abs(got - w) < 1e-6 * w, s"cv sse $got vs $w")
    }
    assert(cv.bestLambda == lambdas(want.indices.minBy(want)))
    // refit on all data at bestLambda == an ordinary path() fit
    val direct = Ridge.fit("y ~ x", df, cv.bestLambda)
    assert(math.abs(cv.fit.coef("x") - direct.coef("x")) < 1e-12)
    assert(cv.nobs == 800)
  }

  test("shrinkage ordering: heavier lambda shrinks the refit slope") {
    val df = (0 until 300).map { i =>
      (s"r$i", (i % 11).toDouble * 2.0 + 1.0, (i % 11).toDouble)
    }.toDF("rid", "y", "x")
    val cv = Ridge.cv("y ~ x", df, "rid", Seq(0.0, 1e6), folds = 3)
    // perfect linear fit: lambda=0 must win
    assert(cv.bestLambda == 0.0)
    assert(cv.cvSse(0) < cv.cvSse(1))
  }

  test("refusals: single fold, bad lambda, missing id column") {
    val df = (0 until 20).map(i => (s"r$i", i.toDouble, i.toDouble))
      .toDF("rid", "y", "x")
    intercept[IllegalArgumentException] {
      Ridge.cv("y ~ x", df, "rid", Seq(1.0), folds = 1)
    }
    intercept[IllegalArgumentException] {
      Ridge.cv("y ~ x", df, "rid", Seq(-1.0))
    }
    intercept[IllegalArgumentException] {
      Ridge.cv("y ~ x", df, "nope", Seq(1.0))
    }
  }

  test("NULL ids are dropped, not dealt a fold of their own") {
    val rows = (0 until 400).map { i =>
      val x = (i % 19).toDouble
      (s"id$i", 2.0 + 0.4 * x + ((i * 48271) % 13).toDouble - 6.0, x)
    }
    val df = rows.toDF("rid", "y", "x")
    // far-off responses: as a fold of their own they would dominate the SSE
    val orphans = (0 until 40).map(i => (null: String, 50.0 - i, (i % 19).toDouble))
    val withNull = df.union(orphans.toDF("rid", "y", "x"))
    val lambdas = Seq(0.0, 10.0, 100.0, 1000.0)
    val got = Ridge.cv("y ~ x", withNull, "rid", lambdas, folds = 4)
    val want = Ridge.cv("y ~ x", df, "rid", lambdas, folds = 4)
    assert(got.nobs == want.nobs)
    got.cvSse.zip(want.cvSse).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * b, s"cv sse $a vs $b")
    }
    assert(got.bestLambda == want.bestLambda)
  }
}
