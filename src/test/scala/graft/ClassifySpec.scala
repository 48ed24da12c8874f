package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Classify

/** Naive Bayes correctness against hand-computed Laplace-smoothed
  * posteriors (the GlmSpec pattern: independent driver arithmetic, no
  * shared code with the engine path).
  *
  * Reference corpus (α = 1): label x holds "a a b" and "a b"
  * (counts a:3, b:2, tot 5), label y holds "b b" (b:2, tot 2),
  * vocabulary V = {a, b} ⇒
  *   loglik x: a ln(4/7), b ln(3/7); y: a ln(1/4) [unseen], b ln(3/4);
  *   priors ln(1/2) each.
  */
class ClassifySpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "a a b", "x"),
    (2L, "b b", "y"),
    (3L, "a b", "x"),
    (4L, "   ", "y") // zero-token doc: whitespace only
  ).toDF("doc_id", "text", "lang")

  test("nbModel: observed-pair log-likelihoods match hand smoothing") {
    val m = Classify.nbModel(corpus, "text", "lang")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(m.keySet == Set(("x", "a"), ("x", "b"), ("y", "b")))
    val (na, lla) = m(("x", "a"))
    assert(na == 3L && math.abs(lla - math.log(4.0 / 7.0)) < 1e-12)
    val (nxb, llxb) = m(("x", "b"))
    assert(nxb == 2L && math.abs(llxb - math.log(3.0 / 7.0)) < 1e-12)
    val (nyb, llyb) = m(("y", "b"))
    assert(nyb == 2L && math.abs(llyb - math.log(3.0 / 4.0)) < 1e-12)
  }

  test("nbClassify: argmax log-posterior, unseen fallback, prior-only ties") {
    val out = Classify.nbClassify(corpus, "doc_id", "text", "lang")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    val lnHalf = math.log(0.5)
    // doc 1 "a a b": x = ln.5 + 2 ln(4/7) + ln(3/7) beats
    //                y = ln.5 + 2 ln(1/4) + ln(3/4)
    val s1x = lnHalf + 2 * math.log(4.0 / 7.0) + math.log(3.0 / 7.0)
    assert(out(1L)._1 == "x" && math.abs(out(1L)._2 - s1x) < 1e-12)
    // doc 2 "b b": y = ln.5 + 2 ln(3/4) beats x = ln.5 + 2 ln(3/7)
    val s2y = lnHalf + 2 * math.log(3.0 / 4.0)
    assert(out(2L)._1 == "y" && math.abs(out(2L)._2 - s2y) < 1e-12)
    // doc 3 "a b": x = ln.5 + ln(4/7) + ln(3/7)
    val s3x = lnHalf + math.log(4.0 / 7.0) + math.log(3.0 / 7.0)
    assert(out(3L)._1 == "x" && math.abs(out(3L)._2 - s3x) < 1e-12)
    // doc 4 zero tokens: equal priors tie alphabetically to "x"
    assert(out(4L)._1 == "x" && math.abs(out(4L)._2 - lnHalf) < 1e-12)
  }

  test("nbClassify: resubstitution separates the synthetic langs") {
    // two clearly-separated vocabularies; every doc classified correctly
    val df = (1 to 20).map { i =>
      if (i % 2 == 0) (i.toLong, "hund katze maus wasser", "de")
      else (i.toLong, "dog cat mouse water", "en")
    }.toDF("doc_id", "text", "lang")
    val out = Classify.nbClassify(df, "doc_id", "text", "lang")
    val right = out.join(df, out("id") === df("doc_id"))
      .filter(col("pred") === col("lang")).count()
    assert(right == 20L)
  }
}
