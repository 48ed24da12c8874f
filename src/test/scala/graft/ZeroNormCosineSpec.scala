package graft

import org.apache.spark.sql.Row

import graft.pipeline.Similarity

/** One zero-norm rule for cosine: a zero vector has no direction, so its
  * cosine is NULL — never a DIVIDE_BY_ZERO error — and every caller
  * treats it as a non-match the same way under ANSI on and off. */
class ZeroNormCosineSpec extends SparkTestBase {
  import spark.implicits._

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // 1 ≈ 2 and 4 ≈ 5 are near-duplicate pairs; 9 is the zero vector (the
  // highest id, so k-means never seeds a centroid from it)
  private def emb = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)),
    (2L, Seq(0.99f, 0.01f, 0.0f)),
    (3L, Seq(0.0f, 1.0f, 0.0f)),
    (4L, Seq(0.0f, 0.0f, 1.0f)),
    (5L, Seq(0.0f, 0.02f, 0.99f)),
    (9L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  private def run(): (Seq[Row], Seq[Row], Seq[Row]) = (
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", Seq(1L, 9L), k = 5)
      .orderBy("query_id", "rank").collect().toSeq,
    Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding", 0.9)
      .orderBy("id1", "id2").collect().toSeq,
    Similarity.semDedup(emb, "vec_id", "embedding", threshold = 0.9, k = 1,
        iters = 2, dim = 3)
      .orderBy("id").collect().toSeq)

  test("a zero vector gets a NULL cosine, never an error, under ANSI on and off") {
    val on = withAnsi(on = true)(run())
    val off = withAnsi(on = false)(run())
    assert(on == off, "ANSI on and off must give the same rows")
    val (topK, pairs, kept) = on
    // the zero query: every neighbour comes back, all with a NULL cosine,
    // ranked by neighbour id
    val zeroQ = topK.filter(_.getLong(0) == 9L)
    assert(zeroQ.map(_.getLong(1)) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(zeroQ.forall(_.isNullAt(2)))
    // a real query: the zero vector ranks last with a NULL cosine
    val q1 = topK.filter(_.getLong(0) == 1L)
    assert(q1.map(_.getLong(1)) == Seq(2L, 3L, 4L, 5L, 9L))
    assert(q1.last.isNullAt(2) && q1.init.forall(!_.isNullAt(2)))
    // exact pairs: the zero vector pairs with nothing
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L), (4L, 5L)))
    // semDedup: the later member of each near-dup pair drops; the zero
    // vector has no near duplicate and is kept
    assert(kept.map(r => r.getLong(0) -> r.getBoolean(2)) == Seq(
      1L -> true, 2L -> false, 3L -> true, 4L -> true, 5L -> false, 9L -> true))
  }
}
