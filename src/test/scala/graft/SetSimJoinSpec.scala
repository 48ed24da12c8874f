package graft

import org.apache.spark.sql.functions._

import graft.operators.SetSimJoin

/** Prefix-filter exact set-similarity join: results must equal the
  * brute-force all-pairs Jaccard computation (losslessness is the whole
  * point vs MinHash), plus boundary and degenerate behavior. */
class SetSimJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def brute(sets: Seq[(Long, Set[String])], tau: Double) =
    (for {
      (i1, s1) <- sets; (i2, s2) <- sets if i1 < i2
      inter = (s1 & s2).size
      j = inter.toDouble / (s1.size + s2.size - inter)
      if j >= tau
    } yield (i1, i2, j)).sortBy(p => (p._1, p._2))

  private def run(sets: Seq[(Long, Set[String])], tau: Double) = {
    val df = sets.map { case (i, s) => (i, s.toSeq) }.toDF("id", "toks")
    SetSimJoin.jaccardJoin(df, "id", col("toks"), tau)
      .orderBy("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("matches brute force on a mixed corpus (lossless recall)") {
    val sets = Seq[(Long, Set[String])](
      1L -> Set("a", "b", "c", "d"),
      2L -> Set("a", "b", "c", "e"),      // j(1,2)=3/5=0.6
      3L -> Set("a", "b", "c", "d"),      // j(1,3)=1.0
      4L -> Set("x", "y", "z"),
      5L -> Set("x", "y", "w"),           // j(4,5)=2/4=0.5
      6L -> Set("q"),
      7L -> Set("a", "x", "q", "m", "n", "p"))
    for (tau <- Seq(0.3, 0.5, 0.6, 0.9)) {
      assert(run(sets, tau) === brute(sets, tau), s"mismatch at tau=$tau")
    }
  }

  test("positional filter is lossless: equals brute force on a randomized corpus") {
    // overlapping Zipf-ish random sets — enough near-threshold pairs to
    // exercise the α-boundary; brute force is the ground truth
    val rnd = new scala.util.Random(7)
    val sets = (1L to 60L).map { i =>
      val n = 3 + rnd.nextInt(8)
      i -> (0 until n).map(_ => s"t${rnd.nextInt(25)}").toSet
    }
    for (tau <- Seq(0.3, 0.5, 2.0 / 3.0)) {
      val df = sets.map { case (i, s) => (i, s.toSeq) }.toDF("id", "toks")
      val on = SetSimJoin.jaccardJoin(df, "id", col("toks"), tau)
        .orderBy("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(on === brute(sets, tau), s"mismatch vs brute at tau=$tau")
    }
  }

  test("threshold boundary is inclusive") {
    val sets = Seq[(Long, Set[String])](
      1L -> Set("a", "b"), 2L -> Set("a", "c")) // j = 1/3
    val got = run(sets, 1.0 / 3.0)
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L)))
  }

  test("duplicate tokens collapse to set semantics") {
    val df = Seq(
      (1L, Seq("a", "a", "b")),
      (2L, Seq("a", "b", "b", "b"))).toDF("id", "toks")
    val got = SetSimJoin.jaccardJoin(df, "id", col("toks"), 0.9).collect()
    assert(got.length === 1 && got.head.getDouble(2) === 1.0)
  }

  test("identical large corpus of disjoint sets finds nothing") {
    val df = (1L to 200L).map(i => (i, Seq(s"t$i", s"u$i"))).toDF("id", "toks")
    assert(SetSimJoin.jaccardJoin(df, "id", col("toks"), 0.1).count() === 0L)
  }

  test("hot shared token does not break exactness") {
    // "the" is in every set (lands in no prefix under rare-first order);
    // pairs must still be found through their rare tokens
    val sets = Seq[(Long, Set[String])](
      1L -> Set("the", "a", "b"),
      2L -> Set("the", "a", "b"),
      3L -> Set("the", "c", "d"),
      4L -> Set("the", "c", "e"))
    assert(run(sets, 0.5) === brute(sets, 0.5))
  }

  test("SortedIntersectCount: merge counting on sorted arrays + null semantics") {
    import graft.functions.SortedIntersectCount
    val d = Seq(
      (Seq("a", "b", "d"), Seq("b", "c", "d", "e")),   // common: b, d
      (Seq.empty[String], Seq("a")),                   // empty side
      (Seq("x"), Seq("x"))).toDF("a", "b")
    val got = d.select(SortedIntersectCount(col("a"), col("b"))).collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(2, 0, 1))
    val n = Seq((Some(Seq("a")), None: Option[Seq[String]]))
      .toDF("a", "b")
      .select(SortedIntersectCount(col("a"), col("b"))).head
    assert(n.isNullAt(0))
    // bigint variant (the SetSimJoin hashed-token path): same merge
    val dl = Seq(
      (Seq(1L, 5L, 9L), Seq(2L, 5L, 9L, 11L)), // common: 5, 9
      (Seq.empty[Long], Seq(3L)),
      (Seq(-4L, 7L), Seq(-4L, 7L))).toDF("a", "b")
    assert(dl.select(SortedIntersectCount(col("a"), col("b"))).collect()
      .map(_.getInt(0)).toSeq === Seq(2, 0, 2))
    // mixed element types are refused at analysis
    val bad = Seq((Seq("a"), Seq(1L))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(SortedIntersectCount(col("a"), col("b"))).collect()
    }
  }

  test("parameter validation") {
    val df = Seq((1L, Seq("a"))).toDF("id", "toks")
    intercept[IllegalArgumentException] {
      SetSimJoin.jaccardJoin(df, "id", col("toks"), 0.0)
    }
    intercept[IllegalArgumentException] {
      SetSimJoin.jaccardJoin(df, "id", col("toks"), 1.5)
    }
  }
}
