package graft

import org.apache.spark.CheckpointDirTestHook
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity, TextOps}

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = sf("sf0.001", "documents")
  private lazy val embs = sf("sf0.001", "embeddings")

  test("exact dedup finds planted duplicates") {
    val planted = docs.limit(5).withColumn("doc_id", col("doc_id") + 100000)
    val withDups = docs.union(planted)
    val groups = Dedup.exactGroups(withDups, "doc_id", "text")
    val dups = groups.filter(col("n_docs") > 1)
    assert(dups.count() == 5)
    // keep_id is the original (minimum) id
    assert(dups.agg(max(col("keep_id"))).collect()(0).getLong(0) < 100000)
  }

  test("jaccard of a doc with itself is 1; near-dup detection") {
    val d2 = docs.limit(3).withColumn("doc_id", col("doc_id") + 100000)
    val pairs = Dedup.jaccardPairs(docs.limit(3).union(d2), "doc_id", "text",
      n = 2, threshold = 0.99).collect()
    assert(pairs.length == 3)
    assert(pairs.forall(_.getDouble(2) == 1.0))
  }

  test("minhash LSH recovers exact duplicates") {
    val d2 = docs.limit(4).withColumn("doc_id", col("doc_id") + 100000)
    val pairs = Dedup.minhashPairs(docs.limit(4).union(d2), "doc_id", "text",
      n = 2, threshold = 0.9).collect()
    assert(pairs.length >= 4) // all 4 identical pairs bucket together
  }

  test("minhash LSH: a 1000-doc identical class never transits buckets") {
    // exact classes collapse to one representative BEFORE banding, so even
    // the most aggressive bucket cap (1) cannot prune a duplicate class —
    // the within-class pairs come from fingerprint expansion, not the
    // O(bucket²) candidate join. 1000 identical docs would otherwise put
    // 10^6 candidate rows through every band.
    val cls = (0 until 1000).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
    val lone = Seq((5000L, "completely different text with other words here"))
    val pairs = Dedup.minhashPairs((cls ++ lone).toDF("doc_id", "text"),
      "doc_id", "text", n = 2, threshold = 0.5, maxBucketSize = Some(1L))
    assert(pairs.count() == 1000L * 999L / 2L) // the full pair list, C(1000,2)
    assert(pairs.filter(col("jaccard") =!= 1.0).isEmpty)
  }

  test("minhash LSH bucket valve prunes residual hot buckets, exact pairs survive") {
    // 60 DISTINCT near-identical docs (one unique trailing token each):
    // after collapse they are 60 separate representatives colliding in the
    // same bucket — exactly the residual-hot-bucket case the valve caps
    val hot = (0 until 60).map(i =>
      (100L + i, s"common alpha beta gamma delta epsilon zeta eta theta iota kappa u$i"))
    val dups = Seq((9000L, "quick brown fox jumps over dogs"),
      (9001L, "quick brown fox jumps over dogs"))
    val d = (hot ++ dups).toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(d, "doc_id", "text", n = 2, threshold = 0.5,
      maxBucketSize = Some(10L)).collect()
    // the hot near-dup pairs are pruned; the exact-dup pair is immune
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((9000L, 9001L)))
    assert(capped.head.getDouble(2) == 1.0)
    // the uncapped baseline sees the hot cross pairs too
    val open = Dedup.minhashPairs(d, "doc_id", "text", n = 2, threshold = 0.5,
      maxBucketSize = None)
    assert(open.count() > 1000L) // C(60,2) = 1770 hot pairs + the dup pair
  }

  test("minhash LSH cross-class expansion inherits representative jaccard") {
    // two exact classes whose representatives are near-duplicates: every
    // member-pair across the classes must surface with the rep-level score
    val a = (1L to 3L).map(i => (i, "one two three four five"))
    val b = (4L to 6L).map(i => (i, "one two three four six"))
    val pairs = Dedup.minhashPairs((a ++ b).toDF("doc_id", "text"),
      "doc_id", "text", n = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // within: C(3,2)=3 per class at 1.0; cross: 3×3=9 at the rep jaccard
    assert(pairs.size == 15)
    val within = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
    within.foreach(p => assert(pairs(p) == 1.0, s"$p"))
    val crossScore = pairs((1L, 4L))
    assert(crossScore == 3.0 / 5.0) // |A∩B|=3 of 4+4 shingles
    for (x <- 1L to 3L; y <- 4L to 6L) assert(pairs((x, y)) == crossScore, s"($x,$y)")
  }

  test("simhash: identical docs share signature, signatures vary") {
    val s = Dedup.simhash(docs.limit(50), "doc_id", "text")
    val sigs = s.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs.size == 50)
    assert(sigs.values.toSet.size > 10) // not degenerate
    val dup = Dedup.simhash(
      docs.limit(1).union(docs.limit(1).withColumn("doc_id", lit(999999L))),
      "doc_id", "text").collect().map(_.getLong(1))
    assert(dup(0) == dup(1))
  }

  test("brute-force kNN: self excluded, cosine in [-1,1], k rows per query") {
    val r = Similarity.bruteForceTopK(embs, "vec_id", "embedding", Seq(0L, 1L), 5).collect()
    assert(r.length == 10)
    assert(r.forall(x => x.getDouble(2) >= -1.0001 && x.getDouble(2) <= 1.0001))
    assert(r.forall(x => x.getLong(1) != x.getLong(0)))
    // ranks are 1..5 per query, cos non-increasing
    val byQ = r.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 5))
      assert(sorted.sliding(2).forall { case Array(a, b) =>
        a.getDouble(2) >= b.getDouble(2) - 1e-12 })
    }
  }

  test("LSH kNN retrieves a planted duplicate vector (same bucket, cos=1)") {
    val dup = embs.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(99999L))
    val withDup = embs.union(dup)
    val lsh = Similarity.lshTopK(withDup, "vec_id", "embedding", Seq(0L), 5, dim = 64)
      .collect()
    assert(lsh.forall(x => x.getDouble(2) <= 1.0001))
    val top = lsh.filter(_.getInt(3) == 1).head
    assert(top.getLong(1) == 99999L, s"expected planted dup first, got $top")
    assert(math.abs(top.getDouble(2) - 1.0) < 1e-9)
  }

  test("IVF kNN retrieves a planted duplicate and respects k") {
    val dup = embs.filter(col("vec_id") === 7).withColumn("vec_id", lit(88888L))
    val r = Similarity.ivfTopK(embs.union(dup), "vec_id", "embedding",
      Seq(7L), 5, nCentroids = 8, nprobe = 3).collect()
    assert(r.nonEmpty && r.length <= 5)
    val top = r.minBy(_.getInt(3))
    assert(top.getLong(1) == 88888L && math.abs(top.getDouble(2) - 1.0) < 1e-9)
  }

  test("hot-shingle cap prunes pair fan-out but keeps exact duplicates") {
    val d2 = docs.limit(3).withColumn("doc_id", col("doc_id") + 100000)
    val base = docs.limit(3).union(d2)
    val capped = Dedup.jaccardPairs(base, "doc_id", "text", n = 2,
      threshold = 0.99, maxShingleDocFreq = Some(3L)).collect()
    assert(capped.length == 3) // duplicate pairs survive the cap
    assert(capped.forall(_.getDouble(2) == 1.0))
  }

  test("default hot-shingle cap excludes corpus-scale hot shingles from candidates") {
    // 1102 docs share the bigram "hot hot" (doc-freq > DefaultMaxShingleDocFreq);
    // docs 3000/3001 are similar ONLY through that hot shingle
    val hot = (0 until 1100).map(i => (10000L + i, s"hot hot u${i}a u${i}b u${i}c"))
    val normal = Seq(
      (2000L, "alpha beta gamma delta"), (2001L, "alpha beta gamma delta"),
      (3000L, "hot hot p3000x"), (3001L, "hot hot q3001y"))
    val d = (hot ++ normal).toDF("doc_id", "text")
    val withCap = Dedup.jaccardPairs(d, "doc_id", "text", n = 2, threshold = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withCap.contains((2000L, 2001L))) // normal-shingle pair survives
    assert(!withCap.contains((3000L, 3001L))) // hot-shingle-only pair pruned
    // the exact (uncapped) baseline still sees the hot-shingle-only pair
    val noCap = Dedup.jaccardPairs(d, "doc_id", "text", n = 2, threshold = 0.25,
      maxShingleDocFreq = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(noCap.contains((3000L, 3001L)) && noCap.contains((2000L, 2001L)))
  }

  test("duplicate clusters equal a union-find oracle on seeded random graphs") {
    // property test (seeded loop — scalacheck bridge isn't in the offline
    // cache): random graphs up to n=200, compared against a driver-side
    // union-find, across checkpointEvery settings that hit the boundary
    // cases (every round, mid-loop, never-within-maxIter)
    val rnd = new scala.util.Random(424242)
    val configs = Seq((40, 1), (120, 2), (200, 7), (60, 25)) // (n, checkpointEvery)
    configs.foreach { case (n, ckpt) =>
      val nEdges = n + rnd.nextInt(n)
      val edges = (0 until nEdges).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      // union-find oracle with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val minOfRoot = touched.groupBy(id => find(id.toInt)).map { case (r, ids) => r -> ids.min }
      val expected = touched.map(id => id -> minOfRoot(find(id.toInt))).toMap
      val got = Dedup.duplicateClusters(
        edges.map(e => (e._1, e._2, 1.0)).toDF("id1", "id2", "jaccard"),
        checkpointEvery = ckpt)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"n=$n ckpt=$ckpt: ${got.toSet.diff(expected.toSet).take(5)}")
    }
  }

  test("duplicate clusters: 50-long chain converges within default maxIter") {
    // pointer jumping makes label distance halve per round: a diameter-50
    // path needs ~log2(50) iterations, not 50; checkpointEvery=3 exercises
    // the lineage-truncation path several times
    val pairs = (0L until 50L).map(i => (i, i + 1, 1.0)).toDF("id1", "id2", "jaccard")
    val cl = Dedup.duplicateClusters(pairs, checkpointEvery = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cl.length == 51)
    assert(cl.forall(_._2 == 0L), s"unconverged labels: ${cl.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("duplicate clusters: reliable checkpoint path when a checkpoint dir is set") {
    // on clusters, sc.setCheckpointDir makes the lineage truncation use
    // reliable checkpoint() (survives executor loss); assert same labels
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val had = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = (0L until 20L).map(i => (i, i + 1, 1.0)).toDF("id1", "id2", "jaccard")
      val cl = Dedup.duplicateClusters(pairs, checkpointEvery = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(cl.length == 21 && cl.forall(_._2 == 0L))
      // the reliable branch actually ran: checkpoint files exist under dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "expected reliable checkpoint files on disk")
    } finally {
      // restore the prior dir exactly: a dir left set would switch every
      // later Staging.stage in the shared JVM onto reliable checkpoints
      CheckpointDirTestHook.restore(spark.sparkContext, had)
    }
  }

  test("kmeans accepts array<double> embeddings like the rest of the similarity API") {
    val dbl = embs.withColumn("embedding", col("embedding").cast("array<double>"))
    val (assigned, cents) = Similarity.kmeans(dbl, "vec_id", "embedding", k = 2, iters = 1, dim = 64)
    assert(assigned.count() == embs.count())
    assert(cents.length == 2 && cents.forall(_.length == 64))
  }

  test("bigram LM vocabulary floor prunes rare n-grams but keeps scores finite") {
    val d = docs.limit(100)
    val floored = TextOps.bigramLmScores(d, "doc_id", "text", minCount = 5L)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(floored.length == 100)
    assert(floored.forall { case (_, s) => s < 0.0 && !s.isNaN && !s.isInfinite })
    val base = TextOps.bigramLmScores(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // pruning moves mass to the smoothing floor, so some scores must change
    assert(floored.exists { case (id, s) => math.abs(s - base(id)) > 1e-12 })
  }

  test("cross-corpus bigram LM: hand-computed OOV floor and in-vocab score") {
    // train corpus: "a b" ×2, "a c" — unigrams a:3 b:2 c:1 (V=3),
    // bigrams (a b):2, (a c):1
    val train = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val model = TextOps.bigramLmTrain(train, "text")
    assert(model.vocab === 3L)
    val score = Seq((10L, "a b"), (11L, "x y")).toDF("doc_id", "text")
    val got = TextOps.bigramLmScoreWith(model, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // in-vocab: log((2+1)/(3+3)); fully OOV: log((0+1)/(0+3))
    assert(math.abs(got(10L)._1 - math.log(3.0 / 6.0)) < 1e-12)
    assert(got(10L)._2 === 1L)
    assert(math.abs(got(11L)._1 - math.log(1.0 / 3.0)) < 1e-12)
    // the reference-trained model ranks reference-like text above OOV text
    assert(got(10L)._1 > got(11L)._1)
    // self-trained wrapper ≡ train-then-score on the same corpus
    val viaWrapper = TextOps.bigramLmScores(train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaSplit = TextOps.bigramLmScoreWith(
        TextOps.bigramLmTrain(train, "text"), train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaWrapper === viaSplit)
  }

  test("langId picks marker language deterministically") {
    val d = Seq(
      (1L, "the cat and the dog went to the market in the morning"),
      (2L, "el gato y la casa de la playa en un día"),
      (3L, "xyzzy qwerty plugh")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "en" && r(2L) == "es" && r(3L) == "und")
  }

  test("bigram LM scores: finite, negative log-probs, deterministic, per-doc counts") {
    // NOTE: with in-corpus training and add-one smoothing the score is a
    // RELATIVE signal (pipelines cut at percentiles); self-repetitive text
    // can legitimately out-score rare-but-valid text, so we assert
    // structure, not a crafted ordering.
    val d = docs.limit(100)
    val a = TextOps.bigramLmScores(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(a.length == 100)
    assert(a.forall { case (_, s, _) => s < 0.0 && !s.isNaN && !s.isInfinite })
    // n_bigrams = token count − 1 for each doc
    val toks = d.select(col("doc_id"), TextOps.tokenCount(col("text")).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    a.foreach { case (id, _, nb) => assert(nb == toks(id) - 1, s"doc $id") }
    // deterministic across runs
    val b = TextOps.bigramLmScores(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(a.sortBy(_._1).sameElements(b.sortBy(_._1)))
  }

  test("quality score bounded and monotone-ish in stopword richness") {
    val d = Seq(
      (1L, "the cat and the dog is in the house with a ball for it was"),
      (2L, "zz qq ww")).toDF("doc_id", "text")
    val r = d.select(TextOps.qualityScore(col("text"))).collect().map(_.getDouble(0))
    assert(r.forall(v => v >= 0.0 && v <= 1.0))
    assert(r(0) > r(1))
  }

  test("multimodal: batch feature extraction preserves rows and is deterministic") {
    val f1 = Multimodal.documentFeatures(spark, docs)
    val f2 = Multimodal.documentFeatures(spark, docs)
    assert(f1.count() == docs.count())
    val a = f1.orderBy("id").collect().map(_.getLong(4))
    val b = f2.orderBy("id").collect().map(_.getLong(4))
    assert(a.sameElements(b))
    // feature vector shape
    val row = f1.filter(col("id") === 0).collect()(0)
    assert(row.getAs[scala.collection.Seq[Double]]("feature").length == 8)
  }

  test("BMP decode: closed-form channel means, bad input fails loudly") {
    val id = 42L
    val f = Multimodal.decodeBmp(id, Multimodal.syntheticBmp(id))
    assert(f.width == 5 && f.height == 4)
    // independent recomputation from the generator contract
    def mean(c: Int): Double = {
      val vs = for (r <- 0 until 4; x <- 0 until 5)
        yield ((id * 31 + (54 + r * 16 + 3 * x + c)) % 256).toDouble
      vs.sum / vs.length
    }
    assert(f.mean_b == mean(0) && f.mean_g == mean(1) && f.mean_r == mean(2))
    // width not divisible by 4: padding must be skipped, not averaged in.
    // A decoder that reads stride bytes as pixels shifts the means.
    val wide = Multimodal.decodeBmp(7L, Multimodal.syntheticBmp(7L, width = 3, height = 2))
    val expect3 = (for (r <- 0 until 2; x <- 0 until 3)
      yield ((7L * 31 + (54 + r * 12 + 3 * x)) % 256).toDouble)
    assert(wide.mean_b == expect3.sum / expect3.length)
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp(1L, Array[Byte](1, 2, 3))
    }
    intercept[IllegalArgumentException] { // JPEG magic, not BMP
      Multimodal.decodeBmp(1L, Array.fill[Byte](64)(0xff.toByte))
    }
  }

  test("aHash: exact-int mean threshold, closed-form bits, uniform image hashes to 0") {
    val id = 42L
    val h = Multimodal.aHashBmp(id, Multimodal.syntheticBmp(id))
    // independent recomputation from the generator contract
    val grays = for (r <- 0 until 4; x <- 0 until 5) yield
      (0 until 3).map(c => (id * 31 + (54 + r * 16 + 3 * x + c)) % 256).sum
    val tot = grays.sum
    val expected = grays.zipWithIndex
      .filter { case (g, _) => g * 20 > tot }
      .map { case (_, i) => 1L << i }.sum
    assert(h.ahash === expected)
    assert(h.n_set === java.lang.Long.bitCount(h.ahash))
    // uniform image: no pixel is STRICTLY above the mean → hash 0
    val uni = Multimodal.syntheticBmp(0L)
    for (m <- 54 until uni.length) uni(m) = 7
    val hu = Multimodal.aHashBmp(0L, uni)
    assert(hu.ahash === 0L && hu.n_set === 0)
    // grid too large for one long is refused
    intercept[IllegalArgumentException] {
      Multimodal.aHashBmp(1L, Multimodal.syntheticBmp(1L, width = 8, height = 8))
    }
  }

  test("hammingPairs: generic hash column, pigeonhole recall equals brute force") {
    import spark.implicits._
    // 8-bit hashes, maxHamming 3 → 4 bands of 2 bits
    val rows = Seq(
      (1L, 0x00L), (2L, 0x01L), // d=1
      (3L, 0x0FL), // d(1,3)=4 (out), d(2,3)=3 (in)
      (4L, 0xF0L), // far from 1..3
      (5L, 0x00L)) // exact dup of 1
      .toDF("id", "h")
    val got = Dedup.hammingPairs(rows, "id", "h", bits = 8, maxHamming = 3)
      .collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Int]("hamming")))
      .toSet
    val brute = (for {
      a <- 1L to 5L; b <- (a + 1) to 5L
      ha = Map(1L -> 0x00L, 2L -> 0x01L, 3L -> 0x0FL, 4L -> 0xF0L, 5L -> 0x00L)
      d = java.lang.Long.bitCount(ha(a) ^ ha(b))
      if d <= 3
    } yield (a, b, d)).toSet
    assert(got === brute)
    assert(got.contains((1L, 5L, 0))) // the exact-dup expansion path
  }

  test("snapshotDiff: added/removed/changed/unchanged from fingerprints") {
    import spark.implicits._
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val newer = Seq((2L, "b"), (3L, "C2"), (4L, "d")).toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(old, newer, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("added" -> 1L, "removed" -> 1L,
      "changed" -> 1L, "unchanged" -> 1L))
    // identical snapshots: everything unchanged, no other statuses
    val same = Dedup.snapshotDiff(old, old, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(same === Map("unchanged" -> 3L))
  }

  test("sourceOverlap: shared distinct shingles and the overlap coefficient") {
    import spark.implicits._
    // srcA: {a b, b c}; srcB: {a b, b d} (two docs, dup shingle counts
    // once); srcC: {x y} disjoint
    val d = Seq(
      ("A", "a b c"), ("B", "a b"), ("B", "b d"), ("B", "a b"), ("C", "x y"))
      .toDF("source", "text")
    val out = Dedup.sourceOverlap(d, "source", "text")
      .orderBy("source1", "source2").collect()
      .map(r => (r.getAs[String]("source1"), r.getAs[String]("source2"),
        r.getAs[Long]("n_shared"), r.getAs[Double]("overlap")))
    // only A-B share anything: {a b} of sizes |A|=2, |B|=2 → 1/2
    assert(out.toSeq === Seq(("A", "B", 1L, 0.5)))
  }

  test("WAV decode: chunk walk skips unknown/odd chunks, samples signed LE") {
    val id = 9L
    val base = Multimodal.syntheticWav(id, nSamples = 64)
    val f = Multimodal.decodeWav(id, base)
    assert(f.n_samples == 64 && f.sample_rate == 8000)
    val samples = (0 until 64).map(k => (id * 7 + k * 13) % 65536 - 32768)
    assert(f.mean_amp == samples.sum.toDouble / 64)
    assert(f.peak_amp == samples.map(math.abs).max)
    // splice an odd-length unknown chunk between WAVE and fmt: a correct
    // walker skips it (word-aligned) and still finds fmt/data
    val junk = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 1, 2, 3, 0)
    val spliced = base.take(12) ++ junk ++ base.drop(12)
    // fix the RIFF size field
    val riffLen = spliced.length - 8
    spliced(4) = (riffLen & 0xff).toByte; spliced(5) = ((riffLen >> 8) & 0xff).toByte
    spliced(6) = ((riffLen >> 16) & 0xff).toByte; spliced(7) = ((riffLen >> 24) & 0xff).toByte
    val g = Multimodal.decodeWav(id, spliced)
    assert(g == f.copy())
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(1L, Array.fill[Byte](50)('x'))
    }
  }

  test("frame sampling produces k frames per doc") {
    val bin = Multimodal.asBinary(docs.limit(10), "doc_id", "text")
    val frames = Multimodal.frameSample(bin, k = 4)
    assert(frames.count() == 40)
    assert(frames.groupBy("id").count().collect().forall(_.getLong(1) == 4))
  }

  test("PQ: codes in range, self-codebook reconstructs exactly, MSE sane") {
    import org.apache.spark.sql.functions.col
    val books = Similarity.pqTrain(embs, "vec_id", "embedding",
      m = 4, k = 4, iters = 1, dim = 64)
    assert(books.length == 4)
    assert(books.forall(b => b.length == 4 && b.forall(_.length == 16)))
    val codes = Similarity.pqEncode(embs, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(codes.length == embs.count())
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 4)))
    val mse = Similarity.pqBlockMse(embs, "vec_id", "embedding", books)
      .collect().map(r => r.getInt(0) -> r.getAs[Double]("mse")).toMap
    assert(mse.keySet == Set(0, 1, 2, 3))
    assert(mse.values.forall(v => v >= 0.0 && !v.isNaN))
    // a codebook containing every distinct vector slice (k >= n, zero
    // iters keeps the seeds) reconstructs each seed vector exactly
    val four = embs.orderBy("vec_id").limit(4)
    val exact = Similarity.pqTrain(four, "vec_id", "embedding",
      m = 2, k = 4, iters = 0, dim = 64)
    val z = Similarity.pqBlockMse(four, "vec_id", "embedding", exact)
      .collect().map(_.getAs[Double]("mse"))
    assert(z.forall(_ < 1e-9), s"self-codebook mse: ${z.mkString(",")}")
    // coarser codebooks cannot beat the per-vector one on the same data
    val coarse = Similarity.pqTrain(four, "vec_id", "embedding",
      m = 2, k = 2, iters = 1, dim = 64)
    val c = Similarity.pqBlockMse(four, "vec_id", "embedding", coarse)
      .collect().map(_.getAs[Double]("mse"))
    assert(c.sum >= z.sum)
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(embs, "vec_id", "embedding", m = 5, k = 2,
        iters = 1, dim = 64) // 64 % 5 != 0
    }
  }

  test("kmeans: assignments cover all vectors, planted duplicate joins its twin's cell") {
    val (assigned, cents) = Similarity.kmeans(embs, "vec_id", "embedding",
      k = 4, iters = 2, dim = 64)
    val rows = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.size == embs.count())
    assert(rows.values.forall(c => c >= 0 && c < 4))
    assert(cents.length == 4 && cents.forall(_.length == 64))
    // a duplicated vector must land in the same cell as the original
    val dup = embs.limit(1).withColumn("vec_id", col("vec_id") + 100000)
    val (a2, _) = Similarity.kmeans(embs.union(dup), "vec_id", "embedding",
      k = 4, iters = 2, dim = 64)
    val m = a2.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val origId = embs.select(min("vec_id")).collect()(0).getLong(0)
    assert(m(origId) == m(origId + 100000))
  }

  test("IVF with trained k-means centroids matches exact top-1 at least as often") {
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    def top1(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rank") === 1).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = top1(Similarity.bruteForceTopK(embs, "vec_id", "embedding", qs, 5))
    val default_ = top1(Similarity.ivfTopK(embs, "vec_id", "embedding", qs, 5))
    val (_, cents) = Similarity.kmeans(embs, "vec_id", "embedding", k = 16, iters = 3, dim = 64)
    val trained = top1(Similarity.ivfTopK(embs, "vec_id", "embedding", qs, 5,
      trainedCentroids = Some(cents)))
    def hits(m: Map[Long, Long]) = qs.count(q => m.get(q) == exact.get(q))
    assert(hits(trained) >= hits(default_), s"trained ${hits(trained)} < default ${hits(default_)}")
    assert(trained.size == qs.size)
  }

  test("winnowing fingerprints: duplicates share all, near-dups share some") {
    val fp = TextOps.winnowFingerprints(docs.limit(10), "doc_id", "text", k = 8, w = 4)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toSet).toMap
    assert(fp.values.forall(_.nonEmpty)) // every doc yields fingerprints
    // identical text ⇒ identical fingerprint set
    val dup = docs.limit(10).withColumn("doc_id", col("doc_id") + 100000)
    val fpDup = TextOps.winnowFingerprints(dup, "doc_id", "text", k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    fp.foreach { case (id, s) => assert(fpDup(id + 100000) == s) }
    // guarantee: docs sharing a substring of length ≥ w+k−1 = 11 share ≥1
    // fingerprint — append noise to one doc and check overlap survives
    val edited = docs.limit(10)
      .withColumn("doc_id", col("doc_id") + 200000)
      .withColumn("text", concat(lit("zzqy xv17 prefix blob "), col("text")))
    val fpEd = TextOps.winnowFingerprints(edited, "doc_id", "text", k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    fp.foreach { case (id, s) =>
      assert(fpEd(id + 200000).intersect(s).nonEmpty, s"doc $id shares none")
    }
    // distinct docs should not all collide into one set
    assert(fp.values.toSet.size > 1)
  }

  test("contamination: known bigram overlap") {
    // corpus doc 1 "a b c d" → bigrams {ab, bc, cd}; benchmark "b c d e" →
    // {bc, cd, de}: contamination 2/3. Doc 2 shares nothing. Doc 3 is an
    // exact benchmark copy → 1.0.
    val corpus = Seq(
      (1L, "a b c d"), (2L, "x y z w"), (3L, "b c d e")).toDF("doc_id", "text")
    val bench = Seq((100L, "b c d e")).toDF("doc_id", "text")
    val got = Dedup.contamination(corpus, bench, "doc_id", "text", n = 2)
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq((1L, 3L, 2L, 2.0 / 3.0), (2L, 3L, 0L, 0.0), (3L, 3L, 3L, 1.0)))
  }

  test("repetition stats: hand-computed ratios, degenerate docs get nulls") {
    // "x x x y": 4 tokens, 2 distinct → ratio 0.5; sorted bigrams
    // [x x, x x, x y] → best run 2 of 3 → 2/3. "p q": one bigram → 1.0.
    // "solo": no bigram → null frac. "": no tokens → both null.
    val df = Seq(
      (1L, "x x x y"), (2L, "p q"), (3L, "solo"), (4L, "")).toDF("doc_id", "text")
    val rows = TextOps.repetitionStats(df, "doc_id", "text")
      .orderBy("id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(4L, 2L, 1L, 0L))
    assert(rows(0).getDouble(2) == 0.5 && rows(0).getDouble(3) == 2.0 / 3.0)
    assert(rows(1).getDouble(2) == 1.0 && rows(1).getDouble(3) == 1.0)
    assert(rows(2).getDouble(2) == 1.0 && rows(2).isNullAt(3))
    assert(rows(3).isNullAt(2) && rows(3).isNullAt(3))
  }

  private def bruteSimhashPairs(df: org.apache.spark.sql.DataFrame, maxH: Int, bits: Int) = {
    val sigs = Dedup.simhash(df, "doc_id", "text", bits)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (for {
      (i1, s1) <- sigs; (i2, s2) <- sigs if i1 < i2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= maxH
    } yield (i1, i2, h)).toSet
  }

  test("simhash pairs equal brute force at 16 and 32 bits (perfect recall)") {
    val d = docs.limit(60)
    for (bits <- Seq(16, 32)) {
      val got = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3, bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == bruteSimhashPairs(d, 3, bits), s"bits=$bits")
    }
  }

  test("simhash pairs: identical class collapses to one rep, pairs expand at hamming 0") {
    // 30 copies of one doc: the banded join sees ONE representative (even
    // with the tightest bucket cap), yet all C(30,2) pairs come back
    val base = docs.limit(1).select(col("text")).as[String].head()
    val df = (0 until 30).map(i => (i.toLong, base)).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, "doc_id", "text",
      maxBucketSize = Some(1L))
    assert(got.count() == 30L * 29 / 2)
    assert(got.agg(max(col("hamming"))).head().getInt(0) == 0)
  }

  test("simhash pairs bucket valve prunes cross-class candidates only") {
    val d = docs.limit(40)
    // cap 0 kills every banded candidate; only exact-signature classes pair
    // (default signature width = 32 bits, the scale default)
    val capped = Dedup.simhashPairs(d, "doc_id", "text", maxBucketSize = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped == bruteSimhashPairs(d, 0, 32))
  }

  test("PII counts and redaction: planted categories, clean text untouched") {
    val df = Seq(
      (1L, "mail a.b-c%d@sub.example.org now"),
      (2L, "call (415) 555-0123 or +44 20 7946 0958 x"), // 2nd: not NANP shape → only the first counts
      (3L, "ssn 123-45-6789 host 192.168.0.1"),
      (4L, "see https://ex.com/p?q=1#f and http://b.io"),
      (5L, "no pii here, just words 42 and 7")
    ).toDF("doc_id", "text")
    val out = df.select(
      col("doc_id") +:
        TextOps.piiCounts(col("text")).map { case (n, c) => c.as(s"n_$n") } :+
        TextOps.redactPii(col("text")).as("red"): _*)
      .orderBy("doc_id").collect()
    def counts(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    // columns: url, email, ssn, phone, ipv4 (PiiPatterns order)
    assert(counts(out(0)) == ((0L, 1L, 0L, 0L, 0L)))
    assert(counts(out(1)) == ((0L, 0L, 0L, 1L, 0L)))
    assert(counts(out(2)) == ((0L, 0L, 1L, 0L, 1L)))
    assert(counts(out(3)) == ((2L, 0L, 0L, 0L, 0L)))
    assert(counts(out(4)) == ((0L, 0L, 0L, 0L, 0L)))
    assert(out(0).getString(6) == "mail <EMAIL> now")
    assert(out(1).getString(6) == "call <PHONE> or +44 20 7946 0958 x")
    assert(out(2).getString(6) == "ssn <SSN> host <IP>")
    assert(out(3).getString(6) == "see <URL> and <URL>")
    assert(out(4).getString(6) == "no pii here, just words 42 and 7")
  }

  test("PII: ssn redacts before the looser phone pattern, ip survives phone pass") {
    val df = Seq((1L, "id 123-45-6789 tel 415-555-0123 at 10.1.2.3")).toDF("doc_id", "text")
    val red = df.select(TextOps.redactPii(col("text"))).head().getString(0)
    assert(red == "id <SSN> tel <PHONE> at <IP>")
  }

  test("chunkDocs: overlap stride, short docs one chunk, empty docs none") {
    // 10 tokens, chunk 4, overlap 1 → stride 3 → ceil(9/3) = 3 chunks
    val df = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y"), // shorter than one chunk → exactly one
      (3L, "")     // no tokens → no chunks
    ).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(df, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSeq == Seq(
      (1L, 0, "a b c d", 4),
      (1L, 1, "d e f g", 4),
      (1L, 2, "g h i j", 4),
      (2L, 0, "x y", 2)))
  }

  test("extractUrls: per-match rows with host domains; no-url docs vanish") {
    val df = Seq(
      (1L, "x https://a.example.org/p?q=1 mid http://b.io/z y"),
      (2L, "no urls"),
      (3L, "tail https://a.example.org")
    ).toDF("doc_id", "text")
    val out = TextOps.extractUrls(df, "doc_id", "text")
      .orderBy("doc_id", "url").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (1L, "http://b.io/z", "b.io"),
      (1L, "https://a.example.org/p?q=1", "a.example.org"),
      (3L, "https://a.example.org", "a.example.org")))
  }

  test("chunkDocs: zero overlap partitions exactly; every token appears once") {
    val df = Seq((7L, (1 to 11).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(df, "doc_id", "text", chunkTokens = 4)
      .orderBy("chunk_idx").collect()
    assert(out.length == 3) // ceil(11/4)
    assert(out.map(_.getInt(3)).toSeq == Seq(4, 4, 3))
    val joined = out.map(_.getString(2)).mkString(" ")
    assert(joined == (1 to 11).map(i => s"t$i").mkString(" "))
  }

  test("chunkDocs: random lengths/params reconstruct the document (seeded property)") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 12) {
      val chunkTokens = 2 + rng.nextInt(8)
      val overlap = rng.nextInt(chunkTokens)
      val stride = chunkTokens - overlap
      val docs = (0 until 25).map { id =>
        (id.toLong, Seq.fill(rng.nextInt(40))("w" + rng.nextInt(1000)).mkString(" "))
      }
      val byId = docs.toMap
      val rows = TextOps.chunkDocs(docs.toDF("doc_id", "text"), "doc_id", "text",
        chunkTokens, overlap)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
        .groupBy(_._1)
      docs.foreach { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty).toSeq
        val chunks = rows.getOrElse(id, Array.empty).sortBy(_._2)
        if (toks.isEmpty) assert(chunks.isEmpty)
        else {
          // indices contiguous from 0; sizes within bound and as declared
          assert(chunks.map(_._2).toSeq == chunks.indices.toSeq)
          assert(chunks.forall(c => c._4 >= 1 && c._4 <= chunkTokens))
          assert(chunks.forall(c => c._3.split(" ").length == c._4))
          // dropping the overlap from every chunk after the first
          // reconstructs the document exactly
          val rebuilt = chunks.head._3.split(" ").toSeq ++
            chunks.tail.toSeq.flatMap(_._3.split(" ").drop(overlap).toSeq)
          assert(rebuilt == toks, s"id=$id ct=$chunkTokens ov=$overlap")
          // chunk i starts at i*stride
          chunks.foreach { c =>
            assert(c._3.split(" ").head == toks(c._2 * stride))
          }
        }
      }
    }
  }

  test("semdedup keeps the min id of a near-dup neighborhood, valve keeps all") {
    // 6 vectors in 2 obvious clusters; 0/1 and 3/4 are near-identical pairs
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (2L, Array(0.6f, 0.8f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.99f, 0.01f)),
      (5L, Array(0.0f, 0.0f, 0.6f, 0.8f))).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
      threshold = 0.95, k = 2, iters = 2, dim = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(0L -> true, 1L -> false, 2L -> true,
      3L -> true, 4L -> false, 5L -> true), s"got $out")
    // oversized-cell valve: cap below cell size -> pairwise step skipped,
    // everything kept (conservative)
    val valved = Similarity.semDedup(vecs, "vec_id", "embedding",
      threshold = 0.95, k = 2, iters = 2, dim = 4, maxCellSize = Some(1L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(valved.values.forall(identity), s"got $valved")
  }

  test("dup spans count corpus-wide window repeats, within-doc included") {
    val d = Seq(
      (1L, "a b c d e f"), // windows: "a b c", "b c d", "c d e", "d e f"
      (2L, "x y z a b c"), // shares window "a b c" with doc 1
      (3L, "p q r p q r p q"), // within-doc repeat: "p q r" twice, "q r p" twice
      (4L, "u v") // too short: zero windows
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(d, "doc_id", "text", width = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc3: 8 tokens -> 6 windows ("p q r","q r p","r p q" each twice),
    // so every window is duplicated via within-doc repeats alone
    assert(out(1L) == ((4L, 1L)), s"got ${out(1L)}") // only "a b c" is shared
    assert(out(2L) == ((4L, 1L)), s"got ${out(2L)}")
    assert(out(3L) == ((6L, 6L)), s"got ${out(3L)}")
    assert(out(4L) == ((0L, 0L)), s"got ${out(4L)}")
  }

  test("removeDupSpans: keep-first removal, within-doc repeats, reconstruction") {
    val d = Seq(
      (1L, "a b c d e x y"),   // first occurrence of "a b c" and "b c d"
      (2L, "z a b c d q"),     // repeats both → masks pos 1..3 ∪ 2..4
      (3L, "short one"),       // shorter than width → no windows, unchanged
      (4L, "r r r r")          // within-doc repeat: "r r r" at pos 0 and 1
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(d, "doc_id", "text", width = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // doc 1 is the first occurrence of every duplicated span: untouched
    assert(out(1L) == ((7L, 0L, "a b c d e x y")), s"got ${out(1L)}")
    // doc 2: masked positions {1,2,3} ∪ {2,3,4} leave tokens 0 and 5
    assert(out(2L) == ((6L, 4L, "z q")), s"got ${out(2L)}")
    assert(out(3L) == ((2L, 0L, "short one")), s"got ${out(3L)}")
    // doc 4: second "r r r" (pos 1) masks {1,2,3}; the pos-0 copy stays
    assert(out(4L) == ((4L, 3L, "r")), s"got ${out(4L)}")
  }

  test("removeDupSpansAgainst: corpus spans strip fully, shard dups keep first, empty corpus = removeDupSpans") {
    val corpus = Seq((1L, "alpha beta gamma delta common span here")).toDF("doc_id", "text")
    val shard = Seq(
      (10L, "x y common span here z"),  // corpus span: ALL occurrences go
      (11L, "p q r p q r p q"),         // shard-internal dup: first stays
      (12L, "totally fresh words only") // untouched
    ).toDF("doc_id", "text")
    val fps = Dedup.spanFingerprints(corpus, "doc_id", "text", width = 3)
    val out = Dedup.removeDupSpansAgainst(fps, shard, "doc_id", "text",
        width = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // "common span here" is in the corpus: masked even as the shard's
    // first occurrence — positions 2..4 drop
    assert(out(10L) == ((6L, 3L, "x y z")), s"got ${out(10L)}")
    // same within-shard rule as removeDupSpans (doc 11 fixture from the
    // batch test: all windows repeat, the pos-0 "p q r" survives)
    assert(out(11L)._2 > 0 && out(11L)._3.startsWith("p q r"), s"got ${out(11L)}")
    assert(out(12L) == ((4L, 0L, "totally fresh words only")), s"got ${out(12L)}")
    // empty fingerprint table degenerates to removeDupSpans exactly
    val emptyFps = fps.limit(0)
    val viaAgainst = Dedup.removeDupSpansAgainst(emptyFps, shard,
        "doc_id", "text", width = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    val direct = Dedup.removeDupSpans(shard, "doc_id", "text", width = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(viaAgainst == direct)
  }

  /** Drop-recreate a bucketed warehouse table and hand it back as a
    * DataFrame — the shared setup of the bucketed-state pins. */
  private def withBucketedTable(
      name: String,
      df: org.apache.spark.sql.DataFrame,
      cols: Seq[String],
      buckets: Int): org.apache.spark.sql.DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(loc)
    }
    graft.sources.ScaleOps.writeBucketed(df, name, cols, buckets)
    spark.table(name)
  }

  test("bucketed span-fingerprint state: shard ingest exploits the bucket layout, same result") {
    // the documented 100 TB state layout: spanFingerprints persisted
    // bucketed by fp (writeBucketed) — the per-shard fp join then reads
    // the corpus state AS BUCKETS (no corpus-side exchange; only the
    // shard side, which is shard-sized, shuffles to match)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val shard = docs.filter(col("doc_id") % 10 === 0)
    val fps = Dedup.spanFingerprints(corpus, "doc_id", "text", width = 5)
    val state = withBucketedTable("graft_spanfps_b", fps, Seq("fp"), 8)
    val bucketed = Dedup.removeDupSpansAgainst(state, shard,
      "doc_id", "text", width = 5)
    val plain = Dedup.removeDupSpansAgainst(fps, shard,
        "doc_id", "text", width = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    val got = bucketed
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(got == plain && got.nonEmpty)
    // the state scan really ran bucketed (the planner reports Bucketed:
    // true only when it exploits the layout in place of an exchange)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(3000))
  }

  test("removeDupSpans plan: no window anywhere — first-occurrence picks ride the hash agg") {
    val out = Dedup.removeDupSpans(docs, "doc_id", "text", width = 5)
    val plan = out.queryExecution.executedPlan.toString
    // the scale contract: a boilerplate span occurring 10^8 times must
    // cost one aggregate cell, never a per-fingerprint sorted partition
    assert(!plan.contains("Window"), plan.take(3000))
    // same pin for the ingest mode (corpus join must not add one either)
    val fps = Dedup.spanFingerprints(docs.limit(50), "doc_id", "text", 5)
    val incr = Dedup.removeDupSpansAgainst(fps, docs, "doc_id", "text", 5)
    assert(!incr.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("removeDupSpans agrees with dupSpans on the real corpus") {
    val rm = Dedup.removeDupSpans(docs, "doc_id", "text", width = 5)
    val spans = Dedup.dupSpans(docs, "doc_id", "text", width = 5)
    val joined = rm.join(spans, "id")
      .select("id", "n_tokens", "n_removed", "n_dup", "text_clean")
      .collect()
    assert(joined.nonEmpty)
    var removedAny = false
    joined.foreach { r =>
      val (nTok, nRem, nDup) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // a doc loses tokens iff it carries a duplicated window that is
      // not globally first — so n_removed > 0 requires n_dup > 0, and
      // zero dup windows means bit-identical reconstruction
      assert(nRem <= nTok, s"doc ${r.getLong(0)}")
      if (nRem > 0) { removedAny = true; assert(nDup > 0, s"doc ${r.getLong(0)}") }
      if (nDup == 0)
        assert(r.getString(4).split("\\s+").filter(_.nonEmpty).length == nTok,
          s"doc ${r.getLong(0)} reconstruction")
    }
    assert(removedAny, "fixture corpus should contain cross-doc spans")
  }

  test("edit-distance pairs: planted one-char edit found at distance 1") {
    val base = docs.limit(6)
    val edited = base
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit("x"))) // one insertion
    val pairs = Dedup.editDistancePairs(base.union(edited), "doc_id", "text",
      maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length == 6, s"got ${pairs.toSeq}")
    assert(pairs.forall { case (a, b, d) => b == a + 100000 && d == 1 })
    // tightening the cutoff to 0 keeps only exact duplicates: none here
    assert(Dedup.editDistancePairs(base.union(edited), "doc_id", "text",
      maxDist = 0).count() == 0)
  }

  test("minhash LSH recall vs exact jaccard on the real corpus") {
    // quality measurement, not just correctness: banded LSH must recover
    // nearly all true >= 0.5 pairs the exact shingle join finds
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2,
      threshold = 0.5, maxShingleDocFreq = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
    // and LSH introduces no false positives below the threshold (verify
    // step recomputes true jaccard)
    assert((lsh diff exact).isEmpty, s"unexpected extras: ${(lsh diff exact).take(5)}")
  }

  test("containment catches an embedded doc that jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val filler = (1 to 60).map(i => s"word$i").mkString(" ")
    val filler2 = (61 to 120).map(i => s"word$i").mkString(" ")
    val d = Seq(
      (1L, small),
      (2L, s"$filler $small $filler2"), // small embedded verbatim
      (3L, filler2)).toDF("doc_id", "text")
    val cp = Dedup.containmentPairs(d, "doc_id", "text", k = 8, w = 4,
      threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(cp.contains((1L, 2L)), s"embedded pair missing: $cp")
    assert(cp((1L, 2L)) >= 0.6, s"containment ${cp((1L, 2L))}")
    // the same pair is invisible to symmetric Jaccard at a modest threshold
    val jp = Dedup.jaccardPairs(d, "doc_id", "text", n = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jp.contains((1L, 2L)), s"jaccard unexpectedly found $jp")
    // the valve drops ubiquitous fingerprints: freq cap 1 kills every
    // shared fingerprint -> no pairs survive
    val valved = Dedup.containmentPairs(d, "doc_id", "text", k = 8, w = 4,
      threshold = 0.1, maxFpDocFreq = Some(1L)).count()
    assert(valved == 0)
  }

  test("sequence packing matches a driver-side layout, offsets in range") {
    val W = 128
    val out = TextOps.packSequences(docs, "doc_id", "text", W, salt = "s")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // recompute the layout on the driver from the same inputs
    val base = docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.hash32(concat(lit("s"), col("doc_id").cast("string"))).as("u"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
    var cum = 0L
    base.sortBy(t => (t._3, t._1)).foreach { case (id, n, _) =>
      val (gotN, pack, off) = out(id)
      assert(gotN == n)
      assert(pack == cum / W && off == cum % W, s"id=$id cum=$cum got=($pack,$off)")
      assert(off >= 0 && off < W)
      cum += n
    }
    // total layout length = total token count
    assert(cum == base.map(_._2).sum)
  }

  test("sequence packing: bucket-invariant and never a single-partition window") {
    // the global layout must NOT move the corpus to one reducer: the
    // two-phase cumsum (driver-seeded per-bucket windows) is bit-identical
    // to the naive global window at ANY bucket count, and the plan's only
    // exchange for the window is hash-partitioned by bucket
    def layout(buckets: Int) =
      TextOps.packSequences(docs, "doc_id", "text", 128, salt = "b",
          buckets = buckets)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val b2 = layout(2)
    val b64 = layout(64)
    val b1024 = layout(1024)
    assert(b2 == b64 && b64 == b1024)
    val plan = TextOps.packSequences(docs, "doc_id", "text", 128, salt = "b")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan.take(3000))
    // sharded mode gets the same guarantee
    val shardedPlan = TextOps.packSequences(docs, "doc_id", "text", 128,
        salt = "b", shardCol = Some("lang"))
      .queryExecution.executedPlan.toString
    assert(!shardedPlan.contains("Exchange SinglePartition"),
      shardedPlan.take(3000))
    // r17 §7: both phases read the ONE staged slim frame — the tokenize
    // projection never re-runs from the source scan
    assert(!plan.contains("Scan parquet"), plan.take(3000))
    assert(!shardedPlan.contains("Scan parquet"), shardedPlan.take(3000))
    // ... and the stage is pre-partitioned on the bucket key, so the
    // phase-2 window needs no exchange at all (the seed map rides a
    // broadcast) in both layouts. Pinned with AQE off, where the
    // checkpoint keeps the staged hash partitioning; under AQE the
    // checkpointed frame reports UnknownPartitioning and the window
    // shuffles again.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (shardCol <- Seq(None, Some("lang"))) {
        val out = TextOps.packSequences(docs, "doc_id", "text", 128,
          salt = "b", shardCol = shardCol)
        assert(PlanStats.planStats(out).shuffles == 0,
          out.queryExecution.executedPlan.toString.take(3000))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("sequence packing: null ids dropped, non-string shards keyed consistently") {
    // a null id hashes to a null bucket — it must be dropped (the
    // hash-sampler convention), never decoded as bucket 0 in the seed map
    val withNull = docs.limit(20).select(
      when(col("doc_id") === docs.limit(20).agg(min("doc_id"))
        .collect()(0).getLong(0), lit(null).cast("long"))
        .otherwise(col("doc_id")).as("doc_id"),
      col("text"), col("lang"))
    val out = TextOps.packSequences(withNull, "doc_id", "text", 128, "n")
    assert(out.count() == 19 && out.filter(col("id").isNull).count() == 0)
    // an INT shard column: the phase-1 driver map and the seed join must
    // share one representation (a JVM-vs-Spark stringify mismatch would
    // silently drop every row)
    val intShard = docs.withColumn("grp", (col("doc_id") % 3).cast("int"))
    val sharded = TextOps.packSequences(intShard, "doc_id", "text", 128,
        salt = "i", shardCol = Some("grp"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(sharded.size == docs.count())
    // and equals packing each shard separately (the per-shard contract)
    val solo = TextOps.packSequences(
        intShard.filter(col("grp") === 1), "doc_id", "text", 128, salt = "i")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    solo.foreach { case (id, po) => assert(sharded(id) == po, s"id=$id") }
    // a NULL shard is a legitimate layout group of its own
    val nullShard = docs.withColumn("grp",
      when(col("doc_id") % 2 === 0, lit(null).cast("string"))
        .otherwise(lit("a")))
    val ns = TextOps.packSequences(nullShard, "doc_id", "text", 128,
      salt = "i", shardCol = Some("grp"))
    assert(ns.count() == docs.count())
    assert(ns.filter(col("grp").isNull).count() == docs.filter(col("doc_id") % 2 === 0).count())
  }

  test("int8 quantization: zero vector takes the scale-0 branch cleanly") {
    // max 127 -> scale exactly 1.0, so the -63.5 half-tie is FP-exact
    val z = Seq((1L, Array(0.0f, 0.0f, 0.0f)), (2L, Array(127.0f, -63.5f, 0.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        Similarity.int8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"), col("scale"),
        Similarity.int8Quantize(col("embedding"), col("scale")).as("q"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Byte](2)))).toMap
    assert(z(1L)._1 == 0.0 && z(1L)._2 == Seq[Byte](0, 0, 0))
    assert(z(2L)._2 == Seq[Byte](127, -64, 0)) // ties round away from zero
  }

  test("per-shard packing equals packing each shard separately") {
    val sharded = TextOps.packSequences(docs, "doc_id", "text", 128,
      salt = "s", shardCol = Some("lang"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
    langs.foreach { l =>
      val solo = TextOps.packSequences(docs.filter(col("lang") === l),
        "doc_id", "text", 128, salt = "s")
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      solo.foreach { case (id, po) =>
        assert(sharded(id) == po, s"lang=$l id=$id: ${sharded(id)} vs $po")
      }
    }
  }

  test("token entropy matches hand computation, repetitive docs score low") {
    val d = Seq(
      (1L, "a a a a"), // H = 0 (single symbol)
      (2L, "a b c d"), // H = ln 4
      (3L, "a a b b"), // H = ln 2
      (4L, "")         // no tokens -> 0
    ).toDF("doc_id", "text")
    val got = TextOps.tokenEntropy(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(got(1L)) < 1e-12)
    assert(math.abs(got(2L) - math.log(4)) < 1e-12)
    assert(math.abs(got(3L) - math.log(2)) < 1e-12)
    assert(got(4L) == 0.0)
  }

  test("unicode normalize: composed == normalized decomposed, dedup catches the pair") {
    import graft.functions.TextExprs
    val composed = "café résumé" // é as U+00E9
    val decomposed = "café résumé" // e + U+0301
    // guard: the two source literals must really differ (decomposed carries
    // combining acutes) even though they render identically in an editor
    assert(composed != decomposed && decomposed.length === composed.length + 3)
    val d = Seq((1L, composed), (2L, decomposed), (3L, "plain ascii"), (4L, null))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
      TextExprs.unicodeNormalize(col("text")).as("nfc"),
      TextExprs.unicodeNormalize(col("text"), "NFKC").as("nfkc"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) === composed) // NFC of composed = identity
    assert(out(2L).getString(1) === composed) // decomposed composes
    assert(out(3L).getString(1) === "plain ascii")
    assert(out(4L).isNullAt(1)) // NULL in, NULL out
    assert(out(2L).getString(2) === composed) // NFKC agrees here
    // the fingerprint now unifies the rendering-identical pair
    val groups = Dedup.exactGroups(
      d.filter(col("text").isNotNull)
        .select(col("doc_id"), TextExprs.unicodeNormalize(col("text")).as("text")),
      "doc_id", "text")
    assert(groups.filter(col("n_docs") === 2).count() === 1L)
    // interpreted eval path agrees with codegen (collect forces codegen;
    // Literal eval drives the interpreted branch)
    val lit2 = graft.functions.UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(decomposed)), "NFC")
    assert(lit2.eval(null).toString === composed)
    intercept[IllegalArgumentException] {
      TextExprs.unicodeNormalize(col("text"), "NFX")
    }
  }

  test("gopher rules: each signal fires on its crafted violation") {
    val good = (("the quick brown fox jumps over a lazy dog and then it " * 6).trim)
    val d = Seq(
      (1L, good), // passes every rule (60 words, all alpha, stopwords present)
      (2L, "short text only here"), // < 50 words
      (3L, ("#tag " * 60).trim), // symbol ratio 1.0, no stopwords
      (4L, (1 to 60).map(i => s"- bullet $i of the list").mkString("\n")), // all bullet lines
      (5L, (1 to 60).map(i => s"the line $i trails off...").mkString("\n")), // all ellipsis ends
      (6L, ("12345 67890 " * 30).trim + " the it is was on"), // alpha ratio < 0.8
      (7L, "") // empty: everything zero, keep = false
    ).toDF("doc_id", "text")
    val sigs = TextOps.gopherSignals(col("text"), TextOps.tokens(col("text")))
    val out = d.select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("keep") && out(2L).getAs[Long]("n_words") < 50)
    assert(!out(3L).getAs[Boolean]("keep") && out(3L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!out(4L).getAs[Boolean]("keep") && out(4L).getAs[Double]("bullet_ratio") > 0.9)
    assert(!out(5L).getAs[Boolean]("keep") && out(5L).getAs[Double]("ellipsis_ratio") > 0.3)
    assert(!out(6L).getAs[Boolean]("keep") && out(6L).getAs[Double]("alpha_word_ratio") < 0.8)
    assert(!out(7L).getAs[Boolean]("keep") && out(7L).getAs[Long]("n_words") === 0L)
  }

  test("repetition signals: hand-computed line/n-gram coverage and keep bounds") {
    val d = Seq(
      // 3 line instances / 2 distinct; "aa bb" repeats; text = 17 chars
      (1L, "aa bb\naa bb\ncc dd"),
      // pathological repetition: top 2-gram and dup 5-gram cover the doc
      (2L, "x x x x x x"),
      (3L, "") // empty: all signals zero, vacuously keep
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def d1(n: String) = out(1L).getAs[Double](n)
    assert(math.abs(d1("dup_line_frac") - 1.0 / 3) < 1e-12)
    assert(math.abs(d1("dup_line_char_frac") - 10.0 / 15) < 1e-12)
    assert(math.abs(d1("top2gram_char_frac") - 10.0 / 17) < 1e-12) // "aa bb" x2, len 5
    assert(math.abs(d1("top3gram_char_frac") - 8.0 / 17) < 1e-12) // all distinct, len 8
    assert(math.abs(d1("dup5gram_char_frac")) < 1e-12) // both 5-grams distinct
    assert(!out(1L).getAs[Boolean]("repetition_keep")) // dup lines 0.33 > 0.30
    assert(out(2L).getAs[Double]("top2gram_char_frac") === 1.0) // capped
    assert(out(2L).getAs[Double]("dup5gram_char_frac") === 1.0) // capped
    assert(!out(2L).getAs[Boolean]("repetition_keep"))
    assert(out(3L).getAs[Double]("dup_line_frac") === 0.0)
    assert(out(3L).getAs[Boolean]("repetition_keep")) // vacuously non-repetitive
  }

  test("end-to-end corpus pipeline: scrub -> dedup -> sample -> split") {
    // the full pre-training sequence on the real corpus, asserting the
    // invariants a production run relies on at each stage
    import graft.sources.ScaleOps
    val corpus = docs // sf0.001, 500 docs
    val n0 = corpus.count()
    // 1. PII scrub (pure projection — row count unchanged)
    val scrubbed = corpus.select(col("doc_id"), col("lang"),
      TextOps.redactPii(col("text")).as("text"))
    assert(scrubbed.count() == n0)
    // 2. exact dedup action: keep one representative per fingerprint class
    val keep = Dedup.exactGroups(scrubbed, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val exact = scrubbed.join(keep, Seq("doc_id"), "left_semi")
    val n1 = exact.count()
    assert(n1 <= n0)
    // 3. boilerplate filter: drop docs mostly made of duplicated spans
    val spans = Dedup.dupSpans(exact, "doc_id", "text", width = 5)
    val keepIds = spans.filter(col("dup_frac") < 0.9).select(col("id").as("doc_id"))
    val filtered = exact.join(keepIds, Seq("doc_id"), "left_semi")
    val n2 = filtered.count()
    assert(n2 <= n1 && n2 > 0)
    // 4. quality-weighted sample (deterministic)
    val sampled = ScaleOps.weightedSample(filtered, "doc_id",
      TextOps.qualityScore(col("text")), salt = "e2e")
    val n3 = sampled.count()
    assert(n3 < n2 && n3 > 0)
    // 5. split: labels partition the survivors
    val split = ScaleOps.hashSplit(sampled, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.1), salt = "e2e")
    val bySplit = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.values.sum == n3)
    assert(bySplit.keySet.subsetOf(Set("train", "val")))
    // deterministic end-to-end: the same chain yields the same train set
    val again = ScaleOps.hashSplit(
      ScaleOps.weightedSample(filtered, "doc_id",
        TextOps.qualityScore(col("text")), salt = "e2e"),
      "doc_id", Seq("train" -> 0.9, "val" -> 0.1), salt = "e2e")
      .filter(col("split") === "train").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val first = split.filter(col("split") === "train").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(again == first)
  }

  test("int8 quantization: bounded round-trip error, ANN recall@10 holds") {
    val sc = Similarity.int8Scale(col("embedding"))
    val deq = embs.select(col("vec_id"), col("embedding"), sc.as("scale"),
      Similarity.int8Dequantize(
        Similarity.int8Quantize(col("embedding"), sc), sc).as("deq"))
    // per-element |x - deq(q(x))| <= scale/2 (round-to-nearest), codes in range
    val bad = deq.select(
      aggregate(zip_with(col("embedding"), col("deq"),
        (a, b) => abs(a.cast("double") - b)), lit(0), (acc, e) =>
        acc + when(e > col("scale") * 0.5 + 1e-12, 1).otherwise(0)).as("viol"))
      .agg(sum(col("viol"))).collect()(0).getLong(0)
    assert(bad == 0, s"$bad elements exceed scale/2 reconstruction error")
    // recall@10: brute top-k over dequantized vectors vs exact, same queries
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def topk(d: org.apache.spark.sql.DataFrame, vc: String) =
      Similarity.bruteForceTopK(d, "vec_id", vc, qids, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val exact = topk(embs, "embedding")
    val approx = topk(deq.select(col("vec_id"), col("deq")), "deq")
    val recall = qids.map(q =>
      (exact(q) intersect approx(q)).size.toDouble / exact(q).size).sum / qids.size
    assert(recall >= 0.8, s"recall@10 = $recall")
  }

  test("stripMarkup: payload blocks vanish, tags space-separate, entities decode once") {
    val rows = Seq(
      (1L, "<html><body><p>hello</p><p>world</p></body></html>"),
      (2L, "<script>var x = 1 < 2;</script>keep<style>p{}</style><!-- no -->this"),
      // &amp;lt; is an ESCAPED "&lt;" — must decode to the 4-char string
      // "&lt;", not double-decode to "<"
      (3L, "a &amp;lt; b &nbsp;&gt; c &quot;q&quot; &#39;s&#39; &amp; d"),
      (4L, "<SCRIPT SRC=\"x\">nope</SCRIPT><DIV>Case</DIV>"),
      (5L, ""),
      (6L, "plain text, no markup at all")
    ).toDF("doc_id", "text")
    val got = rows.select(col("doc_id"), TextOps.stripMarkup(col("text")).as("v"),
      TextOps.markupRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(got(1L)._1 == "hello world")
    assert(got(2L)._1 == "keep this")
    assert(got(3L)._1 == "a &lt; b > c \"q\" 's' & d")
    assert(got(4L)._1 == "Case") // (?i) covers upper-case tags
    assert(got(5L) == (("", 0.0)))
    assert(got(6L)._1 == "plain text, no markup at all" && got(6L)._2 == 0.0)
    assert(got(1L)._2 > 0.5 && got(1L)._2 < 1.0)
  }

  test("dedupAgainst flags exact and near copies of the corpus, exact is valve-immune") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"),
      (3L, "completely unrelated content sits here quietly")).toDF("doc_id", "text")
    val fresh = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta"), // exact of 1
      (102L, "one two three four five six seven nine"),        // near of 2
      (103L, "nothing like anything in the corpus at all")     // unique
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(corpus, fresh, "doc_id", "text",
      n = 2, threshold = 0.4)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toMap
    assert(out(101L) == ((1L, 1.0)), s"got ${out(101L)}")
    assert(out(102L)._1 == 2L && out(102L)._2 > 0.4 && out(102L)._2 < 1.0)
    assert(out(103L) == ((-1L, -1.0)))
    // valve immunity: cap 0 kills every near-dup bucket, the exact copy
    // must still be flagged through the fingerprint join
    val valved = Dedup.dedupAgainst(corpus, fresh, "doc_id", "text",
      n = 2, threshold = 0.4, maxBucketSize = Some(0L))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!valved(101L) && valved(102L) && valved(103L))
  }

  test("lazily-returned operators leave no CacheManager entries behind") {
    import org.apache.spark.sql.GraftInternal
    // internal materialization must use context-cleaner-managed checkpoint
    // blocks, not persist: a cached plan registered by an operator that
    // returns lazily can never be unpersisted by anyone and leaks for the
    // session's lifetime
    spark.catalog.clearCache()
    val d = docs.limit(50)
    Dedup.jaccardPairs(d, "doc_id", "text", n = 2, threshold = 0.5).count()
    Dedup.minhashPairs(d, "doc_id", "text", n = 2, threshold = 0.5).count()
    Dedup.dedupAgainst(d.limit(30), d.limit(50), "doc_id", "text").count()
    Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3).count()
    Dedup.containmentPairs(d, "doc_id", "text", k = 8, w = 4,
      threshold = 0.5).count()
    Similarity.semDedup(embs.limit(50), "vec_id", "embedding",
      threshold = 0.95, k = 2, iters = 1, dim = 64).count()
    graft.reg.Dbreg.fitGrouped("l_quantity ~ l_extendedprice",
      sf("sf0.001", "lineitem"), "l_returnflag").count()
    assert(GraftInternal.cacheManagerIsEmpty(spark),
      "an operator registered a CacheManager entry it can never release")
  }

  test("BPE training: textbook merge sequence with deterministic ties") {
    val corpus = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val out = TextOps.bpeTrain(corpus, "text", numMerges = 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // pairs (l,o) and (o,w) both count 3 -> tie breaks to "l o"; after
    // "lo", (lo,w)=3 wins; then (e r) < (low e) lexically at count 1
    assert(out.toSeq == Seq(
      (1, "l o", "lo", 3L),
      (2, "lo w", "low", 3L),
      (3, "e r", "er", 1L),
      (4, "low er", "lower", 1L)))
    // exhaustion: only 4 merges exist, later ranks are absent (no padding)
    assert(out.length == 4)
    // chained same-symbol merges resolve greedily left-to-right
    val aaa = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val m = TextOps.bpeTrain(aaa, "text", numMerges = 2)
      .collect().map(r => (r.getString(1), r.getLong(3)))
    // "a a a a"(f1): pairs (a,a)x3; "a a a"(f1): x2 -> merge (a,a) count 5
    // greedy: "aa aa" and "aa a" -> next pair counts: (aa,aa)=1, (aa,a)=1
    assert(m(0) == ("a a", 5L))
    assert(m(1) == ("aa a", 1L)) // tie (aa,a) < (aa,aa)
  }

  test("BPE sample-training: half-sample learns the full-corpus merge table") {
    // 120 distinct docs, each repeating the same dominant words plus one
    // unique rare token — any ~half of the docs preserves the pair
    // RANKING (the statistic BPE learns), so the sample-trained table
    // must equal the full-trained one rule for rule
    val corpus = (1 to 120)
      .map(i => (i.toLong, s"low low low lower newest u$i"))
      .toDF("doc_id", "text")
    val full = TextOps.bpeTrain(corpus, "text", numMerges = 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    val sampled = TextOps.bpeTrain(corpus, "text", numMerges = 4,
        sampleFraction = 0.5)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(sampled === full)
    // determinism: the md5 document cut is layout-independent
    val resampled = TextOps.bpeTrain(corpus.repartition(7), "text",
        numMerges = 4, sampleFraction = 0.5)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(resampled === sampled)
    intercept[IllegalArgumentException] {
      TextOps.bpeTrain(corpus, "text", numMerges = 1, sampleFraction = 0.0)
    }
  }

  test("BPE driver-local merge loop ≡ job-per-merge loop, rule for rule") {
    // ties at every rank, long same-symbol chains (the replace-vs-greedy
    // divergence case), multi-char merged symbols re-entering later pairs,
    // and a pair that a bounded pass count leaves partially fused
    val corpus = Seq(
      (1L, "low low lower lowest"),
      (2L, "aaaa aaa aaaaa"),
      (3L, "newer newest new"),
      (4L, "banana bandana"),
      (5L, "zz zzz zzzz zz")
    ).toDF("doc_id", "text")
    for (passes <- Seq(1, 2, 12)) {
      val local = TextOps.bpeTrain(corpus, "text", numMerges = 20,
          maxPasses = passes)
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val dist = TextOps.bpeTrain(corpus, "text", numMerges = 20,
          maxPasses = passes, driverVocabMax = 0L)
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(local === dist, s"maxPasses=$passes")
    }
    // over-bound vocab falls back to the distributed loop (same table)
    val tiny = TextOps.bpeTrain(corpus, "text", numMerges = 5,
        driverVocabMax = 1L)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val loc = TextOps.bpeTrain(corpus, "text", numMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(tiny === loc)
  }

  test("BPE segmentation: symbol counts shrink by exactly the merge hits") {
    val corpus = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val rules = TextOps.bpeTrain(corpus, "text", numMerges = 4)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val s = TextOps.bpeSegmentStats(corpus, "text", rules).head
    assert(s.getLong(0) == 3L)  // word occurrences
    assert(s.getLong(1) == 11L) // chars: 3+3+5
    // after 4 merges every word is a single symbol
    assert(s.getLong(2) == 3L)
    // applying only the FIRST rule: "lo w"x2 + "lo w e r" = 2*2 + 4
    val one = TextOps.bpeSegmentStats(corpus, "text", rules.take(1)).head
    assert(one.getLong(2) == 8L)
  }

  test("JSD: hand-computed mixtures, disjoint vocab gives ln 2, identical gives 0") {
    val ref = Seq((1L, "a a b")).toDF("doc_id", "text")
    val cur = Seq((2L, "a b b")).toDF("doc_id", "text")
    val r = TextOps.jsDivergence(ref, cur, "text").head
    val expect = 2.0 / 3.0 * math.log(4.0 / 3.0) + 1.0 / 3.0 * math.log(2.0 / 3.0)
    assert(math.abs(r.getDouble(0) - expect) < 1e-12)
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L)
    val disjoint = TextOps.jsDivergence(
      Seq((1L, "a")).toDF("doc_id", "text"),
      Seq((2L, "b")).toDF("doc_id", "text"), "text").head.getDouble(0)
    assert(math.abs(disjoint - math.log(2.0)) < 1e-12)
    val same = TextOps.jsDivergence(ref, ref, "text").head.getDouble(0)
    assert(math.abs(same) < 1e-12)
  }

  test("PMI collocations: hand-computed probabilities, floor keeps B unfloored") {
    val corpus = Seq((1L, "a b a b"), (2L, "c c")).toDF("doc_id", "text")
    // unigrams a:2 b:2 c:2 (T=6); bigrams "a b":2 "b a":1 "c c":1 (B=4)
    val out = TextOps.pmiCollocations(corpus, "doc_id", "text", minCount = 1L, k = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(("a", "b"), ("b", "a"), ("c", "c")))
    assert(math.abs(out(0)._3 - math.log(4.5)) < 1e-12) // (2/4)/((2/6)(2/6))
    assert(math.abs(out(1)._3 - math.log(2.25)) < 1e-12)
    assert(out.map(_._2).toSeq == Seq(2L, 1L, 1L))
    // floor prunes pairs but leaves the bigram total (denominator) intact
    val floored = TextOps.pmiCollocations(corpus, "doc_id", "text", minCount = 2L, k = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3)))
    assert(floored.toSeq == Seq((("a", "b"), math.log(4.5))))
  }

  test("token chi2: hand-computed 2x2 tables, universal tokens dropped, ties break on token") {
    val corpus = Seq(
      (1L, "good apple"), (2L, "good banana"),
      (3L, "bad apple"), (4L, "bad cherry")).toDF("doc_id", "text")
    val out = TextOps.tokenLabelAssociation(corpus, "doc_id", "text",
      array_contains(TextOps.tokens(col("text")), "good"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // chi2: good=bad=4 (perfect association), banana=cherry=4/3, apple=0
    assert(out.map(_._1).toSeq ==
      Seq("bad", "good", "banana", "cherry", "apple"))
    assert(math.abs(out(0)._3 - 4.0) < 1e-12)
    assert(math.abs(out(2)._3 - 4.0 / 3.0) < 1e-12)
    assert(out(4)._3 == 0.0)
    assert(out.map(_._2).toSeq == Seq(2L, 2L, 1L, 1L, 2L))
    // a token present in every doc is excluded (zero denominator)
    val univ = Seq((1L, "x good"), (2L, "x bad")).toDF("doc_id", "text")
    val u = TextOps.tokenLabelAssociation(univ, "doc_id", "text",
      array_contains(TextOps.tokens(col("text")), "good"), k = 10)
      .collect().map(_.getString(0)).toSet
    assert(!u.contains("x") && u == Set("good", "bad"))
  }

  test("BM25: hand-computed Okapi scores, non-matching docs excluded, k cuts") {
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian durian"),
      (4L, "apple")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(corpus, "doc_id", "text",
      Seq("apple", "cherry"), k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // N=4, avgdl=2.5; idf(apple)=ln 2 (df 2), idf(cherry)=ln(10/3) (df 1)
    val doc1 = math.log(2.0) * 2.0 * 2.2 / (2.0 + 1.2 * (0.25 + 0.75 * 3.0 / 2.5))
    val doc2 = math.log(10.0 / 3.0) * 2.2 / (1.0 + 1.2 * (0.25 + 0.75 * 2.0 / 2.5))
    val doc4 = math.log(2.0) * 2.2 / (1.0 + 1.2 * (0.25 + 0.75 * 1.0 / 2.5))
    assert(out.map(_._1).toSeq == Seq(2L, 4L, 1L)) // score-desc order
    assert(out.forall(_._3 == 1L))
    val byId = out.map(t => t._1 -> t._2).toMap
    assert(math.abs(byId(1L) - doc1) < 1e-12)
    assert(math.abs(byId(2L) - doc2) < 1e-12)
    assert(math.abs(byId(4L) - doc4) < 1e-12)
    // doc 3 never matches; k=2 keeps only the two best
    val cut = TextOps.bm25TopK(corpus, "doc_id", "text",
      Seq("apple", "cherry"), k = 2).collect().map(_.getLong(0)).toSet
    assert(cut == Set(2L, 4L))
  }

  test("removeDupLines: keep-first, blank lines survive, byte-faithful rebuild") {
    val d = Seq(
      (1L, "The SAME Line!\n\nunique one"),        // first occurrence
      (2L, "intro text\nThe SAME Line!\noutro"),   // dup → masked here
      (3L, "The SAME Line!"),                       // dup again → masked
      (4L, "only\n\n\nblanks between")              // blanks never masked
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupLines(d, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // doc 1 holds the first occurrence: untouched, case/punct intact,
    // the blank separator line survives byte-for-byte
    assert(out(1L) == ((3L, 0L, "The SAME Line!\n\nunique one")), s"got ${out(1L)}")
    assert(out(2L) == ((3L, 1L, "intro text\noutro")), s"got ${out(2L)}")
    // a doc that was ONLY the duplicated line rebuilds to empty
    assert(out(3L) == ((1L, 1L, "")), s"got ${out(3L)}")
    // consecutive blanks are duplicated as strings but never fingerprinted
    assert(out(4L) == ((4L, 0L, "only\n\n\nblanks between")), s"got ${out(4L)}")
    // NULL text is treated as empty — counters stay non-null (the
    // n_removed = 0 ⇔ unchanged contract survives)
    val n = Dedup.removeDupLines(
        Seq((9L, null: String)).toDF("doc_id", "text"), "doc_id", "text")
      .collect()(0)
    assert((n.getLong(1), n.getLong(2), n.getString(3)) == ((1L, 0L, "")))
  }

  test("removeDupLines: within-doc repeats, boilerplate mode, minRepeat") {
    val d = Seq(
      (1L, "chorus\nverse\nchorus"),   // within-doc repeat: first stays
      (2L, "chorus\nbridge")           // third occurrence corpus-wide
    ).toDF("doc_id", "text")
    val keepFirst = Dedup.removeDupLines(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(keepFirst(1L) == "chorus\nverse")
    assert(keepFirst(2L) == "bridge")
    // boilerplate mode: EVERY occurrence of the duplicated line goes
    val scrub = Dedup.removeDupLines(d, "doc_id", "text", keepFirst = false)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(scrub(1L) == "verse" && scrub(2L) == "bridge")
    // minRepeat above the observed count leaves everything in place
    val loose = Dedup.removeDupLines(d, "doc_id", "text", minRepeat = 4)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(loose(1L) == "chorus\nverse\nchorus" && loose(2L) == "chorus\nbridge")
  }

  test("removeDupLinesAgainst: corpus lines strip fully, empty corpus = removeDupLines") {
    val corpus = Seq((1L, "cookie banner\nreal content here")).toDF("doc_id", "text")
    val shard = Seq(
      (10L, "cookie banner\nfresh words"),  // corpus line: stripped
      (11L, "dup me\nother\ndup me"),       // shard-internal: first stays
      (12L, "untouched page")
    ).toDF("doc_id", "text")
    val fps = Dedup.lineFingerprints(corpus, "doc_id", "text")
    val out = Dedup.removeDupLinesAgainst(fps, shard, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(10L) == ((2L, 1L, "fresh words")), s"got ${out(10L)}")
    assert(out(11L) == ((3L, 1L, "dup me\nother")), s"got ${out(11L)}")
    assert(out(12L) == ((1L, 0L, "untouched page")), s"got ${out(12L)}")
    // empty fingerprint table degenerates to removeDupLines exactly
    val viaAgainst = Dedup.removeDupLinesAgainst(fps.limit(0), shard,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    val direct = Dedup.removeDupLines(shard, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(viaAgainst == direct)
  }

  test("bucketed line-fingerprint state: shard ingest exploits the bucket layout, same result") {
    // the documented 100 TB state layout for the LINE family (the span
    // family's bucketed-state pin, same mechanics): lineFingerprints
    // persisted bucketed by fp — the per-shard join reads the corpus
    // state AS BUCKETS, only the shard side shuffles
    val ml = docs.select(col("doc_id"),
      graft.pipeline.TextOps.tokenChunkLines(col("text"), 5).as("text"))
    val corpus = ml.filter(col("doc_id") % 10 =!= 0)
    val shard = ml.filter(col("doc_id") % 10 === 0)
    val fps = Dedup.lineFingerprints(corpus, "doc_id", "text")
    val state = withBucketedTable("graft_linefps_b", fps, Seq("fp"), 8)
    val bucketed = Dedup.removeDupLinesAgainst(state, shard,
      "doc_id", "text")
    val plain = Dedup.removeDupLinesAgainst(fps, shard, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    val got = bucketed
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(got == plain && got.nonEmpty)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(3000))
  }

  test("minhash dedup state: parquet round-trip applies identically to the convenience form") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val direct = Dedup.dedupAgainst(corpus, fresh, "doc_id", "text",
        n = 2, threshold = 0.4)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toSet
    // freeze the corpus state, persist BOTH frames, reload, apply
    val state = Dedup.minhashDedupState(corpus, "doc_id", "text", n = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_mhstate").toString
    state.reps.write.mode("overwrite").parquet(s"$dir/reps")
    state.buckets.write.mode("overwrite").parquet(s"$dir/buckets")
    val loaded = Dedup.MinhashDedupState(
      spark.read.parquet(s"$dir/reps"),
      spark.read.parquet(s"$dir/buckets"))
    val viaState = Dedup.dedupAgainstState(loaded, fresh, "doc_id", "text",
        n = 2, threshold = 0.4)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toSet
    assert(viaState == direct && direct.nonEmpty)
    // the state really carries dup signal (some shard doc matched)
    assert(direct.exists(_._2.isDefined))
    // a mismatched shingle width refuses loudly (frozen into the state —
    // it would otherwise silently report every shard doc unique)
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstState(loaded, fresh, "doc_id", "text", n = 3)
    }
    assert(e.getMessage.contains("built with n = 2"))
    // a state persisted by a pre-tombstone library version (no max_bucket
    // meta — the fingerprint encoding changed with it) refuses at APPLY
    // too, not only at refresh: its exact-fp join would silently miss
    val legacy = Dedup.MinhashDedupState(
      loaded.reps.drop("max_bucket"), loaded.buckets)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstState(legacy, fresh, "doc_id", "text", n = 2)
    }
    assert(e2.getMessage.contains("rebuild"))
  }

  test("sub-n-token docs never pair: no md5-of-empty-set exact class") {
    // two unrelated one-token docs have NO bigram evidence — they must
    // not be declared exact duplicates of each other (the pairwise
    // oracle algebra has no row for them), and they still appear in the
    // ingest output as unique
    val corpus = Seq((1L, "hello"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val fresh = Seq((10L, "goodbye"), (11L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(corpus, fresh, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out(10L).isEmpty, s"short doc spuriously matched: ${out(10L)}")
    assert(out(11L).contains(2L))
    assert(out.size == 2) // every shard doc appears, short ones included
    // same rule inside minhashPairs (the within-class expansion)
    val all = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
    assert(Dedup.minhashPairs(all, "doc_id", "text").count() == 0)
  }

  test("removeDupLines plan: no window — first-occurrence picks ride the hash agg") {
    val ml = docs.select(col("doc_id"),
      regexp_replace(col("text"), " ", "\n").as("text"))
    val out = Dedup.removeDupLines(ml, "doc_id", "text")
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    val fps = Dedup.lineFingerprints(ml.limit(50), "doc_id", "text")
    val incr = Dedup.removeDupLinesAgainst(fps, ml, "doc_id", "text")
    assert(!incr.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("dedupCorpusKeepBest: highest priority survives, ties to lowest id, null lowest") {
    // two exact-duplicate families → two clusters via jaccardPairs
    val d = Seq(
      (1L, "alpha beta gamma delta", 2.0),
      (2L, "alpha beta gamma delta", 9.0),   // best of cluster {1,2,3}
      (3L, "alpha beta gamma delta", 9.0),   // tied but higher id
      (4L, "one two three four five", 1.0),  // best of {4,5} (5 is null)
      (5L, "one two three four five", -1.0),
      (6L, "completely different words here", 0.0) // singleton: untouched
    ).toDF("doc_id", "text", "pr")
    val pairs = Dedup.jaccardPairs(d, "doc_id", "text", n = 2, threshold = 0.9)
    val withNull = d.withColumn("pr",
      when(col("doc_id") === 5L, lit(null)).otherwise(col("pr")))
    val kept = Dedup.dedupCorpusKeepBest(withNull, "doc_id", pairs, col("pr"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L), s"got $kept")
    // priority = -id reproduces the canonical min-id rule (dedupCorpus)
    val viaBest = Dedup.dedupCorpusKeepBest(d, "doc_id", pairs, -col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val viaMin = Dedup.dedupCorpus(d, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(viaBest == viaMin)
    // native-type comparison: long priorities one apart above 2^53 (where
    // doubles collapse) must still pick the genuinely larger one
    val big = d.withColumn("pr",
      when(col("doc_id") === 1L, lit(9007199254740993L))   // 2^53 + 1
        .when(col("doc_id") === 2L, lit(9007199254740992L)) // 2^53
        .when(col("doc_id") === 3L, lit(0L))
        .otherwise(col("doc_id").cast("long")))
    val keptBig = Dedup.dedupCorpusKeepBest(big, "doc_id", pairs, col("pr"))
      .collect().map(_.getLong(0)).toSet
    assert(keptBig.contains(1L) && !keptBig.contains(2L), s"got $keptBig")
    // an ALL-null cluster degenerates to the min-id rule
    val allNull = d.withColumn("pr",
      when(col("doc_id").isin(1L, 2L, 3L), lit(null).cast("double"))
        .otherwise(col("pr")))
    val keptNull = Dedup.dedupCorpusKeepBest(allNull, "doc_id", pairs, col("pr"))
      .collect().map(_.getLong(0)).toSet
    assert(keptNull.contains(1L) && !keptNull.contains(2L) && !keptNull.contains(3L))
  }

  test("minhash state refresh: first-writer-wins matches rebuild on a grown corpus") {
    // base corpus, then a refresh shard with MONOTONE ids (the routine
    // ingest); the refreshed state must apply identically to a state
    // rebuilt from the union, and its tables must match row-for-row
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      (4L, "red orange yellow green blue indigo violet ultraviolet")
    ).toDF("doc_id", "text")
    val grow = Seq(
      (10L, "one two three four five six seven nine"),  // near-dup of 2
      (11L, (1 to 20).map(i => s"nv$i").mkString(" ")), // a novel class
      (12L, "alpha beta gamma delta epsilon zeta eta theta") // exact dup of 1
    ).toDF("doc_id", "text")
    val refreshed = Dedup.minhashDedupStateRefresh(
      Dedup.minhashDedupState(base, "doc_id", "text"), grow, "doc_id", "text")
    val rebuilt = Dedup.minhashDedupState(base.unionByName(grow),
      "doc_id", "text")
    def repSet(st: Dedup.MinhashDedupState) = st.reps
      .select("__fp", "cid").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def bkSet(st: Dedup.MinhashDedupState) = st.buckets.collect()
      .map(r => (r.getInt(r.fieldIndex("band")),
        r.getAs[Any]("bucket").toString,
        if (r.isNullAt(r.fieldIndex("cid"))) -1L
        else r.getAs[Long]("cid"))).toSet
    assert(repSet(refreshed) == repSet(rebuilt))
    assert(bkSet(refreshed) == bkSet(rebuilt))
    // apply parity on a probe shard touching every class
    val probe = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven nine"),
      (102L, ((1 to 19).map(i => s"nv$i") :+ "nvx").mkString(" ")),
      (103L, "none of these tokens were ever seen")).toDF("doc_id", "text")
    def out(st: Dedup.MinhashDedupState) =
      Dedup.dedupAgainstState(st, probe, "doc_id", "text", threshold = 0.4)
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val got = out(refreshed)
    assert(got == out(rebuilt))
    // the refresh really carries signal from BOTH generations
    assert(got.contains((100L, Some(1L))) && got.contains((103L, None)))
    assert(got.exists { case (id, d) => id == 102L && d.contains(11L) })
  }

  test("minhash state refresh: tombstones keep valved-out hot buckets saturated") {
    // cap = 1: docs A and B are distinct near-identical classes, so every
    // bucket they share is hot at freeze time and must STAY saturated
    // after a refresh adds near-dup C — without tombstones the refresh
    // would "resurrect" those buckets from C's rows alone and diverge
    // from a rebuild
    val toks = (1 to 20).map(i => s"t$i")
    def doc(swap: Int, to: String) =
      toks.updated(swap - 1, to).mkString(" ")
    val base = Seq((1L, toks.mkString(" ")), (2L, doc(20, "zz")))
      .toDF("doc_id", "text")
    val grow = Seq((10L, doc(19, "yy"))).toDF("doc_id", "text")
    val cap = Some(1L)
    val st0 = Dedup.minhashDedupState(base, "doc_id", "text",
      maxBucketSize = cap)
    // the fixture really produces >= 1 shared (hot -> tombstoned) bucket
    val tombs0 = st0.buckets.filter(col("cid").isNull).count()
    assert(tombs0 >= 1, s"fixture too weak: no hot bucket (tombs=$tombs0)")
    val refreshed = Dedup.minhashDedupStateRefresh(st0, grow, "doc_id", "text")
    val rebuilt = Dedup.minhashDedupState(base.unionByName(grow),
      "doc_id", "text", maxBucketSize = cap)
    def bkSet(st: Dedup.MinhashDedupState) = st.buckets.collect()
      .map(r => (r.getInt(r.fieldIndex("band")),
        r.getAs[Any]("bucket").toString,
        if (r.isNullAt(r.fieldIndex("cid"))) -1L
        else r.getAs[Long]("cid"))).toSet
    assert(bkSet(refreshed) == bkSet(rebuilt))
    val probe = Seq((100L, doc(19, "yy"))).toDF("doc_id", "text")
    def out(st: Dedup.MinhashDedupState) =
      Dedup.dedupAgainstState(st, probe, "doc_id", "text", threshold = 0.4)
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(out(refreshed) == out(rebuilt))
  }

  test("minhash state: empty corpus applies as all-unique; refresh refuses") {
    // a corpus with no >= n-token docs freezes no config: apply treats
    // every shard doc as unique (correct for an empty corpus, documented
    // on MinhashDedupState.shingleN); refresh refuses loudly — there is
    // nothing frozen to refresh against
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val st = Dedup.minhashDedupState(empty, "doc_id", "text")
    assert(st.shingleN.isEmpty)
    val shard = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstState(st, shard, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.isNullAt(1)))
    assert(out.toSeq == Seq((1L, true)))
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashDedupStateRefresh(st, shard, "doc_id", "text")
    }
    assert(e.getMessage.contains("EMPTY state"))
    // a pre-tombstone persisted state (no max_bucket meta) also refuses
    val legacy = Dedup.MinhashDedupState(
      Dedup.minhashDedupState(shard, "doc_id", "text")
        .reps.drop("max_bucket"),
      Dedup.minhashDedupState(shard, "doc_id", "text").buckets)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashDedupStateRefresh(legacy, shard, "doc_id", "text")
    }
    assert(e2.getMessage.contains("max_bucket"))
  }

  test("shingle fingerprints are injective: a U+0001 inside a token cannot collide") {
    // under the old bare-separator encoding the 1-gram sets {"a\u0001b"}
    // and {"a","b"} concatenated to the same pre-image; the length-prefix
    // code keeps them distinct, so the exact path never declares them
    // duplicates
    val corpus = Seq((1L, "a\u0001b")).toDF("doc_id", "text")
    val fresh = Seq((10L, "a b")).toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(corpus, fresh, "doc_id", "text", n = 1)
      .collect().map(r => (r.getLong(0), r.isNullAt(1)))
    assert(out.toSeq == Seq((10L, true)), s"spurious exact match: ${out.toSeq}")
    // sanity: genuinely identical 1-gram sets still pair exactly
    val out2 = Dedup.dedupAgainst(corpus, Seq((11L, "a\u0001b"))
        .toDF("doc_id", "text"), "doc_id", "text", n = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out2.toSeq == Seq((11L, 1L, 1.0)))
  }

  // Shared bridge fixture: two distinct resident clusters {1,2} and
  // {5,6}; doc X = A's tokens ++ B's tokens sits at Jaccard 19/39 ≈ 0.487
  // to BOTH reps. The token suffixes are chosen so that the ~0.49 bridge
  // pairs deterministically share an LSH band with both reps (at 4×4
  // bands, recall at j≈0.5 is partial — the fixture is searched once
  // offline over the FIXED minhash coefficients, so the test is exact).
  private def bridgeTokensA = (0 to 19).map(i => s"a${i}x22")
  private def bridgeTokensB = (0 to 19).map(i => s"b${i}x22")
  private def bridgeCorpus = Seq(
    (1L, bridgeTokensA.mkString(" ")),
    (2L, (bridgeTokensA.dropRight(1) :+ "zz22").mkString(" ")),
    (5L, bridgeTokensB.mkString(" ")),
    (6L, (bridgeTokensB.dropRight(1) :+ "yy22").mkString(" "))
  ).toDF("doc_id", "text")
  private def bridgeText = (bridgeTokensA ++ bridgeTokensB).mkString(" ")

  test("dedupAgainstStateAll: every above-threshold match, top-1 consistent, hits-sized") {
    val st = Dedup.minhashDedupState(bridgeCorpus, "doc_id", "text")
    val bridge = Seq((100L, bridgeText)).toDF("doc_id", "text")
    val all = Dedup.dedupAgainstStateAll(st, bridge, "doc_id", "text",
        threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // BOTH resident clusters matched — every member is its own exact
    // class here, so X reports all four above-threshold reps (19/39 ≈
    // 0.487 to each cluster head, 18/40 = 0.45 to each variant); the
    // top-1 form can only name one of them
    assert(all.map(t => (t._1, t._2)).toSet ==
      Set((100L, 1L), (100L, 2L), (100L, 5L), (100L, 6L)),
      s"got ${all.toSeq}")
    assert(all.forall(t => t._3 >= 0.4 && t._3 <= 1.0))
    // top-1 consistency: dup_of is the all-matches argmax under
    // (jaccard desc, cid asc) — here a jaccard TIE broken to cid 1
    val best = Dedup.dedupAgainstState(st, bridge, "doc_id", "text",
        threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(best == Seq((100L, 1L)))
    // an exact duplicate appears ONCE per rep with jaccard exactly 1.0
    // (the exact and near paths both surface it; the (id, cid) collapse
    // must not emit two rows)
    val exact = Seq((200L, bridgeTokensA.mkString(" "))).toDF("doc_id", "text")
    val ea = Dedup.dedupAgainstStateAll(st, exact, "doc_id", "text",
        threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ea.count(t => t._1 == 200L && t._2 == 1L) == 1)
    assert(ea.find(t => t._2 == 1L).get._3 == 1.0)
    // hits-sized: an unmatched doc has NO row (unlike the top-1 form's
    // null-dup_of row)
    val none = Seq((300L, "totally unrelated q w e r t y u i o p"))
      .toDF("doc_id", "text")
    assert(Dedup.dedupAgainstStateAll(st, none, "doc_id", "text").count() == 0)
    assert(Dedup.dedupAgainstState(st, none, "doc_id", "text").count() == 1)
  }

  test("dupClusterStateIngest == from-scratch rebuild incl. the cross-corpus bridge") {
    val corpus = bridgeCorpus
    val clusterSt = Dedup.dupClusterState(
      Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.4))
    def cmap(st: Dedup.DupClusterState) =
      st.clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // sanity: two distinct resident clusters before ingest
    assert(cmap(clusterSt) == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    val mhSt = Dedup.minhashDedupState(corpus, "doc_id", "text")
    val sToks = (0 to 19).map(i => s"s${i}v0")
    val shard = Seq(
      (100L, bridgeText), // near-dups BOTH resident clusters: must merge them
      (101L, sToks.mkString(" ")), // shard-internal pair
      (102L, (sToks.dropRight(1) :+ "ww0").mkString(" ")),
      (103L, "unique shard content nothing like anything else")
    ).toDF("doc_id", "text")
    val merged = Dedup.dupClusterStateIngest(clusterSt, mhSt, shard,
      "doc_id", "text", threshold = 0.4)
    val rebuilt = Dedup.dupClusterState(
      Dedup.minhashPairs(corpus.unionByName(shard), "doc_id", "text",
        threshold = 0.4))
    val m = cmap(merged)
    assert(m == cmap(rebuilt))
    // the bridge genuinely merged the two resident clusters under the
    // component minimum, and pulled the bridge doc in with them
    assert(m(5L) == 1L && m(6L) == 1L && m(100L) == 1L && m(2L) == 1L)
    // shard-internal pair clustered under its own minimum; the unique
    // doc is a non-node (no row — it keys on itself at split time)
    assert(m(101L) == 101L && m(102L) == 101L && !m.contains(103L))
    // the shard-internal-only recipe (the r15 demo shape) MISSES the
    // bridge — resident clusters stay split: the hole the cross edges
    // close, and exactly the train/eval leakage the family must prevent
    val internalOnly = Dedup.dupClusterStateMerge(clusterSt,
      Dedup.minhashPairs(shard, "doc_id", "text", threshold = 0.4)
        .select("id1", "id2"))
    val mi = cmap(internalOnly)
    assert(mi(5L) == 5L && mi(6L) == 5L && !mi.contains(100L))
  }

  test("dupClusterStateIngest == rebuild on seeded random document corpora") {
    // property loop (the repo's seeded pattern): random docs over a
    // small vocabulary with planted near-dup mutations, split into
    // resident/shard — the complete refresh recipe must equal a
    // from-scratch rebuild over the union on shapes the hand fixture
    // can't cover (mutation chains, shard docs bridging resident docs,
    // exact copies landing in either half). LSH is deterministic (fixed
    // minhash coefficients), so equality is exact, not probabilistic.
    val rnd = new scala.util.Random(4242)
    val vocab = (0 until 30).map(i => s"w$i")
    def freshDoc() =
      Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def mutate(text: String) = {
      val t = text.split(" ").toBuffer
      t(rnd.nextInt(t.size)) = vocab(rnd.nextInt(vocab.size))
      t.mkString(" ")
    }
    for (round <- 1 to 3) {
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until 50).foreach { _ =>
        val r = rnd.nextDouble()
        if (texts.isEmpty || r < 0.4) texts += freshDoc()
        else if (r < 0.7) texts += texts(rnd.nextInt(texts.size)) // exact copy
        else texts += mutate(texts(rnd.nextInt(texts.size)))      // near-dup
      }
      val all = texts.zipWithIndex
        .map { case (t, i) => ((i + 1).toLong, t) }.toSeq
      val d = all.toDF("doc_id", "text")
      val resident = d.filter(col("doc_id") <= 35)
      val shard = d.filter(col("doc_id") > 35)
      val merged = Dedup.dupClusterStateIngest(
        Dedup.dupClusterState(Dedup.minhashPairs(resident, "doc_id",
          "text", n = 2, threshold = 0.5)),
        Dedup.minhashDedupState(resident, "doc_id", "text", n = 2),
        shard, "doc_id", "text", n = 2, threshold = 0.5)
      val rebuilt = Dedup.dupClusterState(Dedup.minhashPairs(d, "doc_id",
        "text", n = 2, threshold = 0.5))
      def cmap(st: Dedup.DupClusterState) = st.clusters.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val m = cmap(merged)
      assert(m == cmap(rebuilt), s"round $round")
      assert(m.nonEmpty, s"round $round: fixture produced no dup pairs")
    }
  }

  test("sequential two-shard ingest loop (cluster + minhash refresh) == one rebuild") {
    // the multi-shard daily loop: each shard folds into BOTH states —
    // the cluster map (dupClusterStateIngest) AND the MinHash state
    // (minhashDedupStateRefresh) — because shard 2's cross matches probe
    // the MinHash state, and a stale (resident-only) state would miss
    // shard1×shard2 near-dups: the same boundary-straddling hole the
    // cross edges close for resident×shard. The fixture plants exactly
    // that pair: s2 near-dups s1 (different shards) and nothing resident
    val rnd = new scala.util.Random(1616)
    val vocab = (0 until 30).map(i => s"v$i")
    def doc() = Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val xToks = (0 to 19).map(i => s"x$i")
    val resident = ((1L to 20L).map(i => (i, doc())) :+
      (21L, xToks.take(10).mkString(" "))).toDF("doc_id", "text")
    val s1text = (0 to 19).map(i => s"q$i").mkString(" ")
    val shard1 = Seq((101L, s1text), (102L, doc())).toDF("doc_id", "text")
    val s2text = ((0 to 18).map(i => s"q$i") :+ "qq").mkString(" ")
    val shard2 = Seq((201L, s2text), (202L, doc())).toDF("doc_id", "text")
    var clusterSt = Dedup.dupClusterState(
      Dedup.minhashPairs(resident, "doc_id", "text", n = 2, threshold = 0.5))
    var mhState = Dedup.minhashDedupState(resident, "doc_id", "text", n = 2)
    for (shard <- Seq(shard1, shard2)) {
      clusterSt = Dedup.dupClusterStateIngest(clusterSt, mhState, shard,
        "doc_id", "text", n = 2, threshold = 0.5)
      mhState = Dedup.minhashDedupStateRefresh(mhState, shard,
        "doc_id", "text")
    }
    val union = resident.unionByName(shard1).unionByName(shard2)
    val rebuilt = Dedup.dupClusterState(
      Dedup.minhashPairs(union, "doc_id", "text", n = 2, threshold = 0.5))
    def cmap(st: Dedup.DupClusterState) = st.clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = cmap(clusterSt)
    assert(m == cmap(rebuilt))
    // the planted cross-shard pair really clustered (101 from shard 1,
    // 201 from shard 2 — only the refreshed MinHash state can link them)
    assert(m.get(201L) == Some(101L), s"cross-shard near-dup missed: $m")
    // counter-demo: the STALE-state loop (no MinHash refresh between
    // shards) misses exactly that pair
    var staleCluster = Dedup.dupClusterState(
      Dedup.minhashPairs(resident, "doc_id", "text", n = 2, threshold = 0.5))
    val mh0 = Dedup.minhashDedupState(resident, "doc_id", "text", n = 2)
    for (shard <- Seq(shard1, shard2))
      staleCluster = Dedup.dupClusterStateIngest(staleCluster, mh0, shard,
        "doc_id", "text", n = 2, threshold = 0.5)
    assert(!cmap(staleCluster).contains(201L))
  }

  test("leakageSafeSplitAgainst: bucketed sort-merge path == broadcast path") {
    import graft.sources.ScaleOps
    // the 100 TB shape the scaladoc promises: a cluster state too big to
    // broadcast lives as a parquet table BUCKETED BY id, and the split
    // join degrades to a sort-merge join whose state side is read
    // pre-partitioned (no state-side shuffle). Forced here via the
    // broadcast threshold; result parity vs the default path is the pin
    val d = docs
    val st = Dedup.dupClusterState(
      Dedup.jaccardPairs(d, "doc_id", "text", n = 2, threshold = 0.4))
    val weights = Seq("train" -> 0.8, "eval" -> 0.2)
    def smap(out: org.apache.spark.sql.DataFrame) =
      out.select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaDefault = smap(
      ScaleOps.leakageSafeSplitAgainst(st, d, "doc_id", weights, salt = "nb"))
    assert(viaDefault.values.toSet == Set("train", "eval")) // non-degenerate
    val bucketed = Dedup.DupClusterState(
      withBucketedTable("graft_dcs_bucketed", st.clusters, Seq("id"), 4))
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = ScaleOps.leakageSafeSplitAgainst(bucketed, d, "doc_id",
        weights, salt = "nb")
      assert(smap(out) == viaDefault) // parity under the forced SMJ
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      assert(plan.contains("Bucketed: true"), plan.take(3000))
      // the ONLY shuffle is the corpus side aligning to the state's
      // buckets — the persisted state itself never re-shuffles
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        plan.take(3000))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("removeDupLinesAgainst boilerplate mode scrubs every within-shard repeat") {
    // corpus knows "cookie banner"; the shard brings its own nav bar
    // repeated on every page — keepFirst = false must scrub ALL of it
    // (the batch form's boilerplate flag, now composing with ingest)
    val corpus = Seq((1L, "cookie banner\nreal corpus text"))
      .toDF("doc_id", "text")
    val fps = Dedup.lineFingerprints(corpus, "doc_id", "text")
    val shard = Seq(
      (10L, "nav bar\ncookie banner\npage one body"),
      (11L, "nav bar\npage two body"),
      (12L, "only unique content here")).toDF("doc_id", "text")
    val out = Dedup.removeDupLinesAgainst(fps, shard, "doc_id", "text",
        keepFirst = false)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // corpus line gone everywhere; "nav bar" gone from BOTH docs (no
    // first-occurrence survivor); unique lines untouched
    assert(out(10L) == "page one body", s"got ${out(10L)}")
    assert(out(11L) == "page two body", s"got ${out(11L)}")
    assert(out(12L) == "only unique content here")
    // default keepFirst = true keeps the shard's first nav bar
    val kept = Dedup.removeDupLinesAgainst(fps, shard, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(kept(10L) == "nav bar\npage one body", s"got ${kept(10L)}")
    assert(kept(11L) == "page two body")
  }

  test("bucketed minhash state: shard apply exploits the bucket layout, same result") {
    // the 100 TB state layout for the MinHash family (the span/line
    // families' bucketed-state pin, same mechanics): reps persisted
    // bucketed by __fp — the apply-side exact-match join reads the
    // corpus state AS BUCKETS; only the shard side shuffles to match.
    // Broadcast is disabled for the assertion because at test scale the
    // planner would broadcast the SHARD side — at 100 TB neither side of
    // the state join is broadcastable, and the bucketed scan is what
    // replaces the state-side exchange.
    val base = docs.filter(col("doc_id") % 10 =!= 9)
    val shard = docs.filter(col("doc_id") % 10 === 9)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val st = Dedup.minhashDedupState(base, "doc_id", "text")
    val bucketedReps = withBucketedTable("graft_mhreps_b", st.reps,
      Seq("__fp"), 8)
    val bucketedState = Dedup.MinhashDedupState(bucketedReps, st.buckets)
    def outSet(x: Dedup.MinhashDedupState) =
      Dedup.dedupAgainstState(x, shard, "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    // parity: the warehouse round-trip (catalog table) applies identically
    val viaBucketed = outSet(bucketedState)
    assert(viaBucketed == outSet(st) && viaBucketed.nonEmpty)
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Dedup.dedupAgainstState(bucketedState, shard,
        "doc_id", "text").queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(3000))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("semDedupAgainst: frozen codebook + members round-trip, flags shard near-dups") {
    // corpus from real embeddings; shard = two planted vectors — one a
    // near-copy of a corpus vector, one random-orthogonal-ish
    val corpus = embs.filter(col("vec_id") % 10 =!= 0)
    val state = Similarity.semDedupState(corpus, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    val shard = embs.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val direct = Similarity.semDedupAgainst(state, shard, "vec_id",
        "embedding", threshold = 0.45)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    // every shard vector appears exactly once
    assert(direct.size == shard.count())
    // parquet round-trip applies identically (persistable state)
    val dir = java.nio.file.Files.createTempDirectory("graft_sdstate").toString
    state.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    state.members.write.mode("overwrite").parquet(s"$dir/members")
    val loaded = Similarity.SemDedupState(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/members"))
    val viaLoaded = Similarity.semDedupAgainst(loaded, shard, "vec_id",
        "embedding", threshold = 0.45)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(viaLoaded == direct)
    // an exact copy of a corpus vector must flag as that vector's dup
    val copied = corpus.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val planted = Seq((9999999L, copied.getSeq[Float](1)))
      .toDF("vec_id", "embedding")
    val hit = Similarity.semDedupAgainst(state, planted, "vec_id",
        "embedding", threshold = 0.45).collect()(0)
    assert(!hit.isNullAt(1) && hit.getLong(1) == copied.getLong(0),
      s"exact copy not flagged: $hit")
    assert(math.abs(hit.getDouble(2) - 1.0) < 1e-9)
    // shards decompose: union of two half-shard applies == whole apply
    val h1 = Similarity.semDedupAgainst(state,
        shard.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", 0.45)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val h2 = Similarity.semDedupAgainst(state,
        shard.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding", 0.45)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert((h1 ++ h2) == direct)
  }

  test("semDedupAgainst: zero-norm vectors never match (NaN cosine dropped)") {
    // cosine against a zero-norm vector is 0/0 = NaN, which Spark sorts
    // LARGEST — unguarded it passes the >= threshold filter. Pinned rule
    // (r17): NaN candidates are dropped outright, so a zero-norm shard
    // vector is unique (dup_of null) and a zero-norm corpus member can
    // never be anyone's best match.
    val corpus = embs.filter(col("vec_id") % 10 =!= 0)
    val state = Similarity.semDedupState(corpus, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    val zeroVec = Seq.fill(64)(0.0f)
    // (a) zero-norm SHARD vector → every candidate cosine is NaN → unique
    val zShard = Seq((7777777L, zeroVec)).toDF("vec_id", "embedding")
    val zOut = Similarity.semDedupAgainst(state, zShard, "vec_id",
      "embedding", threshold = 0.45).collect()
    assert(zOut.length == 1 && zOut(0).isNullAt(1) && zOut(0).isNullAt(2),
      s"zero-norm shard vector must be unique: ${zOut.toSeq}")
    // (b) zero-norm CORPUS member with the SMALLEST id in a state built
    // over it: a real shard copy of a corpus vector must still match its
    // true twin, not the NaN row (under the old rank-window order the NaN
    // sorted first and won)
    val copied = corpus.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    // plant the NaN row in the SAME cell the copy routes to (its twin's)
    val poisoned = Similarity.SemDedupState(
      state.centroids,
      state.members.unionByName(
        state.members.filter(col("id") === copied.getLong(0)).select(
          lit(-1L).as("id"), col("cell"),
          typedLit(zeroVec).as("vec"))))
    val planted = Seq((9999999L, copied.getSeq[Float](1)))
      .toDF("vec_id", "embedding")
    val hits = Similarity.semDedupAgainst(poisoned, planted, "vec_id",
      "embedding", threshold = 0.45).collect()
    assert(hits.forall(r => r.isNullAt(1) || r.getLong(1) != -1L),
      s"NaN-cosine corpus member must never win: ${hits.toSeq}")
  }

  test("semDedupStateAppend: appended == rebuilt under the same codebook") {
    val a = embs.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 10 =!= 5)
    val b = embs.filter(col("vec_id") % 10 === 5)
      .withColumn("vec_id", col("vec_id") + 2000000L)
    val state = Similarity.semDedupState(a, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    val grown = Similarity.semDedupStateAppend(state, b, "vec_id", "embedding")
    // the codebook is FROZEN: byte-identical centroid vectors
    assert(grown.centroidArray.map(_.toSeq).toSeq ==
      state.centroidArray.map(_.toSeq).toSeq)
    // rebuild under the same codebook over a ∪ b: identical members and
    // identical n_members meta
    val rebuilt = Similarity.semDedupStateWithCodebook(
      a.unionByName(b), "vec_id", "embedding", state.centroidArray)
    def memberSet(st: Similarity.SemDedupState) =
      st.members.select("id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(memberSet(grown) == memberSet(rebuilt) && memberSet(grown).nonEmpty)
    def metaSet(st: Similarity.SemDedupState) =
      st.centroids.select("cell", "max_cell", "n_members").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(metaSet(grown) == metaSet(rebuilt))
    // and applying the grown state equals applying the rebuilt one
    val shard = embs.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    def apply(st: Similarity.SemDedupState) =
      Similarity.semDedupAgainst(st, shard, "vec_id", "embedding", 0.45)
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(apply(grown) == apply(rebuilt))
    // an appended vector is findable: its exact copy flags as its dup
    val copied = b.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val planted = Seq((9999999L, copied.getSeq[Float](1)))
      .toDF("vec_id", "embedding")
    val hit = Similarity.semDedupAgainst(grown, planted, "vec_id",
      "embedding", 0.45).collect()(0)
    assert(!hit.isNullAt(1) && hit.getLong(1) == copied.getLong(0))
  }

  test("semDedupStateAppend: valve re-runs over union counts (cap crossing + tombstone)") {
    // one degenerate direction so everything lands in one cell: cap 4,
    // corpus 3 members (under cap), append 3 more -> 6 > 4: the cell
    // CROSSES the cap and drops its RESIDENT members too, exactly as a
    // rebuild over the union would
    val vec = array((0 until 64).map(i => lit(if (i == 0) 1.0f else 0.0f)): _*)
    def mk(ids: Seq[Long]) = ids.toDF("vec_id")
      .select(col("vec_id"), vec.as("embedding"))
    val state = Similarity.semDedupStateWithCodebook(
      mk(Seq(1L, 2L, 3L)), "vec_id", "embedding",
      Array(Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)),
      maxCellSize = Some(4L))
    assert(state.members.count() == 3)
    val grown = Similarity.semDedupStateAppend(state, mk(Seq(11L, 12L, 13L)),
      "vec_id", "embedding")
    assert(grown.members.count() == 0, "cap crossing must drop residents too")
    // the n_members meta remembers the saturation: a FURTHER append can
    // never resurrect the cell from its own shard members alone
    val again = Similarity.semDedupStateAppend(grown, mk(Seq(21L)),
      "vec_id", "embedding")
    assert(again.members.count() == 0)
    assert(again.centroids.select("n_members").collect()(0).getLong(0) == 7L)
    // a shard vector landing in the valved cell reports unique
    val out = Similarity.semDedupAgainst(grown, mk(Seq(31L)), "vec_id",
      "embedding", 0.1).collect()(0)
    assert(out.isNullAt(1))
  }

  test("contamination state: round-trip, merge parity, width refusal, empty suite") {
    val d = docs
    val suiteA = d.filter(col("doc_id") % 37 === 0)
    val suiteB = d.filter(col("doc_id") % 41 === 0)
    val shard = d.filter(col("doc_id") % 5 === 1)
    def res(st: Dedup.ContaminationState) =
      Dedup.contaminationAgainst(st, shard, "doc_id", "text", n = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // merged state == state over the unioned suites
    val merged = Dedup.contaminationStateMerge(
      Dedup.contaminationState(suiteA, "doc_id", "text", n = 2,
        suite = "sa"),
      Dedup.contaminationState(suiteB, "doc_id", "text", n = 2,
        suite = "sb"))
    val whole = Dedup.contaminationState(suiteA.unionByName(suiteB),
      "doc_id", "text", n = 2, suite = "w")
    assert(res(merged) == res(whole) && res(merged).nonEmpty)
    // the wrapper IS the state pair (byte-equal results)
    val viaWrapper = Dedup.contamination(shard, suiteA, "doc_id", "text",
        n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaWrapper ==
      res(Dedup.contaminationState(suiteA, "doc_id", "text", n = 2,
        suite = "sa")))
    // parquet round-trip applies identically (persistable eval-suite state)
    val dir = java.nio.file.Files.createTempDirectory("graft_ctstate").toString
    merged.shingles.write.mode("overwrite").parquet(s"$dir/sh")
    val loaded = Dedup.ContaminationState(spark.read.parquet(s"$dir/sh"))
    assert(res(loaded) == res(merged))
    // a mismatched apply width refuses loudly (it would silently report
    // zero contamination), and mismatched merges refuse too
    val e = intercept[IllegalArgumentException] {
      Dedup.contaminationAgainst(merged, shard, "doc_id", "text", n = 3)
    }
    assert(e.getMessage.contains("built with n = 2"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.contaminationStateMerge(merged,
        Dedup.contaminationState(suiteB, "doc_id", "text", n = 3,
          suite = "sb"))
    }
    assert(e2.getMessage.contains("widths"))
    // a hand-duplicated state (plain union instead of
    // contaminationStateMerge) must not double-count — the apply
    // re-distincts the probe side defensively
    val dup = Dedup.ContaminationState(
      merged.shingles.unionByName(merged.shingles))
    assert(res(dup) == res(merged))
    // an empty eval suite contaminates nothing (and merges as identity)
    val empty = Dedup.contaminationState(d.filter(lit(false)),
      "doc_id", "text", n = 2, suite = "e")
    assert(Dedup.contaminationAgainst(empty, shard, "doc_id", "text", n = 2)
      .filter(col("n_contaminated") > 0).count() == 0)
    assert(res(Dedup.contaminationStateMerge(merged, empty)) == res(merged))
    // monotonicity: growing the suite never DECREASES any doc's
    // contamination (the measure is an overlap fraction against a
    // monotone set), and it stays in [0, 1] with n_shingles fixed
    def byId(st: Dedup.ContaminationState) =
      Dedup.contaminationAgainst(st, shard, "doc_id", "text", n = 2)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    val one = byId(Dedup.contaminationState(suiteA, "doc_id", "text", n = 2,
      suite = "sa"))
    val two = byId(merged)
    assert(one.keySet == two.keySet)
    one.foreach { case (id, (n1, c1)) =>
      val (n2, c2) = two(id)
      assert(n1 == n2, s"doc $id: n_shingles moved $n1 -> $n2")
      assert(c2 >= c1, s"doc $id: contamination shrank $c1 -> $c2")
      assert(c2 >= 0L && c2 <= n2)
    }
  }

  test("contamination provenance: per-suite attribution == per-state union, " +
      "aggregate bounds, legacy states refuse") {
    val d = docs
    val suiteA = d.filter(col("doc_id") % 37 === 0)
    val suiteB = d.filter(col("doc_id") % 41 === 0)
    val shard = d.filter(col("doc_id") % 5 === 1)
    val stA = Dedup.contaminationState(suiteA, "doc_id", "text", n = 2,
      suite = "sA")
    val stB = Dedup.contaminationState(suiteB, "doc_id", "text", n = 2,
      suite = "sB")
    val merged = Dedup.contaminationStateMerge(stA, stB)
    def bySuite(st: Dedup.ContaminationState) =
      Dedup.contaminationBySuite(st, shard, "doc_id", "text", n = 2)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
    // merged attribution == the union of the single-suite attributions
    // (suites are independent slivers; merging adds rows, never mixes them)
    val m = bySuite(merged)
    assert(m == bySuite(stA) ++ bySuite(stB) && m.nonEmpty)
    assert(m.keys.exists(_._2 == "sA") && m.keys.exists(_._2 == "sB"),
      "fixture degenerate: a suite never attributes")
    // aggregate (any-suite) vs per-suite: for every contaminated doc,
    // max-per-suite <= any-suite count <= sum-over-suites (a shingle in
    // both suites counts once in the aggregate, once per suite here)
    val agg = Dedup.contaminationAgainst(merged, shard, "doc_id", "text",
        n = 2)
      .filter(col("n_contaminated") > 0).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val perDoc = m.toSeq.groupBy(_._1._1)
      .map { case (id, rows) => id -> rows.map(_._2._2) }
    assert(agg.keySet == perDoc.keySet)
    perDoc.foreach { case (id, counts) =>
      assert(agg(id) <= counts.sum && agg(id) >= counts.max, s"doc $id")
    }
    // parquet roundtrip keeps provenance
    val dir = java.nio.file.Files.createTempDirectory("graft_ctprov").toString
    merged.shingles.write.mode("overwrite").parquet(s"$dir/sh")
    assert(bySuite(Dedup.ContaminationState(
      spark.read.parquet(s"$dir/sh"))) == m)
    // a pre-provenance state refuses in the attribution + merge paths by
    // name, and still serves the aggregate measure (the migration note)
    val legacy = Dedup.ContaminationState(
      merged.shingles.select("shingle", "shingle_n").distinct())
    assert(intercept[IllegalArgumentException] {
      Dedup.contaminationBySuite(legacy, shard, "doc_id", "text", n = 2)
    }.getMessage.contains("suite"))
    assert(intercept[IllegalArgumentException] {
      Dedup.contaminationStateMerge(legacy, stA)
    }.getMessage.contains("suite"))
    val aggLegacy = Dedup.contaminationAgainst(legacy, shard, "doc_id",
        "text", n = 2)
      .filter(col("n_contaminated") > 0).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(aggLegacy == agg)
    // width refusal covers the attribution path too
    assert(intercept[IllegalArgumentException] {
      Dedup.contaminationBySuite(merged, shard, "doc_id", "text", n = 3)
    }.getMessage.contains("built with n = 2"))
  }

  test("decontaminate: every suite-span occurrence scrubbed, flag/scrub " +
      "consistent, empty state passthrough") {
    import spark.implicits._
    val suite = Seq((100L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val st5 = Dedup.contaminationState(suite, "doc_id", "text", n = 5,
      suite = "s")
    val shard = Seq(
      // the suite 5-gram twice: BOTH occurrences scrubbed (no survivor)
      (1L, "xx aa bb cc dd ee yy aa bb cc dd ee"),
      (2L, "xx yy zz"), // no overlap: untouched
      (3L, "aa bb cc dd") // shorter than the width: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(st5, shard, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((12L, 10L, "xx yy")))
    assert(out(2L) == ((3L, 0L, "xx yy zz")))
    assert(out(3L) == ((4L, 0L, "aa bb cc dd")))
    // one hit masks exactly its width positions (the trailing token that
    // shares no contaminated WINDOW survives)
    val one = Dedup.decontaminate(st5,
      Seq((4L, "aa bb cc dd ee ff")).toDF("doc_id", "text"),
      "doc_id", "text").collect()(0)
    assert(one.getLong(2) == 5L && one.getString(3) == "ff")
    // flag/scrub consistency on the real corpus: a doc loses tokens here
    // iff the aggregate measure flags it (>= 1 contaminated shingle)
    val d = docs
    val st2 = Dedup.contaminationState(d.filter(col("doc_id") % 37 === 0),
      "doc_id", "text", n = 2, suite = "r")
    val shardR = d.filter(col("doc_id") % 5 === 1)
    val flags = Dedup.contaminationAgainst(st2, shardR, "doc_id", "text",
        n = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val scrub = Dedup.decontaminate(st2, shardR, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(flags.nonEmpty && flags.values.exists(_ > 0))
    flags.foreach { case (id, c) =>
      assert((scrub(id) > 0) == (c > 0), s"doc $id: flag $c, scrub ${scrub(id)}")
    }
    // empty suite: output shape kept, nothing removed, token stream intact
    val empty = Dedup.contaminationState(d.filter(lit(false)), "doc_id",
      "text", n = 5, suite = "e")
    val pass = Dedup.decontaminate(empty, shard, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(pass(1L) == ((0L, "xx aa bb cc dd ee yy aa bb cc dd ee")))
    assert(pass(3L) == ((0L, "aa bb cc dd")))
  }

  test("decontaminateBySuite: per-suite masks, union == total scrub, hits-sized") {
    import spark.implicits._
    val suiteA = Seq((100L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val suiteB = Seq((200L, "cc dd ee ff gg")).toDF("doc_id", "text")
    val st = Dedup.contaminationStateMerge(
      Dedup.contaminationState(suiteA, "doc_id", "text", n = 5, suite = "sa"),
      Dedup.contaminationState(suiteB, "doc_id", "text", n = 5, suite = "sb"))
    val shard = Seq(
      // windows of BOTH suites, overlapping: sa masks pos 1-5, sb 3-7
      (1L, "xx aa bb cc dd ee ff gg yy"),
      (2L, "aa bb cc dd ee"), // sa only
      (3L, "nothing shared here at all ok")
    ).toDF("doc_id", "text")
    def repOf(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    val rep = repOf(Dedup.decontaminateBySuite(st, shard, "doc_id", "text"))
    assert(rep((1L, "sa")) == 5L && rep((1L, "sb")) == 5L)
    assert(rep((2L, "sa")) == 5L)
    // hits-sized: no (2, sb) row, no doc-3 rows at all
    assert(!rep.contains((2L, "sb")) && !rep.exists(_._1._1 == 3L))
    // overlap rule: the UNION of per-suite masks is the scrub's
    // n_removed — the per-suite sum double-counts shared positions
    val tot = Dedup.decontaminate(st, shard, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tot(1L) == 7L)
    assert(rep((1L, "sa")) + rep((1L, "sb")) > tot(1L))
    // empty state: nothing was cut from anything — zero rows
    val empty = Dedup.contaminationState(shard.filter(lit(false)),
      "doc_id", "text", n = 5, suite = "e")
    assert(Dedup.decontaminateBySuite(empty, shard, "doc_id", "text")
      .count() == 0)
    // pre-provenance state refuses by name
    val legacy = Dedup.ContaminationState(st.shingles.drop("suite_id"))
    assert(intercept[IllegalArgumentException] {
      Dedup.decontaminateBySuite(legacy, shard, "doc_id", "text")
    }.getMessage.contains("suite_id"))
  }

  test("semDedupStateAppend: sequential micro-batch appends == one append") {
    // the foreachBatch ingest shape: folding daily shards in one at a
    // time must equal folding their union once (n_members is additive
    // and the valve is a pure function of the final counts)
    val a = embs.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 10 =!= 5)
    val b1 = embs.filter(col("vec_id") % 10 === 5)
      .withColumn("vec_id", col("vec_id") + 2000000L)
    val b2 = embs.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 3000000L)
    val s0 = Similarity.semDedupState(a, "vec_id", "embedding",
      k = 8, iters = 1, dim = 64)
    val seq2 = Similarity.semDedupStateAppend(
      Similarity.semDedupStateAppend(s0, b1, "vec_id", "embedding"),
      b2, "vec_id", "embedding")
    val once = Similarity.semDedupStateAppend(s0, b1.unionByName(b2),
      "vec_id", "embedding")
    def memberSet(st: Similarity.SemDedupState) =
      st.members.select("id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    def metaSet(st: Similarity.SemDedupState) =
      st.centroids.select("cell", "max_cell", "n_members").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(memberSet(seq2) == memberSet(once) && memberSet(seq2).nonEmpty)
    assert(metaSet(seq2) == metaSet(once))
    // a cap crossed MID-sequence converges to the same valved end state
    val vec = array((0 until 64).map(i => lit(if (i == 0) 1.0f else 0.0f)): _*)
    def mk(ids: Seq[Long]) = ids.toDF("vec_id")
      .select(col("vec_id"), vec.as("embedding"))
    val tiny = Similarity.semDedupStateWithCodebook(
      mk(Seq(1L, 2L, 3L)), "vec_id", "embedding",
      Array(Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)),
      maxCellSize = Some(4L))
    val tseq = Similarity.semDedupStateAppend(
      Similarity.semDedupStateAppend(tiny, mk(Seq(11L)), "vec_id",
        "embedding"), // 4 <= cap: still live
      mk(Seq(12L)), "vec_id", "embedding") // 5 > cap: valved
    val tonce = Similarity.semDedupStateAppend(tiny,
      mk(Seq(11L, 12L)), "vec_id", "embedding")
    assert(memberSet(tseq) == memberSet(tonce) && memberSet(tseq).isEmpty)
    assert(metaSet(tseq) == metaSet(tonce))
  }

  test("semDedupStateAppend: refusals and codebook interop") {
    val corpus = embs.filter(col("vec_id") % 10 =!= 0)
    val state = Similarity.semDedupState(corpus, "vec_id", "embedding",
      k = 8, iters = 1, dim = 64)
    // a legacy state without the (max_cell, n_members) meta refuses with
    // the rebuild hint
    val legacy = Similarity.SemDedupState(
      state.centroids.select("cell", "cvec"), state.members)
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedupStateAppend(legacy, corpus.limit(1), "vec_id",
        "embedding")
    }
    assert(e.getMessage.contains("rebuild"))
    // an EMPTY state refuses (no frozen codebook)
    val empty = Similarity.semDedupState(embs.filter(lit(false)),
      "vec_id", "embedding", k = 4, iters = 0, dim = 64)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.semDedupStateAppend(empty, corpus.limit(1), "vec_id",
        "embedding")
    }
    assert(e2.getMessage.contains("EMPTY"))
    // interop: a VectorIndex codebook (same (cell, cvec) layout) freezes a
    // SemDedup state directly
    val dir = java.nio.file.Files.createTempDirectory("sd-interop").toString
    graft.pipeline.VectorIndex.build(corpus, "vec_id", "embedding", dir,
      k = 8, iters = 1)
    val cb = spark.read.parquet(s"$dir/centroids.parquet")
      .select("cell", "cvec").orderBy("cell").collect()
      .map(_.getSeq[Number](1).toArray.map(_.doubleValue))
    val viaIndex = Similarity.semDedupStateWithCodebook(
      corpus, "vec_id", "embedding", cb)
    assert(viaIndex.members.count() == corpus.count())
  }

  test("semDedupAgainst: empty-corpus state reports every shard vector unique") {
    val empty = embs.filter(lit(false))
    val state = Similarity.semDedupState(empty, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    assert(state.centroidArray.isEmpty)
    val out = Similarity.semDedupAgainst(state, embs.limit(5), "vec_id",
        "embedding", threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.isNullAt(1)))
    assert(out.length == 5 && out.forall(_._2))
  }

  test("refresh ≡ rebuild property: random corpora, hot buckets, sub-n docs") {
    // randomized pin over the fixture tests: tiny vocab forces exact
    // classes, near-dups, AND hot buckets (cap 2 → tombstones), docs of
    // length 0-9 cover the sub-n/null-fp path; growth ids are monotone
    // (the ingest convention), so refreshed and rebuilt states must
    // agree table-for-table and apply identically. Seed fixed.
    val rng = new scala.util.Random(13)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    def doc() = (0 until rng.nextInt(10))
      .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
    for (round <- 1 to 5) {
      val nBase = 12 + rng.nextInt(12)
      val base = (1 to nBase).map(i => (i.toLong, doc()))
        .toDF("doc_id", "text")
      val grow = (1 to 6 + rng.nextInt(6))
        .map(i => ((1000 + i).toLong, doc())).toDF("doc_id", "text")
      val cap = Some(2L)
      val refreshed = Dedup.minhashDedupStateRefresh(
        Dedup.minhashDedupState(base, "doc_id", "text", maxBucketSize = cap),
        grow, "doc_id", "text")
      val rebuilt = Dedup.minhashDedupState(base.unionByName(grow),
        "doc_id", "text", maxBucketSize = cap)
      def repSet(st: Dedup.MinhashDedupState) = st.reps
        .select("__fp", "cid").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      def bkSet(st: Dedup.MinhashDedupState) = st.buckets.collect()
        .map(r => (r.getInt(r.fieldIndex("band")),
          r.getAs[Any]("bucket").toString,
          if (r.isNullAt(r.fieldIndex("cid"))) -1L
          else r.getAs[Long]("cid"))).toSet
      assert(repSet(refreshed) == repSet(rebuilt), s"reps differ (round $round)")
      assert(bkSet(refreshed) == bkSet(rebuilt), s"buckets differ (round $round)")
      val probe = (1 to 8).map(i => ((5000 + i).toLong, doc()))
        .toDF("doc_id", "text")
      def out(st: Dedup.MinhashDedupState) =
        Dedup.dedupAgainstState(st, probe, "doc_id", "text", threshold = 0.4)
          .collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
      assert(out(refreshed) == out(rebuilt), s"apply differs (round $round)")
    }
  }
}
