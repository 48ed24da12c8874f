package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.binsreg.Dbbinsreg
import graft.operators.{AsOf, Baskets, Events, Features, Graphs, RangeJoin}
import graft.pipeline.{Dedup, Dsir, Phrase, Similarity, TextOps}
import graft.reg.{Dbreg, ElasticNet, Glm, Iv, Qreg, Ridge, Rlm}
import graft.sources.ScaleOps

/** Degenerate-input sweep: every major entry point over EMPTY (and
  * near-empty) inputs must either return an empty/sensible result or
  * refuse with a clear message — never throw from deep inside linalg or
  * a partition loop. At 100 TB, empty partitions, empty date slices, and
  * filters that match nothing are routine, not edge cases.
  */
class EmptyInputSpec extends SparkTestBase {
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyPanel: DataFrame =
    Seq.empty[(Double, Double, String)].toDF("y", "x", "g")
  private def emptyEmb: DataFrame =
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("dedup operators return empty results on an empty corpus") {
    val d = emptyDocs
    assert(Dedup.exactGroups(d, "doc_id", "text").count() === 0L)
    assert(Dedup.jaccardPairs(d, "doc_id", "text", 2, 0.5).count() === 0L)
    assert(Dedup.minhashSignatures(d, "doc_id", "text", 2).count() === 0L)
    assert(Dedup.minhashPairs(d, "doc_id", "text", 2, 0.5).count() === 0L)
    assert(Dedup.simhash(d, "doc_id", "text").count() === 0L)
    assert(Dedup.simhashPairs(d, "doc_id", "text").count() === 0L)
    assert(Dedup.containmentPairs(d, "doc_id", "text").count() === 0L)
    assert(Dedup.dupSpans(d, "doc_id", "text").count() === 0L)
    val bench = Seq((1L, "planted benchmark ngram text here ok fine"))
      .toDF("doc_id", "text")
    assert(Dedup.contamination(d, bench, "doc_id", "text", 4).count() === 0L)
    val noPairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.duplicateClusters(noPairs).count() === 0L)
    assert(Dedup.dedupCorpus(d, "doc_id",
      noPairs.withColumn("jaccard", lit(1.0))).count() === 0L)
    // incremental: empty shard vs real corpus, real shard vs empty corpus
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    assert(Dedup.dedupAgainst(corpus, d, "doc_id", "text").count() === 0L)
    assert(Dedup.dedupAgainst(d, corpus, "doc_id", "text")
      .filter(col("dup_of").isNotNull).count() === 0L)
    // line family: empty corpus in, empty out; empty shard vs real state
    assert(Dedup.removeDupLines(d, "doc_id", "text").count() === 0L)
    assert(Dedup.lineFingerprints(d, "doc_id", "text").count() === 0L)
    assert(Dedup.removeDupLinesAgainst(
      Dedup.lineFingerprints(corpus, "doc_id", "text"),
      d, "doc_id", "text").count() === 0L)
    assert(Dedup.dedupCorpusKeepBest(d, "doc_id",
      noPairs.withColumn("jaccard", lit(1.0)), lit(1.0)).count() === 0L)
    // keep-best with empty pairs over a REAL corpus drops nothing
    assert(Dedup.dedupCorpusKeepBest(corpus, "doc_id",
      noPairs.withColumn("jaccard", lit(1.0)), lit(1.0)).count() === 1L)
  }

  test("text operators return empty results on an empty corpus") {
    val d = emptyDocs
    assert(TextOps.tfidf(d, "doc_id", "text").count() === 0L)
    assert(TextOps.tokenEntropy(d, "doc_id", "text").count() === 0L)
    assert(TextOps.winnowFingerprints(d, "doc_id", "text", 8, 4).count() === 0L)
    assert(TextOps.chunkDocs(d, "doc_id", "text", 16, 4).count() === 0L)
    assert(TextOps.packSequences(d, "doc_id", "text", 128).count() === 0L)
    assert(TextOps.repetitionStats(d, "doc_id", "text").count() === 0L)
    assert(TextOps.extractUrls(d, "doc_id", "text").count() === 0L)
  }

  test("similarity/ANN operators handle empty corpora and empty queries") {
    val e = emptyEmb
    assert(Similarity.bruteForceTopK(e, "vec_id", "embedding", Seq.empty, 5).count() === 0L)
    val real = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // empty query list over a real corpus
    assert(Similarity.bruteForceTopK(real, "vec_id", "embedding", Seq.empty, 5).count() === 0L)
    assert(Similarity.cosineNearDupPairsExact(e, "vec_id", "embedding", 0.9).count() === 0L)
    assert(Similarity.semDedup(e, "vec_id", "embedding", k = 2, threshold = 0.9).count() === 0L)
  }

  test("sampling/split operators are identities on empty inputs") {
    val d = emptyDocs
    assert(ScaleOps.hashSplit(d, "doc_id", Seq("a" -> 0.5, "b" -> 0.5)).count() === 0L)
    assert(ScaleOps.weightedSample(d, "doc_id", lit(0.5)).count() === 0L)
    // mixture construction REFUSES a domain with no rows (it cannot meet
    // the requested share) — the clear-refusal contract, not a crash
    val mixErr = intercept[IllegalArgumentException] {
      ScaleOps.sampleToMixApprox(d.withColumn("lang", lit("en")), "lang",
        "doc_id", Seq("en" -> 1.0)).count()
    }
    assert(mixErr.getMessage.contains("no rows"))
  }

  test("joins handle empty sides") {
    val ev = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    val real = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("user_id", "ts")
    val evv = ev.withColumn("v", lit(1.0))
    val realv = real.withColumn("v", lit(2.0))
    assert(AsOf.joinAsOf(evv, realv, "user_id", "ts", Seq("v")).count() === 0L)
    assert(AsOf.joinAsOf(realv, evv, "user_id", "ts", Seq("v")).count() === 1L)
    val iv = Seq.empty[(Long, Long, Long)].toDF("k", "lo", "hi")
    val pts = Seq((1L, 5L)).toDF("k", "t")
    assert(RangeJoin.pointInInterval(pts, "t", iv, "lo", "hi",
      bucketWidth = 10L, keys = Seq("k")).count() === 0L)
  }

  test("regression/GLM fits refuse an empty input with a clear message") {
    val e = intercept[IllegalArgumentException] {
      Dbreg.fit("y ~ x", emptyPanel, strategy = "moments")
    }
    assert(e.getMessage.toLowerCase.contains("no rows"), e.getMessage)
    val g = intercept[IllegalArgumentException] {
      Glm.fit("y ~ x", emptyPanel, family = "binomial", strategy = "irls",
        maxIter = 3, tol = 0.0)
    }
    assert(g.getMessage.toLowerCase.contains("no rows"), g.getMessage)
    // a packed moment buffer over no rows reads as zeros (the sum spelling
    // read NULL): the refusal must not depend on which
    val c = intercept[IllegalArgumentException] {
      Dbreg.fit("y ~ x", emptyPanel, vcov = "hc1", strategy = "compress")
    }
    assert(c.getMessage.toLowerCase.contains("no rows"), c.getMessage)
    // the FE strategies: the group-means step finds no levels (and no
    // overall-means row for two-FE demean); the moments pass refuses
    Seq("y ~ x | g" -> "demean", "y ~ x | g + h" -> "demean",
        "y ~ x | g + h" -> "mundlak", "y ~ x | g" -> "hdfe").foreach { case (f, s) =>
      val fe = intercept[IllegalArgumentException] {
        Dbreg.fit(f, emptyPanel.withColumn("h", col("g")), strategy = s)
      }
      assert(fe.getMessage.toLowerCase.contains("no rows"), s"$s $f: ${fe.getMessage}")
    }
    val r = intercept[IllegalArgumentException] {
      graft.reg.Rlm.fit("y ~ x", emptyPanel)
    }
    assert(r.getMessage.toLowerCase.contains("no rows"), r.getMessage)
    val q = intercept[IllegalArgumentException] {
      Qreg.fit("y ~ x", emptyPanel)
    }
    assert(q.getMessage.toLowerCase.contains("no rows"), q.getMessage)
    val b = intercept[IllegalArgumentException] {
      Dbbinsreg.fit("y ~ x", emptyPanel, nbins = 4)
    }
    assert(b.getMessage.toLowerCase.contains("no rows") ||
      b.getMessage.toLowerCase.contains("empty"), b.getMessage)
    // grouped fits: empty input means an empty RESULT, not an error — the
    // per-group shape has no global moment row to refuse on
    assert(Dbreg.fitGrouped("y ~ x", emptyPanel, "g").count() === 0L)
    assert(Glm.fitGrouped("y ~ x", emptyPanel, "g", maxIter = 2).count() === 0L)
    assert(Qreg.fitGrouped("y ~ x", emptyPanel, "g").count() === 0L)
  }

  test("clustered standard errors refuse a single cluster") {
    // CR1 scales by G/(G−1): one cluster would report Inf/NaN SEs
    val one = (0 until 40).map { i =>
      val x = (i % 5).toDouble
      (1.0 + 0.5 * x + (i % 3) * 0.1, x, x + (i % 2), "only", (i % 2).toDouble)
    }.toDF("y", "x", "z", "g", "yb")
    def refuses(fit: => Any): Unit = {
      val e = intercept[IllegalArgumentException](fit)
      assert(e.getMessage.contains("at least 2 clusters"), e.getMessage)
    }
    refuses(Dbreg.fit("y ~ x", one, vcov = "~g", strategy = "moments"))
    refuses(Dbreg.fit("y ~ x", one, vcov = "~g", strategy = "compress"))
    refuses(Glm.fit("yb ~ x", one, family = "binomial", strategy = "irls",
      vcov = "~g"))
    refuses(Iv.fit("y ~ x", one, endog = Seq("x"), instruments = Seq("z"),
      vcov = "~g"))
    // two clusters are enough
    val two = one.withColumn("g", when(col("x") < 2.0, "a").otherwise("b"))
    assert(Dbreg.fit("y ~ x", two, vcov = "~g", strategy = "moments").nClusters
      .contains(2L))
  }

  test("a NaN response or regressor row is dropped like a NULL one") {
    // R's na.omit: a float column's NaN is missing, so every entry point
    // fits the NaN-padded frame exactly as it fits the clean one
    val cols = Seq("y", "x", "z", "g")
    val clean = (0 until 60).map { i =>
      val x = (i % 6).toDouble
      (1.0 + 0.5 * x + ((i * 7) % 5) * 0.1, x, x + (i % 4), s"g${i % 3}")
    }.toDF(cols: _*)
    val dirty = clean.union(
      Seq((Double.NaN, 1.0, 2.0, "g0"), (2.0, Double.NaN, 1.0, "g1")).toDF(cols: _*))
    def same(fit: DataFrame => Map[String, Double]): Unit = {
      val (want, got) = (fit(clean), fit(dirty))
      assert(got.keySet == want.keySet, got)
      want.foreach { case (k, w) =>
        assert(math.abs(got(k) - w) <= 1e-9 * math.max(1.0, math.abs(w)), s"$k: ${got(k)} vs $w")
      }
    }
    Seq("moments", "compress").foreach { s =>
      same(d => Dbreg.fit("y ~ x", d, strategy = s).coef)
    }
    same(d => Glm.fit("y ~ x", d, family = "gaussian", strategy = "irls").coef)
    same(d => Iv.fit("y ~ x", d, endog = Seq("x"), instruments = Seq("z")).coef)
    same(d => Ridge.fit("y ~ x", d, lambda = 1.0).coef)
    same(d => Qreg.fit("y ~ x", d, maxIter = 5, tol = 0.0).coef)
    same(d => Dbbinsreg.fit("y ~ x", d, nbins = 3).points
      .flatMap(p => Seq(s"x${p.bin}" -> p.x, s"fit${p.bin}" -> p.fit)).toMap)
  }

  test("every regression entry point refuses a missing column by name") {
    val df = Seq((1.0, 2.0, 3.0, "a")).toDF("y", "x", "z", "g")
    def refuses(fit: => Any): Unit = {
      val e = intercept[IllegalArgumentException](fit)
      assert(e.getMessage.contains("column 'nope' not found"), e.getMessage)
    }
    val f = "y ~ x + nope"
    refuses(Dbreg.fit(f, df, strategy = "moments"))
    refuses(Dbreg.fit(f, df, strategy = "compress"))
    refuses(Dbreg.fit("y ~ x", df, vcov = "~nope"))
    refuses(Dbreg.fit("y ~ x", df, weights = Some("nope")))
    refuses(Dbreg.fitGrouped(f, df, "g"))
    refuses(Dbreg.fitGrouped("y ~ x", df, "nope"))
    refuses(Dbreg.compressedData(f, df))
    refuses(Glm.fit(f, df, family = "gaussian"))
    refuses(Glm.fit("y ~ x", df, family = "gaussian", offset = Some("nope")))
    refuses(Glm.fitGrouped(f, df, "g", family = "gaussian"))
    refuses(Qreg.fit(f, df))
    refuses(Qreg.fitGrouped(f, df, "g"))
    refuses(Iv.fit(f, df, endog = Seq("x"), instruments = Seq("z")))
    refuses(Iv.fit("y ~ x", df, endog = Seq("x"), instruments = Seq("nope")))
    refuses(Rlm.fit(f, df))
    refuses(Ridge.fit(f, df, lambda = 1.0))
    refuses(Ridge.cv("y ~ x", df, "nope", Seq(1.0)))
    refuses(Ridge.fitGrouped(f, df, "g", lambda = 1.0))
    refuses(ElasticNet.fit(f, df, lambda = 0.1))
    refuses(Dbbinsreg.fit(f, df))
    refuses(Dbbinsreg.fit("y ~ x", df, vcov = "~nope"))
  }

  test("round-8 operators: knn self-join empty corpus, qreg/cqr refusals") {
    val e = emptyEmb
    assert(Similarity.knnJoinBrute(e, "vec_id", "embedding", 3).count() === 0L)
    assert(Similarity.knnJoin(e, "vec_id", "embedding", 3).count() === 0L)
    // single-vector corpus: no self-pairs either way
    val one = Seq((7L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.knnJoinBrute(one, "vec_id", "embedding", 3).count() === 0L)
    assert(Similarity.knnJoin(one, "vec_id", "embedding", 3).count() === 0L)
    val q = intercept[IllegalArgumentException] {
      graft.reg.Qreg.fit("y ~ x", emptyPanel)
    }
    assert(q.getMessage.toLowerCase.matches(".*(no rows|n > p).*"), q.getMessage)
    assert(graft.reg.Qreg.fitGrouped("y ~ x", emptyPanel, "g").count() === 0L)
    intercept[IllegalArgumentException] {
      graft.reg.Conformal.cqr("y ~ x",
        emptyPanel.withColumn("id", lit(1L)), "id")
    }
  }

  test("round-8 session-2 operators tolerate empty/degenerate inputs") {
    val noEdges = Seq.empty[(Long, Long)].toDF("s", "d")
    assert(Graphs.triangleCounts(noEdges, "s", "d").count() === 0L)
    assert(Graphs.labelPropagation(noEdges, "s", "d", iters = 2).count() === 0L)
    // self-loop-only graph: canonical dedup empties it
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("s", "d")
    assert(Graphs.triangleCounts(loops, "s", "d").count() === 0L)
    assert(Graphs.labelPropagation(loops, "s", "d", iters = 1).count() === 0L)
    // pq rerank on an empty corpus returns the empty result schema
    val books = Array(Array(Array(1.0, 0.0)), Array(Array(0.0, 1.0)))
    assert(Similarity.pqRerankTopK(emptyEmb, "vec_id", "embedding", 1,
      books, shortlist = 1).count() === 0L)
    // LM train on an empty reference corpus refuses loudly: a vocab-0
    // model would score every >=2-token doc log(1/0) = +Inf — the BEST
    // possible quality score for arbitrary garbage (silent filter
    // inversion). Same for a minCount that prunes the whole vocabulary.
    intercept[IllegalArgumentException] {
      TextOps.bigramLmTrain(emptyDocs, "text")
    }
    intercept[IllegalArgumentException] {
      TextOps.bigramLmTrain(
        Seq((1L, "alpha beta")).toDF("doc_id", "text"), "text", minCount = 99L)
    }
    // temperature mixture refuses an empty frame loudly
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToMixTemperature(emptyDocs.withColumn("dom", lit("a")),
        "dom", "doc_id", alpha = 0.5)
    }
  }

  test("round-6 event/graph/corpus operators handle empty inputs") {
    val ev = Seq.empty[(Long, Long, Long, String)].toDF("u", "t", "i", "e")
    assert(Events.transitions(ev, "u", "t", "e", "i").count() === 0L)
    assert(Events.anomalousPeriods(ev, "t", 10L).count() === 0L)
    assert(Events.cusumShifts(ev, "t", 10L).count() === 0L)
    assert(Events.rollingActivity(ev, "e", "t", 10L, 3).count() === 0L)
    assert(Events.sequencePatterns(ev, "u", "t", "e", "i", 3, 5).count() === 0L)
    assert(Features.decayScores(ev, "u", "t", 10L).count() === 0L)
    // empty funnel: zero users at every step, conversions well-defined
    val f = Events.funnel(ev, "u", "t", "e", Seq("a", "b"),
      maxGapUs = Some(5L)).orderBy("step_idx").collect()
    assert(f.map(_.getAs[Long]("n_users")).toSeq === Seq(0L, 0L))
    assert(f.map(_.getAs[Double]("conversion")).toSeq === Seq(1.0, 0.0))
    val bk = Seq.empty[(Long, String)].toDF("bk", "it")
    assert(Baskets.associationRules(bk, "bk", "it").count() === 0L)
    val edges = Seq.empty[(String, String)].toDF("s", "d")
    assert(Graphs.pageRank(edges, "s", "d", iters = 2).count() === 0L)
    val d = emptyDocs
    assert(Dsir.importanceScoresFlagged(d, "doc_id", "text", lit(true))
      .count() === 0L)
    assert(Phrase.phraseSearch(d, "doc_id", "text", Seq("a", "b")).count() === 0L)
    assert(Dedup.sourceOverlap(d.withColumn("source", lit("s")),
      "source", "text").count() === 0L)
    val real = Seq((1L, "a b c")).toDF("doc_id", "text")
    // diff vs an empty snapshot classifies everything one-sidedly
    val gone = Dedup.snapshotDiff(real, d, "doc_id", "text").collect()
    assert(gone.map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("removed" -> 1L))
    assert(Features.percentileRank(d.withColumn("v", lit(1.0)), "v")
      .count() === 0L)
    assert(ScaleOps.prioritySample(d.withColumn("w", lit(1.0)), "doc_id",
      col("w"), 5).count() === 0L)
  }

  test("round-6 session-2 operators tolerate empty inputs") {
    import graft.operators.{BloomJoin, Cdc, Linkage, Quality, SetSimJoin}
    val ev = Seq.empty[(Long, Long, Long, Double, String)]
      .toDF("u", "t", "i", "v", "e")
    assert(Events.activityStreaks(ev, "u", "t", 10L).count() === 0L)
    assert(Events.ohlcDownsample(ev, "e", "t", "i", "v", 10L).count() === 0L)
    assert(Events.rollingTrend(ev, "e", "t", "v", 10L, 3).count() === 0L)
    assert(Events.sessionStats(ev, "u", "t", "i", 10L).count() === 0L)
    assert(Events.latestPerKey(ev, Seq("u"), "t", "i", "v").count() === 0L)
    assert(Events.resampleFill(ev, "u", "t", "i", "v", 10L).count() === 0L)
    assert(Events.debounce(ev, Seq("u"), "t", "i", 10L).count() === 0L)
    assert(Events.seasonalResiduals(ev, "e", "t", 10L, 4).count() === 0L)
    // bloom semi join: empty small side prunes everything; empty big side empty
    val big = Seq((1L, "x")).toDF("k", "p")
    val none = Seq.empty[Long].toDF("j")
    assert(BloomJoin.semiJoin(big, col("k"), none, col("j")).count() === 0L)
    assert(BloomJoin.semiJoin(none.withColumnRenamed("j", "k"), col("k"),
      big.select(col("k").as("j")), col("j")).count() === 0L)
    val noToks = Seq.empty[(Long, Seq[String])].toDF("id", "toks")
    assert(SetSimJoin.jaccardJoin(noToks, "id", col("toks"), 0.5).count() === 0L)
    val noRecs = Seq.empty[(Long, String, String)].toDF("id", "nm", "blk")
    assert(Linkage.nearestInBlock(noRecs, "id", "nm", Seq("blk")).count() === 0L)
    val noEdges = Seq.empty[(Long, Long)].toDF("s", "d")
    assert(graft.operators.Graphs.connectedComponents(noEdges, "s", "d")
      .count() === 0L)
    // CDC: empty changes pass the base through; empty base takes upserts
    val base = Seq((1L, "a")).toDF("k", "v")
    val noCh = Seq.empty[(Long, String, String, Long, Long)]
      .toDF("k", "op", "v", "t", "i")
    assert(Cdc.merge(base, "k", "v", noCh, "op", "t", "i")
      .collect().map(_.getString(1)).toSeq === Seq("a"))
    val ch = Seq((2L, "I", "new", 1L, 1L)).toDF("k", "op", "v", "t", "i")
    val noBase = Seq.empty[(Long, String)].toDF("k", "v")
    assert(Cdc.merge(noBase, "k", "v", ch, "op", "t", "i")
      .collect().map(_.getString(1)).toSeq === Seq("new"))
    assert(Cdc.scd2(noCh, "k", "t", "i", "v").count() === 0L)
    // quality/statistics family over nothing
    val noRows = Seq.empty[Double].toDF("x")
    assert(Quality.expectations(noRows, Seq("p" -> (col("x") > 0)))
      .head.getLong(2) === 0L)
    assert(graft.reg.Eval.corrMatrix(
      Seq.empty[(Double, Double)].toDF("a", "b"), Seq("a", "b"))
      .collect().forall(_.isNullAt(3)))
    assert(graft.reg.Eval.bhAdjust(
      Seq.empty[(String, Double)].toDF("id", "p"), "id", "p").count() === 0L)
    assert(graft.reg.Eval.liftCurve(
      Seq.empty[(Double, Boolean, Long)].toDF("s", "y", "i"),
      col("s"), col("y"), col("i")).count() === 0L)
    assert(Features.histogram(noRows, "x", 3).count() === 3L) // spine persists
    assert(Features.woeBins(
      Seq.empty[(Double, Boolean, Long)].toDF("s", "y", "i"),
      col("s"), col("y"), col("i")).count() === 0L)
    assert(ScaleOps.prioritySampleByGroup(
      Seq.empty[(Long, String, Double)].toDF("id", "g", "w"),
      "id", "g", col("w"), 5).count() === 0L)
    assert(ScaleOps.saltedJoin(
      Seq.empty[(Long, Long)].toDF("rid", "k"), "k",
      Seq((1L, "v")).toDF("sk", "val"), "sk",
      xxhash64(col("rid")), 4).count() === 0L)
  }

  test("round-13 operators tolerate empty/degenerate inputs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four")).toDF("doc_id", "text")
    // refresh with an EMPTY growth shard leaves the state unchanged
    val st = Dedup.minhashDedupState(docs, "doc_id", "text")
    val refreshed = Dedup.minhashDedupStateRefresh(st, emptyDocs,
      "doc_id", "text")
    assert(refreshed.reps.count() == st.reps.count())
    assert(refreshed.buckets.count() == st.buckets.count())
    // semDedupAgainst with an EMPTY shard returns an empty frame with
    // the right schema
    val vecs = Seq((1L, Seq.fill(4)(1.0f)), (2L, Seq.fill(4)(0.5f)))
      .toDF("vec_id", "embedding")
    val sd = Similarity.semDedupState(vecs, "vec_id", "embedding",
      k = 2, iters = 1, dim = 4)
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val out = Similarity.semDedupAgainst(sd, emptyVecs, "vec_id",
      "embedding", 0.5)
    assert(out.count() == 0 &&
      out.columns.toSeq == Seq("id", "dup_of", "cos"))
    // uniMaxBudgets over an empty / all-null-domain frame allocates
    // nothing (and the downstream cut operators refuse the empty
    // budgets list loudly — budget-positivity contract)
    assert(ScaleOps.uniMaxBudgets(emptyDocs.withColumn("nt", lit(1L)),
      "text", col("nt"), 100L).isEmpty)
    val nullDom = Seq((1L, null: String, 5L)).toDF("id", "dom", "nt")
    assert(ScaleOps.uniMaxBudgets(nullDom, "dom", col("nt"), 100L).isEmpty)
    intercept[IllegalArgumentException] {
      ScaleOps.sampleToTokenBudget(nullDom, "dom", "id", col("nt"),
        ScaleOps.uniMaxBudgets(nullDom, "dom", col("nt"), 100L))
    }
    // boilerplate-mode line-dedup ingest over an empty shard is empty
    val fps = Dedup.lineFingerprints(docs, "doc_id", "text")
    assert(Dedup.removeDupLinesAgainst(fps, emptyDocs, "doc_id", "text",
      keepFirst = false).count() == 0)
    // semDedupStateAppend with an EMPTY shard leaves the state unchanged
    // (members, codebook, and the frozen n_members meta)
    val sdGrown = Similarity.semDedupStateAppend(sd, emptyVecs, "vec_id",
      "embedding")
    assert(sdGrown.members.count() == sd.members.count())
    assert(sdGrown.centroidArray.map(_.toSeq).toSeq ==
      sd.centroidArray.map(_.toSeq).toSeq)
    assert(sdGrown.centroids.select("n_members").collect().map(_.getLong(0)).sorted.toSeq ==
      sd.centroids.select("n_members").collect().map(_.getLong(0)).sorted.toSeq)
    // uniMax state family over empty inputs: empty state allocates
    // nothing; merging with an empty state is the identity
    val emptyState = ScaleOps.uniMaxState(
      emptyDocs.withColumn("nt", lit(1L)), "text", col("nt"))
    assert(ScaleOps.uniMaxBudgetsFromState(emptyState, 100L).isEmpty)
    assert(ScaleOps.uniMaxAllocation(emptyState, 100L).count() == 0)
    val someState = ScaleOps.uniMaxState(
      Seq(("en", 7L)).toDF("dom", "nt"), "dom", col("nt"))
    assert(ScaleOps.uniMaxStateMerge(someState, emptyState).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq == Seq("en" -> 7L))
  }
}
