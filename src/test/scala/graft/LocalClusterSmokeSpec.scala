package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.reg.Dbreg

/** Multi-executor smoke battery (round-8 verdict item #4): every number
  * in BENCH_NOTES is local[32] — one JVM, no serialization boundary, no
  * real broadcast transport, localCheckpoint always available. This
  * suite runs a battery slice on `local-cluster[2,4,2048]` — two REAL
  * worker processes each launching an executor JVM — with a RELIABLE
  * checkpoint dir configured, so the dir→reliable `Staging.stage`
  * path, broadcast joins across process boundaries, and the
  * state-store-backed streaming ops all execute the way a real cluster
  * would.
  *
  * Env-gated like the big-replica profilers — run as
  * `GRAFT_LOCAL_CLUSTER=1 sbt "testOnly graft.LocalClusterSmokeSpec"` —
  * and MUST run standalone because a JVM holds one SparkContext and
  * every other suite shares the `local[4]` one. The suite sets
  * `spark.executorEnv.SPARK_SCALA_VERSION=2.13` itself (clean shells
  * don't export it, and the launcher's scala-version probe otherwise
  * walks the SOURCE-build layout `$SPARK_HOME/launcher/target/scala-*`
  * and dies with "Cannot find any build directories" on a plain
  * distribution). Executor JVMs get the app classes via
  * `spark.executor.extraClassPath` and the JDK17 module opens via
  * `spark.executor.extraJavaOptions`; operator pipelines here are pure
  * Column/main-code plans, so no scalatest classes ever cross the wire.
  */
class LocalClusterSmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val enabled = sys.env.get("GRAFT_LOCAL_CLUSTER").contains("1")

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  private lazy val spark: SparkSession = {
    val classes = Seq("classes", "test-classes")
      .map(d => new java.io.File(s"target/scala-2.13/$d").getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val s = SparkSession.builder()
      .master("local-cluster[2,4,2048]")
      .appName("graft-local-cluster-smoke")
      .config("spark.executor.memory", "1g")
      .config("spark.executor.extraClassPath", classes)
      .config("spark.executor.extraJavaOptions", addOpens)
      // the in-process Worker builds the executor command through the
      // launcher library, whose scala-version probe reads
      // SPARK_SCALA_VERSION from the COMMAND env before the process env
      // (AbstractCommandBuilder.getenv: childEnv first; WorkerCommandBuilder
      // copies Command.environment = sc.executorEnvs = spark.executorEnv.*
      // into childEnv) — setting it here makes the smoke robust to clean
      // shells, where the probe otherwise walks the SOURCE-build layout
      // and dies with "Cannot find any build directories"
      .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // configuring a checkpoint dir IS the opt-in: Staging auto → RELIABLE
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    s.sparkContext.setCheckpointDir(ckpt)
    s
  }

  override def afterAll(): Unit = {
    if (enabled) spark.stop()
    super.afterAll()
  }

  private def li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def close(a: Double, b: Double, t: Double, msg: String): Unit =
    assert(math.abs(a - b) <= t * math.max(1.0, math.abs(b)), s"$msg: $a vs $b")

  test("every fit strategy agrees across real executor boundaries") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    val m = Dbreg.fit("l_extendedprice ~ l_quantity + l_discount", li,
      strategy = "moments")
    val c = Dbreg.fit("l_extendedprice ~ l_quantity + l_discount", li,
      strategy = "compress")
    close(c.coef("l_quantity"), m.coef("l_quantity"), 1e-8, "compress beta")
    close(c.se("l_quantity"), m.se("l_quantity"), 1e-8, "compress se")
    val d = Dbreg.fit("l_extendedprice ~ l_quantity | l_returnflag", li,
      strategy = "demean")
    val h = Dbreg.fit("l_extendedprice ~ l_quantity | l_returnflag", li,
      strategy = "hdfe")
    close(h.coef("l_quantity"), d.coef("l_quantity"), 1e-9, "hdfe beta")
    close(h.se("l_quantity"), d.se("l_quantity"), 1e-9, "hdfe se")
    assert(h.hdfeConverged.contains(true))
    val mu = Dbreg.fit("l_extendedprice ~ l_quantity | l_returnflag", li,
      strategy = "mundlak")
    close(mu.coef("l_quantity"), d.coef("l_quantity"), 1e-8, "mundlak beta")
    // 2-FE GROUPING SETS demean + clustered vcov across the boundary
    val d2 = Dbreg.fit(
      "l_extendedprice ~ l_quantity | l_returnflag + l_linestatus", li,
      vcov = "~l_suppkey", strategy = "demean")
    assert(d2.nClusters.exists(_ > 1L) && d2.se("l_quantity") > 0.0)
  }

  test("reliable staging actually checkpoints (auto mode with a dir set)") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    val ckptDir = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
    def ckptFiles(): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else 1L
      if (ckptDir.exists()) walk(ckptDir) else 0L
    }
    val before = ckptFiles()
    val staged = Staging.stage(
      li.select(col("l_orderkey"), col("l_extendedprice")))
    assert(staged.count() > 0L)
    assert(ckptFiles() > before,
      "auto mode with a checkpoint dir must write a RELIABLE checkpoint")
  }

  test("minhash dedup pairs + connected components distribute") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    val pairs = graft.pipeline.Dedup
      .minhashPairs(docs, "doc_id", "text", n = 2, threshold = 0.5)
    val got = pairs.collect()
    assert(got.nonEmpty, "sf0.001 documents contain near-dup pairs")
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
    val cc = graft.operators.Graphs
      .connectedComponents(pairs, "id1", "id2")
      .collect()
    assert(cc.nonEmpty)
    // every node appears exactly once, labels are component minima
    assert(cc.map(_.getLong(0)).distinct.length === cc.length)
    assert(cc.forall(r => r.getLong(1) <= r.getLong(0)))
  }

  test("retrieval family distributes (hybrid RRF + silhouette)") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qv = emb.orderBy("vec_id").limit(1).select(col("embedding"))
      .collect()(0).getSeq[Number](0).toArray.map(_.doubleValue)
    val hy = graft.pipeline.Retrieval.hybridTopK(docs, "doc_id", "text",
      Seq("hash", "join"), emb, "vec_id", "embedding", qv, k = 10).collect()
    assert(hy.length === 10)
    // rrf must be exactly the reciprocal-rank sum on every fused row
    hy.foreach { r =>
      val lex = Option(r.get(1)).map(_.asInstanceOf[Int])
      val sem = Option(r.get(2)).map(_.asInstanceOf[Int])
      val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        sem.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - expect) < 1e-15)
    }
    val cents = emb.orderBy("vec_id").limit(4).select(col("embedding"))
      .collect().map(_.getSeq[Number](0).toArray.map(_.doubleValue))
    val sil = graft.pipeline.Similarity
      .silhouette(emb, "vec_id", "embedding", cents).collect()
    // every (nonzero) vector lands in exactly one cell; s ∈ [0, 1]
    assert(sil.map(_.getLong(1)).sum === emb.count())
    assert(sil.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("ts-ml family distributes (SES forecast + rank-1 MF)") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    val ev = graft.sources.EventTime.withEpochMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val ses = graft.operators.Events.sesForecast(ev, "event_type", "tus",
      "value", periodUs = 3600000000L, alpha = 0.3).collect()
    assert(ses.nonEmpty)
    // level is a convex combination of the per-period sums: finite, and
    // n_periods is positive for every observed type
    ses.foreach { r =>
      assert(r.getLong(1) > 0L)
      assert(!r.getDouble(3).isNaN && !r.getDouble(3).isInfinite)
    }
    val mf = graft.operators.Recommend.rank1Factors(li,
      "l_suppkey", "l_partkey", "l_quantity", iters = 2)
    // both sides L2-normalized across executor boundaries: the per-side
    // squared factor sums must each be exactly 1
    val norms = mf.groupBy("side")
      .agg(sum(col("factor") * col("factor")).as("n2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(norms.keySet === Set("user", "item"))
    close(norms("user"), 1.0, 1e-12, "user norm")
    close(norms("item"), 1.0, 1e-12, "item norm")
  }

  test("span removal + token budget distribute (r11 ops)") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    val rm = graft.pipeline.Dedup
      .removeDupSpans(docs, "doc_id", "text", width = 5).collect()
    assert(rm.length === docs.count())
    // accounting holds across executor boundaries: cleaned token count
    // = n_tokens - n_removed for every doc
    rm.foreach { r =>
      val kept = r.getString(3).split("\\s+").count(_.nonEmpty)
      assert(kept === (r.getLong(1) - r.getLong(2)).toInt, s"doc ${r.getLong(0)}")
    }
    assert(rm.exists(_.getLong(2) > 0), "corpus should contain dup spans")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val kept = graft.sources.ScaleOps.sampleToTokenBudget(
      docs, "lang", "doc_id", tok, Seq("en" -> 2000L, "de" -> 800L),
      salt = "lc")
    val mass = kept.groupBy("lang").agg(
        sum(tok.cast("long")).as("t"), max(tok.cast("long")).as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(mass.keySet === Set("en", "de"))
    assert(mass("en")._1 < 2000L + mass("en")._2)
    assert(mass("de")._1 < 800L + mass("de")._2)
  }

  test("frozen-state budget + materialized priority distribute (r12 ops)") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val budgets = Seq("en" -> 2000L, "de" -> 800L)
    // frozen state applied to the corpus itself must reproduce the batch
    // cut exactly across executor boundaries (broadcast meta + the
    // sliver-union window both cross JVMs here)
    val state = graft.sources.ScaleOps.tokenBudgetState(
      docs, "lang", "doc_id", tok, budgets, salt = "lc12")
    val viaState = graft.sources.ScaleOps.sampleToTokenBudgetAgainst(
        state, docs, "lang", "doc_id", tok)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.sources.ScaleOps.sampleToTokenBudget(
        docs, "lang", "doc_id", tok, budgets, salt = "lc12")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaState === batch)
    assert(batch.nonEmpty)
    // the materialized-priority cut (staged slim frame + semi join) must
    // match the in-scan evaluation under executors too
    val q = graft.pipeline.TextOps.qualityScore(col("text"))
    val mat = graft.sources.ScaleOps.takeTopTokenBudget(docs, "lang",
        "doc_id", tok, q, budgets, materializePriority = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val inScan = graft.sources.ScaleOps.takeTopTokenBudget(docs, "lang",
        "doc_id", tok, q, budgets)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mat === inScan)
  }

  test("line dedup + repeat budget distribute (r12 session-2 ops)") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    // line dedup: the counting agg, mask agg, and rebuild join all cross
    // executor boundaries; n_removed must balance against the duplicated
    // occurrences exactly as in local mode
    val ml = docs.select(col("doc_id"), col("lang"),
      regexp_replace(col("text"), "(\\w+ \\w+ \\w+ \\w+) ", "$1\n")
        .as("text"))
    val out = graft.pipeline.Dedup.removeDupLines(ml, "doc_id", "text")
    val tot = out.agg(sum("n_removed"), sum("n_lines")).collect()(0)
    assert(tot.getLong(0) > 0 && tot.getLong(0) < tot.getLong(1))
    // empty-state ingest ≡ batch under executors
    val viaIngest = graft.pipeline.Dedup.removeDupLinesAgainst(
        graft.pipeline.Dedup.lineFingerprints(ml.limit(0), "doc_id", "text"),
        ml, "doc_id", "text")
      .select("id", "n_removed").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = out.select("id", "n_removed").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIngest === direct)
    // frozen repeat-budget state applied to the corpus itself reproduces
    // the batch mixture across JVMs (broadcast epoch map + remainder
    // window both distribute)
    val tok = graft.pipeline.TextOps.tokenCount(col("text"))
    val inv = docs.groupBy("lang").agg(sum(tok.cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budgets = Seq("en" -> (2 * inv("en") + inv("en") / 3),
      "de" -> inv("de") / 2)
    val state = graft.sources.ScaleOps.repeatBudgetState(docs, "lang",
      "doc_id", tok, budgets, salt = "lc12b")
    val viaState = graft.sources.ScaleOps.repeatToTokenBudgetAgainst(
        state, docs, "lang", "doc_id", tok)
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = graft.sources.ScaleOps.repeatToTokenBudget(docs, "lang",
        "doc_id", tok, budgets, salt = "lc12b")
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(viaState === batch)
    assert(batch.exists(_._2 == 2)) // the partial epoch really exists
    // frozen MinHash state round-trips through parquet and applies across
    // executors identically to the in-memory state (the convenience form
    // shares the state path by construction, so the serialization
    // boundary is the non-tautological thing to pin here)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val mh = graft.pipeline.Dedup.minhashDedupState(corpus, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_mh").toString
    mh.reps.write.mode("overwrite").parquet(s"$dir/reps")
    mh.buckets.write.mode("overwrite").parquet(s"$dir/buckets")
    val loadedMh = graft.pipeline.Dedup.MinhashDedupState(
      spark.read.parquet(s"$dir/reps"), spark.read.parquet(s"$dir/buckets"))
    val viaMh = graft.pipeline.Dedup.dedupAgainstState(loadedMh, fresh,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toSet
    val inMemMh = graft.pipeline.Dedup.dedupAgainstState(mh, fresh,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toSet
    assert(viaMh === inMemMh)
    assert(viaMh.exists(_._2.isDefined))
    // r13: first-writer-wins refresh of the PARQUET-LOADED state equals a
    // rebuild from the grown corpus when applied across executors (the
    // refresh reads its config — shingle width, valve cap — from the
    // loaded state, so the round-trip must preserve it)
    val grow = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    val refreshed = graft.pipeline.Dedup.minhashDedupStateRefresh(
      loadedMh, grow, "doc_id", "text")
    val rebuilt = graft.pipeline.Dedup.minhashDedupState(
      corpus.unionByName(grow), "doc_id", "text")
    val probe = fresh.withColumn("doc_id", col("doc_id") + 3000000L)
    def applyState(st: graft.pipeline.Dedup.MinhashDedupState) =
      graft.pipeline.Dedup.dedupAgainstState(st, probe, "doc_id", "text")
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toSet
    val viaRefreshed = applyState(refreshed)
    assert(viaRefreshed === applyState(rebuilt))
    assert(viaRefreshed.exists(_._2.isDefined))
    // r13: the EMBEDDING-modality frozen state (SemDeDup ingest) also
    // round-trips through parquet and applies across executors — the
    // codebook collects driver-side and re-broadcasts into the codegen'd
    // nearest-centroid argmax, which is the serialization-sensitive part
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vcorpus = vecs.filter(col("vec_id") % 10 =!= 0)
    val sd = graft.pipeline.Similarity.semDedupState(
      vcorpus, "vec_id", "embedding", k = 8, iters = 2, dim = 64)
    val sdDir = java.nio.file.Files.createTempDirectory("graft_lc_sd").toString
    sd.centroids.write.mode("overwrite").parquet(s"$sdDir/centroids")
    sd.members.write.mode("overwrite").parquet(s"$sdDir/members")
    val loadedSd = graft.pipeline.Similarity.SemDedupState(
      spark.read.parquet(s"$sdDir/centroids"),
      spark.read.parquet(s"$sdDir/members"))
    val vfresh = vecs.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    def sdApply(st: graft.pipeline.Similarity.SemDedupState) =
      graft.pipeline.Similarity.semDedupAgainst(st, vfresh, "vec_id",
          "embedding", threshold = 0.45)
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString))).toSet
    val viaSd = sdApply(loadedSd)
    assert(viaSd === sdApply(sd) && viaSd.nonEmpty)
  }

  test("r14 state ops distribute (manifested index, freeze, append, sampled drift)") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    // the manifested index writes/reads across executor boundaries, the
    // index-frozen SemDeDup state applies, the frozen-codebook append
    // folds a shard in, and the sampled drift monitor aggregates — the
    // round-14 surface end-to-end under real executors
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = vecs.filter(col("vec_id") % 10 =!= 0)
    val shard = vecs.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val idx = java.nio.file.Files.createTempDirectory("graft_lc_vidx").toString
    graft.pipeline.VectorIndex.build(corpus, "vec_id", "embedding", idx,
      k = 8, iters = 1)
    val frozen = graft.pipeline.VectorIndex.freezeSemDedupState(spark, idx)
    val grown = graft.pipeline.Similarity.semDedupStateAppend(frozen,
      shard, "vec_id", "embedding")
    val applied = graft.pipeline.Similarity.semDedupAgainst(grown,
        vecs.filter(col("vec_id") < 20), "vec_id", "embedding", 0.45)
      .collect()
    assert(applied.length == 20 && applied.exists(!_.isNullAt(1)))
    graft.pipeline.VectorIndex.append(shard, "vec_id", "embedding", idx)
    val drift = graft.pipeline.VectorIndex.driftCheck(spark, idx,
      vecs.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
      sampleFraction = 0.5, salt = "lc").collect()(0)
    assert(drift.getLong(0) > 0 && drift.getLong(1) > 0 &&
      !drift.isNullAt(5))
  }

  test("r15 state ops distribute (serving handle, cluster-state split, " +
      "suite attribution + scrub)") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    // the check-once handle serves across executor boundaries and agrees
    // with the one-shot API; the frozen duplicate-cluster state splits a
    // corpus without per-call CC; the provenance state attributes and
    // scrubs — the round-15 surface end-to-end under real executors
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_lc_h").toString
    graft.pipeline.VectorIndex.build(vecs, "vec_id", "embedding", idx,
      k = 8, iters = 1)
    val h = graft.pipeline.VectorIndex.open(spark, idx)
    val queries = vecs.filter(col("vec_id") < 3)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2)))
    val viaHandle = h.topK(queries, "vec_id", "embedding", k = 5, nprobe = 3)
      .collect().map(key).toMap
    val oneShot = graft.pipeline.VectorIndex.topK(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 3).collect().map(key).toMap
    assert(viaHandle == oneShot && viaHandle.nonEmpty)
    // frozen cluster state: parquet roundtrip, merged split ≡ wrapper
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairsA = graft.pipeline.Dedup.jaccardPairs(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text", 2, 0.4)
    val pairsB = graft.pipeline.Dedup.jaccardPairs(
      d.filter(col("doc_id") % 2 === 1), "doc_id", "text", 2, 0.4)
    val dcDir = java.nio.file.Files.createTempDirectory("graft_lc_dc").toString
    graft.pipeline.Dedup.dupClusterStateMerge(
        graft.pipeline.Dedup.dupClusterState(pairsA), pairsB)
      .clusters.write.mode("overwrite").parquet(dcDir)
    val st = graft.pipeline.Dedup.DupClusterState(spark.read.parquet(dcDir))
    def smap(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaState = smap(graft.sources.ScaleOps.leakageSafeSplitAgainst(st,
      d, "doc_id", Seq("train" -> 0.8, "eval" -> 0.2), salt = "lc"))
    val viaPairs = smap(graft.sources.ScaleOps.leakageSafeSplit(d, "doc_id",
      pairsA.unionByName(pairsB), Seq("train" -> 0.8, "eval" -> 0.2),
      salt = "lc"))
    assert(viaState == viaPairs && viaState.nonEmpty)
    // provenance state: attribution + scrub consistency under executors
    val ct = graft.pipeline.Dedup.contaminationStateMerge(
      graft.pipeline.Dedup.contaminationState(
        d.filter(col("doc_id") % 37 === 0), "doc_id", "text", 2, "s37"),
      graft.pipeline.Dedup.contaminationState(
        d.filter(col("doc_id") % 41 === 0), "doc_id", "text", 2, "s41"))
    val shardD = d.filter(col("doc_id") % 5 === 1)
    val attributed = graft.pipeline.Dedup.contaminationBySuite(ct, shardD,
      "doc_id", "text", n = 2).collect()
    assert(attributed.nonEmpty &&
      attributed.map(_.getString(1)).toSet.subsetOf(Set("s37", "s41")))
    val scrubbed = graft.pipeline.Dedup.decontaminate(ct, shardD,
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val flagged = graft.pipeline.Dedup.contaminationAgainst(ct, shardD,
      "doc_id", "text", n = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    flagged.foreach { case (id, c) =>
      assert((scrubbed(id) > 0) == (c > 0), s"doc $id")
    }
  }

  test("r16 state ops distribute (all-matches ingest, complete cluster " +
      "refresh, per-suite scrub report)") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    // the all-matches cross-corpus edge producer, the complete
    // daily-refresh recipe (≡ a from-scratch rebuild), and the per-suite
    // removal report — the round-16 surface end-to-end under real
    // executors, all states through their parquet round-trip
    import graft.pipeline.Dedup
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val resident = d.filter(col("doc_id") % 10 =!= 0)
    val shard = d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_r16").toString
    val mh = Dedup.minhashDedupState(resident, "doc_id", "text", n = 2)
    mh.reps.write.mode("overwrite").parquet(s"$dir/reps")
    mh.buckets.write.mode("overwrite").parquet(s"$dir/buckets")
    val loadedMh = Dedup.MinhashDedupState(
      spark.read.parquet(s"$dir/reps"), spark.read.parquet(s"$dir/buckets"))
    // all-matches: every row verified, and the top-1 form is its argmax
    val all = Dedup.dedupAgainstStateAll(loadedMh, shard, "doc_id", "text",
        n = 2, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(all.nonEmpty && all.forall(_._3 >= 0.4))
    val bestOfAll = all.groupBy(_._1).map { case (id, ms) =>
      id -> ms.map(m => (m._3, -m._2)).max // jaccard desc, cid asc
    }
    Dedup.dedupAgainstState(loadedMh, shard, "doc_id", "text",
        n = 2, threshold = 0.4)
      .filter(col("dup_of").isNotNull).collect()
      .foreach { r =>
        val (j, negCid) = bestOfAll(r.getLong(0))
        assert(r.getLong(1) == -negCid && r.getDouble(2) == j,
          s"top-1 disagrees with all-matches argmax for doc ${r.getLong(0)}")
      }
    // complete refresh ≡ from-scratch rebuild over resident ∪ shard
    Dedup.dupClusterState(Dedup.minhashPairs(resident, "doc_id", "text",
        n = 2, threshold = 0.4))
      .clusters.write.mode("overwrite").parquet(s"$dir/dc")
    val loadedDc = Dedup.DupClusterState(spark.read.parquet(s"$dir/dc"))
    def cmap(st: Dedup.DupClusterState) = st.clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = cmap(Dedup.dupClusterStateIngest(loadedDc, loadedMh,
      shard, "doc_id", "text", n = 2, threshold = 0.4))
    val rebuilt = cmap(Dedup.dupClusterState(
      Dedup.minhashPairs(resident.unionByName(shard), "doc_id", "text",
        n = 2, threshold = 0.4)))
    assert(merged == rebuilt && merged.nonEmpty)
    // per-suite scrub report: per-suite masks bound the any-suite scrub
    val ct = Dedup.contaminationStateMerge(
      Dedup.contaminationState(
        d.filter(col("doc_id") % 37 === 0), "doc_id", "text", 2, "s37"),
      Dedup.contaminationState(
        d.filter(col("doc_id") % 41 === 0), "doc_id", "text", 2, "s41"))
    val shardD = d.filter(col("doc_id") % 5 === 1)
    val perSuite = Dedup.decontaminateBySuite(ct, shardD, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val total = Dedup.decontaminate(ct, shardD, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(perSuite.nonEmpty)
    perSuite.groupBy(_._1._1).foreach { case (id, rows) =>
      val counts = rows.values
      assert(counts.max <= total(id) && total(id) <= counts.sum,
        s"doc $id: per-suite $counts vs total ${total(id)}")
    }
  }

  test("streaming funnel state store works under executors") {
    assume(enabled, "set GRAFT_LOCAL_CLUSTER=1 to run the cluster smoke")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, String)]
    val df = input.toDF().toDF("ts", "user", "etype")
    val out = graft.streaming.StreamingReg.streamingFunnel(
      df, "ts", "user", "etype", Seq("view", "click"))
    val q = out.writeStream.format("memory").queryName("lcfun")
      .outputMode("append").start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    input.addData((t(0), "A", "view"), (t(1), "A", "click"),
      (t(0), "B", "view"))
    q.processAllAvailable()
    input.addData((t(2), "B", "click"))
    q.processAllAvailable()
    val reaches = spark.table("lcfun").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    q.stop()
    assert(reaches === Set(("A", 1), ("A", 2), ("B", 1), ("B", 2)))
  }
}
