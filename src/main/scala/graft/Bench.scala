package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.binsreg.Dbbinsreg
import graft.pipeline.{Dedup, Similarity, TextOps}
import graft.reg.Dbreg

/** Benchmark main — runs the headline operator set on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Protocol: warmup pass (JIT/codegen, parquet footers), then
  * `SPARK_GRAFT_BENCH_ITERS` timed iterations (default 5 since round 7 —
  * the r5/r6 steal lesson: 3 samples leave a ~30% chance every iteration
  * of a query lands on a steal burst; 5 keeps the min honest) reporting
  * the per-query MIN (`spread` adds each arm's min, median and max).
  * The reference reports the median, but this host has bursty CPU steal
  * (measured wall-time swings of 10-70x across otherwise identical JVMs —
  * BENCH_NOTES.md §noise); the min is the standard noise-robust wall-time
  * statistic and estimates undisturbed steady-state throughput, which is
  * the quantity BASELINE.md's numbers were taken under. DataFrame queries
  * execute to completion via the noop sink (no driver serialization in
  * the timing).
  */
object Bench {
  private val Iters =
    sys.env.get("SPARK_GRAFT_BENCH_ITERS").map(_.toInt).getOrElse(5)

  /** One finished arm: its timed iterations, ascending, and the
    * structural counters of the last one. */
  private final case class Arm(name: String, times: IndexedSeq[Double], prof: Seq[Long]) {
    def min: Double = times.head
    def median: Double = {
      val n = times.length
      if (n % 2 == 1) times(n / 2) else (times(n / 2 - 1) + times(n / 2)) / 2.0
    }
  }

  /** Per-arm structural counters (jobs / stages / tasks / shuffle-write
    * bytes / input bytes) via a SparkListener, embedded in the bench
    * output (r17, VERDICT r16 item 2): counts are noise-immune, so
    * plan-shape changes stay verifiable on a host whose wall-clock is
    * poisoned by CPU steal. */
  private final class ArmCounts extends org.apache.spark.scheduler.SparkListener {
    private val jobs = new java.util.concurrent.atomic.AtomicLong
    private val stages = new java.util.concurrent.atomic.AtomicLong
    private val tasks = new java.util.concurrent.atomic.AtomicLong
    private val shufW = new java.util.concurrent.atomic.AtomicLong
    private val input = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
      ()
    }
    def snap(): Seq[Long] =
      Seq(jobs.get, stages.get, tasks.get, shufW.get, input.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Scan-protocol knob (BENCH_NOTES "Round-15: 180M protocol v2
    // attempt"): exposed for deployment experimentation with
    // spark.sql.files.maxPartitionBytes. The round-14 two-JVM sweep
    // (BENCH_NOTES "Round-14: fit_twfe_compress scan-knob sweep")
    // suggested 256m as a −10-14 % win on the 180M scan-bound fit, but
    // the round-15 replication attempt measured a NULL result (v2 never
    // won one of four fresh-JVM pairs, nor a within-JVM A/B on the
    // quietest host day) — no protocol v2 was declared. UNSET keeps
    // Spark's 128m default = the byte-frozen v1 protocol every
    // historical band was recorded under, and the default stands.
    val maxPartitionBytes = sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    maxPartitionBytes.foreach(v =>
      builder.config("spark.sql.files.maxPartitionBytes", v))
    val spark = builder
      // The lazy-localCheckpoint staging the pipeline ops use races the
      // ContextCleaner's accumulator unregistration: late task-end events
      // from a checkpoint-materializing stage log benign-but-loud
      // "non-existent accumulator" ERRORs (results unaffected; on real
      // clusters Staging runs reliable checkpoints instead — see
      // Staging.scala). This JVM lives for one bench run, so simply not
      // cleaning is the correct setting — bounded memory, zero races.
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val armCounts = new ArmCounts
    spark.sparkContext.addSparkListener(armCounts)
    // Even with the ContextCleaner off, AccumulatorContext holds WEAK
    // references: a finished plan's SQL-metric accumulators can be
    // garbage-collected while a straggler task-end event still carries
    // their ids, and DAGScheduler logs a benign-but-loud ERROR per
    // update ("attempted to access non-existent accumulator"; results
    // unaffected — the metric is simply dropped). Suppress ONLY that
    // message via a DENY RegexFilter on the DAGScheduler logger — the
    // logger itself stays at ERROR so real scheduler diagnostics
    // (task-failure causes, stage aborts) remain visible in bench logs.
    val logCtx = org.apache.logging.log4j.core.LoggerContext.getContext(false)
    val dagLogger = "org.apache.spark.scheduler.DAGScheduler"
    val dagLc = new org.apache.logging.log4j.core.config.LoggerConfig(
      dagLogger, org.apache.logging.log4j.Level.ERROR, true)
    // the noise logs as "Failed to update accumulator N (…) for task N"
    // with the "non-existent accumulator" SparkException attached as the
    // throwable (which RegexFilter cannot see) — match the message
    dagLc.addFilter(org.apache.logging.log4j.core.filter.RegexFilter.createFilter(
      "Failed to update accumulator \\d+.*", null, java.lang.Boolean.FALSE,
      org.apache.logging.log4j.core.Filter.Result.DENY,
      org.apache.logging.log4j.core.Filter.Result.NEUTRAL))
    logCtx.getConfiguration.addLogger(dagLogger, dagLc)
    logCtx.updateLoggers()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.util.AccumulatorContext",
      org.apache.logging.log4j.Level.ERROR)

    def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // Single-row-group parquet can't split, so per-row-CPU-heavy pipelines
    // (regex/explode) need explicit fan-out; aggregation-dominated fits are
    // faster on the unshuffled scan.
    def docsWide = graft.sources.ScaleOps.normalizeParallelism(docs, cpus.toInt)

    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---- headline workload ----
    val workload: Seq[(String, () => Unit)] = Seq(
      // the reference benchmark shape: y ~ x1 + x2 | fe1 + fe2
      "fit_twfe_compress" -> (() => {
        Dbreg.fit("l_extendedprice ~ l_quantity + l_discount | l_returnflag + l_linestatus",
          li, strategy = "compress"); ()
      }),
      "fit_twfe_auto" -> (() => {
        Dbreg.fit("l_extendedprice ~ l_quantity + l_discount | l_returnflag + l_linestatus",
          li, strategy = "auto"); ()
      }),
      "fit_demean_hc1" -> (() => {
        Dbreg.fit("l_extendedprice ~ l_quantity + l_discount | l_returnflag",
          li, vcov = "hc1", strategy = "demean"); ()
      }),
      "fit_mundlak" -> (() => {
        Dbreg.fit("l_extendedprice ~ l_quantity + l_discount | l_returnflag",
          li, strategy = "mundlak"); ()
      }),
      "fit_moments_cluster" -> (() => {
        Dbreg.fit("l_extendedprice ~ l_quantity + l_discount", li,
          vcov = "~l_returnflag", strategy = "moments"); ()
      }),
      "binsreg_canonical" -> (() => {
        Dbbinsreg.fit("l_extendedprice ~ l_quantity", li, nbins = 10, degree = 0); ()
      }),
      "binsreg_spline_fe" -> (() => {
        Dbbinsreg.fit("l_extendedprice ~ l_quantity | l_returnflag", li,
          nbins = 8, degree = 1, smoothness = 1); ()
      }),
      "dedup_exact" -> (() => sink(Dedup.exactGroups(docs, "doc_id", "text"))),
      "dedup_minhash_lsh" -> (() =>
        sink(Dedup.minhashPairs(docs, "doc_id", "text", n = 2, threshold = 0.5))),
      "dedup_simhash" -> (() => sink(Dedup.simhash(docs, "doc_id", "text"))),
      "knn_brute" -> (() =>
        sink(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          Seq(0L, 1L, 2L, 3L, 4L), 10))),
      "knn_lsh" -> (() =>
        sink(Similarity.lshTopK(emb, "vec_id", "embedding",
          Seq(0L, 1L, 2L, 3L, 4L), 10, dim = 64))),
      "text_analysis" -> (() => {
        import org.apache.spark.sql.functions.col
        sink(docsWide
          .withColumn("__t", TextOps.tokens(col("text")))
          .select(
            col("doc_id"),
            TextOps.langIdT(col("text"), col("__t")).as("lang"),
            TextOps.qualityScoreT(col("text"), col("__t")).as("q"),
            TextOps.fingerprint(col("text")).as("fp")))
      })
    )

    // ---- curation workload (round-13 addition) ----
    // A SECOND fixed total covering the curation/state family, which the
    // 13-query headline set never touches: state builds/applies, line
    // dedup, budget cuts, sequence packing. The headline set stays
    // byte-untouched for cross-round comparability; this group gets its
    // own total (`curation_total`) and noise band (BENCH_NOTES r13).
    // Budgets derive from the corpus's own per-lang token inventory
    // (probed once, setup — not timed) so the workload is SF-independent:
    // exact cut at 30% of each lang's mass, repeat mixture at 240%
    // (2 full epochs + a 40% remainder pass).
    import graft.sources.ScaleOps
    val tok = TextOps.tokenCount(org.apache.spark.sql.functions.col("text"))
    lazy val corpus =
      docsWide.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0)
    lazy val shard =
      docsWide.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
    lazy val langTotals: Seq[(String, Long)] = {
      import org.apache.spark.sql.functions.{col, sum}
      docs.groupBy("lang").agg(sum(tok.cast("long")).as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    }
    lazy val cutBudgets = langTotals.map { case (l, t) =>
      l -> math.max(1L, (t * 0.3).toLong)
    }
    lazy val repeatBudgets = langTotals.map { case (l, t) =>
      l -> math.max(1L, (t * 2.4).toLong)
    }
    // frozen states for the apply arms: built ONCE in setup (not timed —
    // the build arms time their own construction), cached like persisted
    // lake state at steady state
    lazy val mhState = {
      val st = Dedup.minhashDedupState(corpus, "doc_id", "text")
      Dedup.MinhashDedupState(st.reps.cache(), st.buckets.cache())
    }
    lazy val tbPrepared = ScaleOps.PreparedTokenBudgetState(
      ScaleOps.tokenBudgetState(docs, "lang", "doc_id", tok, cutBudgets,
        salt = "bench").cache())
    def docsML = docsWide.select(
      org.apache.spark.sql.functions.col("doc_id"),
      TextOps.tokenChunkLines(
        org.apache.spark.sql.functions.col("text"), 5).as("mltext"))

    val curation: Seq[(String, () => Unit)] = Seq(
      "cur_minhash_state_build" -> (() => {
        val st = Dedup.minhashDedupState(corpus, "doc_id", "text")
        sink(st.reps); sink(st.buckets)
      }),
      "cur_minhash_state_apply" -> (() =>
        sink(Dedup.dedupAgainstState(mhState, shard, "doc_id", "text"))),
      "cur_token_budget_build" -> (() =>
        sink(ScaleOps.tokenBudgetState(docs, "lang", "doc_id", tok,
          cutBudgets, salt = "bench"))),
      "cur_token_budget_apply" -> (() =>
        sink(ScaleOps.sampleToTokenBudgetAgainst(tbPrepared, shard,
          "lang", "doc_id", tok))),
      "cur_line_dedup" -> (() =>
        sink(Dedup.removeDupLines(docsML, "doc_id", "mltext"))),
      "cur_repeat_budget" -> (() =>
        sink(ScaleOps.repeatToTokenBudget(docsWide, "lang", "doc_id", tok,
          repeatBudgets, salt = "bench"))),
      "cur_pack_global" -> (() =>
        sink(TextOps.packSequences(docsWide, "doc_id", "text",
          window = 2048, salt = "bench")))
    )

    // ---- maintenance workload (round-14 addition) ----
    // A THIRD fixed total for the state/layout MAINTENANCE paths the
    // headline and curation groups never touch: incremental state refresh,
    // the SemDeDup frozen-state apply, persisted-index append/serve, and
    // z-order layout growth + pruned scan. The r12 pushdown incident
    // proved plan regressions hide between hand-run profiles — these are
    // the round-13 family's heaviest paths, now under the same per-round
    // tripwire (`maint_total`, band in BENCH_NOTES).
    // States persist to parquet in setup (not timed) and are read back,
    // so every apply/refresh arm pays the honest lake-state scan. The
    // append arms APPEND: the target grows by one warmup + Iters batches
    // per run — a fixed, deterministic protocol, comparable across rounds.
    lazy val maintDir = java.nio.file.Files
      .createTempDirectory("graft-bench-maint").toString
    lazy val mhStateDirs: String = {
      val st = Dedup.minhashDedupState(corpus, "doc_id", "text")
      st.reps.write.mode("overwrite").parquet(s"$maintDir/mh/reps")
      st.buckets.write.mode("overwrite").parquet(s"$maintDir/mh/buckets")
      s"$maintDir/mh"
    }
    lazy val mhParquetState = Dedup.MinhashDedupState(
      spark.read.parquet(s"$mhStateDirs/reps"),
      spark.read.parquet(s"$mhStateDirs/buckets"))
    lazy val refreshShard = shard.select(
      (org.apache.spark.sql.functions.col("doc_id") + 10000000L).as("doc_id"),
      org.apache.spark.sql.functions.col("text"))
    lazy val embCorpus =
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 10 =!= 0)
    lazy val embShard =
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 0)
        .select((org.apache.spark.sql.functions.col("vec_id") + 10000000L)
          .as("vec_id"),
          org.apache.spark.sql.functions.col("embedding"))
    lazy val sdStateDir: String = {
      val st = Similarity.semDedupState(embCorpus, "vec_id", "embedding",
        k = 16, iters = 1, dim = 64)
      st.centroids.write.mode("overwrite").parquet(s"$maintDir/sd/centroids")
      st.members.write.mode("overwrite").parquet(s"$maintDir/sd/members")
      s"$maintDir/sd"
    }
    lazy val sdParquetState = graft.pipeline.Similarity.SemDedupState(
      spark.read.parquet(s"$sdStateDir/centroids"),
      spark.read.parquet(s"$sdStateDir/members"))
    lazy val vindexDir: String = {
      val d = s"$maintDir/vindex"
      graft.pipeline.VectorIndex.build(embCorpus, "vec_id", "embedding", d,
        k = 16, iters = 1, dim = 64)
      d
    }
    lazy val zorderDir: String = {
      import org.apache.spark.sql.functions.col
      val d = s"$maintDir/zorder"
      graft.sources.ScaleOps.zorderWrite(
        li.filter(col("l_orderkey") % 10 =!= 0)
          .select("l_orderkey", "l_linenumber", "l_extendedprice",
            "l_quantity"),
        d, Seq("l_extendedprice", "l_quantity"), bits = 8, numFiles = 16)
      d
    }
    lazy val zorderBatch = {
      import org.apache.spark.sql.functions.col
      li.filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_quantity")
    }
    // eval-suite contamination state (the q70 suite recipe), persisted
    // and read back like the other maint states
    lazy val ctStateDir: String = {
      val st = Dedup.contaminationState(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 37 === 0),
        "doc_id", "text", n = 2, suite = "s37")
      st.shingles.write.mode("overwrite").parquet(s"$maintDir/ct")
      s"$maintDir/ct"
    }
    lazy val ctState = Dedup.ContaminationState(
      spark.read.parquet(ctStateDir))
    // frozen duplicate-cluster state (the mnt_leakage_split pair list,
    // CC'd once in setup) — the against-state arm prices what a daily
    // split ACTUALLY costs at steady state: one corpus join + the hash
    // projection, no pair production, no CC
    lazy val dcStateDir: String = {
      val pairs = Dedup.minhashPairs(docsWide, "doc_id", "text",
        n = 2, threshold = 0.5)
      Dedup.dupClusterState(pairs).clusters
        .write.mode("overwrite").parquet(s"$maintDir/dc")
      s"$maintDir/dc"
    }
    lazy val dcState = Dedup.DupClusterState(
      spark.read.parquet(dcStateDir))
    // frozen cluster state over the RESIDENT corpus only (the ingest
    // arm's resident side must match mhParquetState's corpus so the
    // recipe is the spec-pinned one: both frozen states from the same
    // resident, shard disjoint)
    lazy val dcCorpusStateDir: String = {
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
        n = 2, threshold = 0.5)
      Dedup.dupClusterState(pairs).clusters
        .write.mode("overwrite").parquet(s"$maintDir/dcc")
      s"$maintDir/dcc"
    }
    lazy val dcCorpusState = Dedup.DupClusterState(
      spark.read.parquet(dcCorpusStateDir))

    val maint: Seq[(String, () => Unit)] = Seq(
      "mnt_minhash_refresh" -> (() => {
        val st = Dedup.minhashDedupStateRefresh(mhParquetState,
          refreshShard, "doc_id", "text")
        sink(st.reps); sink(st.buckets)
      }),
      "mnt_semdedup_apply" -> (() =>
        sink(Similarity.semDedupAgainst(sdParquetState, embShard,
          "vec_id", "embedding", threshold = 0.45))),
      "mnt_vindex_append" -> (() =>
        graft.pipeline.VectorIndex.append(embShard, "vec_id", "embedding",
          vindexDir)),
      // NOTE: no mnt_vindex_topk_handle arm — under this protocol the
      // append arm grows the index between warmup (where a lazy handle
      // would pin its validated listing) and the timed top-k, so a handle
      // arm would serve a DIFFERENT (stale) file set than the one-shot
      // arm beside it; the listing amortization is pinned by the
      // VectorIndexSpec listing-count test instead, and at this file
      // count the per-call listing is ms-scale.
      "mnt_vindex_topk" -> (() =>
        sink(graft.pipeline.VectorIndex.topK(spark, vindexDir,
          emb.filter(org.apache.spark.sql.functions.col("vec_id")
            .isin(0L, 1L, 2L, 3L, 4L)),
          "vec_id", "embedding", k = 10, nprobe = 4))),
      "mnt_zorder_append" -> (() =>
        graft.sources.ScaleOps.zorderAppend(zorderBatch, zorderDir,
          Seq("l_extendedprice", "l_quantity"), bits = 8, numFiles = 4)),
      "mnt_zorder_scan" -> (() =>
        sink(graft.sources.ScaleOps.zorderScan(spark, zorderDir,
          Seq(("l_extendedprice", 10000.0, 30000.0),
            ("l_quantity", 5.0, 25.0))))),
      // round-14 additions: the new heaviest paths get their tripwire in
      // the same round they ship
      "mnt_semdedup_append" -> (() => {
        val st = Similarity.semDedupStateAppend(sdParquetState, embShard,
          "vec_id", "embedding")
        sink(st.members)
      }),
      "mnt_contamination" -> (() =>
        sink(Dedup.contaminationAgainst(ctState, docsWide,
          "doc_id", "text", n = 2))),
      "mnt_leakage_split" -> (() => {
        val pairs = Dedup.minhashPairs(docsWide, "doc_id", "text",
          n = 2, threshold = 0.5)
        sink(graft.sources.ScaleOps.leakageSafeSplit(docsWide, "doc_id",
          pairs, Seq("train" -> 0.98, "eval" -> 0.02), salt = "bench"))
      }),
      // round-15 addition: the same split from the FROZEN cluster state
      // (parquet, built once in setup) — the steady-state ingest path;
      // the gap vs mnt_leakage_split is the per-call pairs+CC cost the
      // state amortizes
      "mnt_leakage_split_state" -> (() =>
        sink(graft.sources.ScaleOps.leakageSafeSplitAgainst(dcState,
          docsWide, "doc_id", Seq("train" -> 0.98, "eval" -> 0.02),
          salt = "bench"))),
      // round-16 addition: the COMPLETE cluster-state daily refresh
      // (shard-internal pairs + cross-corpus all-matches edges + the
      // monotone merge) — prices what closing the r15 leakage hole
      // costs per shard at steady state; both frozen states read back
      // from parquet (built once in setup over the resident corpus)
      "mnt_cluster_ingest" -> (() =>
        sink(Dedup.dupClusterStateIngest(dcCorpusState, mhParquetState,
          refreshShard, "doc_id", "text", n = 2, threshold = 0.5)
          .clusters))
    )

    // optional subset selector for big-SF runs (e.g. the 180M-row baseline
    // replication only needs the fit queries): comma-separated names or
    // prefixes; unset = full workload
    def select(ws: Seq[(String, () => Unit)]) =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
        case None => ws
        case Some(sel) =>
          val keys = sel.split(",").map(_.trim).filter(_.nonEmpty)
          ws.filter { case (name, _) => keys.exists(name.startsWith) }
      }
    val selected = select(workload)
    val selectedCur = select(curation)
    val selectedMnt = select(maint)

    // warmup: touch parquet footers, JIT/codegen every workload's codepath,
    // and materialize the persisted intermediates some pipelines share —
    // the timed iterations then measure warm steady-state throughput.
    // Tables are only touched when the selected subset needs them, so a
    // partial replica dir (e.g. a ×300 lineitem-only dir with
    // BENCH_ONLY=fit_ — the documented 180M recipe) works.
    def needs(prefixes: String*) =
      (selected ++ selectedCur ++ selectedMnt).exists {
        case (n, _) => prefixes.exists(n.startsWith)
      }
    li.count()
    if (needs("dedup", "text", "cur_", "mnt_minhash")) docs.count()
    if (needs("knn", "mnt_semdedup", "mnt_vindex")) emb.count()
    Dbreg.fit("l_extendedprice ~ l_quantity", li, strategy = "moments")
    if (selectedCur.exists(_._1.startsWith("cur_minhash_state_apply"))) {
      mhState.reps.count(); mhState.buckets.count(); ()
    }
    if (selectedCur.exists(_._1.startsWith("cur_token_budget_apply"))) {
      tbPrepared.state.count(); tbPrepared.saltBuckets; ()
    }
    // maint setup (untimed): persist the lake states the arms read back
    if (needs("mnt_minhash")) { mhStateDirs; () }
    if (needs("mnt_semdedup")) { sdStateDir; () }
    if (needs("mnt_vindex")) { vindexDir; () }
    if (needs("mnt_zorder")) { zorderDir; () }
    if (needs("mnt_contamination")) { ctStateDir; () }
    if (needs("mnt_leakage_split_state")) { dcStateDir; () }
    (selected ++ selectedCur ++ selectedMnt).foreach { case (name, fn) =>
      try fn()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $name: $e") }
    }

    // an arm that throws is FAILED, never a (fast) sample: its first
    // error is recorded, it stops iterating, it is left out of every
    // per-arm map and total, and main exits non-zero after the output
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timed(ws: Seq[(String, () => Unit)]) = ws.flatMap { case (name, fn) =>
      var prof: Seq[Long] = Nil // structural counters from the LAST iter
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (times.size < Iters && !failed.contains(name)) {
        val before = armCounts.snap()
        val t0 = System.nanoTime()
        try {
          fn()
          times += (System.nanoTime() - t0) / 1e9
          prof = armCounts.snap().zip(before).map { case (a, b) => a - b }
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name: $e")
            failed(name) = e.toString
        }
      }
      if (failed.contains(name)) None
      else Some(Arm(name, times.sorted.toIndexedSeq, prof))
    }
    val results = timed(selected)
    val curResults = timed(selectedCur)
    val mntResults = timed(selectedMnt)

    def js(rs: Seq[Arm]) =
      rs.map(a => "\"" + a.name + f"\":${a.min}%.4f").mkString("{", ",", "}")
    def profJs(rs: Seq[Arm]) =
      rs.map { a =>
        val p = a.prof
        "\"" + a.name + "\":{\"jobs\":" + p(0) + ",\"stages\":" + p(1) +
          ",\"tasks\":" + p(2) + ",\"shuffle_write_bytes\":" + p(3) +
          ",\"input_bytes\":" + p(4) + "}"
      }.mkString("{", ",", "}")
    def jsonStr(v: String) = v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }.mkString("\"", "", "\"")
    val errorsJs = failed.map { case (k, e) => "\"" + k + "\":" + jsonStr(e) }
      .mkString("{", ",", "}")
    // arm → [min, median, max] seconds over the timed iterations
    def spreadJs(rs: Seq[Arm]) =
      rs.map(a => "\"" + a.name + "\":" +
        Seq(a.min, a.median, a.times.last).map(v => f"$v%.4f").mkString("[", ",", "]"))
        .mkString("{", ",", "}")
    val total = results.map(_.min).sum
    val curTotal = curResults.map(_.min).sum
    val mntTotal = mntResults.map(_.min).sum
    val all = results ++ curResults ++ mntResults
    // the round-13 rich line, unchanged keys + additive prof/spread/cpus/errors
    // (old consumers that tolerated curation/maint tolerate these too)
    println(f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":${js(results)},"curation":${js(curResults)},"curation_total":$curTotal%.4f,"maint":${js(mntResults)},"maint_total":$mntTotal%.4f,"sf":"$sfDir","cpus":$cpus,"prof":${profJs(all)},"spread":${spreadJs(all)},"errors":$errorsJs}""")
    // FLAT single-line JSON (r17, VERDICT r16 item 1 — the driver's
    // comparator could not parse the nested line for two rounds): every
    // arm name → seconds in ONE flat object, no nesting, printed as the
    // final stdout line AND written to bench_out.json so sbt log framing
    // can never corrupt it.
    val flat = (all.map(a => "\"" + a.name + f"\":${a.min}%.4f") ++
      Seq(f""""total":$total%.4f""", f""""curation_total":$curTotal%.4f""",
        f""""maint_total":$mntTotal%.4f""", s""""cpus":$cpus""",
        s""""sf":"$sfDir"""")).mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"),
      (flat.dropRight(1) +
        s""","prof":${profJs(all)},"spread":${spreadJs(all)},"errors":$errorsJs}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(flat)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED arms: ${failed.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
