package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, IsNotNull}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.PlanStats.{capturedQueries, interpretedAggregates, planStats, shuffleKeys}
import graft.functions.{FreqItemsAgg, MomentsAgg}
import graft.pipeline.{Dedup, Similarity, TextOps}
import graft.binsreg.Dbbinsreg
import graft.reg.{Dbreg, ElasticNet, Glm, Qreg, Ridge, Rlm}

/** Plan-shape pins for the rounds-16/17 plan wins (OPTIMIZATION_r16.md /
  * OPTIMIZATION_r17.md, section numbers cited per test) and for the
  * regression engine's query counts, cluster meat, FE-mean attach tiers
  * and scan pruning.
  * Each asserts on [[PlanStats]] counts, so reverting the win fails the
  * test. Properties
  * other suites already pin stay there: the kNN / BM25 WindowGroupLimit
  * (RetrievalSpec), the bucketed-state single exchange and the pack
  * window's missing exchange (PipelineSpec). */
class PlanShapeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = sf("sf0.001", "documents")
  private lazy val embs = sf("sf0.001", "embeddings")

  private def report(df: DataFrame) =
    df.queryExecution.executedPlan.toString.take(3000)

  test("simhash plans no exchange") {
    // r16 §9: a per-row generator over the token array, not an explode of
    // every token shuffled into a 16-aggregate groupBy
    val out = Dedup.simhash(docs, "doc_id", "text")
    val s = planStats(out)
    assert(s.shuffles == 0 && s.broadcasts == 0, report(out))
  }

  test("text_analysis composition plans no lambda") {
    // r17 §3–4: native tokenizer, set-membership count and char-length
    // fold — the Bench text_analysis arm's projection, verbatim
    val out = docs
      .withColumn("__t", TextOps.tokens(col("text")))
      .select(
        col("doc_id"),
        TextOps.langIdT(col("text"), col("__t")).as("lang"),
        TextOps.qualityScoreT(col("text"), col("__t")).as("q"),
        TextOps.fingerprint(col("text")).as("fp"))
    val s = planStats(out)
    assert(s.lambdas == 0 && s.codegenFallbacks == 0, report(out))
    // the counter sees the interpreted spelling the native tokenizer
    // replaced
    val hof = docs.select(
      filter(split(lower(col("text")), "\\s+"), t => length(t) > 0).as("t"))
    assert(planStats(hof).lambdas == 1)
  }

  // one multi-round CC run on a 13-node chain, every query it executed
  // captured; checkpointEvery = 1 makes every round's pointer-jump plan an
  // eager checkpoint, so no round's join tree hides behind a cache scan
  private lazy val chainRun = capturedQueries(spark) {
    val pairs = (0L until 12L).map(i => (i, i + 1, 1.0))
      .toDF("id1", "id2", "jaccard")
    val cl = Dedup.duplicateClusters(pairs, checkpointEvery = 1).collect()
    assert(cl.length == 13 && cl.forall(_.getLong(1) == 0L))
  }
  // the convergence probes: `head` over the label-sum aggregate, one
  // before the loop and one per round
  private def probes(run: Seq[(String, QueryExecution)]) =
    run.collect { case ("head", qe) => qe.executedPlan }

  test("duplicateClusters plans the propagate join once per round") {
    // r17 §5: the propagate aggregate is staged before the pointer-jump
    // self-join, so each round runs exactly two join plans — the staged
    // propagate and the jump over its materialized blocks — each with ONE
    // join. Unstaged, the jump plan carried the propagate subtree on both
    // sides (three joins, the propagate ran twice).
    val rounds = probes(chainRun).size - 1
    assert(rounds >= 3, s"a 13-node chain needs several rounds, got $rounds")
    val joins = chainRun.map { case (_, qe) =>
      planStats(qe.executedPlan).joinCount
    }
    assert(joins.max == 1, joins)
    assert(joins.count(_ > 0) == 2 * rounds, joins)
  }

  test("integral-id convergence probe is a 1-row aggregate with no join") {
    // r16 §1: compare monotone label sums, not updated ⋈ labels
    val ps = probes(chainRun)
    assert(ps.size >= 2)
    ps.foreach { p =>
      val s = planStats(p)
      assert(s.joinCount == 0 && s.hashAggregates > 0, p.toString)
      val keys = PlanStats.collect(p) {
        case a: HashAggregateExec => a.groupingExpressions
      }
      assert(keys.forall(_.isEmpty), p.toString)
    }
    // r17 §2 type gate: string ids fall back to the changed-row join probe
    // (the sum probe would throw under ANSI or converge early without it)
    val strRun = capturedQueries(spark) {
      val pairs = (0 until 4).map(i => (s"n$i", s"n${i + 1}", 1.0))
        .toDF("id1", "id2", "jaccard")
      Dedup.duplicateClusters(pairs, checkpointEvery = 1).collect()
    }
    assert(probes(strRun).isEmpty)
    assert(strRun.exists { case (fn, qe) =>
      fn == "count" && planStats(qe.executedPlan).joinCount == 1 })
  }

  test("dupClusterStateMerge runs two queries and no CC round on a small touched set") {
    // the merge is priced by its new pairs: one bounded collect of the
    // contracted edges (union-find finishes on the driver) and the staged
    // result. Re-running duplicateClusters over state ∪ new pairs cost a
    // label-sum probe, a staged propagate and a jump per round.
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_dcs").toString
    Dedup.dupClusterState((0L until 40L).map(i => (2 * i, 2 * i + 1)).toDF("id1", "id2"))
      .clusters.write.mode("overwrite").parquet(dir)
    val st = Dedup.DupClusterState(spark.read.parquet(dir))
    val newPairs = Seq(1L -> 2L, 7L -> 100L, 101L -> 102L, 9L -> 8L).toDF("id1", "id2")
    var merged: Dedup.DupClusterState = null
    val run = capturedQueries(spark) { merged = Dedup.dupClusterStateMerge(st, newPairs) }
    assert(run.size <= 2 && run.count(_._1 == "collect") == 1, run.map(_._1))
    assert(probes(run).isEmpty)
    val m = merged.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 83 && m(3L) == 0L && m(100L) == 6L && m(102L) == 101L)
  }

  test("dedupAgainstState and semDedupAgainst pick the top-1 match without a Window") {
    // r16 §2: min_by argmax aggregate instead of a row_number rank window
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val shard = docs.filter(col("doc_id") % 10 === 0)
    val mh = Dedup.dedupAgainstState(
      Dedup.minhashDedupState(corpus, "doc_id", "text", n = 2), shard,
      "doc_id", "text", n = 2, threshold = 0.4)
    val vcorpus = embs.filter(col("vec_id") % 10 =!= 0)
    val vshard = embs.filter(col("vec_id") % 10 === 0)
    val sd = Similarity.semDedupAgainst(
      Similarity.semDedupState(vcorpus, "vec_id", "embedding",
        k = 8, iters = 2, dim = 64),
      vshard, "vec_id", "embedding", threshold = 0.45)
    for (out <- Seq(mh, sd)) {
      val s = planStats(out)
      assert(s.windows == 0 && s.windowGroupLimits == 0, report(out))
    }
  }

  test("span and line dedup shuffle the binary fingerprint key") {
    // r16 §10: the internal window/line key is the 16-byte md5 digest,
    // not its 32-char hex string
    val ml = docs.select(col("doc_id"),
      regexp_replace(col("text"), " ", "\n").as("text"))
    for (out <- Seq(
        Dedup.removeDupSpans(docs, "doc_id", "text", width = 5),
        Dedup.dupSpans(docs, "doc_id", "text", width = 5),
        Dedup.removeDupLines(ml, "doc_id", "text"))) {
      val keyTypes = shuffleKeys(out.queryExecution.executedPlan).flatten
        .collect { case a: Attribute if a.name == "k" => a.dataType }
      assert(keyTypes.nonEmpty && keyTypes.forall(_ == BinaryType),
        report(out))
    }
  }

  // ---------------------------------------------------------- regression

  // fe × t is balanced: one row per (fe, t) cell
  private def panel(levels: Int, perLevel: Int) =
    (0 until levels * perLevel).map { i =>
      val x = (i * 7 % 11).toDouble
      (1.0 + 0.5 * x + (i % levels) * 0.01 + (i % 3) * 0.1, x, i % levels, i / levels)
    }.toDF("y", "x", "fe", "t")

  test("moments cluster meat is one query with no cached score table") {
    // the per-cluster score aggregate feeds G and Σ sₖsₖᵀ in the same
    // query; persisting it first (then count + meat) cost two jobs and a
    // cache
    val df = panel(4, 30).withColumn("g", col("fe") % 3)
    val run = capturedQueries(spark) {
      Dbreg.fit("y ~ x", df, vcov = "~g", strategy = "moments"); ()
    }
    def byG(p: SparkPlan) = PlanStats.collect(p) {
      case a: HashAggregateExec if a.groupingExpressions.exists {
        case at: Attribute => at.name == "g"; case _ => false } => a
    }
    val scoreQueries = run.filter { case (_, qe) => byG(qe.executedPlan).nonEmpty }
    assert(scoreQueries.size == 1, run.map(_._1))
    run.foreach { case (fn, qe) =>
      assert(planStats(qe.executedPlan).cachedScans == 0, s"$fn: ${qe.executedPlan}")
    }
  }

  test("wide moment triangles and meats run as one packed buffer, never an interpreted sum aggregate") {
    // p(p+1)/2 + 2p + 3 `sum` columns pass spark.sql.codegen.maxFields
    // (100) at p = 12 and then plan as an interpreted HashAggregate; every
    // global triangle is one MomentsAgg buffer instead. The only other
    // object aggregate is the FreqItemsAgg levels probe.
    val rows = (0 until 960).map { i =>
      val x1 = (i * 37 % 81) / 4.0
      val x2 = (i / 7 % 6 + 1).toDouble
      val month = i % 12 + 1
      val vendor = if (i % 5 < 2) "CMT" else "VTS"
      val y = 1.0 + 0.5 * x1 - 0.3 * x2 + (month % 3) * 0.4 +
        (if (vendor == "VTS") 0.7 else 0.0) + (i * 7919 % 101) / 100.0
      (y, x1, x2, month, vendor)
    }
    val taxi = rows.toDF("y", "x1", "x2", "month", "vendor")
    val wide = taxi.select(col("y") +: (1 to 20).map(k =>
      (pow(col("x1") + k, 1.0 + k / 10.0) + col("x2") * k).as(s"w$k")): _*)
    val fits: Seq[(String, () => Any)] = Seq(
      "compress hc1, 15 design columns" -> (() => Dbreg.fit(
        "y ~ x1 + x2 | month + vendor", taxi, vcov = "hc1", strategy = "compress")),
      "binsreg, 20 bins" -> (() => Dbbinsreg.fit("y ~ x1", taxi, nbins = 20)),
      "moments, p = 20" -> (() => Dbreg.fit(
        "y ~ " + (1 to 20).map(k => s"w$k").mkString(" + "), wide, strategy = "moments")))
    fits.foreach { case (name, fit) =>
      val run = capturedQueries(spark) { fit(); () }
      val plans = run.map(_._2.executedPlan)
      def objectAggsOf(fn: Any => Boolean) = plans.flatMap(p => PlanStats.collect(p) {
        case a: ObjectHashAggregateExec
            if a.aggregateExpressions.exists(e => fn(e.aggregateFunction)) => a
      })
      assert(objectAggsOf(_.isInstanceOf[MomentsAgg]).nonEmpty, s"$name: no packed triangle")
      plans.foreach { p =>
        interpretedAggregates(p).foreach { a =>
          val fns = a.aggregateExpressions.map(_.aggregateFunction)
          assert(a.isInstanceOf[ObjectHashAggregateExec] &&
            fns.exists(f => f.isInstanceOf[MomentsAgg] || f.isInstanceOf[FreqItemsAgg]),
            s"$name: interpreted ${a.nodeName} of ${a.output.size} columns: " +
              fns.take(4).mkString(", "))
        }
      }
    }
  }

  test("IRLS fits run the query count their Cost lines state") {
    // each action (collect, count, eager checkpoint) is one query, so the
    // counts are the scaladoc "Cost:" lines of Rlm, Qreg, Conformal.cqr and
    // Glm with the iteration count pinned
    val df = (0 until 240).map { i =>
      val x = (i % 8).toDouble
      val y = 1.0 + 0.5 * x + ((i * 7919) % 13 - 6) * 0.2
      val b = if ((i * 2654435761L & 0xffffL) % 9 < x + 1) 1.0 else 0.0
      (y, x, b, s"g${i % 3}", i.toLong)
    }.toDF("y", "x", "b", "g", "id")
    def queries(fit: => Any): Int = capturedQueries(spark) { fit; () }.size
    def glm(strategy: String, vcov: String) = queries(Glm.fit("b ~ x", df,
      family = "binomial", strategy = strategy, maxIter = 4, tol = 0.0, vcov = vcov))
    val counts = Seq(
      "Rlm" -> queries(Rlm.fit("y ~ x", df, maxIter = 3, tol = 0.0)),
      "Qreg" -> queries(Qreg.fit("y ~ x", df, maxIter = 3, tol = 0.0)),
      "cqr" -> queries(graft.reg.Conformal.cqr("y ~ x", df, "id", alpha = 0.2,
        maxIter = 3)),
      "Glm irls iid" -> glm("irls", "iid"),
      "Glm irls hc1" -> glm("irls", "hc1"),
      "Glm compress iid" -> glm("compress", "iid"),
      "Glm compress hc1" -> glm("compress", "hc1"),
      "Glm grouped" -> queries(Glm.fitGrouped("b ~ x", df, "g", strategy = "irls",
        maxIter = 4).collect()),
      "Qreg grouped" -> queries(Qreg.fitGrouped("y ~ x", df, "g", maxIter = 3)
        .collect()))
    // Rlm/Qreg: init + 3 steps + sandwich; cqr: one shared init, 3 + 1 per
    // τ, the calibration count and the k-th score; Glm: 4 passes + the
    // deviance at the reported β (+1 meat); grouped Glm: staged cells +
    // 3 staged β tables + the final keyed pass; grouped Qreg: staged rows,
    // staged init, 3 staged steps, the final keyed pass
    assert(counts == Seq("Rlm" -> 5, "Qreg" -> 5, "cqr" -> 11, "Glm irls iid" -> 5,
      "Glm irls hc1" -> 6, "Glm compress iid" -> 5, "Glm compress hc1" -> 6,
      "Glm grouped" -> 5, "Qreg grouped" -> 6), counts)
  }

  test("Dbreg fits run in the paper's one to three queries") {
    // PAPER §0: a formula compiles into one to three aggregation queries.
    // One query per action: the moments pass, the vcov meat, compress's
    // factor-levels probe, and the FE strategies' group-means step (one
    // aggregate over every FE key, one bounded collect). fe has 4 levels,
    // t 30 (fe × t balanced), g 3 clusters — every FE inlines.
    val df = panel(4, 30).withColumn("g", col("fe") % 3)
    def queries(formula: String, strategy: String, vcov: String = "iid"): Int =
      capturedQueries(spark) {
        Dbreg.fit(formula, df, vcov = vcov, strategy = strategy); ()
      }.size
    val counts = Seq(
      "moments iid" -> queries("y ~ x", "moments"),
      "moments hc1" -> queries("y ~ x", "moments", "hc1"),
      "moments ~g" -> queries("y ~ x", "moments", "~g"),
      "compress iid" -> queries("y ~ x | fe", "compress"),
      "compress hc1" -> queries("y ~ x | fe", "compress", "hc1"),
      "demean 1-FE iid" -> queries("y ~ x | fe", "demean"),
      "demean 1-FE hc1" -> queries("y ~ x | fe", "demean", "hc1"),
      "demean 2-FE iid" -> queries("y ~ x | fe + t", "demean"),
      "demean 2-FE hc1" -> queries("y ~ x | fe + t", "demean", "hc1"),
      "mundlak 2-FE iid" -> queries("y ~ x | fe + t", "mundlak"),
      "mundlak 2-FE hc1" -> queries("y ~ x | fe + t", "mundlak", "hc1"),
      "hdfe 1-FE iid" -> queries("y ~ x | fe", "hdfe"))
    assert(counts == Seq("moments iid" -> 1, "moments hc1" -> 2, "moments ~g" -> 2,
      "compress iid" -> 2, "compress hc1" -> 3,
      "demean 1-FE iid" -> 2, "demean 1-FE hc1" -> 3,
      "demean 2-FE iid" -> 2, "demean 2-FE hc1" -> 3,
      "mundlak 2-FE iid" -> 2, "mundlak 2-FE hc1" -> 3,
      "hdfe 1-FE iid" -> 2), counts)
  }

  test("demean attaches FE means without a join up to 64 levels, by broadcast above") {
    // Dbreg.groupMeans tiers: ≤64 levels a literal lookup from the
    // collected mean rows, up to 2M levels an explicit broadcast (asserted
    // with the size-based auto-broadcast off, so the hint, not the table
    // size, decides). The two-FE fits read both keys from one GROUPING
    // SETS aggregate; at 65 units the 4-level time key still inlines.
    def joins(levels: Int, formula: String, strategy: String): Seq[Map[String, Int]] = {
      val df = panel(levels, 4)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try capturedQueries(spark) {
        Dbreg.fit(formula, df, strategy = strategy); ()
      }.map { case (_, qe) => planStats(qe.executedPlan).joins }
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    Seq("y ~ x | fe" -> "demean", "y ~ x | fe + t" -> "demean",
        "y ~ x | fe + t" -> "mundlak").foreach { case (formula, strategy) =>
      val inline = joins(64, formula, strategy)
      assert(inline.forall(_.isEmpty), s"$strategy $formula: $inline")
      val broadcast = joins(65, formula, strategy)
      assert(broadcast.exists(_.nonEmpty), s"$strategy $formula: $broadcast")
      assert(broadcast.flatMap(_.keys).toSet == Set("BroadcastHashJoin"),
        s"$strategy $formula: $broadcast")
    }
  }

  test("a moments fit on parquet reads only the model columns, IsNotNull pushed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scan").toString
    try {
      panel(4, 10).withColumn("g", col("fe") % 2)
        .withColumn("note", concat(lit("row "), col("fe").cast("string")))
        .write.mode("overwrite").parquet(dir)
      val pq = spark.read.parquet(dir)
      // every estimator enters through ModelFrame.prepare
      val fits: Seq[(String, () => Any)] = Seq(
        "Dbreg" -> (() => Dbreg.fit("y ~ x", pq, strategy = "moments")),
        "Ridge" -> (() => Ridge.fit("y ~ x", pq, lambda = 1.0)),
        "Rlm" -> (() => Rlm.fit("y ~ x", pq)),
        "Qreg" -> (() => Qreg.fit("y ~ x", pq, maxIter = 2, tol = 0.0)),
        "ElasticNet" -> (() => ElasticNet.fit("y ~ x", pq, lambda = 0.1)),
        "Glm" -> (() => Glm.fit("y ~ x", pq, family = "gaussian", strategy = "irls")),
        "Dbbinsreg" -> (() => Dbbinsreg.fit("y ~ x", pq, nbins = 3)))
      fits.foreach { case (name, fit) =>
        val run = capturedQueries(spark) { fit(); () }
        val scans = run.flatMap { case (_, qe) => PlanStats.fileScans(qe.executedPlan) }
        assert(scans.nonEmpty, s"$name: ${run.map(_._1)}")
        scans.foreach { s =>
          assert(s.requiredSchema.fieldNames.toSet == Set("y", "x"), s"$name: ${s.requiredSchema}")
          val notNull = s.dataFilters.flatMap(_.collect {
            case IsNotNull(a: Attribute) => a.name
          }).toSet
          assert(Set("y", "x").subsetOf(notNull), s"$name: ${s.dataFilters}")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
