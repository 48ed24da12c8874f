package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, TextOps}
import graft.sources.ScaleOps

/** A seeded corpus with planted structure the ingest recipe must handle:
  * exact and near duplicates (of resident docs, of earlier shards' docs and
  * within a shard), spans copied from an eval suite, and PII. Built on the
  * driver from one `scala.util.Random`, so a seed fixes every byte. */
final class Corpus(seed: Long, residentDocs: Int, shardDocs: Int, shards: Int,
    evalDocs: Int, plantsPerKind: Int) {
  final case class Doc(id: Long, domain: String, text: String)

  /** What shard `k` plants: ids that must be removed, near-duplicate pairs
    * that must share a split, eval windows and PII strings that must be
    * scrubbed, and the token count per domain of the docs that survive
    * deduplication (the budget's input). */
  final class Plants {
    val removed = mutable.Set.empty[Long]
    val within = mutable.ArrayBuffer.empty[(Long, Long)]
    val contaminated = mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val pii = mutable.ArrayBuffer.empty[String]
    val tokens = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }

  val Domains = Seq("web", "code", "books")
  /** Share of each domain's resident tokens its budget keeps. */
  val BudgetShare = Map("web" -> 0.5, "code" -> 0.7, "books" -> 0.9)
  val ContamWidth = 8
  private val SpanLen = 12
  private val rnd = new scala.util.Random(seed)
  private val syl = for (c <- "bcdfghjklmnprstvwz"; v <- "aeiou") yield s"$c$v"
  private def word(): String = {
    val i = rnd.nextInt(5000)
    syl(i % syl.size) + syl(i / syl.size)
  }
  private def words(n: Int) = Seq.fill(n)(word())
  private def domain() = Domains(rnd.nextInt(Domains.size))
  private var nextId = 1L
  private def doc(domain: String, text: String) = {
    val d = Doc(nextId, domain, text)
    nextId += 1
    d
  }
  private def fresh() = doc(domain(), words(80 + rnd.nextInt(41)).mkString(" "))
  /** Appending one word keeps every shingle: Jaccard (L-1)/L, about 0.99. */
  private def near(d: Doc) = doc(d.domain, d.text + " " + word())
  private def ntok(text: String) = text.split(" ").length.toLong

  val plants: IndexedSeq[Plants] = IndexedSeq.fill(shards)(new Plants)
  /** (earlier-shard doc, its near copy in a later shard). */
  val crossPairs = mutable.ArrayBuffer.empty[(Long, Long)]
  val eval: Seq[Doc] = Seq.fill(evalDocs)(doc("eval", words(40).mkString(" ")))
  val resident: Seq[Doc] = {
    val base = Seq.fill(residentDocs)(fresh())
    // a few resident near-duplicate pairs, so the cluster state starts non-empty
    base ++ Seq.fill(residentDocs / 50)(near(base(rnd.nextInt(base.size))))
  }
  val shard: IndexedSeq[Seq[Doc]] = {
    val plain = mutable.ArrayBuffer.empty[IndexedSeq[Doc]]
    (0 until shards).map { k =>
      val p = plants(k)
      val base = IndexedSeq.fill(shardDocs - 7 * plantsPerKind)(fresh())
      plain += base
      def pick(ds: IndexedSeq[Doc]) = ds(rnd.nextInt(ds.size))
      val exact = Seq.fill(plantsPerKind)(doc("web", pick(base).text)) ++
        Seq.fill(plantsPerKind)(doc("web", resident(rnd.nextInt(residentDocs)).text))
      val nearRes = Seq.fill(plantsPerKind)(near(resident(rnd.nextInt(residentDocs))))
      // near copies of an earlier shard's doc: caught only if the MinHash
      // state was refreshed with that shard
      val nearPrev = if (k == 0) Seq.empty else Seq.fill(plantsPerKind) {
        val b = pick(plain(rnd.nextInt(k)))
        val c = near(b)
        crossPairs += ((b.id, c.id))
        c
      }
      val within = Seq.fill(plantsPerKind) {
        val b = pick(base)
        val c = near(b)
        p.within += ((b.id, c.id))
        c
      }
      val contam = Seq.fill(plantsPerKind) {
        val toks = words(80 + rnd.nextInt(41))
        val ev = eval(rnd.nextInt(evalDocs)).text.split(" ")
        val at = rnd.nextInt(ev.length - SpanLen + 1)
        val span = ev.slice(at, at + SpanLen).toSeq
        val pos = rnd.nextInt(toks.size)
        val d = doc(domain(), (toks.take(pos) ++ span ++ toks.drop(pos)).mkString(" "))
        p.contaminated += ((d.id, span.sliding(ContamWidth).map(_.mkString(" ")).toSeq))
        d
      }
      val pii = Seq.fill(plantsPerKind) {
        val toks = words(80 + rnd.nextInt(41))
        val email = s"${word()}${rnd.nextInt(1000)}@example.org"
        val phone = f"555-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d"
        p.pii ++= Seq(email, phone)
        doc(domain(), (toks.take(10) ++ Seq("mail", email) ++ toks.slice(10, 40) ++
          Seq("call", phone) ++ toks.drop(40)).mkString(" "))
      }
      p.removed ++= (exact ++ nearRes ++ nearPrev).map(_.id)
      // duplicates of base docs are removed, so base docs count once
      val all = base ++ exact ++ nearRes ++ nearPrev ++ within ++ contam ++ pii
      all.filterNot(d => p.removed(d.id)).foreach(d => p.tokens(d.domain) += ntok(d.text))
      all
    }
  }

  def residentTokens(domain: String): Long =
    resident.filter(_.domain == domain).map(d => ntok(d.text)).sum
}

/** The frozen-state daily loop: a resident corpus whose MinHash, cluster,
  * contamination and token-budget states are built once in set-up, then
  * one shard per pass through the full day.
  *
  * The day refreshes before it applies: the split must see the shard's own
  * near-duplicate edges (shard-internal and against the resident corpus),
  * or a new near-copy can land on the other side of the split from its
  * twin. Dedup in the apply reads the MinHash state of the day before, so
  * a shard's docs are not matched against themselves. */
final class IngestDaily(spark: SparkSession, lake: File, seed: Long, tracer: Tracer,
    residentDocs: Int = 2000, shardDocs: Int = 200, nShards: Int = 8)
    extends Workload {
  private val PlantsPerKind = 6
  private val corpus = new Corpus(seed, residentDocs, shardDocs, nShards,
    evalDocs = 100, PlantsPerKind)
  private val inputs = new File(lake, "inputs")
  private val stateDir = new File(lake, "state")
  private val outDir = new File(lake, "out")
  private val Split = Seq("train" -> 0.7, "eval" -> 0.3)
  private val Salt = "perfbench"
  /** Files each generated table is written as; fixed so the inputs do
    * not depend on the host's core count. */
  private val Slices = 4

  private var mh: Dedup.MinhashDedupState = _
  private var clusters: Dedup.DupClusterState = _
  private var contamination: Dedup.ContaminationState = _
  private var budget: ScaleOps.PreparedTokenBudgetState = _
  private var shards: DataFrame = _

  def minPasses = 3
  override def maxPasses: Int = nShards - 1
  def rowsPerPass: Long = shardDocs
  def inputDirs = Seq(inputs)
  def describe = Map("resident_docs" -> corpus.resident.size,
    "shard_docs" -> shardDocs, "shards" -> nShards, "eval_docs" -> corpus.eval.size,
    "doc_tokens" -> "80-120", "plants_per_kind" -> PlantsPerKind,
    "budget_share" -> corpus.BudgetShare, "split" -> Split.toMap)

  private def table(docs: Seq[(Long, String, String, Int)], name: String): DataFrame = {
    val path = new File(inputs, name).getPath
    spark.createDataFrame(spark.sparkContext.parallelize(docs, Slices))
      .toDF("doc_id", "domain", "text", "shard")
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
  private def rows(docs: Seq[corpus.Doc], shard: Int) =
    docs.map(d => (d.id, d.domain, d.text, shard))
  private def version(k: Int) = new File(stateDir, s"v$k")
  private def redacted(df: DataFrame) =
    df.select(col("doc_id"), col("domain"), TextOps.redactPii(col("text")).as("text"))

  /** One recipe step. A step whose output the recipe reads more than once
    * is staged, as the library asks of reused frames; the others compose
    * lazily with the next step. In traced passes every step is staged, so
    * a step's span holds its own work only. */
  private def step(name: String, reused: Boolean)(df: => DataFrame): DataFrame =
    tracer.span(name)(if (reused || tracer.on) graft.Staging.stage(df) else df)

  private def persist(k: Int, cs: Dedup.DupClusterState,
      m: Dedup.MinhashDedupState): Unit = tracer.span("state.write") {
    val v = version(k).getPath
    cs.clusters.write.mode("overwrite").parquet(s"$v/clusters")
    m.reps.write.mode("overwrite").parquet(s"$v/reps")
    m.buckets.write.mode("overwrite").parquet(s"$v/buckets")
  }
  private def load(k: Int): Unit = {
    val v = version(k).getPath
    clusters = Dedup.DupClusterState(spark.read.parquet(s"$v/clusters"))
    mh = Dedup.MinhashDedupState(spark.read.parquet(s"$v/reps"),
      spark.read.parquet(s"$v/buckets"))
  }

  def setup(): Unit = {
    val resident = redacted(table(rows(corpus.resident, 0), "resident"))
    val eval = table(rows(corpus.eval, 0), "eval")
    shards = table(corpus.shard.zipWithIndex.flatMap { case (s, k) => rows(s, k) },
      "shards")
    persist(-1, Dedup.dupClusterState(
      Dedup.minhashPairs(resident, "doc_id", "text", n = 2, threshold = 0.5)),
      Dedup.minhashDedupState(resident, "doc_id", "text", n = 2))
    load(-1)
    val cont = new File(stateDir, "contamination").getPath
    Dedup.contaminationState(eval, "doc_id", "text", n = corpus.ContamWidth,
      suite = "eval").shingles.write.mode("overwrite").parquet(cont)
    contamination = Dedup.ContaminationState(spark.read.parquet(cont))
    val bud = new File(stateDir, "budget").getPath
    ScaleOps.tokenBudgetState(resident, "domain", "doc_id",
      TextOps.tokenCount(col("text")),
      corpus.Domains.map(d =>
        d -> (corpus.BudgetShare(d) * corpus.residentTokens(d)).toLong),
      salt = Salt).write.mode("overwrite").parquet(bud)
    budget = ScaleOps.PreparedTokenBudgetState(spark.read.parquet(bud))
  }

  def pass(k: Int): Seq[Op] = Seq(Op("shard_day", "ingest.day", () => {
    // refresh and apply both read the redacted shard
    val shard = step("pipeline.redact", reused = true)(
      redacted(shards.filter(col("shard") === k)))
    val mhBefore = mh
    tracer.span("ingest.refresh") {
      val cs = Dedup.DupClusterState(step("pipeline.cluster_ingest", reused = false)(
        Dedup.dupClusterStateIngest(clusters, mh, shard, "doc_id", "text",
          n = 2, threshold = 0.5).clusters))
      val next = tracer.span("pipeline.minhash_refresh") {
        val m = Dedup.minhashDedupStateRefresh(mh, shard, "doc_id", "text")
        if (tracer.on) Dedup.MinhashDedupState(graft.Staging.stage(m.reps),
          graft.Staging.stage(m.buckets))
        else m
      }
      persist(k, cs, next)
      load(k)
    }
    tracer.span("ingest.apply") {
      val unique = step("pipeline.exact_dedup", reused = true)(shard.join(
        Dedup.exactGroups(shard, "doc_id", "text").select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi"))
      val fresh = step("pipeline.dedup_state", reused = true)(unique.join(
        Dedup.dedupAgainstState(mhBefore, unique, "doc_id", "text", n = 2,
          threshold = 0.8).filter(col("dup_of").isNull).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi"))
      val clean = step("pipeline.decontaminate", reused = false)(
        Dedup.decontaminate(contamination, fresh, "doc_id", "text")
          .select(col("id").as("doc_id"), col("text_clean").as("text"))
          .join(fresh.select("doc_id", "domain"), "doc_id"))
      val split = step("sources.split", reused = false)(
        ScaleOps.leakageSafeSplitAgainst(clusters, clean, "doc_id", Split, salt = Salt))
      val kept = step("sources.budget", reused = true)(ScaleOps.sampleToTokenBudgetAgainst(
        budget, split, "domain", "doc_id", TextOps.tokenCount(col("text"))))
      val out = step("pipeline.pack", reused = false)(kept.join(
        TextOps.packSequences(kept, "doc_id", "text", window = 2048)
          .withColumnRenamed("id", "doc_id").drop("n_tokens"), "doc_id")
        .withColumn("n_tokens", TextOps.tokenCount(col("text"))))
      tracer.span("lake.write")(
        out.write.mode("overwrite").parquet(new File(outDir, f"shard_$k%02d").getPath))
    }
    done = k + 1
    () => checkShard(k)
  }))

  private def checkShard(k: Int): Unit = {
    val p = corpus.plants(k)
    val rows = spark.read.parquet(new File(outDir, f"shard_$k%02d").getPath)
      .select("doc_id", "domain", "split", "text", "n_tokens", "pack_id").collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    val left = p.removed.filter(byId.contains)
    require(left.isEmpty, s"shard $k: planted duplicates survived: ${left.take(5)}")
    p.within.foreach { case (a, b) =>
      for (ra <- byId.get(a); rb <- byId.get(b))
        require(ra.getString(2) == rb.getString(2),
          s"shard $k: near-duplicates $a and $b straddle the split")
    }
    p.contaminated.foreach { case (id, windows) =>
      byId.get(id).foreach { r =>
        val t = r.getString(3)
        require(!windows.exists(t.contains), s"shard $k: eval span survives in $id")
      }
    }
    val texts = rows.map(_.getString(3))
    p.pii.foreach { s =>
      require(!texts.exists(_.contains(s.toLowerCase)), s"shard $k: PII $s survives")
    }
    require(rows.forall(r => !r.isNullAt(5)), s"shard $k: unpacked rows")
    // the budget cut keeps a prefix of each domain's hash order, and about
    // its budget share of the tokens (5 standard deviations at this size)
    val input = corpus.shard(k).filterNot(d => p.removed(d.id))
    val order = hashOrder(input.map(_.id))
    corpus.Domains.foreach { d =>
      val (kept, dropped) = input.filter(_.domain == d).map(_.id).partition(byId.contains)
      if (kept.nonEmpty && dropped.nonEmpty)
        require(kept.map(order).max < dropped.map(order).min,
          s"shard $k: domain $d budget cut is not a prefix of the hash order")
      val tokens = rows.filter(_.getString(1) == d).map(_.getInt(4).toLong).sum
      val share = tokens.toDouble / math.max(p.tokens(d), 1L)
      require(math.abs(share - corpus.BudgetShare(d)) <= 0.35,
        s"shard $k: domain $d kept $share of its tokens, budget ${corpus.BudgetShare(d)}")
    }
  }

  /** Rank of each id in the token budget's hash order (u, then id). */
  private def hashOrder(ids: Seq[Long]): Map[Long, Int] = {
    import spark.implicits._
    ids.toDF("doc_id")
      .select(col("doc_id"), TextOps.hash32(concat(lit(Salt),
        col("doc_id").cast("string"))).cast("double").as("u"))
      .collect().map(r => (r.getDouble(1), r.getLong(0))).sorted
      .map(_._2).zipWithIndex.toMap
  }

  override def writtenBytes(k: Int): Long =
    Main.dirBytes(version(k))._2 + Main.dirBytes(new File(outDir, f"shard_$k%02d"))._2

  override def stateSize(k: Int): (Long, Long) = {
    val dirs = Seq(version(k), new File(stateDir, "contamination"), new File(stateDir, "budget"))
    dirs.map(Main.dirBytes).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** After the last shard the refreshed cluster state links every planted
    * pair: across shards and within one. */
  override def finalChecks(): Seq[String] = {
    val m = clusters.clusters.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lastId = corpus.shard(done - 1).map(_.id).max
    val pairs = corpus.crossPairs.filter(_._2 <= lastId) ++
      corpus.plants.take(done).flatMap(_.within)
    pairs.collect { case (a, b) if m.get(a).isEmpty || m.get(a) != m.get(b) =>
      s"cluster state does not link planted pair ($a, $b)"
    }.take(5).toSeq
  }

  /** Shards whose day has run, so the final check covers exactly those. */
  private var done = 0
}
