package graft.pipeline

import graft.Staging
import graft.Staging.StagedFrame
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. Everything is expressed as DataFrame transforms
  * (explode → shuffle-by-key → aggregate) so each stage scales horizontally:
  * the only joins are key-equi joins on shingle/bucket keys, which Spark
  * executes as shuffled hash joins partitioned by the key — no broadcast of
  * the corpus, no driver materialization.
  *
  * All hashes derive from md5 (via [[TextOps.hash32]]) rather than engine
  * hash functions, so every operator has a bit-identical SQL oracle.
  */
object Dedup {

  /** Exact-duplicate groups: fingerprint → (n, first doc id kept).
    * Plain hash groupBy; at scale this is one shuffle on the fingerprint. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("keep_id"))

  /** Distinct (id, shingle) pairs — the exploded set-representation that
    * Jaccard/MinHash build on. One row per distinct shingle per doc.
    *
    * PRECONDITION: `idCol` must be unique. Duplicates are deduped within one
    * row's array only (`array_distinct`), not across rows sharing an id —
    * duplicate ids would inflate set sizes and deflate Jaccard downstream.
    * A global dropDuplicates here would cost a full corpus shuffle, so the
    * contract is on the caller (true of every (id, text) entry point below).
    *
    * The input is fanned out to the session's default parallelism first:
    * tokenize+shingle+explode is per-row-CPU-bound, and an under-split
    * source (e.g. one parquet row group) would pin the whole stage to one
    * core. Everything derived from the shingle set (mins, counts, set
    * intersections) is order-independent, so the shuffle cannot change any
    * downstream result. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    graft.sources.ScaleOps
      .normalizeParallelism(
        df.select(col(idCol).as("id"), col(textCol).as("__text")),
        df.sparkSession.sparkContext.defaultParallelism)
      // STAGE the token array as a bound attribute before shingling: the
      // wordShingles lambda references its input n+1 times per element, and
      // HOF lambdas get no CSE — an inline tokens(text) would re-run the
      // regex tokenize O(n·shingles) times per document (measured 20×+ at
      // sf10). Multi-use attributes also block CollapseProject re-inlining.
      .select(col("id"), TextOps.tokens(col("__text")).as("__toks"))
      .select(
        col("id"),
        // per-row array_distinct replaces a global DISTINCT: (id, shingle)
        // duplicates can only occur within one document, so deduping the
        // array before the explode gives the identical set with no shuffle
        explode(array_distinct(TextOps.wordShingles(col("__toks"), n)))
          .as("shingle"))

  /** Default hot-shingle valve for [[jaccardPairs]]: shingles appearing in
    * more than this many documents are excluded from candidate generation.
    * The self-join fan-out is O(doc_freq²) per shingle, so one stopword-like
    * shingle at corpus scale is a job-killer; capping at 1000 bounds any
    * single shingle's contribution to ~500k pairs while keeping small-corpus
    * results exact (the testdata's max bigram doc-freq is 46 at sf0.01,
    * 338 at sf0.1 — far below the cap). */
  val DefaultMaxShingleDocFreq = 1000L

  /** All-pairs n-gram Jaccard similarity ≥ threshold.
    *
    * candidate generation = self-equi-join on shingle (only pairs sharing at
    * least one shingle are ever materialized), then |A∩B| via groupBy(pair)
    * and |A∪B| = |A|+|B|−|A∩B|. The hot-shingle valve is ON by default
    * ([[DefaultMaxShingleDocFreq]]); pass `None` for the exact all-pairs
    * baseline. For web-scale corpora, prefer [[minhashPairs]] (banded LSH
    * bounds the join fan-out structurally rather than by exclusion).
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      threshold: Double = 0.5,
      maxShingleDocFreq: Option[Long] = Some(DefaultMaxShingleDocFreq)
  ): DataFrame = {
    val sh0 = shingleSets(df, idCol, textCol, n)
    // optional scale valve: drop shingles appearing in more than
    // `maxShingleDocFreq` docs BEFORE the self-join — hot shingles dominate
    // the O(freq²) pair fan-out while carrying almost no similarity signal.
    // Jaccard is then computed over the filtered shingle sets.
    // staged (Staging.stage), not persist: the shingle table feeds both the
    // sizes agg and the self-join, so it materializes once; checkpoint
    // blocks are context-cleaner-released when the result frame is dropped
    // (a persist here would leak a CacheManager entry per call — nobody can
    // unpersist a lazily-returned frame).
    val sh = (maxShingleDocFreq match {
      case None => sh0
      case Some(cap) =>
        val freq = sh0.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap)
          .select("shingle")
        sh0.join(freq, Seq("shingle"), "left_semi")
    }).staged
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = sh.as("a"); val b = sh.as("b")
    val common = a
      .join(b, col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), "id2")
      .withColumn(
        "jaccard",
        col("common").cast("double") /
          (col("sz1") + col("sz2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** MinHash parameters: h_i(x) = (a_i·x' + b_i) mod P with x' = hash32 mod P.
    * Coefficients are fixed literals so Spark and the SQL oracle agree. */
  val MinhashP = 1000003L
  val NumHashes = 16
  val BandRows = 4 // 4 bands × 4 rows
  def minhashA(i: Int): Long = 1L + 7919L * i
  def minhashB(i: Int): Long = 104729L * (i + 1) % MinhashP

  /** Per-document distinct shingle ARRAY — the narrow (no explode, no
    * shuffle) set representation. Signature computation, set sizes, and
    * candidate verification are all per-row array expressions over this.
    *
    * PRECONDITION: `idCol` must be unique (same contract as
    * [[shingleSets]]) — duplicate ids would produce duplicate rows that
    * skew pair similarity downstream. */
  def shingleArrays(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    graft.sources.ScaleOps
      .normalizeParallelism(
        df.select(col(idCol).as("id"), col(textCol).as("__text")),
        df.sparkSession.sparkContext.defaultParallelism)
      // staged tokens: same HOF-lambda re-evaluation trap as shingleSets
      .select(col("id"), TextOps.tokens(col("__text")).as("__toks"))
      .select(
        col("id"),
        array_distinct(TextOps.wordShingles(col("__toks"), n)).as("sharr"))

  /** MinHash signature column from a shingle-array column: ONE codegen'd
    * pass computing all NumHashes minima
    * ([[graft.functions.MinhashSig]] — bit-identical to the previous
    * hash-then-16-array_min HOF spelling, whose 17 interpreted lambdas
    * were the dominant per-row CPU of the family; r16, guide §4). A
    * narrow map — no explode/groupBy/shuffle at any scale. */
  def minhashSigCol(sharr: Column): Column =
    graft.functions.MinhashSig(sharr, MinhashP,
      (0 until NumHashes).map(minhashA),
      (0 until NumHashes).map(minhashB))

  /** Signature projection over a frame holding a `sharr` column — the
    * one-pass codegen'd [[minhashSigCol]]. (The old two-step staged
    * projection — hash into a bound `__xs` attribute, then 16 array_mins
    * — existed to keep the HOF spelling from re-running the md5 16× per
    * row; the native expression hashes each element exactly once by
    * construction, so the staging scaffold is gone with the lambdas.) */
  private def withSig(sharrFrame: DataFrame, keep: Seq[String]): DataFrame =
    sharrFrame
      .select(keep.map(col) :+ minhashSigCol(col("sharr")).as("sig"): _*)

  /** MinHash signatures: one row per doc, `sig` = array of NumHashes minima. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame =
    withSig(shingleArrays(df, idCol, textCol, n), Seq("id"))

  /** LSH band buckets: (id, band, bucket-string). Docs sharing a bucket in
    * any band are candidate near-duplicates. */
  def lshBuckets(sigs: DataFrame): DataFrame = {
    val nBands = NumHashes / BandRows
    val bands = (0 until nBands).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws(",",
          (0 until BandRows).map(r => element_at(col("sig"), b * BandRows + r + 1).cast("string")): _*
        ).as("bucket"))
    }
    sigs.select(col("id"), explode(array(bands: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Default LSH bucket-size valve for [[minhashPairs]]: representative
    * buckets larger than this are excluded from candidate generation. The
    * (band, bucket) self-join fan-out is O(bucket²); after the exact-class
    * collapse a bucket this hot means >1000 *distinct* near-identical
    * shingle sets colliding, which at web scale is boilerplate — capping
    * bounds any bucket's contribution to ~500k candidate pairs, mirroring
    * [[DefaultMaxShingleDocFreq]]. Testdata buckets stay far below the cap,
    * so small-corpus results are exact. */
  val DefaultMaxBucketSize = 1000L

  /** MinHash+LSH near-duplicate pairs, verified with true n-gram Jaccard.
    *
    * Shape: one narrow scan builds per-doc shingle arrays; docs are then
    * collapsed to one REPRESENTATIVE per distinct shingle set before any
    * banding. Signatures are a pure function of the shingle set, so every
    * member of an exact class has the representative's signature, buckets,
    * and pairwise Jaccard — running LSH on representatives and re-expanding
    * afterwards returns the *identical* pair set while the candidate join
    * never sees a duplicate class. That matters because real corpora put
    * million-doc boilerplate/mirror classes into ONE bucket, and O(bucket²)
    * candidate generation on raw ids is a job-killer; on representatives
    * the class contributes one row. Residual hot buckets (many *distinct*
    * near-identical sets) are capped by `maxBucketSize` (on by default;
    * `None` restores the exact uncapped join).
    *
    * Expansion is itself keyed (class-fingerprint equi-joins): within-class
    * pairs carry Jaccard 1.0 by construction; cross-class pairs inherit the
    * verified representative Jaccard. Output size is the true pair count —
    * the quadratic cost of listing a duplicate class's pairs is inherent to
    * the pair-list contract (use [[dedupCorpus]]/[[exactGroups]] to drop
    * duplicates without materializing pairs).
    *
    * Verification is `array_intersect` per candidate representative pair —
    * document size is bounded, so the per-pair cost is constant and the
    * join fan-out is bounded by capped bucket sizes (the standard web-scale
    * dedup shape). */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      threshold: Double = 0.5,
      maxBucketSize: Option[Long] = Some(DefaultMaxBucketSize)
  ): DataFrame =
    minhashPairsOf(stagedShingleSets(df, idCol, textCol, n), threshold,
      maxBucketSize)

  /** [[minhashPairs]] over a [[stagedShingleSets]] table. */
  private def minhashPairsOf(
      keyed: DataFrame,
      threshold: Double,
      maxBucketSize: Option[Long]
  ): DataFrame = {
    // exact-class collapse: canonical fingerprint of the (sorted) shingle
    // set; one representative (min id) per class enters LSH. Shared with
    // the dedupAgainst/state family; docs with NO shingles (fewer than n
    // tokens) carry no n-gram evidence and never pair (fingerprinting the
    // empty set would unite every short doc into one spurious "exact"
    // class, which the pairwise oracle algebra rightly denies).
    val memb = keyed.select(col("__fp"), col("id"))
    // one keyed agg picks the representative AND carries its shingle array
    // (any member's works: signature/Jaccard are set-level invariants) —
    // no second join against the corpus
    val repSh = keyed.groupBy("__fp")
      .agg(min(col("id")).as("id"), min_by(col("sharr"), col("id")).as("sharr"))
      .staged // not persist: lazily-returned, see PLANS.md §22
    val sigs = withSig(repSh, Seq("id"))
    // STAGED under a valve: the bucket table feeds both the valve's size
    // agg and the candidate side of the semi join, and each consumer
    // would otherwise re-run the 16-hash signature projection (the md5 +
    // 16 affine array passes — the dominant per-row CPU of the LSH side)
    // from the repSh checkpoint. The staged rows are narrow (id, band,
    // bucket), so one checkpoint write costs far less than a second
    // signature pass (r16 A/B in OPTIMIZATION_r16.md, re-confirmed
    // interleaved in one JVM in r17 — BENCH_NOTES "Round-17": staged wins
    // min and mean; the r12 staging lesson cuts the other way for WIDE
    // frames like the refresh union). Unvalved (None) keeps one
    // consumer — no barrier.
    val bk0raw = lshBuckets(sigs)
    // bucket-size valve (post-collapse): drop residual hot buckets before
    // the O(bucket²) self-join, mirroring the jaccardPairs shingle valve
    val bk = maxBucketSize match {
      case None => bk0raw
      case Some(cap) =>
        val bk0 = bk0raw.staged
        val ok = bk0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") <= cap)
          .select("band", "bucket")
        bk0.join(ok, Seq("band", "bucket"), "left_semi")
    }
    val cand = bk.as("a")
      .join(bk.as("b"), Seq("band", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val repPairs = cand
      .join(repSh.select(col("id").as("id1"), col("sharr").as("sh1"), col("__fp").as("fp1")), "id1")
      .join(repSh.select(col("id").as("id2"), col("sharr").as("sh2"), col("__fp").as("fp2")), "id2")
      .withColumn("common", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn(
        "jaccard",
        col("common").cast("double") /
          (size(col("sh1")) + size(col("sh2")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("fp1", "fp2", "jaccard")
    // cross-class expansion: every member pair inherits the representative
    // pair's Jaccard (signatures and sets are class-level invariants)
    val cross = repPairs
      .join(memb.select(col("__fp").as("fp1"), col("id").as("__ida")), "fp1")
      .join(memb.select(col("__fp").as("fp2"), col("id").as("__idb")), "fp2")
      .select(
        least(col("__ida"), col("__idb")).as("id1"),
        greatest(col("__ida"), col("__idb")).as("id2"),
        col("jaccard"))
    // within-class expansion: exact duplicates share their full shingle set
    val within = memb.as("x")
      .join(memb.as("y"), col("x.__fp") === col("y.__fp") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"), lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= threshold)
    cross.unionAll(within)
  }

  /** Transitive duplicate clusters from a pair list: connected components
    * via min-label propagation with POINTER JUMPING — each iteration first
    * takes the min label over graph neighbors (one edge join + groupBy),
    * then shortcuts through the label table itself (label ← label(label)),
    * so label distances halve each round and convergence is O(log diameter)
    * joins rather than O(diameter). No driver graph; every step is a keyed
    * equi-join/aggregate. Returns (id, cluster), cluster = smallest id in
    * the component.
    *
    * Iterative joins grow the logical plan without bound, so every
    * `checkpointEvery` rounds (clamped to ≤3 — see `stretch` below; plan
    * TREES expand exponentially between truncations) the label table is
    * eagerly checkpointed — lineage is truncated and all earlier cached
    * frames released. Deep chains (pathological dup graphs) therefore run
    * in bounded planning time and bounded storage. When the session has a
    * reliable checkpoint dir configured (`sc.setCheckpointDir`), the
    * truncation uses `checkpoint()` so a long job survives executor loss
    * (preemption is routine on big clusters); otherwise `localCheckpoint()`
    * — executor-local blocks, fine for single-node/ephemeral runs. */
  def duplicateClusters(
      pairs: DataFrame,
      maxIter: Int = 20,
      checkpointEvery: Int = 5
  ): DataFrame = {
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    // each round references the label plan 4× (two propagate joins + the
    // pointer-jump self-join), so the analyzed logical plan grows ~4^k
    // between truncations — and Spark walks/prints it as a TREE (execution
    // descriptions, AQE logging), which is exponential in k regardless of
    // caching. Clamp the un-checkpointed stretch so a large/converge-early
    // setting can never blow up driver-side analysis: measured on a
    // 423-edge graph, stretch 5 = 58 s vs stretch 2/3 = 5-6 s — the labels
    // subtree appears 4^5 ≈ 1000× in each late-round plan walk.
    val stretch = math.min(checkpointEvery, 3)
    // STAGE the edge table (don't just persist): persist caches the data
    // but leaves the full upstream plan in every round's logical tree, so
    // composing CC with an expensive pair producer (kNN join, LSH) makes
    // the analyzer re-walk that subtree 2×4^k per round — measured 232 s
    // vs 8 s on the q208 composition.
    // PRE-PARTITIONED on `b`, the per-round probe key: the propagate join
    // requires HashPartitioning(b), and the staged frame keeps its
    // partitioning (LogicalRDD preserves it; persist keeps the plan), so
    // EVERY round's join reads the edge table exchange-free — one staged
    // dup-sized shuffle replaces one per round (guide §2.4, r16).
    val edges = Staging.stage(pairs
      .select(col("id1").as("a"), col("id2").as("b"))
      .union(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .repartition(col("b")))
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 1-row exact-decimal label sum — the convergence probe. Label updates
    // are MONOTONE (every round takes a min over a multiset containing the
    // row's own label), so the total label sum strictly decreases iff any
    // label changed this round; comparing round sums replaces the old
    // updated×labels convergence join (−2 exchanges and a join per round).
    // decimal(38,0) keeps the sum exact for any realistic id range/count
    // (null = empty graph, handled as equal-sums ⇒ converged; a sum that
    // OVERFLOWED 38 digits would also be null and could false-converge,
    // but that needs ~1e19 total label mass — unreachable for ids that
    // themselves fit the 38-digit cast).
    // TYPE GATE (r17, ADVICE): the sum probe is only sound for integral
    // label types — a string id would throw CAST_INVALID_INPUT under the
    // Spark 4 ANSI default (or cast to null without ANSI and silently
    // "converge" after one round), and a fractional id would round, so two
    // different label states could sum equal. Non-integral id types fall
    // back to the type-agnostic changed-row join probe (the pre-r16 form).
    import org.apache.spark.sql.types._
    val sumProbeOk = edges.schema("a").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) None else Some(r.getDecimal(0))
    }
    // eagerly materialize the persist (the sum probe doubles as the action)
    var prevSum = if (sumProbeOk) labelSum(labels) else { labels.count(); None }
    // the persisted/checkpointed handle backing `labels` — what release
    // bookkeeping operates on (labels itself may be a projection over it)
    var labelsHandle: DataFrame = labels
    // frames whose cached blocks may still back `labels`' lineage; released
    // at the next eager checkpoint (which cuts the lineage) or left to the
    // context cleaner at exit
    var pendingRelease: List[DataFrame] = Nil
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // (1) propagate: min label over graph neighbors AND the row's own
      // label in ONE aggregate — the self branch rides the union into the
      // map-side partial agg, so the old labels⋈neighborMin join (and its
      // exchange) disappears; every node keeps a row via its self branch.
      // STAGED: the pointer-jump self-join below references prop twice,
      // and without a materialization barrier Spark planned — and RAN —
      // the whole edges⋈labels propagate join + aggregate TWICE per round
      // (r16 plan: operators 1–22 ≡ 23–39; a persist alone does NOT fix
      // it — the analyzer's self-join deduplication clones the right
      // subtree into a form the cache lookup no longer matches, BENCH_NOTES
      // "Round-17"; pinned by PlanShapeSpec "duplicateClusters plans the
      // propagate join once per round").
      // The eager checkpoint runs the propagate ONCE per round and both
      // join sides read the materialized blocks; the kept hash(a)
      // partitioning also feeds the jump's build side (__lid = a)
      // exchange-free (r17, guide §2.4).
      val prop = Staging.stage(edges
        .join(labels.withColumnRenamed("id", "nbr"), col("b") === col("nbr"))
        .select(col("a"), col("label"))
        .unionAll(labels.select(col("id").as("a"), col("label")))
        .groupBy(col("a"))
        .agg(min(col("label")).as("label"))
        .withColumnRenamed("a", "id"))
      // (2) shortcut: label ← min(label, label(label)) — pointer jumping
      val lbl2 = prop.select(col("id").as("__lid"), col("label").as("__llabel"))
      val raw = prop
        .join(lbl2, prop("label") === lbl2("__lid"), "left")
        .select(
          prop("id"),
          least(prop("label"), coalesce(col("__llabel"), prop("label"))).as("label"))
      val ckptRound = (i + 1) % stretch == 0 || i + 1 == maxIter
      val updated =
        if (ckptRound) Staging.stage(raw) // materializes + cuts lineage
        else raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // sum probe: one 1-row agg that also materializes the persist.
      // Fallback (non-integral ids): changed-row join against the previous
      // labels — limit(1) short-circuits, so on persist rounds `updated`
      // may only partially materialize (the deferred release below covers
      // that, exactly as pre-r16).
      val newSum = if (sumProbeOk) labelSum(updated) else None
      val roundConverged =
        if (sumProbeOk) newSum == prevSum
        else updated.as("u")
          .join(labels.as("l"), "id")
          .filter(col("u.label") =!= col("l.label"))
          .limit(1)
          .count() == 0L
      if (ckptRound) {
        // `updated` is fully materialized with no lineage: every older
        // persisted frame is now safe to release
        (labelsHandle :: pendingRelease).foreach(_.unpersist())
        pendingRelease = Nil
      } else {
        // the 1-row agg above fully materialized the lazily-persisted
        // `updated`, but its blocks still back later lineage until the
        // next eager checkpoint truncates it; defer the release as before
        pendingRelease = labelsHandle :: pendingRelease
      }
      labelsHandle = updated
      labels = updated
      converged = roundConverged
      prevSum = newSum
      i += 1
    }
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Deduplicate a corpus: keep one representative (minimum id) per
    * duplicate cluster, drop every other member. `pairs` is any
    * near-duplicate pair list (Jaccard, MinHash, embedding-cosine…);
    * clusters close transitively. The filter is a broadcast/left-anti join
    * on the id — the corpus itself is never shuffled. */
  def dedupCorpus(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = duplicateClusters(pairs)
      .filter(col("id") =!= col("cluster")) // non-representative members
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Frozen duplicate-cluster state — the persisted
    * [[duplicateClusters]] output (one (id, cluster) row per document
    * that appears in a near-duplicate pair; cluster = the component's
    * minimum id, the representative). The leakage-safe-split member of
    * the frozen-state family (README state matrix): CC over the pair
    * list is the expensive step of
    * [[graft.sources.ScaleOps.leakageSafeSplit]] (pair production + the
    * iterative pointer-jumping joins), and the cluster map it yields is
    * dup-sized, not corpus-sized — freeze it once, split any frame
    * against it with [[graft.sources.ScaleOps.leakageSafeSplitAgainst]],
    * and fold new pair discoveries in with [[dupClusterStateMerge]]
    * instead of re-running pairs+CC per split. Persist `clusters` as
    * plain parquet (bucket by `id` if the downstream split join can't
    * broadcast it).
    *
    * Scale shape: the build is one CC run over the pair list; a merge
    * costs what its NEW pairs cost (one bounded collect and one staged
    * pass over the rows, see [[dupClusterStateMerge]]) — the state is
    * read, never re-solved. */
  final case class DupClusterState(clusters: DataFrame)

  /** Build [[DupClusterState]]: one [[duplicateClusters]] run over the
    * pair list (same contract — pairs from ANY producer at the leakage
    * threshold you care about). */
  def dupClusterState(pairs: DataFrame): DupClusterState =
    DupClusterState(duplicateClusters(pairs))

  /** Largest contracted edge list [[dupClusterStateMerge]] solves on the
    * driver. Up to this many edges come back in one bounded collect and
    * union-find finishes there; above it the contracted edges go through
    * [[duplicateClusters]]. At the bound the driver holds the collected
    * rows (two ids and two flags each) plus a union-find map of up to
    * 2M nodes: about 300 MB of heap for Long ids, the order of a compress
    * fit at its 1M-cell `compressNmax` default. */
  private val ClusterDriverMaxEdges = 1000000

  /** Fold NEW near-duplicate pairs into a [[DupClusterState]] — the
    * monotone min-rep union. Each old label is its component's MINIMUM
    * id and edges only join components, so CONTRACTING every old
    * cluster to its label loses nothing: the minimum over a merged
    * component is the minimum over its contracted nodes. The result
    * therefore has exactly the components and labels of CC over
    * (old pairs ∪ new pairs). Spec-pinned: merged ≡ rebuilt, and
    * sequential merges ≡ one merge, on both solve branches. New pairs
    * can only join clusters (never split them — edges are monotone),
    * which is what makes the split stability guarantee composable: a
    * merge only ever moves the HIGHER merged cluster's members to the
    * lower's split, never re-deals untouched keys. A pair with a NULL
    * endpoint adds nothing.
    *
    * Scale shape: priced by the NEW pairs, not the state.
    *   - contract: each new pair's endpoints join `state.clusters`
    *     (an endpoint with no state row keeps its own id and is
    *     *fresh*) — one edge per new pair, no state rows;
    *   - solve: the contracted edges come back in one `limit`-bounded
    *     collect and union-find with min-label roots runs on the driver
    *     (PAPER §0's shape, as the compress driver fit); above
    *     `ClusterDriverMaxEdges` (1M) edges, or for id types the driver
    *     cannot order as Spark does (anything but integral and string
    *     ids; strings compare in UTF-8 byte order), [[duplicateClusters]]
    *     runs over the contracted edges only;
    *   - assemble: the state rows left-join the changed labels (a
    *     broadcast local relation on the driver branch), the fresh
    *     endpoints' rows are unioned in, and the result is staged once,
    *     so it never reads the state's source files again (it can be
    *     written over them).
    * The driver branch runs two queries: the collect and the stage. */
  def dupClusterStateMerge(
      state: DupClusterState,
      newPairs: DataFrame
  ): DupClusterState = mergeClusters(state, newPairs, ClusterDriverMaxEdges)

  /** [[dupClusterStateMerge]] with its driver bound as a parameter, so
    * specs can drive both solve branches (0 forces [[duplicateClusters]]
    * whenever there is an edge). */
  private[graft] def mergeClusters(
      state: DupClusterState,
      newPairs: DataFrame,
      driverMaxEdges: Int
  ): DupClusterState = {
    require(Seq("id", "cluster").forall(state.clusters.columns.contains),
      s"state must carry (id, cluster), got ${state.clusters.columns.toSeq}")
    val cl = state.clusters.select(col("id"), col("cluster"))
    // contract: (a, b) = the endpoints' current labels, fa/fb = "has no
    // state row". An edge inside one old cluster carries nothing unless
    // it brings a fresh node.
    val contracted = newPairs
      .select(col("id1"), col("id2"))
      .filter(col("id1").isNotNull && col("id2").isNotNull)
      .join(cl.select(col("id").as("id1"), col("cluster").as("__c1")), Seq("id1"), "left")
      .join(cl.select(col("id").as("id2"), col("cluster").as("__c2")), Seq("id2"), "left")
      .select(
        coalesce(col("__c1"), col("id1")).as("a"),
        coalesce(col("__c2"), col("id2")).as("b"),
        col("__c1").isNull.as("fa"),
        col("__c2").isNull.as("fb"))
      .filter(col("a") =!= col("b") || col("fa") || col("fb"))
    import org.apache.spark.sql.types._
    val idType = contracted.schema("a").dataType
    // the driver's order must be Spark's `min`: numeric for integral
    // ids, UTF-8 byte order (not String.compareTo) for strings. The
    // StringType pattern matches the default binary collation only
    // (string types compare equal by collation)
    val driverLt: Option[(Any, Any) => Boolean] = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some((x, y) => x.asInstanceOf[Number].longValue < y.asInstanceOf[Number].longValue)
      case StringType =>
        Some((x, y) => graft.functions.FreqItemsAgg.byteLt(
          x.asInstanceOf[String], y.asInstanceOf[String]))
      case _ => None
    }
    val onDriver = driverLt.flatMap { lt =>
      val edges = contracted.limit(driverMaxEdges + 1).collect()
      if (edges.length > driverMaxEdges) None else Some(minLabelRemap(edges, lt))
    }
    // one (__node, __label, __fresh) remap: every fresh node, and every
    // old label whose component gained a lower minimum
    val remap = onDriver match {
      case Some(rows) =>
        val schema = StructType(Seq(StructField("__node", idType, nullable = false),
          StructField("__label", idType, nullable = false),
          StructField("__fresh", BooleanType, nullable = false)))
        state.clusters.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
      case None =>
        val edges = contracted.staged // CC input and the fresh flags
        val freshIds = edges.filter(col("fa")).select(col("a").as("id"))
          .union(edges.filter(col("fb")).select(col("b").as("id")))
          .distinct()
          .withColumn("__fresh", lit(true))
        duplicateClusters(edges.select(col("a").as("id1"), col("b").as("id2")))
          .join(freshIds, Seq("id"), "left")
          .select(col("id").as("__node"), col("cluster").as("__label"),
            coalesce(col("__fresh"), lit(false)).as("__fresh"))
          .filter(col("__fresh") || col("__node") =!= col("__label"))
    }
    val changed = remap.filter(!col("__fresh"))
    val old = cl.join(if (onDriver.isDefined) broadcast(changed) else changed,
        col("cluster") === col("__node"), "left")
      .select(col("id"), coalesce(col("__label"), col("cluster")).as("cluster"))
    val added = remap.filter(col("__fresh"))
      .select(col("__node").as("id"), col("__label").as("cluster"))
    DupClusterState(old.unionByName(added).staged)
  }

  /** Union-find with min-label roots over collected contracted edges
    * (a, b, fa, fb): one (node, label, fresh) row per fresh node and per
    * old label whose component minimum is lower than itself. */
  private def minLabelRemap(
      edges: Array[org.apache.spark.sql.Row],
      lt: (Any, Any) => Boolean
  ): Array[org.apache.spark.sql.Row] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    val fresh = scala.collection.mutable.HashSet.empty[Any]
    def find(x: Any): Any = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (y != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    edges.foreach { e =>
      val (a, b) = (e.get(0), e.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      if (e.getBoolean(2)) fresh += a
      if (e.getBoolean(3)) fresh += b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(v => (v, find(v), fresh(v)))
      .collect { case (v, l, f) if f || l != v => org.apache.spark.sql.Row(v, l, f) }
      .toArray
  }

  /** Incremental dedup: flag every NEW document that exactly or nearly
    * duplicates the EXISTING corpus — the daily-ingest shape (dedup the
    * shard against what's already in the lake), distinct from within-
    * corpus dedup ([[minhashPairs]] on the shard handles new×new).
    *
    * Scale shape: candidates come from the shared LSH bucket keys — the
    * join is new ⋈ corpus on (band, bucket), never corpus×corpus, and the
    * corpus side collapses to one representative per distinct shingle set
    * first (as in [[minhashPairs]]). Exact duplicates are additionally
    * caught by a fingerprint equi-join that BYPASSES the bucket valve —
    * a new copy of a document whose bucket is boilerplate-hot must still
    * be flagged (the valve only costs near-dup recall in saturated
    * buckets, mirroring minhashPairs semantics). At steady state, build
    * the corpus-side representative/bucket tables ONCE with
    * [[minhashDedupState]] and apply shards via [[dedupAgainstState]] —
    * this convenience form rebuilds them per call.
    *
    * Returns one row per NEW doc: (id, dup_of, jaccard) — `dup_of` the
    * best-matching corpus id (highest Jaccard, ties to lowest id; NULL
    * when the doc is unique), `jaccard` the verified similarity.
    * PRECONDITION: ids unique within AND across the two inputs. */
  def dedupAgainst(
      corpus: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      threshold: Double = 0.5,
      maxBucketSize: Option[Long] = Some(DefaultMaxBucketSize)
  ): DataFrame =
    dedupAgainstState(
      minhashDedupState(corpus, idCol, textCol, n, maxBucketSize),
      newDocs, idCol, textCol, n, threshold)

  /** Frozen corpus-side state for [[dedupAgainstState]] — the MinHash
    * ingest family's persistable state (the [[spanFingerprints]] /
    * `tokenBudgetState` pattern): `reps` holds one representative per
    * distinct shingle set (`__fp` exact-match fingerprint, `cid`
    * representative id, `csharr` the verification shingle array — any
    * member's array is valid by set-level invariance) and `buckets` the
    * representatives' LSH keys (`band`, `bucket`, `cid`) with the
    * bucket-size valve ALREADY applied (a corpus property, so it freezes
    * with the corpus). Persist both — `reps` bucketed by `__fp`,
    * `buckets` by (`band`, `bucket`) — and shard ingest joins them
    * without a corpus-side shuffle.
    *
    * Refreshing as the corpus grows must keep the two tables CONSISTENT
    * (every `buckets.cid` must exist in `reps.cid`) —
    * [[minhashDedupStateRefresh]] implements the sound FIRST-WRITER-WINS
    * recipe (keep the existing rep for every `__fp` already in the
    * state; never re-minimize cid over the union, which would orphan the
    * untouched bucket rows; append only the genuinely-new fingerprints'
    * bucket keys; re-run the size valve over the whole bucket table).
    * When in doubt, rebuild both tables from the corpus — the build is
    * one distinct-set agg + one signature pass (measured 8.5 s at a
    * 450k-doc corpus; BENCH_NOTES r12 §6b; refresh-vs-rebuild measured
    * in BENCH_NOTES r13). */
  final case class MinhashDedupState(reps: DataFrame, buckets: DataFrame) {
    /** (shingle width, valve cap) frozen into the state, read ONCE per
      * state object and cached driver-side (every `reps` row repeats
      * them, so `take(1)` is deterministic; the probe is one
      * sliver-sized job — a streaming `foreachBatch` loop reusing one
      * state object pays it once, not per micro-batch). `None` ⇔ `reps`
      * is EMPTY: a corpus with no ≥n-token docs freezes no config. A
      * state persisted before the `max_bucket` column existed reads a
      * `None` cap (refresh separately refuses such states). */
    private[pipeline] lazy val frozenMeta: Option[(Int, Option[Long])] =
      if (reps.columns.contains("max_bucket"))
        reps.select("shingle_n", "max_bucket").take(1).headOption.map { r =>
          (r.getInt(0), if (r.getLong(1) < 0L) None else Some(r.getLong(1)))
        }
      else
        reps.select("shingle_n").take(1).headOption.map(r => (r.getInt(0), None))

    /** Shingle width frozen into the state — `None` ⇔ `reps` is EMPTY
      * (an empty corpus freezes no width; [[dedupAgainstState]] then
      * skips the width check and reports every shard doc unique, which
      * is correct for an empty corpus and the only sound reading of a
      * width-less state). */
    lazy val shingleN: Option[Int] = frozenMeta.map(_._1)
  }

  /** Build [[MinhashDedupState]] from a corpus: one distinct-set agg +
    * one signature/bucket pass over the representatives. */
  def minhashDedupState(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      maxBucketSize: Option[Long] = Some(DefaultMaxBucketSize)
  ): MinhashDedupState = {
    // corpus: one representative per distinct shingle set (set-level
    // invariants make any member's array valid)
    val crep = keyedShingleSets(corpus, idCol, textCol, n).groupBy("__fp")
      .agg(min(col("id")).as("cid"), min_by(col("sharr"), col("id")).as("csharr"))
      // config frozen into the state (-1 = unvalved): apply and refresh
      // read width and cap FROM the state, so neither can be
      // mis-parameterized against the freeze
      .withColumn("shingle_n", lit(n))
      .withColumn("max_bucket", lit(maxBucketSize.getOrElse(-1L)))
      .staged // reused: the bucket pass here + exact/verify joins at apply
      .filter(col("__fp").isNotNull) // post-barrier: drop the empty-set group
    val cb0raw = lshBuckets(withSig(
        crep.select(col("cid").as("id"), col("csharr").as("sharr")),
        Seq("id")))
      .withColumnRenamed("id", "cid")
    // valve on the CORPUS bucket size — frozen into the state. Over-cap
    // buckets leave a TOMBSTONE (one null-cid row) instead of vanishing:
    // apply skips them (null cid matches no rep), but
    // [[minhashDedupStateRefresh]] needs to know the bucket was
    // saturated — otherwise a refresh would "resurrect" a
    // boilerplate-hot bucket from its new members alone and diverge
    // from a rebuild. Tombstone count is bounded by the hot-bucket
    // count, never corpus-sized.
    val cb = maxBucketSize match {
      case None => cb0raw
      case Some(cap) =>
        // staged for the same reason as minhashPairs' bucket table: the
        // valve consumes it twice (hot agg + anti join) and re-deriving it
        // means a second full signature pass; staged rows are narrow (r16)
        val cb0 = cb0raw.staged
        val hot = cb0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("__bsz")).filter(col("__bsz") > cap)
          .select("band", "bucket")
        cb0.join(hot, Seq("band", "bucket"), "left_anti")
          .unionByName(hot.withColumn("cid",
            lit(null).cast(cb0.schema("cid").dataType)))
    }
    MinhashDedupState(crep, cb)
  }

  /** FIRST-WRITER-WINS incremental refresh of a [[MinhashDedupState]] —
    * fold a NEW shard's fingerprint classes into a frozen state without
    * touching the existing representatives (the recipe documented on
    * [[MinhashDedupState]], as code): every `__fp` already in the state
    * keeps its representative, so `dup_of` labels stay STABLE across
    * refreshes (a rebuild re-minimizes ids and can relabel); only
    * genuinely-NEW fingerprints contribute reps and bucket keys; the
    * size valve re-runs over the whole bucket table under the cap frozen
    * into the state, with tombstoned (previously saturated) buckets
    * staying saturated.
    *
    * Refresh ≡ rebuild (spec-pinned): applying the refreshed state
    * equals applying `minhashDedupState(corpus ∪ shard)` whenever shard
    * ids don't undercut an existing class representative (the routine
    * monotone-id ingest); a lower new id in an EXISTING class changes
    * only the `dup_of` LABEL, never the keep/drop partition (reps,
    * signatures, and buckets are set-level invariants).
    *
    * Scale shape: shard-sized shingle pass, ONE left-anti fp join
    * against the (fp-bucketable) reps, a signature pass over the new
    * classes only, and a bucket-table-sized valve agg — nothing
    * corpus-sized recomputes, shuffles, or reaches the driver. All
    * config (shingle width, valve cap) reads from the state itself.
    * Refuses an EMPTY state (nothing frozen to refresh — build with
    * [[minhashDedupState]] instead) and a pre-tombstone state (no
    * `max_bucket` meta: rebuild once — the fingerprint encoding changed
    * in the same library version). */
  def minhashDedupStateRefresh(
      state: MinhashDedupState,
      newDocs: DataFrame,
      idCol: String,
      textCol: String
  ): MinhashDedupState = {
    require(state.reps.columns.contains("max_bucket"),
      "state carries no frozen max_bucket meta (persisted by a " +
        "pre-refresh library version) — rebuild it with minhashDedupState")
    val (n, cap) = state.frozenMeta.getOrElse(throw new IllegalArgumentException(
      "cannot refresh an EMPTY state (no frozen shingle width) — " +
        "build with minhashDedupState instead"))
    // NOT staged: the shard class table has exactly ONE consumer (the
    // anti join feeding freshReps, which is itself staged) — a barrier
    // here would write a shard-sized checkpoint per refresh for nothing
    val sreps = keyedShingleSets(newDocs, idCol, textCol, n).groupBy("__fp")
      .agg(min(col("id")).as("cid"), min_by(col("sharr"), col("id")).as("csharr"))
      .withColumn("shingle_n", lit(n))
      .withColumn("max_bucket", lit(cap.getOrElse(-1L)))
    // first-writer-wins: only fingerprints the state has never seen
    // enter; an existing class keeps its rep and its bucket rows intact.
    // The null-fp (empty-set) group filters AFTER freshReps's staging
    // barrier — pre-barrier the IsNotNull would push below the shingle
    // projection and re-run the HOF pipeline per row (keyedShingleSets'
    // documented trap); the anti join passes the one null-fp row through
    // untouched (a null key never matches)
    val freshReps = sreps
      .join(state.reps.select("__fp"), Seq("__fp"), "left_anti")
      .staged // reused: bucket pass + returned union
      .filter(col("__fp").isNotNull)
    val freshBk = lshBuckets(withSig(
        freshReps.select(col("cid").as("id"), col("csharr").as("sharr")),
        Seq("id")))
      .withColumnRenamed("id", "cid")
    val oldBk = state.buckets.select(col("band"), col("bucket"), col("cid"))
    val union = oldBk
      .unionByName(freshBk.select(col("band"), col("bucket"), col("cid")))
    val valved = cap match {
      case None => union
      case Some(c) =>
        // the union is consumed twice (valve agg + keep filter) but NOT
        // staged: it is bucket-table-scale (≈ corpus × bands rows), and
        // staging would WRITE all of it per refresh where the second
        // consumer only re-pays one columnar scan of the persisted old
        // buckets plus a signature pass over the already-staged new reps
        // — the span-removal staging lesson (BENCH_NOTES r12)
        // a bucket is saturated iff its LIVE member count exceeds the cap
        // or it carries a tombstone (its pre-freeze members were dropped
        // but counted — exactly what a rebuild over the union would see)
        val sz = union.groupBy("band", "bucket")
          .agg(count(col("cid")).as("__live"), count(lit(1)).as("__all"))
        val hot = sz
          .filter(col("__all") > col("__live") || col("__live") > c)
          .select("band", "bucket")
        union.join(hot, Seq("band", "bucket"), "left_anti")
          .unionByName(hot.withColumn("cid",
            lit(null).cast(oldBk.schema("cid").dataType)))
    }
    MinhashDedupState(state.reps.unionByName(freshReps), valved)
  }

  /** Apply a frozen [[MinhashDedupState]] to a NEW shard — the
    * steady-state ingest form of [[dedupAgainst]] (identical semantics;
    * that convenience wrapper IS `dedupAgainstState(minhashDedupState(
    * corpus), shard)`). Per shard the corpus contributes three key-equi
    * joins on persisted state (exact `__fp`, candidate (`band`,
    * `bucket`), verification `cid`) — nothing corpus-sized recomputes,
    * shuffles, or reaches the driver; micro-batches stream through
    * `foreachBatch` (parity spec'd in StreamingSpec). `n` must match the
    * state's shingle width. */
  def dedupAgainstState(
      state: MinhashDedupState,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      threshold: Double = 0.5
  ): DataFrame = {
    val raw = againstStateMatches(state, newDocs, idCol, textCol, n, threshold)
    // best match = argmin over (−jaccard, cid) — a single partial+final
    // hash AGGREGATE (min_by with a lexicographic struct key) instead of a
    // rank window: same (jaccard desc, cid asc) winner, but no per-id sort
    // and map-side partials absorb the hits before the shuffle (r16,
    // guide §2.3 "aggregate before you shuffle"; a window is a full sort
    // of the hit table at scale)
    val best = raw
      .groupBy("id")
      .agg(min_by(struct(col("cid"), col("jaccard")),
        struct((-col("jaccard")).as("nj"), col("cid"))).as("__b"))
      .select(col("id"), col("__b.cid").as("dup_of"), col("__b.jaccard"))
    // EVERY shard doc appears in the output — including sub-n-token docs,
    // which carry no shingles and are unique by construction
    newDocs.select(col(idCol).as("id")).join(best, Seq("id"), "left")
  }

  /** ALL-MATCHES form of [[dedupAgainstState]]: EVERY above-threshold
    * (new doc, resident representative) match, not just the best —
    * one row per (`id`, `dup_of`) pair with the verified Jaccard
    * (exact fingerprint matches carry 1.0). Hits-sized output: a shard
    * doc matching nothing has NO row (use [[dedupAgainstState]] for the
    * per-doc keep/drop verdict).
    *
    * This is the CROSS-CORPUS EDGE PRODUCER for the [[DupClusterState]]
    * daily refresh: the top-1 `dup_of` under-connects when one new doc
    * bridges two distinct resident clusters — fed only the best match,
    * [[dupClusterStateMerge]] would leave the second cluster unmerged
    * and [[graft.sources.ScaleOps.leakageSafeSplitAgainst]] could deal
    * its members to the opposite side of the split from their near-twin
    * (exactly the leakage the family exists to prevent). Feed ALL
    * matches as edges instead — [[dupClusterStateIngest]] composes the
    * full recipe and is spec-pinned ≡ a from-scratch rebuild over
    * resident ∪ shard, including the bridge case.
    *
    * Scale shape: identical to [[dedupAgainstState]] minus the window —
    * three key-equi joins against persisted state, then one (id, cid)
    * hash-agg; nothing corpus-sized recomputes or reaches the driver. */
  def dedupAgainstStateAll(
      state: MinhashDedupState,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      threshold: Double = 0.5
  ): DataFrame =
    // exact (lit 1.0) and near (verified 1.0) paths can both surface the
    // same pair — collapse per (id, cid); max keeps the exact 1.0 over
    // any float-rounded verification of the identical set
    againstStateMatches(state, newDocs, idCol, textCol, n, threshold)
      .groupBy("id", "cid")
      .agg(max(col("jaccard")).as("jaccard"))
      .select(col("id"), col("cid").as("dup_of"), col("jaccard"))

  /** Shared match core of [[dedupAgainstState]] /
    * [[dedupAgainstStateAll]]: every (id, cid, jaccard) candidate match
    * at or above the threshold (exact fingerprint ∪ verified LSH
    * candidates; a pair found by both paths may appear twice — callers
    * collapse with their own top-1 argmax or (id, cid) agg). */
  private def againstStateMatches(
      state: MinhashDedupState,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double
  ): DataFrame = {
    checkMinhashState(state, n)
    againstStateMatchesOf(state, stagedShingleSets(newDocs, idCol, textCol, n),
      threshold)
  }

  /** Refuses a [[MinhashDedupState]] that cannot be probed at width `n`. */
  private def checkMinhashState(state: MinhashDedupState, n: Int): Unit = {
    require(Seq("__fp", "cid", "csharr", "shingle_n")
        .forall(state.reps.columns.contains),
      s"state.reps must carry (__fp, cid, csharr, shingle_n), got ${state.reps.columns.toSeq}")
    // `max_bucket` doubles as the version marker for the length-prefixed
    // shingle-fingerprint encoding: a state persisted by a pre-tombstone
    // library version froze fingerprints the current encoding can never
    // match, so the exact __fp join would SILENTLY report every legacy
    // exact duplicate unique — refuse loudly, as the refresh does
    require(state.reps.columns.contains("max_bucket"),
      "state carries no frozen max_bucket meta (persisted by a " +
        "pre-refresh library version whose fingerprint encoding differs) " +
        "— rebuild it with minhashDedupState")
    require(Seq("band", "bucket", "cid")
        .forall(state.buckets.columns.contains),
      s"state.buckets must carry (band, bucket, cid), got ${state.buckets.columns.toSeq}")
    // the shingle width is frozen into the state: a mismatched n would
    // otherwise SILENTLY report every shard doc unique (2-gram
    // fingerprints/buckets never meet 3-gram state). The probe is cached
    // on the state object (lazy val — once per state, not per call);
    // None = empty reps, documented on [[MinhashDedupState.shingleN]]
    state.shingleN.foreach { sn =>
      require(sn == n,
        s"state was built with n = $sn, apply called with n = $n")
    }
  }

  /** [[againstStateMatches]] over a [[stagedShingleSets]] table of the new
    * docs, read by three branches. */
  private def againstStateMatchesOf(
      state: MinhashDedupState,
      ns: DataFrame,
      threshold: Double
  ): DataFrame = {
    // exact fingerprint match — valve-immune by design
    val exact = ns.select(col("id"), col("__fp"))
      .join(state.reps.select(col("__fp"), col("cid")), "__fp")
      .select(col("id"), col("cid"), lit(1.0).as("jaccard"))
    val nb = lshBuckets(withSig(ns, Seq("id")))
    // tombstones (null-cid rows marking valved-out hot buckets — refresh
    // bookkeeping) match no candidate: filter them out explicitly
    val near = nb.join(state.buckets.select("band", "bucket", "cid")
          .filter(col("cid").isNotNull),
        Seq("band", "bucket"))
      .select(col("id"), col("cid")).distinct()
      .join(ns.select(col("id"), col("sharr")), "id")
      .join(state.reps.select(col("cid"), col("csharr")), "cid")
      .withColumn("common", size(array_intersect(col("sharr"), col("csharr"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sharr")) + size(col("csharr")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id"), col("cid"), col("jaccard"))
    exact.unionByName(near)
  }

  /** The complete DAILY-REFRESH recipe for a [[DupClusterState]]: fold a
    * new shard's duplicate evidence — BOTH the shard's internal
    * near-duplicate pairs AND its cross-corpus matches against the
    * frozen resident [[MinhashDedupState]] — into the frozen cluster
    * map, so [[graft.sources.ScaleOps.leakageSafeSplitAgainst]] keeps
    * its guarantee as the corpus grows. Shard-internal pairs alone are
    * NOT enough: a new doc that near-duplicates a RESIDENT doc
    * contributes no edge from the shard's own pair list, keys the split
    * on its own id, and can land on the opposite side of the split from
    * its resident near-twin — the exact leakage the family exists to
    * prevent. The cross edges are [[dedupAgainstStateAll]]'s matches
    * (EVERY above-threshold match, not the top-1 `dup_of` — one new doc
    * bridging two distinct resident clusters must merge them).
    *
    * Spec-pinned: the result equals `dupClusterState(minhashPairs(
    * resident ∪ shard))` — a from-scratch rebuild over the union —
    * including the two-cluster bridge case, provided both frozen states
    * were built from the same resident corpus at the same (n,
    * threshold) and no LSH bucket crosses the size valve (testdata
    * stays far below it; at the valve the recipe and the rebuild both
    * degrade recall the same way only when saturation is
    * corpus-stable).
    *
    * Scale shape: prices ONLY the shard and its new pairs. One staged
    * shingle table of the shard feeds both the `minhashPairs` core
    * (shard², bucket-capped) and the three key-equi probes of the
    * persisted MinHash state (never corpus×corpus); the merge then
    * contracts the new pairs onto the frozen clusters and finishes
    * union-find on the driver ([[dupClusterStateMerge]]). Neither the
    * resident corpus nor the cluster state is re-paired, re-solved or
    * shuffled. Measured in BENCH_NOTES ("Round-16: complete
    * DupClusterState refresh recipe priced" against a full re-pair, and
    * "Cluster refresh priced by its new pairs" for the merge).
    *
    * SEQUENTIAL multi-shard refreshes must ALSO refresh the MinHash
    * state between shards ([[minhashDedupStateRefresh]]) — shard 2's
    * cross matches probe `mhState`, so a stale state (resident only)
    * would miss shard1×shard2 near-duplicates, the same
    * boundary-straddling hole this recipe closes for resident×shard.
    * The sound daily loop is therefore a PAIR of folds per shard:
    * {{{
    * clusterSt = dupClusterStateIngest(clusterSt, mhState, shard, ...)
    * mhState   = minhashDedupStateRefresh(mhState, shard, ...)
    * }}}
    * Spec-pinned: two shards folded through this loop equal one rebuild
    * over resident ∪ shard1 ∪ shard2. */
  def dupClusterStateIngest(
      state: DupClusterState,
      mhState: MinhashDedupState,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      threshold: Double = 0.5,
      maxBucketSize: Option[Long] = Some(DefaultMaxBucketSize)
  ): DupClusterState = {
    checkMinhashState(mhState, n)
    // one staged shingle table feeds both pair producers
    val ns = stagedShingleSets(shard, idCol, textCol, n)
    val shardPairs = minhashPairsOf(ns, threshold, maxBucketSize)
      .select(col("id1"), col("id2"))
    // every match is an edge; a pair both match paths found twice is a
    // repeated edge, which the merge's union-find absorbs
    val crossPairs = againstStateMatchesOf(mhState, ns, threshold)
      .select(col("id").as("id1"), col("cid").as("id2"))
    dupClusterStateMerge(state, shardPairs.unionByName(crossPairs))
  }

  /** [[keyedShingleSets]] staged, shingle-less docs dropped after the
    * barrier (where the filter is a null test on a materialized column,
    * never a pushed-down recompute of the tokenizer) — the one table the
    * pair and match cores read. */
  private def stagedShingleSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame =
    keyedShingleSets(df, idCol, textCol, n)
      .staged // not persist: lazily-returned, see PLANS.md §22
      .filter(col("__fp").isNotNull)

  /** (id, sharr, __fp) keyed shingle sets — the shared projection of the
    * MinHash families (set fingerprint = md5 of the sorted array).
    * Docs with NO shingles (fewer than `n` tokens) are EXCLUDED: they
    * carry no n-gram evidence, and fingerprinting the empty set would
    * unite every sub-n-token doc into one spurious "exact" class (the
    * pairwise oracle algebra has no row for them either). */
  private def keyedShingleSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame =
    // a shingle-less doc gets a NULL fingerprint (not a filter: Catalyst
    // pushes a size() predicate BELOW the projection by substitution,
    // re-evaluating the whole tokenize+shingle pipeline per row — the
    // documented HOF-lambda trap; consumers drop null-fp rows AFTER
    // their staging barrier, where the filter costs a materialized-array
    // null test). Each shingle is LENGTH-PREFIXED ("len:shingle") before
    // the \u0001 join: a bare separator would be ambiguous when a token
    // itself contains U+0001 (whitespace-split tokens may carry any
    // non-space byte — n=1: token "a\u0001b" vs tokens ["a","b"]), while
    // the prefix-free length code makes the concatenation injective, so
    // two DISTINCT shingle sets can never share a pre-image (only an md5
    // collision could pair them). Changing this encoding changes the
    // __fp VALUES (not the grouping), so states persisted by an older
    // [[minhashDedupState]] must be rebuilt across this library change —
    // the fp is an internal key, never part of a result.
    shingleArrays(df, idCol, textCol, n)
      .withColumn("__fp",
        when(size(col("sharr")) > 0,
          md5(concat_ws("\u0001",
            transform(array_sort(col("sharr")),
              s => concat(length(s).cast("string"), lit(":"), s))))))

  /** Benchmark-contamination check (the GPT-3-style train/test
    * decontamination measure, Brown et al. 2020 appendix C): for every
    * corpus document, the fraction of its DISTINCT word n-gram shingles
    * that appear anywhere in a benchmark corpus. Documents above a caller
    * -chosen fraction get dropped before training.
    *
    * Scale shape: benchmark suites are tiny next to a training corpus
    * (thousands of docs vs billions), so the benchmark's distinct shingle
    * set is broadcast and the corpus streams through a map-side left
    * probe — the corpus shingles are never shuffled; the only shuffle is
    * the final partial+final aggregate keyed on doc id.
    *
    * Returns (id, n_shingles, n_contaminated, contamination) — one row per
    * corpus doc with ≥ 1 shingle (a doc shorter than n tokens has no
    * n-gram measure, matching the reference decontamination recipes that
    * skip sub-n fragments). Same unique-id precondition as [[shingleSets]].
    */
  def contamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2
  ): DataFrame =
    contaminationAgainst(
      // one anonymous ad-hoc suite: the aggregate measure never reads
      // the label, and the ephemeral state is not meant to be merged
      contaminationState(benchmark, idCol, textCol, n, suite = "adhoc"),
      corpus, idCol, textCol, n)

  /** Frozen benchmark-side state for [[contaminationAgainst]] — the
    * decontamination member of the frozen-state family (README state
    * matrix): the eval suite's DISTINCT shingle set, with the shingle
    * width frozen in (`shingle_n` — a mismatched apply width would
    * otherwise SILENTLY report zero contamination, the
    * [[dedupAgainstState]] trap class) and per-suite provenance
    * (`suite_id` — a merged multi-suite state can answer WHICH benchmark
    * leaked via [[contaminationBySuite]], not just whether one did).
    * Benchmark suites are tiny next to a training corpus, so the state
    * is sliver-sized and broadcast at apply; persist as plain parquet
    * and fold new eval suites in with [[contaminationStateMerge]] (the
    * shingle set is monotone — the span/line fingerprint refresh rule). */
  final case class ContaminationState(shingles: DataFrame) {
    /** Width frozen into the state; None ⇔ empty benchmark (nothing can
      * be contaminated — apply reports 0 everywhere, which is correct). */
    lazy val shingleN: Option[Int] =
      shingles.select("shingle_n").take(1).headOption.map(_.getInt(0))
  }

  /** Build [[ContaminationState]]: one distinct over the benchmark's
    * n-gram shingles, stamped with the suite's name (`suite` — keep it
    * stable across rebuilds; it is the attribution key
    * [[contaminationBySuite]] reports). `suite` has NO default on
    * purpose: two states built under a shared default name would merge
    * into one attribution label and silently conflate two different
    * benchmarks — name each suite explicitly. (Merging two states that
    * deliberately share a name — an incremental re-build of the SAME
    * suite — remains fine: the per-(shingle, suite) distinct absorbs
    * the overlap.) */
  def contaminationState(
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      suite: String
  ): ContaminationState =
    ContaminationState(
      shingleSets(benchmark, idCol, textCol, n)
        .select(col("shingle")).distinct()
        .withColumn("shingle_n", lit(n))
        .withColumn("suite_id", lit(suite)))

  /** Fold a new eval suite into a [[ContaminationState]]: the shingle
    * set is monotone, so the union state is one distinct over the two
    * slivers — per (shingle, suite_id), so a shingle two suites share
    * keeps BOTH provenance rows (each ≤ suite-sized; the aggregate
    * apply re-distincts on the shingle alone and is unaffected).
    * Refuses mismatched frozen widths (2-gram and 3-gram sets measure
    * different things; an empty side adopts the other's width) and
    * states persisted before the provenance column (rebuild once with
    * [[contaminationState]] — suites are sliver-sized). */
  def contaminationStateMerge(
      a: ContaminationState,
      b: ContaminationState
  ): ContaminationState = {
    (a.shingleN, b.shingleN) match {
      case (Some(x), Some(y)) =>
        require(x == y, s"cannot merge contamination states of different " +
          s"shingle widths ($x vs $y) — rebuild one at the other's width")
      case _ => ()
    }
    Seq(a, b).foreach { st =>
      require(st.shingles.columns.contains("suite_id"),
        "state carries no suite_id provenance (persisted by a pre-" +
          "provenance library version) — rebuild it with " +
          s"contaminationState; got ${st.shingles.columns.toSeq}")
    }
    ContaminationState(
      a.shingles.unionByName(b.shingles)
        .select("shingle", "shingle_n", "suite_id")
        .distinct())
  }

  /** Apply a frozen [[ContaminationState]] to a corpus shard — the
    * steady-state ingest form of [[contamination]] (identical semantics;
    * that convenience wrapper IS
    * `contaminationAgainst(contaminationState(benchmark), corpus)`):
    * per-doc fraction of distinct n-gram shingles appearing anywhere in
    * the frozen eval suite. The state broadcasts (sliver-sized) and the
    * shard streams through a map-side left probe — shard shingles never
    * shuffle; the only shuffle is the final doc-keyed aggregate. `n`
    * must match the state's frozen width. Micro-batches stream through
    * `foreachBatch` (shards decompose — the probe is per-row). */
  def contaminationAgainst(
      state: ContaminationState,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2
  ): DataFrame = {
    require(Seq("shingle", "shingle_n").forall(state.shingles.columns.contains),
      s"state must carry (shingle, shingle_n), got ${state.shingles.columns.toSeq}")
    state.shingleN.foreach { sn =>
      require(sn == n,
        s"state was built with n = $sn, apply called with n = $n")
    }
    val cs = shingleSets(shard, idCol, textCol, n)
    // re-distinct defensively: the state layout is "plain parquet", so a
    // hand-unioned state (bypassing contaminationStateMerge) could carry
    // duplicate shingles, and a non-distinct probe side would silently
    // double-count matches; on a well-formed state this is a no-op agg
    // over the sliver
    val bs = broadcast(state.shingles.select(col("shingle")).distinct())
      .withColumn("__hit", lit(1L))
    // state side is distinct ⇒ the left join preserves shard-shingle
    // multiplicity exactly; count/sum then aggregate per doc map-side first
    cs.join(bs, Seq("shingle"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .withColumn(
        "contamination",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
  }

  /** Per-SUITE contamination attribution — the answer to "WHICH
    * benchmark leaked": for every (corpus doc, suite) pair with at least
    * one shared shingle, the fraction of the doc's distinct n-gram
    * shingles appearing in THAT suite. The state must carry `suite_id`
    * provenance ([[contaminationState]] stamps it; merged states keep
    * per-suite rows) — a pre-provenance state refuses loudly. Pick a
    * per-doc "worst suite" downstream with a max/row_number over
    * `contamination`; [[contaminationAgainst]] remains the aggregate
    * (any-suite) measure and is NOT the per-suite sum (a shingle shared
    * by two suites counts once there, once per suite here).
    *
    * Scale shape: identical to the aggregate apply — the (shingle,
    * suite) sliver broadcasts, shard shingles stream through a map-side
    * probe (inner join: only hits survive to the shuffle), and two
    * doc-keyed aggregates (total + per-suite hits) meet in one id-keyed
    * join. Only suites a doc actually touches produce rows, so the
    * output is hits-sized, not |docs|·|suites|.
    *
    * PRECONDITION: the shard frame must be DETERMINISTIC — it is
    * evaluated twice (the totals aggregate and the hits probe); a
    * nondeterministic source (unseeded sample, changing view) could
    * count totals over one row set and hits over another. */
  def contaminationBySuite(
      state: ContaminationState,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2
  ): DataFrame = {
    require(Seq("shingle", "shingle_n", "suite_id")
        .forall(state.shingles.columns.contains),
      "state must carry (shingle, shingle_n, suite_id) — a pre-provenance " +
        "state has no suite attribution; rebuild it with " +
        s"contaminationState. Got ${state.shingles.columns.toSeq}")
    state.shingleN.foreach { sn =>
      require(sn == n,
        s"state was built with n = $sn, apply called with n = $n")
    }
    // UNSTAGED two consumers (totals + hits), by measurement: at 500k
    // docs staged/unstaged is 9.9/5.3 s — checkpoint-writing the exploded
    // shingle table costs ~2x re-deriving the codegen'd tokenize+shingle
    // projection from the scan for the second consumer (the
    // removeDupSpans staging lesson, fourth confirmation; BENCH_NOTES
    // "Round-15: leakage-split frozen-state dividend")
    val cs = shingleSets(shard, idCol, textCol, n)
    // defensive re-distinct per (shingle, suite): a hand-unioned state
    // could carry duplicate rows that would double-count that suite's hits
    val bs = broadcast(state.shingles.select(col("shingle"), col("suite_id")).distinct())
    val totals = cs.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val hits = cs.join(bs, Seq("shingle"))
      .groupBy("id", "suite_id")
      .agg(count(lit(1)).as("n_contaminated"))
    hits.join(totals, Seq("id"))
      .select(col("id"), col("suite_id"), col("n_shingles"),
        col("n_contaminated"),
        (col("n_contaminated").cast("double") /
          col("n_shingles").cast("double")).as("contamination"))
  }

  /** Decontamination SCRUB — the action step that completes the Lee et
    * al. pipeline for docs worth keeping: instead of flagging/dropping a
    * contaminated document ([[contaminationAgainst]] + a threshold),
    * remove the contaminated SPANS themselves. Every `state.shingleN`
    * -token window of a shard document whose shingle appears anywhere in
    * the frozen eval-suite state is masked (EVERY occurrence — suite
    * text must not survive at all, the [[removeDupLines]]
    * `keepFirst = false` boilerplate rule, not the span family's
    * first-occurrence rule), and the cleaned text is rebuilt from the
    * unmasked tokens exactly as in [[removeDupSpans]] (same shared
    * tail): (id, n_tokens, n_removed, text_clean) in [[TextOps.tokens]]
    * normalization. Flag/scrub consistency is spec-pinned: a doc has
    * `n_removed > 0` here iff [[contaminationAgainst]] reports
    * `n_contaminated > 0` (a distinct shingle is in the suite iff some
    * window occurrence of it is). An EMPTY state scrubs nothing (docs
    * pass through in output shape, `n_removed = 0`), matching the
    * aggregate form's "empty suite ⇒ zero contamination".
    *
    * Scale shape: the suite sliver broadcasts and the shard's window
    * explode streams through a map-side LEFT SEMI probe — no corpus-side
    * shuffle at all before the (id)-keyed mask aggregate; the rebuild is
    * the one `array_except` hash-set projection. Note the scrub matches
    * on the RAW shingle strings the state already stores (no md5 —
    * the state is the fingerprint), so one persisted state serves flag,
    * attribution, and scrub.
    *
    * PRECONDITION: the shard frame must be DETERMINISTIC — it is
    * evaluated twice (the window explode and the rebuild side of the
    * mask join); a nondeterministic source (unseeded sample, changing
    * view) could rebuild text inconsistent with the mask. */
  def decontaminate(
      state: ContaminationState,
      shard: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val t = shard
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
    state.shingleN match {
      case None => // empty suite: nothing to scrub, output shape kept
        t.select(col("id"),
          size(col("toks")).cast("long").as("n_tokens"),
          lit(0L).as("n_removed"),
          concat_ws(" ", col("toks")).as("text_clean"))
      case Some(width) =>
        val wins = t
          .select(col("id"),
            posexplode(TextOps.wordShingles(col("toks"), width))
              .as(Seq("pos", "win")))
          .select(col("id"), col("pos").cast("long").as("pos"), col("win"))
        val bs = broadcast(state.shingles.select(col("shingle").as("win")).distinct())
        val masked = wins.join(bs, Seq("win"), "left_semi")
        rebuildFromMasked(t, masked, width)
    }
  }

  /** Per-SUITE decontamination report — which benchmark's spans the
    * scrub cut: for every (shard doc, suite) pair, the count of token
    * positions that suite's windows mask (`n_removed`, the number of
    * tokens [[decontaminate]] would remove if that suite were the whole
    * state). Hits-sized like [[contaminationBySuite]]: only (doc, suite)
    * pairs with ≥ 1 masked position produce a row — absence of a row
    * means "this suite cut nothing from this doc", NOT a missing doc.
    * Per-suite counts OVERLAP where suites share windows: the union of
    * the per-suite masks is [[decontaminate]]'s `n_removed`, not their
    * sum (spec-pinned). An empty state reports nothing.
    *
    * Scale shape: the (window, suite) sliver broadcasts, the shard's
    * window explode streams through a map-side INNER probe (only hits
    * survive to the shuffle), and one (id, suite)-keyed distinct+agg
    * counts each suite's masked positions — hits-sized all the way
    * down. Same shard-determinism precondition as [[decontaminate]]
    * does not apply: the shard is evaluated ONCE here. */
  def decontaminateBySuite(
      state: ContaminationState,
      shard: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    require(state.shingles.columns.contains("suite_id"),
      "state carries no suite_id provenance (persisted by a pre-" +
        "provenance library version) — rebuild it with " +
        s"contaminationState; got ${state.shingles.columns.toSeq}")
    state.shingleN match {
      case None => // empty state: nothing was cut from anything
        shard.select(col(idCol).as("id"), lit("").as("suite_id"),
          lit(0L).as("n_removed")).limit(0)
      case Some(width) =>
        val wins = shard
          .select(col(idCol).as("id"),
            posexplode(TextOps.wordShingles(
              TextOps.tokens(col(textCol)), width)).as(Seq("pos", "win")))
          .select(col("id"), col("pos").cast("long").as("pos"), col("win"))
        // defensive per-(window, suite) distinct, as in contaminationBySuite
        val bs = broadcast(state.shingles
          .select(col("shingle").as("win"), col("suite_id")).distinct())
        wins.join(bs, Seq("win"))
          .select(col("id"), col("suite_id"),
            explode(sequence(col("pos"), col("pos") + lit(width - 1)))
              .as("p"))
          .distinct() // a position two windows of one suite cover counts once
          .groupBy("id", "suite_id")
          .agg(count(lit(1)).as("n_removed"))
    }
  }

  /** Corpus snapshot diff: classify every document id across two corpus
    * versions as added / removed / changed / unchanged by comparing
    * content fingerprints — the audit step between ingestion runs ("what
    * did yesterday's crawl actually change?") that catches silent
    * re-crawl churn before it pollutes dedup statistics.
    *
    * Scale shape: one narrow (id, md5) projection per side, ONE full
    * outer join keyed on the id, then a keyed count — no content ever
    * shuffles (the fingerprint is computed inside each scan projection).
    * Returns (status, n_docs), statuses in fixed order added / changed /
    * removed / unchanged (absent statuses have no row).
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    def fp(df: DataFrame, name: String) = df.select(
      col(idCol).as("__id"), md5(col(textCol)).as(name))
    fp(oldDf, "__fpo").join(fp(newDf, "__fpn"), Seq("__id"), "full_outer")
      .select(
        when(col("__fpo").isNull, "added")
          .when(col("__fpn").isNull, "removed")
          .when(col("__fpo") === col("__fpn"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Cross-source overlap matrix: for every pair of sources, the count of
    * DISTINCT n-gram shingles they share and the overlap coefficient
    * |A∩B| / min(|A|, |B|) — the corpus-quality diagnostic that surfaces
    * mirrored crawls, syndicated feeds, and benchmark bleed between
    * ingestion sources before any per-document dedup runs.
    *
    * Scale shape: ONE shingle pass collapsed to distinct (source,
    * shingle) rows (the per-shingle join fan-out is bounded by #sources²,
    * not doc-frequency² — source granularity IS the valve); the staged
    * shingle-set table feeds the per-source sizes and both sides of the
    * pair join; per-source sizes broadcast (the source dimension is
    * small by construction). Overlap is a single exact-int division.
    */
  def sourceOverlap(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      n: Int = 2
  ): DataFrame = {
    val s = shingleSets(df, sourceCol, textCol, n).distinct().staged
    val sizes = s.groupBy(col("id")).agg(count(lit(1)).as("__nsh"))
    val shared = s.select(col("id").as("source1"), col("shingle"))
      .join(s.select(col("id").as("source2"), col("shingle")), Seq("shingle"))
      .filter(col("source1") < col("source2"))
      .groupBy("source1", "source2")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("id").as("source1"), col("__nsh").as("__n1"))),
        Seq("source1"))
      .join(broadcast(sizes.select(col("id").as("source2"), col("__nsh").as("__n2"))),
        Seq("source2"))
      .select(col("source1"), col("source2"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("__n1"), col("__n2")))
          .as("overlap"))
  }

  /** Default SimHash width: bit k of the signature is the sign of
    * Σ_tokens (±1 by bit k of the token hash). 16 bits keeps the signature
    * arithmetic oracle-friendly; [[simhashPairs]] at corpus scale should use
    * `bits = 32` (wider buckets — see the Scaladoc there). */
  val SimhashBits = 16

  /** SimHash signature per document: ONE narrow codegen'd pass over the
    * token array ([[graft.functions.SimhashArr]] inside a generator) —
    * no explode of the token table, NO shuffle anywhere (the old shape
    * shuffled every (id, token-hash) row into a 16-aggregate groupBy; a
    * SimHash is a per-doc-computable value, so that exchange carried
    * |tokens| rows for nothing — removed, r16 guide §2.4). Identical
    * rows: a doc with no tokens emits no row (the generator's empty
    * array = the old explode's no-rows), every bit matches the old
    * aggregate exactly. Bit k (k < bits ≤ 32) is taken from bit k of
    * the 32-bit token hash, so narrowing `bits` is a pure truncation —
    * the default 16-bit signature is the low half of the 32-bit one. */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = SimhashBits): DataFrame = {
    require(bits >= 1 && bits <= 32, s"simhash bits must be in [1,32], got $bits")
    df.select(col(idCol).as("id"),
      explode(graft.functions.SimhashArr(
        TextOps.tokens(col(textCol)), bits)).as("simhash"))
  }

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`,
    * found by bit-band LSH (Manku et al., WWW 2007 shape): split the
    * signature into `maxHamming + 1` equal bit bands — any two signatures
    * within the distance agree exactly on at least one band (pigeonhole),
    * so a (band, band-bits) equi-self-join has PERFECT recall and the
    * verify step (`bit_count(s1 ^ s2)`, codegen'd) makes precision exact.
    * With `maxBucketSize = None` there is no approximation anywhere: the
    * result equals the brute-force all-pairs filter (the q72 oracle pins
    * exactly that configuration). The DEFAULT cap trades recall for
    * boundedness: a band whose bucket exceeds the cap is skipped, dropping
    * any candidate pair whose ONLY agreeing band saturated — within-class
    * (hamming-0) pairs always survive via the signature-class expansion
    * below, which never goes through the banded join.
    *
    * Scale shape mirrors [[minhashPairs]]: docs collapse to one
    * representative per DISTINCT signature before banding (identical-doc
    * classes contribute one row to the join, not O(class²)); candidates,
    * verification, and re-expansion are all keyed equi-joins; residual hot
    * buckets are capped by `maxBucketSize`. One structural caveat the
    * MinHash path doesn't have: a band holds `bits / (maxHamming+1)` bits,
    * so the bucket key space is only 2^bandBits — narrow signatures
    * saturate buckets on large corpora, which is why the DEFAULT here is
    * the full 32-bit signature (256 buckets/band at maxHamming 3), not
    * the 16-bit [[SimhashBits]] the q34 oracle pins. Production systems
    * widen further (64-bit sigs), which the md5-derived 32-bit token hash
    * can't express without a second hash column — documented trade-off
    * for oracle bit-compatibility.
    *
    * Returns (id1, id2, hamming), id1 < id2. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bits: Int = 32,
      maxBucketSize: Option[Long] = Some(DefaultMaxBucketSize)
  ): DataFrame = {
    val nBands = maxHamming + 1
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    require(bits % nBands == 0,
      s"bits ($bits) must be divisible by maxHamming + 1 ($nBands) for equal bit bands")
    // lazy local checkpoint, not persist: the signature table is read three
    // times (reps + both expansion joins) so it must materialize once, but a
    // CacheManager entry would outlive the call (nobody can unpersist a
    // lazily-returned frame). Checkpoint blocks are context-cleaner-released
    // once the result frame is dropped.
    val sigs = simhash(df, idCol, textCol, bits).staged
    hammingPairsStaged(sigs, "id", "simhash", bits, maxHamming, maxBucketSize)
  }

  /** Hamming near-duplicate pairs over ANY precomputed hash column
    * (simhash, image aHash, audio fingerprint): banded LSH with the
    * pigeonhole guarantee — split into maxHamming+1 equal bit bands; any
    * pair within distance maxHamming agrees on ≥1 whole band, so recall
    * is exact (modulo the bucket valve). Same candidate/verify/expansion
    * structure as [[simhashPairs]] (which delegates here).
    *
    * Output-size caveat: the signature-class collapse keeps the banded
    * JOIN linear in distinct hashes, but the final expansion returns the
    * contract's ALL-PAIRS answer — a corpus of k-member duplicate
    * classes has O(k²) true pairs per class (measured: 500k docs with
    * 256 distinct hashes is a correct ~0.5-billion-row result). The
    * production shape: run EXACT dedup first ([[exactGroups]] keep-one)
    * so identical-content classes collapse to one
    * representative, then near-dup pairs over the uniques — the
    * remaining pair set is the genuine near-duplicate graph, not the
    * within-class quadratic blow-up. */
  def hammingPairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      bits: Int,
      maxHamming: Int,
      maxBucketSize: Option[Long] = Some(DefaultMaxBucketSize)
  ): DataFrame = {
    val nBands = maxHamming + 1
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    require(bits % nBands == 0,
      s"bits ($bits) must be divisible by maxHamming + 1 ($nBands) for equal bit bands")
    hammingPairsStaged(
      df.select(col(idCol).as("id"), col(hashCol).as("simhash")).staged,
      "id", "simhash", bits, maxHamming, maxBucketSize)
  }

  private def hammingPairsStaged(
      sigs: DataFrame,
      idName: String,
      hashName: String,
      bits: Int,
      maxHamming: Int,
      maxBucketSize: Option[Long]
  ): DataFrame = {
    val nBands = maxHamming + 1
    val w = bits / nBands
    // signature-class collapse: identical docs (and distinct docs that
    // happen to collide on all bits — hamming 0 by definition) enter the
    // banded join as ONE representative row
    val reps = sigs.groupBy(hashName).agg(min(col(idName)).as(idName))
    val bandCols = (0 until nBands).map { b =>
      struct(
        lit(b).as("band"),
        (shiftright(col(hashName), b * w) % lit(1L << w)).as("bucket"))
    }
    val bk0 = reps
      .select(col(idName), col(hashName), explode(array(bandCols: _*)).as("bb"))
      .select(col(idName), col(hashName), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val bk = maxBucketSize match {
      case None => bk0
      case Some(cap) =>
        val ok = bk0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") <= cap)
          .select("band", "bucket")
        bk0.join(ok, Seq("band", "bucket"), "left_semi")
    }
    // candidate = share any band; verify = exact popcount of the XOR —
    // both sigs ride along with the band rows, so no join back to reps
    val repPairs = bk.as("a")
      .join(bk.as("b"), Seq("band", "bucket"))
      .filter(col(s"a.$idName") < col(s"b.$idName"))
      .select(
        col(s"a.$idName").as("rid1"), col(s"b.$idName").as("rid2"),
        col(s"a.$hashName").as("s1"), col(s"b.$hashName").as("s2"))
      .distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
    // expansion: every member of each signature class inherits its
    // representative's verified pairs; within-class pairs are hamming 0
    val memb = sigs
    val cross = repPairs
      .join(memb.select(col(hashName).as("s1"), col(idName).as("__ida")), "s1")
      .join(memb.select(col(hashName).as("s2"), col(idName).as("__idb")), "s2")
      .select(
        least(col("__ida"), col("__idb")).as("id1"),
        greatest(col("__ida"), col("__idb")).as("id2"),
        col("hamming"))
    val within = memb.as("x")
      .join(memb.as("y"),
        col(s"x.$hashName") === col(s"y.$hashName") && col(s"x.$idName") < col(s"y.$idName"))
      .select(col(s"x.$idName").as("id1"), col(s"y.$idName").as("id2"), lit(0).as("hamming"))
    cross.unionAll(within)
  }

  /** Edit-distance near-duplicate pairs: shingle-Jaccard candidate
    * generation at a recall-oriented low threshold, verified by EXACT
    * Levenshtein distance — the classic candidate-then-verify fuzzy dedup
    * (set similarity finds the pairs cheaply; edit distance is the precise
    * metric you actually wanted but cannot afford corpus×corpus).
    *
    * Scale shape: candidates inherit [[jaccardPairs]]'s bounded keyed-join
    * shape; the Levenshtein verify is per-pair O(len²) via the codegen'd
    * built-in — bound document length upstream ([[TextOps.chunkDocs]] or a
    * truncating projection) when docs can be megabyte-sized.
    *
    * SIZE THE VALVE TO THE CORPUS: candidate fan-out is Σ freq²/2 over
    * surviving shingles, so `maxShingleDocFreq` must sit well below the
    * shard's doc count. The default (1000) fits Zipfian text where only
    * stopword bigrams are hot; a dense/small-vocabulary corpus (every
    * bigram shared by 5–10% of docs) needs a much lower cap or a larger
    * `n` — measured: the ~50-word-vocabulary testdata at 500k docs
    * produces 3.6B candidates under the default cap and 10⁵ under 100.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int,
      n: Int = 2,
      candidateJaccard: Double = 0.3,
      maxShingleDocFreq: Option[Long] = Some(DefaultMaxShingleDocFreq)
  ): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val cands = jaccardPairs(df, idCol, textCol, n, candidateJaccard, maxShingleDocFreq)
    val txt = df.select(col(idCol).as("id"), col(textCol).as("__t"))
    cands.select("id1", "id2")
      .join(txt.select(col("id").as("id1"), col("__t").as("t1")), "id1")
      .join(txt.select(col("id").as("id2"), col("__t").as("t2")), "id2")
      .select(col("id1"), col("id2"),
        levenshtein(col("t1"), col("t2")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /** MOSS-style containment pairs over winnowing fingerprints (Schleimer
    * et al. 2003, the fingerprint layer [[TextOps.winnowFingerprints]]
    * already provides): score = |FP(a) ∩ FP(b)| / min(|FP(a)|, |FP(b)|).
    * Containment catches ASYMMETRIC duplication — a short doc quoted or
    * embedded verbatim inside a much longer one scores ≈ 1 here while its
    * Jaccard (intersection over UNION) is tiny and slips under every
    * jaccard/minhash threshold. The standard boilerplate/quote detector.
    *
    * Scale shape mirrors [[jaccardPairs]]: fingerprints are narrow per-row
    * projections, candidate generation is a key-equi self-join on the
    * fingerprint value with a hot-fingerprint valve (`maxFpDocFreq`)
    * bounding fan-out, and true per-doc sizes come from a pre-valve count
    * so the valve only costs recall on ubiquitous fingerprints, never
    * score accuracy.
    *
    * PRECONDITION: `idCol` unique (same as [[shingleSets]] — duplicate ids
    * would inflate the per-id fingerprint sets and deflate scores).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      threshold: Double = 0.5,
      maxFpDocFreq: Option[Long] = Some(DefaultMaxShingleDocFreq)
  ): DataFrame = {
    // materialize the (id, fps-array) frame BEFORE exploding: Generate
    // inlines its single-use generator input, which would collapse the
    // winnow staging and re-evaluate the k-gram hash array per window
    // element (the O(n²) blowup winnowFingerprints stages against —
    // measured 78 s vs 0.3 s on the sf0.01 corpus). A lazy staged truncation
    // is the collapse barrier (LogicalRDD is opaque to the optimizer) and,
    // unlike persist, leaves no CacheManager entry behind: blocks are
    // context-cleaner-released once the result frame is dropped.
    val fpArr = TextOps.winnowFingerprints(df, idCol, textCol, k, w)
      .staged
    val fps = fpArr.select(col("id"), explode(col("fps")).as("fp")) // distinct per doc
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("nfp"))
    val keyed = maxFpDocFreq match {
      case None => fps
      case Some(cap) =>
        val ok = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("fp")
        fps.join(ok, Seq("fp"), "left_semi")
    }
    keyed.as("a").join(keyed.as("b"), Seq("fp"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("id1"), col("nfp").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("nfp").as("n2")), "id2")
      .withColumn("containment",
        col("common").cast("double") / least(col("n1"), col("n2")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "common", "containment")
  }

  /** Duplicated token-span detection — the substring-level dedup signal of
    * Lee et al. 2022 (arXiv:2107.06499, "Deduplicating Training Data Makes
    * Language Models Better"), re-shaped for Spark: instead of a corpus
    * suffix array (inherently sequential), hash every `width`-token sliding
    * window and mark a window duplicated when its text occurs more than
    * once corpus-wide (including a second time inside the same document).
    * Per document: total windows, duplicated windows, duplicated fraction —
    * the standard "what share of this doc is boilerplate" filter signal.
    *
    * Scale shape: the window explode is narrow (no shuffle); the occurrence
    * count is one hash groupBy on the md5 window fingerprint with map-side
    * partial aggregation, and the count attach is a key-equi join on the
    * same fingerprint (AQE broadcasts it when the distinct-window set is
    * genuinely small). Nothing touches the driver; no corpus×corpus step.
    * md5 (128-bit) keeps the fingerprint collision-free and bit-identical
    * to the SQL oracle.
    */
  def dupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8
  ): DataFrame = {
    require(width >= 2, s"width must be >= 2, got $width")
    val t = df.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
    // multiplicity preserved (wordShingles has no distinct): a window
    // repeated inside one doc is duplicated by definition
    val wins = t.select(col("id"),
        explode(TextOps.wordShingles(col("toks"), width)).as("win"))
      // internal key: md5 bytes, not hex (r16 guide §2.3)
      .select(col("id"), unhex(md5(col("win"))).as("k"))
    val counts = wins.groupBy("k").agg(count(lit(1)).as("__c"))
    val perDoc = wins.join(counts, "k")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup"))
    t.select(col("id")).join(perDoc, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_windows"), lit(0L)) > 0,
          col("n_dup").cast("double") / col("n_windows").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Exact-substring dedup with span REMOVAL — the action step of Lee et
    * al. 2022 (arXiv:2107.06499 §3: delete all but one occurrence of any
    * `width`-token span that repeats corpus-wide) on [[dupSpans]]'s
    * fingerprint algebra. Each `width`-token sliding window is
    * md5-fingerprinted; for a fingerprint occurring more than once
    * (including twice inside one document) the FIRST occurrence — smallest
    * (doc id, start position) — survives, and every other occurrence masks
    * its `width` token positions. A document's cleaned text is its tokens
    * with all masked positions dropped, space-joined — in [[TextOps.tokens]]
    * normalization (lowercased, whitespace-split), so `text_clean` is a
    * token stream for downstream pipeline stages, not a byte-faithful edit
    * of the original. Documents shorter than `width` tokens pass through
    * unchanged modulo that normalization.
    *
    * Returns (id, n_tokens, n_removed, text_clean); `n_removed` counts
    * dropped token positions, so `n_removed = 0` ⇔ `text_clean` is the
    * space-joined original.
    *
    * Scale shape: the window explode is narrow (no shuffle); duplicated
    * fingerprints come from one hash groupBy; the first-occurrence pick is
    * `min(struct(id, pos))` in that SAME aggregate — never a rank window,
    * so a boilerplate span occurring 10⁸ times corpus-wide costs one
    * hash-agg cell, not a hot sorted partition. Masked positions flow back
    * through one (id)-keyed aggregate into a per-doc position set
    * (bounded by the doc's own token count), and reconstruction is one
    * `array_except` projection — O(tokens + masked) per row via its
    * hash-set build, no per-token array scan. Nothing corpus-sized
    * reaches the driver.
    *
    * Reference: the detection half mirrors `dupSpans`
    * (Lee et al. 2022); removal semantics follow the paper's
    * keep-one-occurrence rule with (id, pos) order as "first". */
  def removeDupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8
  ): DataFrame = {
    require(width >= 2, s"width must be >= 2, got $width")
    // the tokenized corpus feeds three consumers (window explode for the
    // duplicate agg, window explode for the mask join, rebuild join) and
    // is deliberately NOT staged, by measurement (BENCH_NOTES r12,
    // min-statistic): at 5M docs staged/unstaged is 208.9/115.3 s (w=5)
    // and 168.6/95.1 s (w=8) — re-deriving the codegen'd tokenize
    // projection from the scan beats checkpoint-writing the tokenized
    // corpus ~1.8× (the rank-1-MF / token-budget-base lesson, third
    // confirmation); at 500k docs the gap is ~10% the same way, and the
    // ingest mode is staging-insensitive (48.9 vs 47.0 s — its tokenized
    // SHARD is small). In reliable checkpoint mode staging would also
    // write the whole tokenized corpus to the checkpoint dir per call —
    // the dominant I/O at 100 TB.
    val t = df
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
    val wins = t
      .select(col("id"),
        posexplode(TextOps.wordShingles(col("toks"), width))
          .as(Seq("pos", "win")))
      // internal key: md5 BYTES, not hex — same fingerprint, half the
      // key bytes on the window exchange (r16 guide §2.3; the against
      // form keeps hex to match persisted spanFingerprints state)
      .select(col("id"), col("pos").cast("long").as("pos"),
        unhex(md5(col("win"))).as("k"))
    // duplicated fingerprints + their first occurrence, ONE aggregate
    val firsts = wins.groupBy("k")
      .agg(count(lit(1)).as("__c"),
        min(struct(col("id"), col("pos"))).as("__first"))
      .filter(col("__c") > 1)
      .select(col("k"), col("__first.id").as("__fid"),
        col("__first.pos").as("__fpos"))
    val masked = wins
      .join(firsts, "k")
      .filter(!(col("id") === col("__fid") && col("pos") === col("__fpos")))
    rebuildFromMasked(t, masked, width)
  }

  /** Distinct md5 fingerprints of every `width`-token sliding window — the
    * persistable corpus state for [[removeDupSpansAgainst]] (write it
    * partitioned/bucketed by `fp`; refresh it as the corpus grows by
    * unioning the new shard's fingerprints and re-distincting — the
    * [[dedupAgainst]] ingest pattern). One narrow explode + one distinct
    * hash agg; nothing corpus-sized is collected. Returns one `fp`
    * column. */
  def spanFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8
  ): DataFrame = {
    require(width >= 2, s"width must be >= 2, got $width")
    df.select(TextOps.tokens(col(textCol)).as("toks"))
      .select(explode(TextOps.wordShingles(col("toks"), width)).as("win"))
      .select(md5(col("win")).as("fp"))
      .distinct()
  }

  /** Incremental-ingest form of [[removeDupSpans]]: clean a NEW shard
    * against an existing corpus's span-fingerprint set
    * ([[spanFingerprints]] output, column `fp`). A shard window is
    * removed when its fingerprint exists in the corpus (the corpus
    * already holds that span — EVERY shard occurrence is masked), or
    * when it repeats within the shard itself (the shard's first
    * (id, pos) occurrence survives, the [[removeDupSpans]] rule). With
    * an empty fingerprint table this is exactly `removeDupSpans(shard)`.
    * Returns the shard in (id, n_tokens, n_removed, text_clean) shape;
    * corpus documents are not touched or returned.
    *
    * Scale shape: the corpus contributes ONE key-equi join on the
    * fingerprint (shuffled hash join on `fp`; bucketed corpus state
    * joins without a corpus-side shuffle); the within-shard rule is the
    * same single hash agg as [[removeDupSpans]] — shard-sized, not
    * corpus-sized. `corpusFps` rows are TRUSTED distinct (the
    * [[spanFingerprints]] contract; keep it by re-distincting on
    * refresh) — no defensive re-distinct runs here, and a violated
    * contract only inflates the mask explode (collect_set dedups
    * downstream), never changes the result. Persist the state bucketed
    * by `fp` ([[graft.sources.ScaleOps.writeBucketed]]) and the per-shard
    * join needs no corpus-side shuffle at all. */
  def removeDupSpansAgainst(
      corpusFps: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8
  ): DataFrame = {
    require(width >= 2, s"width must be >= 2, got $width")
    require(corpusFps.columns.contains("fp"),
      "corpusFps must carry the spanFingerprints 'fp' column")
    // unstaged tokens, as in [[removeDupSpans]] (BENCH_NOTES r12)
    val t = newDocs
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
    val wins = t
      .select(col("id"),
        posexplode(TextOps.wordShingles(col("toks"), width))
          .as(Seq("pos", "win")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        md5(col("win")).as("k"))
    val firsts = wins.groupBy("k")
      .agg(count(lit(1)).as("__c"),
        min(struct(col("id"), col("pos"))).as("__first"))
      .filter(col("__c") > 1)
      .select(col("k"), col("__first.id").as("__fid"),
        col("__first.pos").as("__fpos"))
    // corpusFps is TRUSTED distinct (the spanFingerprints contract — its
    // own `.distinct()` is the state's construction step). No defensive
    // re-distinct here: with fp-bucketed state that agg would be a free
    // pass, but on plain state it is one corpus-sized hash agg PER SHARD.
    // Duplicate fps cannot change the result anyway — they only duplicate
    // masked (id, pos) rows, which the rebuild's collect_set dedups —
    // so a violated contract costs inflation, never correctness.
    val masked = wins
      .join(corpusFps.select(col("fp").as("k"), lit(true).as("__inC")),
        Seq("k"), "left")
      .join(firsts, Seq("k"), "left")
      .filter(coalesce(col("__inC"), lit(false)) ||
        (col("__fid").isNotNull &&
          !(col("id") === col("__fid") && col("pos") === col("__fpos"))))
    rebuildFromMasked(t, masked, width)
  }

  /** Shared tail of the span-removal family: expand masked window
    * occurrences (id, pos) to per-doc position sets and rebuild each
    * doc's cleaned text from the unmasked tokens (`array_except` — one
    * hash-set pass per row). */
  private def rebuildFromMasked(
      t: DataFrame,
      masked: DataFrame,
      width: Int
  ): DataFrame = {
    val masks = masked
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(width.toLong - 1)))
          .as("mp"))
      .groupBy("id")
      .agg(collect_set(col("mp")).as("__mask"))
    t.join(masks, Seq("id"), "left")
      .select(col("id"), col("toks"),
        coalesce(col("__mask"), array().cast("array<long>")).as("__mask"))
      .withColumn("__kept",
        when(size(col("toks")) === 0, array().cast("array<long>"))
          .otherwise(array_except(
            sequence(lit(0L), size(col("toks")).cast("long") - 1L),
            col("__mask"))))
      .select(
        col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("__kept"))).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("__kept"),
            p => element_at(col("toks"), (p + 1L).cast("int")))).as("text_clean"))
  }

  // ------------------------------------------------------------------
  // Line/paragraph-granularity exact dedup (RefinedWeb / Dolma style)
  // ------------------------------------------------------------------

  /** Exact LINE-level dedup with removal — the RefinedWeb/Dolma curation
    * step (Penedo et al. 2023 §G; Soldaini et al. 2024): a text unit
    * ("line" — anything between `delim` occurrences, by default `"\n"`)
    * that repeats corpus-wide at least `minRepeat` times keeps only its
    * first (doc id, position) occurrence (`keepFirst = true`) or is
    * scrubbed from EVERY document (`keepFirst = false` — the boilerplate
    * mode for nav bars / cookie banners). Unlike [[removeDupSpans]] (fixed
    * token windows, token-normalized output) the unit here is variable-
    * length and the reconstruction is byte-faithful: surviving lines keep
    * their original bytes — case, punctuation, inner whitespace — and are
    * re-joined with `delim`. Blank lines (empty or whitespace-only, e.g.
    * paragraph separators) are never fingerprinted and always survive.
    *
    * Returns (id, n_lines, n_removed, text_clean); `n_removed` counts
    * dropped line positions, so `n_removed = 0` ⇔ `text_clean` is the
    * delim-rejoined original.
    *
    * Scale shape (the [[removeDupSpans]] skeleton): the line explode is
    * narrow; duplicated fingerprints and their first occurrence come from
    * ONE hash groupBy (`min(struct(id, pos))` inside the counting agg —
    * never a per-fingerprint rank window, so a cookie banner on 10⁸ pages
    * costs one agg cell); masks flow back through one (id)-keyed agg and
    * the rebuild is one `array_except` hash-set projection. Nothing
    * corpus-sized reaches the driver. */
  def removeDupLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n",
      minRepeat: Int = 2,
      keepFirst: Boolean = true
  ): DataFrame = {
    require(minRepeat >= 2, s"minRepeat must be >= 2, got $minRepeat")
    val t = linesOf(df, idCol, textCol, delim)
    val keyed = lineKeys(t, binaryKey = true) // internal key: see lineKeys
    val dups = keyed.groupBy("k")
      .agg(count(lit(1)).as("__c"),
        min(struct(col("id"), col("pos"))).as("__first"))
      .filter(col("__c") >= minRepeat)
      .select(col("k"), col("__first.id").as("__fid"),
        col("__first.pos").as("__fpos"))
    val masked = keyed.join(dups, "k")
      .filter(
        if (keepFirst)
          !(col("id") === col("__fid") && col("pos") === col("__fpos"))
        else lit(true))
    rebuildLines(t, masked, delim)
  }

  /** Distinct md5 fingerprints of every non-blank line — the persistable
    * corpus state for [[removeDupLinesAgainst]] (the [[spanFingerprints]]
    * pattern: write it bucketed by `fp`, refresh by union + re-distinct).
    * One narrow explode + one distinct hash agg; returns one `fp` column. */
  def lineFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n"
  ): DataFrame =
    lineKeys(linesOf(df, idCol, textCol, delim))
      .select(col("k").as("fp"))
      .distinct()

  /** Incremental-ingest form of [[removeDupLines]]: clean a NEW shard
    * against an existing corpus's line-fingerprint set
    * ([[lineFingerprints]] output, column `fp`). A shard line is removed
    * when its fingerprint exists in the corpus (EVERY shard occurrence is
    * masked — the corpus already carries that line), or when it repeats
    * within the shard at least `minRepeat` times (the shard's first
    * (id, pos) occurrence survives — the [[removeDupLines]] rule;
    * `keepFirst = false` is the BOILERPLATE mode, scrubbing every
    * occurrence of a within-shard repeat exactly like the batch form's
    * flag, so the nav-bar/cookie-banner scrub composes with incremental
    * ingest). With an empty fingerprint table this is exactly
    * `removeDupLines(shard)`. Corpus documents are not touched or
    * returned.
    *
    * Scale shape: the corpus contributes ONE fingerprint-keyed equi join
    * (fp-bucketed state joins without a corpus-side shuffle — the
    * [[removeDupSpansAgainst]] layout); everything else is shard-sized.
    * `corpusFps` rows are TRUSTED distinct (the [[lineFingerprints]]
    * contract); a violated contract only duplicates masked (id, pos) rows,
    * which the rebuild's collect_set dedups — inflation, never a wrong
    * answer. */
  def removeDupLinesAgainst(
      corpusFps: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n",
      minRepeat: Int = 2,
      keepFirst: Boolean = true
  ): DataFrame = {
    require(minRepeat >= 2, s"minRepeat must be >= 2, got $minRepeat")
    require(corpusFps.columns.contains("fp"),
      "corpusFps must carry the lineFingerprints 'fp' column")
    val t = linesOf(newDocs, idCol, textCol, delim)
    val keyed = lineKeys(t)
    val dups = keyed.groupBy("k")
      .agg(count(lit(1)).as("__c"),
        min(struct(col("id"), col("pos"))).as("__first"))
      .filter(col("__c") >= minRepeat)
      .select(col("k"), col("__first.id").as("__fid"),
        col("__first.pos").as("__fpos"))
    val masked = keyed
      .join(corpusFps.select(col("fp").as("k"), lit(true).as("__inC")),
        Seq("k"), "left")
      .join(dups, Seq("k"), "left")
      .filter(coalesce(col("__inC"), lit(false)) ||
        (col("__fid").isNotNull &&
          (if (keepFirst)
            !(col("id") === col("__fid") && col("pos") === col("__fpos"))
          else lit(true))))
    rebuildLines(t, masked, delim)
  }

  /** (id, lines) projection: literal-delimiter split, trailing empty
    * segments KEPT (`limit = -1`) so reconstruction is byte-faithful.
    * NULL text is treated as empty (one blank line — n_lines = 1,
    * n_removed = 0, text_clean = "" — rather than null counters that
    * would silently break the `n_removed = 0 ⇔ unchanged` contract). */
  private def linesOf(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String
  ): DataFrame =
    df.select(col(idCol).as("id"),
      split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(delim), -1).as("lines"))

  /** Fingerprinted non-blank line occurrences: (id, pos, k). Blank lines
    * never enter the dup algebra (always survive). `binaryKey` shuffles
    * the 16-byte md5 BYTES instead of the 32-char hex string — a
    * bijection of the same fingerprint, so grouping/joins are identical
    * while the dominant exchange of the line family carries half the key
    * bytes (r16, guide §2.3). Only the BATCH form uses it: the
    * against/state forms join persisted [[lineFingerprints]] state,
    * whose hex encoding is frozen on disk. */
  private def lineKeys(t: DataFrame, binaryKey: Boolean = false): DataFrame =
    t.select(col("id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .filter(trim(col("line")) =!= "")
      .select(col("id"), col("pos").cast("long").as("pos"),
        (if (binaryKey) unhex(md5(col("line"))) else md5(col("line"))).as("k"))

  /** Shared tail of the line-removal family: masked (id, pos) occurrences
    * → per-doc position sets → byte-faithful rebuild of surviving lines. */
  private def rebuildLines(
      t: DataFrame,
      masked: DataFrame,
      delim: String
  ): DataFrame = {
    val masks = masked
      .select(col("id"), col("pos"))
      .groupBy("id")
      .agg(collect_set(col("pos")).as("__mask"))
    t.join(masks, Seq("id"), "left")
      .select(col("id"), col("lines"),
        coalesce(col("__mask"), array().cast("array<long>")).as("__mask"))
      .withColumn("__kept",
        when(size(col("lines")) === 0, array().cast("array<long>"))
          .otherwise(array_except(
            sequence(lit(0L), size(col("lines")).cast("long") - 1L),
            col("__mask"))))
      .select(
        col("id"),
        size(col("lines")).cast("long").as("n_lines"),
        (size(col("lines")) - size(col("__kept"))).cast("long").as("n_removed"),
        concat_ws(delim,
          transform(col("__kept"),
            p => element_at(col("lines"), (p + 1L).cast("int"))))
          .as("text_clean"))
  }

  /** [[dedupCorpus]] with a chosen representative: keep the HIGHEST-
    * `priority` member of each near-duplicate cluster (ties → lowest id;
    * null priority = lowest, an all-null cluster degenerates to the
    * min-id rule) instead of the minimum id — the "keep the best copy"
    * curation rule (longest text, highest quality score, freshest
    * crawl). The priority compares in its NATIVE type (no double cast —
    * long priorities above 2⁵³ stay exact). `pairs` is any
    * near-duplicate pair list over `df`'s ids; clusters close
    * transitively via [[duplicateClusters]].
    *
    * Scale shape: clusters are edge-node-sized (never corpus-sized); the
    * representative pick is two cluster-keyed hash aggs + one cluster-keyed
    * join on that small frame (max-priority, then min-id among the tied —
    * an argmax without any window); the corpus itself is touched only by
    * the final id-keyed left-anti join, exactly like [[dedupCorpus]]. */
  def dedupCorpusKeepBest(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      priority: Column
  ): DataFrame = {
    val pr = df.select(col(idCol).as("id"), priority.as("__p"))
    val mem = duplicateClusters(pairs).join(pr, "id")
    // max() ignores nulls, so null priorities can never win; a cluster
    // where EVERY priority is null has a null __bp and falls through to
    // the min-id rule via the isNull arm
    val bestP = mem.groupBy("cluster").agg(max(col("__p")).as("__bp"))
    val keep = mem.join(bestP, "cluster")
      .filter(col("__p") === col("__bp") || col("__bp").isNull)
      .groupBy("cluster")
      .agg(min(col("id")).as("__keep"))
    val drop = mem.join(keep, "cluster")
      .filter(col("id") =!= col("__keep"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }
}
