package graft.pipeline

import graft.Staging.StagedFrame
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (one shuffle-free map +
  * per-query top-k via window). The LSH variant buckets vectors by
  * random-hyperplane signs so at scale only same-bucket pairs are compared —
  * the signature join is a key-equi join, broadcastable on the query side.
  * All arithmetic uses `zip_with`/`aggregate` higher-order functions
  * (codegen'd) — no UDFs.
  */
object Similarity {

  /** Plan-envelope ceiling for driver-collected cell-id lists that become
    * plan predicates (`isInCollection` → an InSet of literals). The design
    * keeps every such list MODEL-SIZED — ≤ k codebook cells for the
    * SemDeDup valves, ≤ |queries|·nprobe for an index probe batch — so
    * the ceiling is never a constraint in the stated envelope; it exists
    * to turn a future misuse (a corpus-sized "codebook", an unbatched
    * million-query probe) into a LOUD message instead of a
    * driver-OOM/codegen-limit surprise deep inside Catalyst. */
  private[graft] val MaxCellLiterals = 65536

  private[graft] def requireModelSizedCells(n: Int, what: String): Unit =
    require(n <= MaxCellLiterals,
      s"$what has $n entries — above the $MaxCellLiterals plan-literal " +
        "envelope (cell lists are collected to the driver and embedded " +
        "in the plan as an InSet); use a model-sized codebook, or batch " +
        "the queries, instead")

  /** Codegen'd native expression (graft.functions.DotProduct): the HOF
    * spelling `aggregate(zip_with(a,b,_*_), 0.0, _+_)` is CodegenFallback
    * and pays interpreted lambda dispatch per element in the similarity
    * hot loops. Accumulation order (ascending, 0.0 seed) is identical, so
    * results are bit-compatible with both the HOF version and the DuckDB
    * oracles' list_sum. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; NULL when either vector has zero norm (no
    * direction, so no angle). A plain division would be 0/0: a
    * DIVIDE_BY_ZERO error under the Spark 4 ANSI default and NULL without
    * it. `try_divide` gives NULL in both modes, so every caller's
    * three-valued `>=` filter or `desc` order treats a degenerate vector
    * as a non-match the same way whatever the session's ANSI setting. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query id.
    *
    * The query set is tiny ⇒ broadcast; the corpus side streams through a
    * broadcast nested-loop join with no shuffle of the corpus. Top-k uses a
    * per-query window (partition count = |queries|, each partition k-bounded).
    */
  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int
  ): DataFrame = {
    val queries = broadcast(
      emb
        .filter(col(idCol).isInCollection(queryIds))
        .select(col(idCol).as("query_id"), col(vecCol).as("qvec")))
    val scored = emb
      .join(queries, col(idCol) =!= col("query_id"))
      .select(
        col("query_id"),
        col(idCol).as("neighbor_id"),
        cosine(col("qvec"), col(vecCol)).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived value in [-0.5, 0.5). Computed on the driver with the
    * exact arithmetic of the SQL oracle's
    * `('0x'||substr(md5(s),1,8))::BIGINT % 1000 / 1000.0 - 0.5`, so the
    * constants are bit-identical cross-engine — but the per-row expression
    * is a single literal array per plane instead of 64 md5 subtrees
    * (the folded-tree version spent more time in planning/codegen than in
    * execution). */
  private def planeComponent(plane: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane_${plane}_dim_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    (java.lang.Long.parseLong(hex, 16) % 1000).toDouble / 1000.0 - 0.5
  }

  /** Sign-LSH bucket signature: bit per hyperplane from sign(v·r_p).
    * The projection folds zip_with products in ascending index order —
    * the same accumulation order as the SQL oracle's list_sum. */
  def lshSignature(vec: Column, dim: Int, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val plane = typedLit((0 until dim).map(i => planeComponent(p, i)).toArray)
      val d = dot(vec, plane)
      when(d >= 0, math.pow(2, p).toLong).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k: compare only vectors sharing the LSH bucket with the
    * query (scale path: bucket join instead of full cross product). Falls
    * back to fewer-than-k results when the bucket is small — the standard
    * recall/cost trade. */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      dim: Int,
      nPlanes: Int = 8
  ): DataFrame = {
    val sig = emb.select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      lshSignature(col(vecCol), dim, nPlanes).as("bucket"))
    val queries = broadcast(
      sig
        .filter(col("id").isInCollection(queryIds))
        .select(col("id").as("query_id"), col("vec").as("qvec"), col("bucket")))
    val scored = sig
      .join(queries, Seq("bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        cosine(col("qvec"), col("vec")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** IVF-style approximate top-k: vectors are assigned to their nearest of
    * C coarse centroids (inverted file cells); queries only scan the
    * `nprobe` nearest cells. Centroids here are the C lowest-id vectors —
    * deterministic and cross-engine reproducible; swap in trained k-means
    * centroids for better recall without changing the plan shape.
    *
    * Scale shape: assignment is one broadcast join (C rows) + argmin,
    * cell scan is a key-equi join on cell id — the corpus shuffles once on
    * cell id, queries broadcast. */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      nCentroids: Int = 16,
      nprobe: Int = 4,
      trainedCentroids: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    // default cells = the C lowest-id vectors (deterministic, oracle-able);
    // pass kmeans(...)._2 as trainedCentroids for better recall at the same
    // plan shape. Cell ids are ORDINAL (0-based, ascending source id), so
    // the tie order matches the previous cent_id-ascending ranking.
    val centArr: Array[Array[Double]] = trainedCentroids.getOrElse(
      emb.orderBy(col(idCol)).limit(nCentroids).select(col(vecCol)).collect()
        .map(_.getSeq[Number](0).toArray.map(_.doubleValue)))
    val cents = broadcast {
      import emb.sparkSession.implicits._
      centArr.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
        .toDF("cent_id", "cvec")
    }
    // nearest centroid per vector: one narrow codegen'd projection — no
    // n·C intermediate rows, no per-id window shuffle
    val assigned = emb
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell",
        graft.functions.VectorExprs.nearestCentroid(col("vec"), centArr))
    // nprobe nearest cells per query
    val wProbe = Window.partitionBy("query_id").orderBy(col("cos_c").desc, col("cent_id").asc)
    val probes = emb
      .filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .join(cents)
      .select(col("query_id"), col("qvec"), col("cent_id"),
        cosine(col("qvec"), col("cvec")).as("cos_c"))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cent_id").as("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qvec"), col("vec")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Exact kNN self-join (all-pairs top-k): for EVERY row, its k nearest
    * corpus neighbors by cosine — the similarity-graph builder behind
    * near-dup clustering, retrieval audits, and diversity scoring. O(n²)
    * by construction: the small-n exactness baseline for [[knnJoin]], not
    * a scale path. Ties → lowest neighbor id (the q35 rank rule).
    * Zero-norm vectors carry no direction and are excluded from the graph
    * entirely (both as queries and as candidates) — cosine against them is
    * NaN/undefined, and [[knnJoin]] applies the same rule, so blocked ≡
    * brute holds on degenerate inputs too. */
  def knnJoinBrute(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val nz = emb.filter(graft.functions.VectorExprs
      .dotProduct(col(vecCol), col(vecCol)) > 0)
    val a = nz.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val b = nz.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    a.join(b, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("vec")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** IVF-blocked kNN self-join: every row is a query; candidates are
    * limited to rows assigned to the query's `nprobe` nearest coarse cells.
    * The corpus-scale similarity-graph shape:
    *
    *  - assignment and probing are both narrow codegen'd projections
    *    ([[graft.functions.VectorExprs.nearestCentroid]] /
    *    [[graft.functions.VectorExprs.nearestCells]] — the centroid matrix
    *    is a plan reference, never n·C intermediate rows, never a window
    *    over the corpus);
    *  - probes explode to n·nprobe rows and meet the assignment in ONE
    *    key-equi join on `cell` (both sides shuffle once, on the cell key);
    *  - top-k runs in per-query windows whose partitions are bounded by
    *    the probed cells' sizes, never the corpus.
    *
    * Default cells are the C lowest-id vectors (deterministic,
    * oracle-able — the [[ivfTopK]] convention); pass [[kmeans]] centroids
    * via `trainedCentroids` for real recall at the same plan shape.
    *
    * Recall recipe (measured, round 10, driver embeddings 2k×64f with
    * 2-iter k-means centroids — weakly clustered; the ×100 near-uniform
    * replica is the worst case and runs ~2-4× lower at equal scan):
    * recall@10 tracks the SCAN FRACTION nprobe/C, and at a fixed scan
    * fraction MORE cells is strictly better (finer quantization): 25 %
    * scan = 0.53 recall at C=16 but 0.66 at C=64; 50 % = 0.78 vs 0.87.
    * Pick C ≈ n/30 (≥16), then nprobe by target:
    *
    *   recall@10 ≥ 0.65 → nprobe ≈ C/4  (25 % scan)
    *   recall@10 ≥ 0.85 → nprobe ≈ C/2  (50 % scan)
    *   recall@10 ≥ 0.93 → nprobe ≈ 5C/8 (62.5 % scan)
    *
    * Wall grows sub-linearly in nprobe until candidate volume dominates.
    * On corpora with REAL cluster structure (the common production case)
    * the same targets land at several-fold smaller scan fractions — q41's
    * reference point is 0.92 recall@5 at 25 % scan; re-measure on your
    * own corpus before committing to a budget: take [[bruteForceTopK]]
    * over a sample of query ids as ground truth, and recall@k is the
    * fraction of its (query_id, neighbor_id) rows that a `left_semi`
    * join finds in this operator's output for the same ids, swept over
    * nprobe. `KnnJoinSpec` pins the C/2 and 5C/8 rows on the fixture
    * corpus the same way (against [[knnJoinBrute]]).
    * `maxCellSize` is the skew valve for degenerate centroid sets (all
    * vectors in one cell ⇒ the join degrades toward n²): oversized cells
    * are excluded from the CANDIDATE side, so results lose those
    * neighbors (conservative ANN behavior) instead of exploding the join.
    * Zero-norm vectors are excluded from BOTH sides (no direction → no
    * cosine): as queries they'd probe no cells anyway (see NearestCells),
    * and as candidates they'd inject NaN/undefined-cos rows — the
    * [[knnJoinBrute]] rule, so blocked ≡ brute holds on degenerate
    * inputs. */
  def knnJoin(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nprobe: Int = 2,
      trainedCentroids: Option[Array[Array[Double]]] = None,
      maxCellSize: Option[Long] = None
  ): DataFrame = {
    val nzEmb = emb.filter(graft.functions.VectorExprs
      .dotProduct(col(vecCol), col(vecCol)) > 0)
    val centArr: Array[Array[Double]] = trainedCentroids.getOrElse(
      nzEmb.orderBy(col(idCol)).limit(nCentroids).select(col(vecCol)).collect()
        .map(_.getSeq[Number](0).toArray.map(_.doubleValue)))
    val base = nzEmb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    if (centArr.isEmpty) // empty corpus: empty graph, correct schema
      return base.select(col("id").as("query_id"), col("id").as("neighbor_id"),
        lit(0.0).as("cos"), lit(1).as("rank")).limit(0)
    val assigned0 = base.withColumn("cell",
      graft.functions.VectorExprs.nearestCentroid(col("vec"), centArr))
    val assigned = maxCellSize match {
      case None => assigned0
      case Some(cap) =>
        // staged: the assignment feeds both the cell-size count and the
        // candidate join when the valve is on
        val av = assigned0.staged
        val ok = av.groupBy("cell").agg(count(lit(1)).as("__csz"))
          .filter(col("__csz") <= cap).select("cell")
        av.join(ok, Seq("cell"), "left_semi")
    }
    val probes = base.select(
      col("id").as("query_id"),
      col("vec").as("qvec"),
      explode(graft.functions.VectorExprs.nearestCells(col("vec"), centArr, nprobe))
        .as("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    probes.join(assigned, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qvec"), col("vec")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Distributed k-means (Lloyd's algorithm) over an embedding column with
    * cosine assignment. Deterministic: centroids initialize from the k
    * lowest-id vectors, assignment ties break by centroid id.
    *
    * Scale shape per iteration: assignment = one broadcast of k·dim
    * centroid literals + a narrow per-row argmax (no shuffle of the
    * corpus); update = posexplode to (cell, dim) keyed averages — a
    * k·dim-cell aggregation with map-side partials. Only k·dim numbers
    * ever reach the driver. Returns (assignments DF (id, cell), centroids).
    */
  def kmeans(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      dim: Int
  ): (DataFrame, Array[Array[Double]]) = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // getSeq[Number] so array<float> and array<double> embeddings both work
    // (the rest of the similarity API — DotProduct, ivfTopK — accepts both)
    var cents: Array[Array[Double]] = base
      .orderBy("id").limit(k).collect()
      .map(_.getSeq[Number](1).toArray.map(_.doubleValue))
    if (cents.isEmpty) // empty corpus: empty assignment, no centroids
      return (base.select(col("id"), lit(0).as("cell")), cents)

    def assignDf: DataFrame = {
      // native argmax-cosine expression: the centroid matrix is a plan
      // REFERENCE, not k struct literals — plan size and codegen are O(1)
      // in k, so the k ≈ n/100 regime SemDeDup needs actually compiles.
      // Ties → lowest cell, norms accumulate ascending: bit-identical to
      // the previous literal spelling and the unrolled SQL oracle.
      base.select(col("id"), col("vec"),
        graft.functions.VectorExprs.nearestCentroid(col("vec"), cents).as("cell"))
    }

    var assigned = assignDf
    for (_ <- 1 to iters) {
      val upd = assigned
        .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(avg(col("v").cast("double")).as("m"))
        .collect()
      val next = Array.tabulate(cents.length)(c => cents(c).clone())
      upd.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      // cells with no members keep their previous centroid, and so does a
      // cell whose mean collapsed to exactly zero — a zero-norm centroid
      // has NaN cosine to everything and nearestCentroid fails fast on it
      for (c <- next.indices)
        if (next(c).forall(_ == 0.0)) next(c) = cents(c)
      cents = next
      assigned = assignDf
    }
    (assigned.select(col("id"), col("cell")), cents)
  }

  /** Exact all-pairs cosine near-duplicate pairs (brute baseline — use the
    * LSH variant below when n² is off the table). */
  def cosineNearDupPairsExact(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val a = emb.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = emb.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via LSH
    * buckets (exact within-bucket). */
  def cosineNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      nPlanes: Int = 8
  ): DataFrame = {
    val sig = emb.select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      lshSignature(col(vecCol), dim, nPlanes).as("bucket"))
    sig.as("a")
      .join(sig.as("b"), Seq("bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id1"),
        col("b.id").as("id2"),
        cosine(col("a.vec"), col("b.vec")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with k-means, then compare
    * pairs only WITHIN a cluster — an item is marked `keep = false` when a
    * lower-id cluster-mate sits above the cosine threshold, so exactly one
    * representative (the min id) survives each within-cell near-dup
    * neighborhood. Returns `(id, cell, keep)` for every input row.
    *
    * Scale shape: the pairwise step is O(cell²) by construction — that is
    * the SemDeDup contract (k is chosen so cells stay small; the paper uses
    * k ≈ n/∼100). `maxCellSize` is the valve for when a cell still ends up
    * oversized (degenerate embeddings all at one point): such cells skip
    * the pairwise step and keep everything — conservative, never drops on
    * an unbounded comparison. The cell self-join is a key-equi join on
    * `cell`, never corpus×corpus.
    *
    * PRECONDITION: `idCol` unique (duplicate ids would double-count rows
    * in cells and make the keep decision ambiguous).
    */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      k: Int,
      iters: Int = 2,
      dim: Int = 64,
      maxCellSize: Option[Long] = Some(100000L)
  ): DataFrame = {
    val (assigned, _) = kmeans(emb, idCol, vecCol, k, iters, dim)
    // staged (Staging.stage), not persist: (id, cell, vec) is read three times
    // (valve count + both sides of the cell self-join) so it materializes
    // once, and the blocks are context-cleaner-released with the result
    // frame — persist here would leak a CacheManager entry per call.
    val av = assigned
      .join(emb.select(col(idCol).as("id"), col(vecCol).as("vec")), Seq("id"))
      .staged
    val eligible = maxCellSize match {
      case None => av
      case Some(cap) =>
        val ok = av.groupBy("cell").agg(count(lit(1)).as("__csz"))
          .filter(col("__csz") <= cap).select("cell")
        av.join(ok, Seq("cell"), "left_semi")
    }
    val dropped = eligible.as("a")
      .join(eligible.as("b"),
        col("a.cell") === col("b.cell") && col("b.id") < col("a.id"))
      .filter(cosine(col("a.vec"), col("b.vec")) >= threshold)
      .select(col("a.id").as("id"))
      .distinct()
    av.select(col("id"), col("cell"))
      .join(dropped.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell").cast("long").as("cell"),
        coalesce(!col("__dup"), lit(true)).as("keep"))
  }

  /** Frozen corpus-side state for [[semDedupAgainst]] — SemDeDup's
    * ingest/streaming twin and the EMBEDDING-modality member of the
    * frozen-state family (README state matrix): `centroids` holds the
    * trained k-means codebook as a (cell, cvec, max_cell, n_members)
    * table — the SAME (cell, cvec) layout [[VectorIndex]] persists, so
    * codebooks are interchangeable between the two embedding states;
    * k·dim doubles plus two k-sized meta columns (the valve cap frozen
    * into the state, -1 = unvalved, and each cell's FULL pre-valve
    * member count — what [[semDedupStateAppend]] needs to re-run the
    * valve exactly as a rebuild would). `members` carries the corpus's
    * (id, cell, vec) assignments with over-cap cells ALREADY valved out
    * (a corpus property, so it freezes with the corpus — the
    * [[graft.pipeline.Dedup.MinhashDedupState]] valve pattern; a shard
    * doc landing in a valved cell reports unique, mirroring
    * [[semDedup]]'s within-corpus semantics). Persist `members` bucketed
    * by `cell`. Grow under the FROZEN codebook with
    * [[semDedupStateAppend]]; RETRAIN (centroids drift with the corpus
    * and Lloyd iterations are global) by rebuilding on the usual
    * compaction cadence — the [[VectorIndex]] append/retrain story. */
  final case class SemDedupState(centroids: DataFrame, members: DataFrame) {
    /** Codebook read ONCE per state object and cached driver-side (k·dim
      * doubles — model-sized). Projected BY NAME before collecting — a
      * loaded centroid frame with reordered columns reads correctly.
      * Empty ⇔ the state froze an empty corpus: [[semDedupAgainst]] then
      * reports every shard vector unique. */
    lazy val centroidArray: Array[Array[Double]] =
      centroids.select("cell", "cvec").orderBy("cell").collect()
        .map(_.getSeq[Number](1).toArray.map(_.doubleValue))
  }

  /** Build [[SemDedupState]]: one deterministic [[kmeans]] fit (same
    * init/iteration chain as [[semDedup]]/q56 — the SQL-replayable
    * codebook), then freeze under that codebook via
    * [[semDedupStateWithCodebook]]. */
  def semDedupState(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
      dim: Int = 64,
      maxCellSize: Option[Long] = Some(100000L)
  ): SemDedupState = {
    val (_, cents) = kmeans(emb, idCol, vecCol, k, iters, dim)
    semDedupStateWithCodebook(emb, idCol, vecCol, cents, maxCellSize)
  }

  /** Freeze a [[SemDedupState]] under a GIVEN codebook — the shared
    * tail of [[semDedupState]] (which trains the codebook first) and
    * the interop path for reusing a [[VectorIndex]] codebook
    * (`centroids.parquet` is the same (cell, cvec) layout; read it,
    * collect via the state's own projection, and freeze). Assignment is
    * one narrow codegen'd argmax projection — NO join, no shuffle; the
    * only driver traffic is the ≤ k-row per-cell count used for both
    * the valve and the frozen `n_members` meta. */
  def semDedupStateWithCodebook(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Double]],
      maxCellSize: Option[Long] = Some(100000L)
  ): SemDedupState = {
    val session = emb.sparkSession
    import session.implicits._
    if (cents.isEmpty) // empty corpus: empty codebook, no members
      return SemDedupState(
        Seq.empty[(Int, Seq[Double], Long, Long)]
          .toDF("cell", "cvec", "max_cell", "n_members"),
        emb.select(col(idCol).as("id"), lit(0).as("cell"),
          col(vecCol).as("vec")).filter(lit(false)))
    // PRECONDITION (the whole k-means family's): `emb` is deterministic
    // across re-reads — kmeans upstream already re-scans it per
    // iteration, and the members here stay LAZY (av is a narrow
    // projection, no join since the codebook became a plan reference),
    // so the valve counts and a later members materialization are two
    // reads of the same pure function of the source. A nondeterministic
    // frame (unseeded sample, unsorted limit) breaks kmeans before it
    // breaks this — stabilize it (persist/checkpoint) first.
    val av = emb.select(col(idCol).as("id"),
      graft.functions.VectorExprs.nearestCentroid(col(vecCol), cents)
        .as("cell"),
      col(vecCol).as("vec"))
    semDedupStateFromAssigned(session, av, cents, maxCellSize)
  }

  /** Shared tail of the SemDeDup state freezes ([[semDedupStateWithCodebook]]
    * and [[VectorIndex.freezeSemDedupState]] — ONE implementation of the
    * valve + n_members meta, so the spec-pinned-equal pair can never
    * de-synchronize): per-cell counts (≤ k-row collect), over-cap cells
    * valved out of `members`, the FULL pre-valve counts frozen into the
    * centroid meta. `assigned` must carry (id, cell, vec). */
  private[pipeline] def semDedupStateFromAssigned(
      session: org.apache.spark.sql.SparkSession,
      assigned: DataFrame,
      cents: Array[Array[Double]],
      maxCellSize: Option[Long]
  ): SemDedupState = {
    import session.implicits._
    val cap = maxCellSize.getOrElse(-1L)
    // k-sized collect: full pre-valve per-cell counts — the valve input
    // here AND the meta a later append re-runs the valve against
    val counts: Map[Int, Long] = assigned.groupBy("cell")
      .agg(count(lit(1)).as("__csz")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val okCells = counts.keys.filter(c => cap < 0 || counts(c) <= cap).toSeq
    requireModelSizedCells(okCells.size, "SemDedup valve cell list")
    val members = assigned.filter(col("cell").isInCollection(okCells))
    val cdf = cents.zipWithIndex
      .map { case (v, c) => (c, v.toSeq, cap, counts.getOrElse(c, 0L)) }
      .toSeq.toDF("cell", "cvec", "max_cell", "n_members")
    SemDedupState(cdf, members.select(col("id"), col("cell"), col("vec")))
  }

  /** Append a shard to a [[SemDedupState]] under its FROZEN codebook —
    * the embedding-modality analogue of
    * [[graft.pipeline.Dedup.minhashDedupStateRefresh]], sound by
    * precisely the [[VectorIndex.append]] argument: assignment is a pure
    * per-row function of the codebook, so appended ≡ rebuilt under the
    * same codebook (spec-pinned via [[semDedupStateWithCodebook]]). The
    * cell valve re-runs over the UNION counts using the frozen
    * `n_members` meta — a cell that CROSSES the cap on this append drops
    * its resident members too (exactly the rebuild semantics; the
    * per-cell count doubles as the minhash family's tombstone, so a
    * saturated cell can never be "resurrected" from its shard members
    * alone). What append cannot do is move the centroids: as the corpus
    * drifts from the training distribution the cells fatten and the
    * within-cell dedup misses more cross-cell near-dups — retrain with
    * [[semDedupState]] on the compaction cadence, watching
    * [[VectorIndex.driftCheck]] under a shared codebook.
    *
    * Scale shape: one narrow assignment projection on the shard, one
    * ≤ k-row count collect, and a cell-filtered union — nothing
    * corpus-sized recomputes, shuffles, or reaches the driver.
    * PRECONDITIONS: ids unique within and across state and shard; and
    * `newEmb` must be DETERMINISTIC across re-reads (the
    * [[semDedupStateWithCodebook]] contract restated — the shard is
    * evaluated twice here, once for the valve-count collect and again
    * when the lazy member union materializes, so a nondeterministic
    * frame (unseeded sample, unsorted limit) would freeze valve counts
    * inconsistent with the members; persist/checkpoint such a frame
    * first). Refuses a state without the (max_cell, n_members) meta
    * (persisted by a pre-append library version): rebuild it with
    * [[semDedupState]] once. */
  def semDedupStateAppend(
      state: SemDedupState,
      newEmb: DataFrame,
      idCol: String,
      vecCol: String
  ): SemDedupState = {
    require(Seq("cell", "cvec", "max_cell", "n_members")
        .forall(state.centroids.columns.contains),
      "state.centroids carries no frozen (max_cell, n_members) meta " +
        "(persisted by a pre-append library version) — rebuild it with " +
        s"semDedupState; got ${state.centroids.columns.toSeq}")
    require(Seq("id", "cell", "vec").forall(state.members.columns.contains),
      s"state.members must carry (id, cell, vec), got ${state.members.columns.toSeq}")
    val session = newEmb.sparkSession
    import session.implicits._
    // k-sized meta collect, projected BY NAME (loaded frames may reorder)
    val meta = state.centroids
      .select("cell", "cvec", "max_cell", "n_members").orderBy("cell")
      .collect()
    require(meta.nonEmpty,
      "cannot append to an EMPTY state (no frozen codebook) — build with " +
        "semDedupState instead")
    val cap = meta.head.getLong(2)
    val cents = meta.map(_.getSeq[Number](1).toArray.map(_.doubleValue))
    val asg = newEmb.select(col(idCol).as("id"),
      graft.functions.VectorExprs.nearestCentroid(col(vecCol), cents)
        .as("cell"),
      col(vecCol).as("vec"))
    val shardCounts: Map[Int, Long] = asg.groupBy("cell")
      .agg(count(lit(1)).as("__csz")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val newCounts: Map[Int, Long] = meta.map { r =>
      val c = r.getInt(0)
      c -> (r.getLong(3) + shardCounts.getOrElse(c, 0L))
    }.toMap
    val okCells = newCounts.keys.filter(c => cap < 0 || newCounts(c) <= cap).toSeq
    requireModelSizedCells(okCells.size, "SemDedup valve cell list")
    val members =
      state.members.select(col("id"), col("cell"), col("vec"))
        .filter(col("cell").isInCollection(okCells))
        .unionByName(asg.filter(col("cell").isInCollection(okCells)))
    val cdf = meta.map { r =>
      val c = r.getInt(0)
      (c, r.getSeq[Number](1).map(_.doubleValue), cap, newCounts(c))
    }.toSeq.toDF("cell", "cvec", "max_cell", "n_members")
    SemDedupState(cdf, members)
  }

  /** Apply a frozen [[SemDedupState]] to a NEW shard of embeddings: each
    * shard vector routes to its nearest frozen centroid (the codegen'd
    * argmax — a broadcast-free narrow projection; the codebook is a plan
    * reference), joins ONLY that cell's frozen members, and reports its
    * best corpus match at cosine ≥ `threshold` (ties → lowest corpus
    * id; NULL = unique). Every shard vector appears in the output.
    * Shards decompose (the apply is a pure per-row function of the
    * frozen state) and micro-batches stream through `foreachBatch` —
    * the SemDeDup curation step at daily-ingest steady state, without
    * re-clustering the corpus per shard.
    *
    * Scale shape: one narrow assignment projection on the shard, ONE
    * cell-keyed equi join against cell-bucketable members (never
    * corpus × corpus — the cell structure is the valve), and a
    * shard-sized best-match argmax aggregate. PRECONDITION: ids unique within and
    * across the two inputs. */
  def semDedupAgainst(
      state: SemDedupState,
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    require(Seq("cell", "cvec").forall(state.centroids.columns.contains),
      s"state.centroids must carry (cell, cvec), got ${state.centroids.columns.toSeq}")
    require(Seq("id", "cell", "vec").forall(state.members.columns.contains),
      s"state.members must carry (id, cell, vec), got ${state.members.columns.toSeq}")
    val base = newEmb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cents = state.centroidArray
    val idType = newEmb.schema(idCol).dataType
    if (cents.isEmpty) // empty corpus: every shard vector is unique
      return base.select(col("id"),
        lit(null).cast(idType).as("dup_of"),
        lit(null).cast("double").as("cos"))
    val asg = base.withColumn("cell",
      graft.functions.VectorExprs.nearestCentroid(col("vec"), cents))
    val cand = asg
      .join(state.members.select(col("cell"), col("id").as("cid"),
        col("vec").as("cvec")), Seq("cell"))
      // a zero-norm vector is not a match: its NULL cosine fails the
      // three-valued >= filter (spec-pinned)
      .withColumn("cos", cosine(col("vec"), col("cvec")))
      .filter(col("cos") >= threshold)
    // best match = argmin over (−cos, cid): one partial+final hash
    // aggregate instead of a rank window — same (cos desc, cid asc)
    // winner, no per-id sort, and map-side partials absorb the cell-join
    // fan-out before the shuffle (r16, guide §2.3)
    val best = cand
      .groupBy("id")
      .agg(min_by(struct(col("cid"), col("cos")),
        struct((-col("cos")).as("nc"), col("cid"))).as("__b"))
      .select(col("id"), col("__b.cid").as("dup_of"), col("__b.cos"))
    base.select(col("id")).join(best, Seq("id"), "left")
  }

  /** Symmetric per-vector int8 scalar quantization (the FAISS "SQ8" storage
    * form): scale = max|xᵢ|/127, qᵢ = round(xᵢ/scale) ∈ [−127, 127]. At
    * 100 TB the embedding column is usually the widest thing in the corpus;
    * int8 cuts its storage and scan bandwidth 4× while keeping ANN recall
    * (the spec pins recall@10 on the real embeddings). Both directions are
    * narrow HOF projections — no shuffle, stream-safe.
    *
    * Round-half ties go away from zero in both Spark (HALF_UP) and DuckDB,
    * so the quantized codes carry a bit-identical SQL oracle. A zero vector
    * (scale 0) quantizes to all zeros.
    */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, v => abs(v.cast("double")))) / lit(127.0)

  def int8Quantize(vec: Column, scale: Column): Column =
    when(scale === 0.0,
      transform(vec, _ => lit(0).cast("byte")))
      .otherwise(transform(vec, v => round(v.cast("double") / scale).cast("byte")))

  def int8Dequantize(q: Column, scale: Column): Column =
    transform(q, v => v.cast("double") * scale)

  /** Product quantization (Jégou et al. 2011): split each d-vector into
    * `m` contiguous sub-blocks and train an independent [[kmeans]]
    * codebook per block; a vector compresses to m small codes
    * (m·log₂k bits vs 32d — the standard embedding-storage compression
    * ahead of ANN). Training is m short kmeans runs over SLICED frames
    * (centroid matrices stay driver-side, k·d/m doubles each — the
    * kmeans contract); encoding is a pure projection of m codegen'd
    * [[graft.functions.VectorExprs.nearestCentroid]] argmax expressions.
    * Returns the per-block codebooks, indexed [block][code][dim].
    */
  def pqTrain(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int,
      dim: Int
  ): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m blocks")
    val sub = dim / m
    (0 until m).map { b =>
      val sliced = emb.select(col(idCol).as("id"),
        slice(col(vecCol), b * sub + 1, sub).as("vec"))
      kmeans(sliced, "id", "vec", k, iters, sub)._2
    }.toArray
  }

  /** Encode each vector as its m per-block nearest-codeword ids
    * (cosine argmax — the [[kmeans]] assignment rule, ties → lowest
    * code). Returns (id, codes array<int>). */
  def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]
  ): DataFrame = {
    val m = codebooks.length
    require(m >= 1, "need at least one codebook")
    val sub = codebooks(0)(0).length
    emb.select(col(idCol).as("id"),
      array((0 until m).map { b =>
        graft.functions.VectorExprs.nearestCentroid(
          slice(col(vecCol), b * sub + 1, sub), codebooks(b))
      }: _*).as("codes"))
  }

  /** Per-block reconstruction error of the PQ code against the original
    * vectors: for each block, mean Σᵢ(xᵢ−wᵢ)² between the slice and its
    * chosen codeword — the quantization-quality report that decides
    * whether a codebook is usable. Computed via the dot identity
    * ‖x−w‖² = x·x − 2·x·w + w·w with the codeword table broadcast
    * (m·k rows); the corpus streams once through codegen'd DotProducts.
    * Returns (block, n, mse).
    */
  def pqBlockMse(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]
  ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val table = (for (b <- 0 until m; c <- codebooks(b).indices) yield {
      val cent = codebooks(b)(c)
      (b, c, cent, cent.map(x => x * x).sum)
    }).toDF("block", "code", "__cent", "__cc")
    val blocks = array((0 until m).map { b =>
      val xb = slice(col("__vec"), b * sub + 1, sub)
      struct(lit(b).as("block"), xb.as("xb"),
        graft.functions.VectorExprs.nearestCentroid(xb, codebooks(b)).as("code"))
    }: _*)
    emb.select(col(idCol).as("id"), col(vecCol).as("__vec"))
      .select(col("id"), explode(blocks).as("__e"))
      .select(col("id"), col("__e.block").as("block"),
        col("__e.xb").as("__xb"), col("__e.code").as("code"))
      .join(broadcast(table), Seq("block", "code"))
      .select(col("block"),
        (graft.functions.VectorExprs.dotProduct(col("__xb"), col("__xb")) -
          lit(2.0) * graft.functions.VectorExprs.dotProduct(col("__xb"), col("__cent")) +
          col("__cc")).as("__err"))
      .groupBy("block")
      .agg(count(lit(1)).as("n"), avg(col("__err")).as("mse"))
  }

  /** IVF → PQ-ADC → exact re-rank: the production ANN search shape
    * (Jégou et al. 2011). Every row is a query; candidates come from the
    * query's `nprobe` nearest coarse cells ([[knnJoin]]'s blocking);
    * candidate rows carry only (id, cell, PQ codes) — the full vector
    * NEVER rides the candidate join, which is the entire point of PQ at
    * 100 TB (codes are m bytes vs 4d). Per probe row a query-specific
    * lookup table (LUT) of all m·k codeword dot-products is computed ONCE
    * (the ADC trick: k·d multiplies per query, m array lookups per pair);
    * the per-query `shortlist` best approximate candidates then re-rank
    * EXACTLY — one id-keyed join back to the corpus fetches the s·n full
    * vectors, a bounded fraction of the corpus. Returns
    * (query_id, neighbor_id, cos, rank ≤ k) by exact cosine.
    *
    * Approximate phase ties break by candidate id; degenerate (zero-norm)
    * vectors are excluded from both sides (the [[knnJoin]] rule). */
  def pqRerankTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Array[Array[Array[Double]]],
      nCentroids: Int = 16,
      nprobe: Int = 2,
      shortlist: Int = 32,
      trainedCentroids: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val m = codebooks.length
    require(m >= 1, "need at least one codebook")
    val kCodes = codebooks(0).length
    val sub = codebooks(0)(0).length
    val nzEmb = emb.filter(graft.functions.VectorExprs
      .dotProduct(col(vecCol), col(vecCol)) > 0)
    val centArr: Array[Array[Double]] = trainedCentroids.getOrElse(
      nzEmb.orderBy(col(idCol)).limit(nCentroids).select(col(vecCol)).collect()
        .map(_.getSeq[Number](0).toArray.map(_.doubleValue)))
    val base = nzEmb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    if (centArr.isEmpty)
      return base.select(col("id").as("query_id"), col("id").as("neighbor_id"),
        lit(0.0).as("cos"), lit(1).as("rank")).limit(0)
    // candidate side: coarse cell + PQ codes ONLY (no vector payload)
    val assigned = base.select(
      col("id"),
      graft.functions.VectorExprs.nearestCentroid(col("vec"), centArr).as("cell"),
      array((0 until m).map { b =>
        graft.functions.VectorExprs.nearestCentroid(
          slice(col("vec"), b * sub + 1, sub), codebooks(b))
      }: _*).as("codes"))
    // query side: probed cells + the ADC LUT (m·k dot products). The LUT
    // projects BEFORE the probe-cell explode so it is computed once per
    // QUERY, not once per probe row (the Generate only copies the bound
    // array per probe — m·k doubles — instead of re-running m·k·d
    // multiplies ×nprobe). One codegen'd AdcLut expression with the
    // codebook tensor as a plan reference — the previous m·k separate
    // zip_with+aggregate HOF spelling made plan size and per-row dispatch
    // grow with the codebook (k=64 measured ~6× the exact join).
    // Two payload regimes, switched on the LUT's join footprint vs the
    // vector's (both paths bit-identical by construction — same
    // accumulation order — so the switch never changes results):
    //  - m·k ≤ 2d: ship the LUT, score pairs with m array lookups.
    //  - m·k > 2d (production codebooks, k = 256): the 8·m·k-byte LUT per
    //    probe row dominates the shuffle (16 KB vs the 8·d-byte vector at
    //    m=8, k=256, d=64 — measured slower than the exact join at 200k);
    //    ship the vector and score pairs with the LUT-free [[AdcScore]]
    //    (m·sub = d multiplies — exact-dot arithmetic, but the CANDIDATE
    //    side still ships m-byte codes instead of 8·d-byte vectors, the
    //    payload asymmetry that matters when the corpus is the big side).
    val useLut = m.toLong * kCodes <= 2L * m * sub
    val qPayload =
      if (useLut) graft.functions.VectorExprs.adcLut(col("vec"), codebooks)
      else col("vec")
    val probes = base.select(
        col("id").as("query_id"),
        qPayload.as("qp"),
        graft.functions.VectorExprs
          .nearestCells(col("vec"), centArr, nprobe).as("cells"))
      .select(col("query_id"), col("qp"), explode(col("cells")).as("cell"))
    // ADC: per pair, m array lookups + adds (LUT) or d multiplies (direct)
    val adc =
      if (useLut)
        (0 until m)
          .map(b => element_at(col("qp"),
            lit(b * kCodes + 1) + element_at(col("codes"), b + 1)))
          .reduce(_ + _)
      else graft.functions.VectorExprs.adcScore(col("qp"), col("codes"), codebooks)
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val short = probes.join(assigned, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"), adc.as("adc"))
      .withColumn("__rs", row_number().over(wApprox))
      .filter(col("__rs") <= shortlist)
      .select("query_id", "neighbor_id")
    // exact re-rank: fetch full vectors for the shortlist only
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    short
      .join(base.select(col("id").as("query_id"), col("vec").as("qv")), "query_id")
      .join(base.select(col("id").as("neighbor_id"), col("vec").as("nv")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("cos"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Simplified (centroid) silhouette per cluster — Hruschka et al.'s
    * medoid-free variant, in the cosine geometry the rest of this module
    * uses: for each vector, a = cosine distance to its OWN (nearest)
    * centroid and b = distance to the next-best centroid, so
    *
    *   s = (b − a) / max(a, b) = (cos₁ − cos₂) / (1 − cos₂)
    *
    * where cos₁ ≥ cos₂ are the two best centroid cosines (assignment IS
    * argmax-cosine, so a ≤ b always and max(a,b) = b). s → 1 = tight,
    * well-separated cell; s → 0 = the point sits on a boundary. Points
    * whose two best centroids are both identical to it (cos₂ = 1) get
    * s = 0. Returns one row per cell: (cell, n, mean_sil); zero-norm
    * vectors are excluded (no direction ⇒ no cosine).
    *
    * Pass [[kmeans]]'s trained centroids for a model-quality read, or any
    * fixed centroid set for an oracle-able eval. Scale shape: ONE narrow
    * codegen'd projection (k dot products per row — k is model-sized,
    * the kmeans bound) + one cell-keyed aggregate; no windows, no joins,
    * nothing corpus-sized near the driver. */
  def silhouette(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Double]]
  ): DataFrame = {
    require(cents.length >= 2, s"silhouette needs >= 2 centroids, got ${cents.length}")
    require(cents.forall(_.length == cents(0).length),
      "all centroids must share one dimension")
    require(cents.forall(_.exists(_ != 0.0)),
      "centroids must be nonzero (zero norm has no cosine)")
    // centroid norms are model-sized constants — fold them on the driver
    // (same ascending-sum + sqrt arithmetic as the engine/oracle columns,
    // so the quotient stays bit-compatible)
    val cnorms = cents.map(c => math.sqrt(c.foldLeft(0.0)((s, x) => s + x * x)))
    val cosArr = array(cents.toIndexedSeq.zipWithIndex.map { case (c, j) =>
      graft.functions.VectorExprs
        .dotProduct(col("vec"), array(c.toIndexedSeq.map(lit(_)): _*)) /
        (col("__nv") * lit(cnorms(j)))
    }: _*)
    emb
      .filter(graft.functions.VectorExprs
        .dotProduct(col(vecCol), col(vecCol)) > 0)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      // the row norm is shared by all k cosines — bind it once
      .select(col("vec"), norm(col("vec")).as("__nv"))
      .select(
        graft.functions.VectorExprs.nearestCentroid(col("vec"), cents).as("cell"),
        // bind the k cosines as ONE attribute before sorting (HOF no-CSE)
        cosArr.as("__cs"))
      .select(col("cell"), array_sort(col("__cs")).as("__s"))
      .select(col("cell"),
        element_at(col("__s"), -1).as("__m1"),
        element_at(col("__s"), -2).as("__m2"))
      .select(col("cell"),
        when(col("__m2") >= 1.0, lit(0.0))
          .otherwise((col("__m1") - col("__m2")) / (lit(1.0) - col("__m2")))
          .as("__sil"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), avg(col("__sil")).as("mean_sil"))
  }

  /** Per-group mean embedding (class prototypes / grouped centroids) via
    * the element-wise [[graft.functions.VectorSumAgg]] — ONE partial+final
    * ObjectHashAggregate whose shuffle carries a single d-vector per
    * (group × partition); no posexplode (which would shuffle dim× the
    * rows), no interpreted per-row lambda. Rows with null/misfit vectors
    * are excluded from n. Returns (groupCol, n, centroid array<double>). */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String, dim: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(graft.functions.VectorSumAgg(col(vecCol), dim).as("__vs"))
      .select(col(groupCol), col("__vs.n").as("n"),
        transform(col("__vs.sums"), s => s / col("__vs.n")).as("centroid"))
}
