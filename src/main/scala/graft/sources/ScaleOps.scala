package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink + skew utilities for cluster-scale layouts (SURVEY §2.1 S6
  * beyond caching, and the salting/bucketing patterns a 100 TB deployment
  * needs).
  */
object ScaleOps {

  /** Hive-partitioned parquet sink: downstream reads with a filter on
    * `partitionCols` prune whole directories (PartitionFilters in the scan).
    * Keep partition columns low-cardinality (date, source, shard). */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      mode: String = "overwrite"
  ): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table sink: co-locates rows by `bucketCols` so equi-joins and
    * aggregations on those keys skip the shuffle entirely (both sides
    * bucketed with the same count). Requires a table (bucketing metadata
    * lives in the catalog, not in raw parquet). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      mode: String = "overwrite"
  ): Unit =
    df.write
      .mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Z-order (Morton) interleave key over equal-width bucket indices: each
    * column v_j maps to bucket_j = clamp(⌊(v_j − min_j)/(max_j − min_j) ·
    * 2^bits⌋, 0, 2^bits − 1) (nulls and degenerate min = max ranges land in
    * bucket 0), and the key interleaves the buckets' bits —
    * bit b of bucket j lands at position b·k + j — so nearby keys are
    * nearby in EVERY dimension at once. Pure native shift/and/or
    * arithmetic (codegen'd, no UDF), and bit-identical cross-engine: the
    * same integer algebra is expressible in ANSI SQL. `bits · k` must fit
    * a long (≤ 62). */
  def zorderKey(
      cols: Seq[Column],
      minMax: Seq[(Double, Double)],
      bits: Int
  ): Column = {
    val k = cols.size
    require(k >= 1, "zorderKey needs at least one column")
    require(minMax.size == k, s"minMax size ${minMax.size} != $k columns")
    require(bits >= 1 && bits * k <= 62,
      s"bits*cols must be in [1, 62], got $bits*$k")
    val cells = (1L << bits).toDouble
    val buckets = cols.zip(minMax).map { case (c, (lo, hi)) =>
      val v = c.cast("double")
      if (hi <= lo) lit(0L)
      else least(
        lit((1L << bits) - 1L),
        greatest(lit(0L),
          floor((coalesce(v, lit(lo)) - lit(lo)) / lit(hi - lo) * lit(cells))
            .cast("long")))
    }
    val terms = for {
      b <- 0 until bits
      j <- 0 until k
    } yield shiftleft(shiftright(buckets(j), b).bitwiseAND(lit(1L)), b * k + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Z-order clustered parquet sink + per-file min/max manifest — the
    * multi-column data-skipping layout ([[writePartitioned]] prunes on ONE
    * low-cardinality column; this clusters on several numeric ones at
    * once). Rows are range-partitioned and sorted by [[zorderKey]], so
    * each output file covers a small hyper-rectangle of the `zcols` space;
    * a `_zmanifest` parquet (underscore-prefixed — invisible to normal
    * parquet reads of `path`) records each file's min/max per zcol.
    * [[zorderScan]] prunes files against the manifest driver-side (the
    * manifest is file-count-sized) and pushes the residual predicate into
    * the surviving files' scans — the plain-parquet form of lakehouse
    * file-skipping stats.
    *
    * The manifest stores file names RELATIVE to `path` (basenames), so a
    * layout copied or relocated wholesale — the routine object-storage
    * move — stays self-describing; [[zorderScan]] resolves names against
    * the `path` it is given. The layout is WRITE-ONCE, and the contract
    * is ENFORCED: [[zorderScan]] cross-checks the directory listing
    * against the manifest and refuses loudly on any appended or
    * vanished data file — rewrite (rerun zorderWrite) on any change,
    * never append in place.
    *
    * Scale shape: one exact min/max aggregate over the input (narrow), one
    * range-partitioned sorted write (the sort parallelizes across
    * `numFiles` range partitions — never a global single-partition sort),
    * and one post-write scan of the written files to build the manifest.
    * Clustering uses equal-WIDTH buckets from the exact min/max: heavy
    * value skew concentrates keys in few cells and weakens (never breaks)
    * the pruning — pre-transform a skewed column (log, rank) if its raw
    * distribution is pathological. */
  def zorderWrite(
      df: DataFrame,
      path: String,
      zcols: Seq[String],
      bits: Int = 8,
      numFiles: Int = 32
  ): Unit = {
    require(zcols.size >= 2, "zorderWrite needs >= 2 cluster columns " +
      "(use writePartitioned/sort for one)")
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val mmAggs = zcols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val mmRow = df.agg(mmAggs.head, mmAggs.tail: _*).collect()(0)
    // an empty frame / all-null column degenerates to bucket 0 everywhere
    val minMax = zcols.indices.map(i =>
      if (mmRow.isNullAt(2 * i)) (0.0, 0.0)
      else (mmRow.getDouble(2 * i), mmRow.getDouble(2 * i + 1))).toSeq
    val zk = zorderKey(zcols.map(col), minMax, bits)
    df.repartitionByRange(numFiles, zk)
      .sortWithinPartitions(zk)
      .write.mode("overwrite").parquet(path)
    val spark = df.sparkSession
    val written = spark.read.parquet(path)
    val aggs = zcols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"min_$c"),
      max(col(c).cast("double")).as(s"max_$c")))
    // relative (basename) file names: the layout survives being copied or
    // relocated wholesale — zorderScan resolves against its own `path`
    written.groupBy(
        substring_index(input_file_name(), "/", -1).as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_zmanifest")
  }

  /** Append a new batch to an existing [[zorderWrite]] layout WITHOUT
    * rewriting it — the sanctioned alternative to the bare append that
    * [[zorderScan]] refuses: the batch is z-order clustered WITHIN
    * ITSELF (its own exact min/max over the same `zcols`), its files
    * land beside the existing ones (parquet append naming — no
    * collisions), and the manifest is rewritten as old entries ∪ the
    * new files' per-file min/max. Pruning CORRECTNESS only needs
    * per-file stats, so segments clustered under different value ranges
    * coexist soundly; clustering QUALITY degrades as segments
    * accumulate (each append is its own little z-space, so files from
    * different segments overlap in value space) — compact periodically
    * by re-running [[zorderWrite]] over a full scan, exactly the
    * lakehouse OPTIMIZE cadence.
    *
    * Refuses a layout z-ordered on different columns (manifest schema
    * check) and a layout already violating the write-once contract
    * (appending to it would launder the violation). All driver-side
    * work is file-count-sized: the listing diff identifies the new
    * files, and only THEY are re-read for stats.
    *
    * Failure mode: a crash between the data write and the manifest
    * rewrite leaves the new files unmanifested — every subsequent
    * [[zorderScan]] (and this method's own pre-check) then refuses
    * LOUDLY rather than silently dropping data; recover by re-running
    * [[zorderWrite]] over a full scan. Single-writer discipline is
    * assumed, as everywhere in the layout family. */
  /** Read a metadata directory (a `_`-prefixed name like `_zmanifest`)
    * via its EXPLICIT part-file list: passing the directory itself to
    * `spark.read.parquet` trips the DataSource hidden-path filter on the
    * underscore name and logs a benign-but-noisy "All paths were
    * ignored" WARN per read (the read still works — the filter keeps
    * the original path when nothing survives). Listing the part files
    * driver-side (file-count-sized, an RPC the manifest readers already
    * pay for the data listing) hands Spark only unhidden names. */
  private[graft] def readMetaDir(
      spark: SparkSession, dir: String,
      knownSchema: Option[org.apache.spark.sql.types.StructType] = None
  ): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p),
      s"no metadata dir at $dir — the layout was never written here, or " +
        "it was written by a pre-manifest library version; (re)write it " +
        "with the matching writer (zorderWrite / VectorIndex.build)")
    val files = fs.listStatus(p).filter(_.isFile)
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .sorted
      .map(n => s"${dir.stripSuffix("/")}/$n")
      .toIndexedSeq
    require(files.nonEmpty, s"no data files under metadata dir $dir")
    // a caller whose manifest schema is FIXED by its own writer (the
    // vindex `_vmanifest`: one string column) passes it and skips the
    // per-read schema-inference job; callers that VALIDATE the on-disk
    // schema (zorderAppend's column check) keep inference (r16)
    knownSchema match {
      case Some(s) => spark.read.schema(s).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }
  }

  def zorderAppend(
      df: DataFrame,
      path: String,
      zcols: Seq[String],
      bits: Int = 8,
      numFiles: Int = 32
  ): Unit = {
    require(zcols.size >= 2, "zorderAppend needs >= 2 cluster columns")
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val spark = df.sparkSession
    val manifest = readMetaDir(spark, s"$path/_zmanifest")
    val expectedCols = zcols.flatMap(c => Seq(s"min_$c", s"max_$c")).toSet + "file"
    require(manifest.columns.toSet == expectedCols,
      s"layout at $path is z-ordered on different columns: manifest has " +
        s"${manifest.columns.sorted.mkString(", ")}, append asked for " +
        s"${zcols.mkString(", ")}")
    val oldRows = manifest.collect() // file-count-sized
    val manifestNames = oldRows.map(_.getAs[String]("file")).toSet
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Set[String] = fs.listStatus(dir).filter(_.isFile)
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .toSet
    val before = dataFiles()
    require(before == manifestNames,
      "layout already violates the write-once contract (data files and " +
        "manifest disagree) — rerun zorderWrite before appending")
    // cluster the batch within itself, same key recipe as zorderWrite
    val mmAggs = zcols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val mmRow = df.agg(mmAggs.head, mmAggs.tail: _*).collect()(0)
    val minMax = zcols.indices.map(i =>
      if (mmRow.isNullAt(2 * i)) (0.0, 0.0)
      else (mmRow.getDouble(2 * i), mmRow.getDouble(2 * i + 1))).toSeq
    val zk = zorderKey(zcols.map(col), minMax, bits)
    df.repartitionByRange(numFiles, zk)
      .sortWithinPartitions(zk)
      .write.mode("append").parquet(path)
    val fresh = (dataFiles() -- before).toSeq.sorted
    if (fresh.isEmpty) return // empty batch: layout and manifest unchanged
    val freshDf = spark.read.parquet(
      fresh.map(n => s"${path.stripSuffix("/")}/$n"): _*)
    val aggs = zcols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"min_$c"),
      max(col(c).cast("double")).as(s"max_$c")))
    // collected: needed driver-side anyway to reconcile zero-row files
    val freshStats = freshDf.groupBy(
        substring_index(input_file_name(), "/", -1).as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .select(manifest.columns.map(col): _*)
      .collect()
    // a ZERO-ROW part file (an empty batch/partition still emits one
    // schema-only file) contributes no stats row — delete it rather than
    // leave an unmanifested file that would trip the write-once check
    val statNames = freshStats.map(_.getAs[String]("file")).toSet
    (fresh.toSet -- statNames).foreach { n =>
      // a failed delete (permissions, transient FS error) would leave an
      // unmanifested data file that bricks every later zorderScan/append
      // until a full rebuild — fail loudly instead of proceeding
      // the throw happens AFTER the batch's data files appended but
      // BEFORE the manifest rewrite, so the layout is left in the loud
      // unmanifested state — only a full zorderWrite rebuild recovers
      // (re-running zorderAppend would hit its own pre-check AND
      // re-append the batch)
      val p = new org.apache.hadoop.fs.Path(dir, n)
      // FileSystem.delete returns false BOTH on genuine failure and when
      // the path is already absent — absence is success here (the goal
      // state is "file gone"), so only a file that still exists after a
      // failed delete should brick the append
      require(fs.delete(p, false) || !fs.exists(p),
        s"could not remove zero-row part file $n — the appended batch is " +
          "unmanifested; rerun zorderWrite over the full data to rebuild")
    }
    if (statNames.isEmpty) return // nothing but empty files: no-op
    // rewritten manifest = frozen old rows ∪ new stats (both collected,
    // so overwriting their source directory is safe)
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          (oldRows ++ freshStats).toIndexedSeq, 1),
        manifest.schema)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_zmanifest")
  }

  /** Manifest-pruned read of a [[zorderWrite]] layout: keep only the
    * files whose min/max boxes overlap every `(col, lo, hi)` bound
    * (closed intervals), then apply the exact predicate to the surviving
    * rows — identical rows to filtering a full scan, reading only the
    * overlapping files. The manifest collect is file-count-sized.
    *
    * The write-once contract is ENFORCED, not just documented: the
    * layout's data files are listed (one driver-side directory listing,
    * file-count-sized) and cross-checked against the manifest's name
    * set — a file appended to `path` after [[zorderWrite]] (absent from
    * the manifest: it would be SILENTLY UNREAD) or a manifest entry
    * whose file has vanished (the scan would fail or, worse, a stale
    * manifest could mask a partial rewrite) refuses loudly with the
    * offending names. Grow a layout with [[zorderAppend]]; rewrite it
    * with [[zorderWrite]] on any other change. */
  def zorderScan(
      spark: SparkSession,
      path: String,
      bounds: Seq[(String, Double, Double)]
  ): DataFrame = {
    require(bounds.nonEmpty, "zorderScan needs at least one bound")
    val manifest = readMetaDir(spark, s"$path/_zmanifest")
    // ONE file-count-sized collect; the name cross-check AND the box
    // pruning both run driver-side over these rows (previously two
    // separate collect jobs over the same tiny manifest — r16)
    val manifestRows = manifest.collect()
    val manifestNames = manifestRows
      .map(_.getAs[String]("file")).toSet
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // data files live directly under `path`; metadata (_zmanifest/,
    // _SUCCESS, checksums) is underscore- or dot-prefixed by convention
    val onDisk = fs.listStatus(dir).filter(_.isFile)
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .toSet
    val appended = onDisk -- manifestNames
    val vanished = manifestNames -- onDisk
    require(appended.isEmpty && vanished.isEmpty,
      "zorder layout violates the write-once contract" +
        (if (appended.nonEmpty)
          s"; data files absent from the manifest (appended after " +
            s"zorderWrite — they would be silently unread): " +
            appended.toSeq.sorted.take(5).mkString(", ")
        else "") +
        (if (vanished.nonEmpty)
          s"; manifest entries with no data file: " +
            vanished.toSeq.sorted.take(5).mkString(", ")
        else "") +
        " — rerun zorderWrite on the current data")
    // driver-side box pruning over the collected rows — same three-valued
    // semantics as the previous Column filter (a NULL stat never keeps)
    def overlaps(r: org.apache.spark.sql.Row): Boolean =
      bounds.forall { case (c, lo, hi) =>
        val iMax = r.fieldIndex(s"max_$c"); val iMin = r.fieldIndex(s"min_$c")
        !r.isNullAt(iMax) && !r.isNullAt(iMin) &&
          r.getDouble(iMax) >= lo && r.getDouble(iMin) <= hi
      }
    val files = manifestRows.filter(overlaps)
      .map(r => s"${path.stripSuffix("/")}/${r.getAs[String]("file")}")
      .toIndexedSeq.sorted
    val pred = bounds.map { case (c, lo, hi) =>
      col(c).cast("double") >= lit(lo) && col(c).cast("double") <= lit(hi)
    }.reduce(_ && _)
    if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
    else spark.read.parquet(files: _*).filter(pred)
  }

  /** Raise a source's partition count to at least `minPartitions` so every
    * core participates in the scan-side work.
    *
    * Needed when the physical layout under-splits: parquet can only split at
    * row-group boundaries, so a single-row-group file (common for small
    * extracts and some writers' defaults) always scans as ONE task no matter
    * what `maxPartitionBytes` says. On a production layout (many files /
    * many row groups) this is a no-op. The round-robin shuffle moves raw
    * bytes once and unlocks N-way parallelism for every downstream stage —
    * a win whenever per-row work (regex, explode, hashing) dominates, which
    * is exactly the text/dedup pipeline shape. */
  def normalizeParallelism(df: DataFrame, minPartitions: Int): DataFrame =
    if (df.rdd.getNumPartitions >= minPartitions) df
    else df.repartition(minPartitions)

  /** Two-stage salted aggregation for skewed group keys.
    *
    * Stage 1 groups by (key, salt) — the hot key's rows spread over
    * `saltBuckets` reducers; stage 2 re-aggregates the per-salt partials.
    * Only ALGEBRAIC aggregates compose this way; the caller provides the
    * per-stage expressions:
    *
    * {{{
    * saltedAggregate(df, Seq("user_id"), 32,
    *   partials = Seq(count(lit(1)).as("n"), sum($"v").as("s")),
    *   finals   = Seq(sum($"n").as("n"), sum($"s").as("s")))
    * }}}
    *
    * (Plain hash aggregates already do map-side partials; salting matters
    * for skewed HIGH-cardinality aggregations where a single reducer key
    * would otherwise own a hot group's entire final merge, and for skewed
    * joins via the same salt column.)
    */
  def saltedAggregate(
      df: DataFrame,
      keys: Seq[String],
      saltBuckets: Int,
      partials: Seq[Column],
      finals: Seq[Column]
  ): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val stage1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partials.head, partials.tail: _*)
    stage1
      .groupBy(keys.map(col): _*)
      .agg(finals.head, finals.tail: _*)
  }

  /** Read a partitioned dataset with pruning-friendly defaults. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Deterministic train/val/test (or any weighted) split: a pure
    * projection assigning each row a split label from the md5-derived
    * hash of its key — reproducible across engines, machines, partitions,
    * and reruns (unlike `randomSplit`, which depends on partition layout).
    * Changing `salt` re-deals the assignment; adding rows never moves
    * existing ones between splits. No shuffle — the label is a narrow
    * column; write with [[writePartitioned]] on it for pruned reads.
    *
    * `weights` are (label, weight) in order; they are normalized, and the
    * row goes to the first label whose cumulative share exceeds the key's
    * hash fraction u ∈ [0, 1). A NULL key hashes to NULL and therefore
    * falls through every `u < c` test to the LAST label — filter nulls
    * first (or pick a dedicated trailing label for them) if that matters;
    * a per-row require is impossible in a pure projection. */
  def hashSplit(
      df: DataFrame,
      keyCol: String,
      weights: Seq[(String, Double)],
      salt: String = "",
      splitCol: String = "split"
  ): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.forall(_._2 > 0), s"weights must be positive: $weights")
    val total = weights.map(_._2).sum
    // u in [0,1): 32-bit md5 prefix over 2^32 (same hash as MinHash/SimHash
    // ⇒ bit-identical SQL oracle)
    val u = graft.pipeline.TextOps
      .hash32(concat(lit(salt), col(keyCol).cast("string")))
      .cast("double") / lit(4294967296.0)
    val cum = weights.scanLeft(0.0)(_ + _._2).tail.map(_ / total)
    val label = weights.zip(cum).init.foldRight(lit(weights.last._1)) {
      case (((name, _), c), acc) => when(u < c, name).otherwise(acc)
    }
    df.withColumn(splitCol, label)
  }

  /** [[hashSplit]] keyed on the DUPLICATE-CLUSTER representative instead
    * of the row id, so near-duplicate documents can never straddle a
    * train/eval boundary — the leakage guard every training-data split
    * needs (a test doc whose near-copy sits in train silently inflates
    * eval; Lee et al. 2022, arXiv:2107.06499 §6 measure the effect).
    *
    * `pairs` is a caller-supplied (id1, id2, …) near-duplicate pair list
    * from ANY producer at the leakage threshold you care about —
    * [[graft.pipeline.Dedup.jaccardPairs]] (exact),
    * [[graft.pipeline.Dedup.minhashPairs]] (LSH, the 100 TB path),
    * [[graft.pipeline.Similarity.cosineNearDupPairs]] (embedding) — the
    * same contract as [[graft.pipeline.Dedup.duplicateClusters]], which
    * this composes: pairs → transitive clusters (pointer-jumping CC) →
    * one left join of the corpus to the (dup-only) label table → the
    * deterministic hash split on `coalesce(cluster, id)`. Singletons key
    * on their own id, so the split keeps [[hashSplit]]'s guarantees
    * (deterministic, layout-independent, adding rows never moves
    * existing ones — and adding a PAIR only ever moves the higher
    * cluster's members to the lower's split). Scale shape: CC runs on
    * the pair list (dup-sized, not corpus-sized); the corpus itself sees
    * one broadcast-able join + a narrow projection. */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      weights: Seq[(String, Double)],
      salt: String = "",
      splitCol: String = "split"
  ): DataFrame =
    leakageSafeSplitAgainst(
      graft.pipeline.Dedup.dupClusterState(pairs),
      df, idCol, weights, salt, splitCol)

  /** [[leakageSafeSplit]] against a FROZEN
    * [[graft.pipeline.Dedup.DupClusterState]] — the steady-state ingest
    * form: the convenience wrapper above re-runs pair CC per call, but
    * the cluster map is a pure function of the pair list, so freeze it
    * once ([[graft.pipeline.Dedup.dupClusterState]], persisted as plain
    * parquet), split any frame against it here, and fold new pair
    * discoveries in with
    * [[graft.pipeline.Dedup.dupClusterStateMerge]]. Identical result to
    * the wrapper under the same pairs (spec-pinned — this IS its
    * implementation tail), and the [[hashSplit]] guarantees compose:
    * deterministic, layout-independent, adding corpus rows never moves
    * existing ones, and merging new pairs only ever moves the higher
    * merged cluster's members into the lower's split.
    *
    * Scale shape: ONE left equi-join of the corpus to the dup-sized
    * cluster map (broadcast-able when dups are sparse; AQE picks it up,
    * or bucket the persisted state by `id`) + the narrow hash-split
    * projection — no CC joins, no pair production, nothing iterative. */
  def leakageSafeSplitAgainst(
      state: graft.pipeline.Dedup.DupClusterState,
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Double)],
      salt: String = "",
      splitCol: String = "split"
  ): DataFrame = {
    require(Seq("id", "cluster").forall(state.clusters.columns.contains),
      s"state must carry (id, cluster), got ${state.clusters.columns.toSeq}")
    val clusters = state.clusters
      .select(col("id").as("__lsid"), col("cluster").as("__lscluster"))
    val keyed = df
      .join(clusters, col(idCol) === col("__lsid"), "left")
      .withColumn("__lskey", coalesce(col("__lscluster"), col(idCol)))
    hashSplit(keyed, "__lskey", weights, salt, splitCol)
      .drop("__lsid", "__lscluster", "__lskey")
  }

  /** Deterministic Bernoulli sampling with a PER-ROW keep probability —
    * the importance/quality-weighted subsampling step of training-data
    * pipelines (DSIR-style resampling, Xie et al. 2023 arXiv:2302.03169;
    * CCNet keeps by quality the same way): a row survives iff its
    * md5-derived uniform u(salt, key) < `weight`. A pure filter projection:
    * no shuffle, no RNG state, reproducible across engines, partitions and
    * reruns, and adding rows never flips existing decisions (same
    * guarantees as [[hashSplit]], same hash ⇒ bit-identical SQL oracle).
    * Weights clamp implicitly (w ≤ 0 never keeps, w ≥ 1 always keeps since
    * u < 1). NULL keys or weights are dropped (three-valued comparison).
    */
  def weightedSample(
      df: DataFrame,
      keyCol: String,
      weight: Column,
      salt: String = ""
  ): DataFrame = {
    val u = graft.pipeline.TextOps
      .hash32(concat(lit(salt), col(keyCol).cast("string")))
      .cast("double") / lit(4294967296.0)
    df.filter(u < weight)
  }

  /** Fixed-size weighted sample WITHOUT replacement (Efraimidis &
    * Spirakis 2006): each row gets priority key log(u)/w with u a
    * deterministic md5-derived uniform in (0,1]; the k LARGEST keys are
    * exactly a w-proportional without-replacement draw. The log form of
    * the classic u^(1/w) key — same ordering, cheaper, and numerically
    * tame for tiny weights.
    *
    * Complements [[weightedSample]] (Bernoulli, rate-based, output size
    * only in expectation): this one returns EXACTLY k rows. Scale shape:
    * a narrow key projection + `TakeOrderedAndProject` (per-partition
    * heaps of k, no global sort); determinism from the salted hash and
    * the id tiebreak. Rows with weight ≤ 0 or null are excluded.
    */
  def prioritySample(
      df: DataFrame,
      keyCol: String,
      weight: Column,
      k: Int,
      salt: String = ""
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // (h+1)/2^32 ∈ (0, 1]: log never sees 0
    val u = (graft.pipeline.TextOps
      .hash32(concat(lit(salt), col(keyCol).cast("string"))) + lit(1L))
      .cast("double") / lit(4294967296.0)
    df.filter(weight.isNotNull && weight > 0)
      .withColumn("__prio", log(u) / weight)
      .orderBy(col("__prio").desc, col(keyCol))
      .limit(k)
  }

  /** Stratified fixed-size weighted sample: exactly min(k, |stratum|)
    * rows PER STRATUM, selected by the same Efraimidis-Spirakis priority
    * keys as [[prioritySample]] (deterministic md5 uniforms, so the
    * sample is stable under reruns and engine changes). The per-stratum
    * top-k rides a row_number window partitioned by the stratum — sorts
    * run within strata only (never a global order); strata hot enough to
    * make even that a problem should pre-split on a salted stratum and
    * re-rank the k·salt survivors.
    */
  def prioritySampleByGroup(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      weight: Column,
      k: Int,
      salt: String = ""
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (graft.pipeline.TextOps
      .hash32(concat(lit(salt), col(keyCol).cast("string"))) + lit(1L))
      .cast("double") / lit(4294967296.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("__prio").desc, col(keyCol))
    df.filter(weight.isNotNull && weight > 0)
      .withColumn("__prio", log(u) / weight)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Skew-salted equi-join: replicate the SMALL side `buckets`× (one copy
    * per salt) and scatter the big side's rows across salts by a
    * deterministic per-row hash, so a hot join key's rows land on
    * `buckets` reducers instead of one. The classic manual skew-join
    * mitigation for when AQE's skew splitting can't apply (e.g. the hot
    * side feeds an aggregation that must stay co-partitioned, or bucketed
    * inputs) and the small side is too big to broadcast; otherwise prefer
    * a broadcast join or AQE's skew-join handling.
    *
    * Results are EXACTLY the plain inner equi-join's: every big-side row
    * meets every matching small-side row exactly once (its salt copy).
    * `saltOf` must be deterministic per row (hash row identifiers, NOT
    * rand/monotonically_increasing_id — retries must re-derive the same
    * salt); collisions are harmless, only balance suffers.
    * Cost: small side ×buckets (keep it broadcast-small or buckets low).
    */
  def saltedJoin(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      saltOf: org.apache.spark.sql.Column,
      buckets: Int
  ): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val b = big.withColumn("__salt", pmod(saltOf, lit(buckets.toLong)))
    val s = small
      .withColumn("__salt",
        explode(sequence(lit(0L), lit(buckets.toLong - 1L))))
      .withColumnRenamed(smallKey, "__sk")
    b.join(s, b("__salt") === s("__salt") && col(bigKey) === col("__sk"))
      .drop("__salt").drop("__sk")
  }

  /** Deterministic domain-mixture construction ("data mixing"): subsample
    * so the output follows the target per-domain `shares` exactly, sized to
    * the largest total the inventory supports — n_out = ⌊min_d(n_d /
    * share_d)⌋, domain d keeping its ⌊share_d · n_out⌋ lowest-hash rows.
    * Selection is by md5-hash rank within the domain (stable under reruns
    * and engine changes; ties broken by key). Domains absent from `shares`
    * are dropped.
    *
    * Scale shape: one tiny groupBy for the per-domain counts (|domains|
    * rows to the driver — same footprint as kmeans centroids), then one
    * shuffle on the domain for the rank window. The window sorts only
    * within a domain; for corpora where even that is too hot, the
    * approximate form is `weightedSample` with a per-domain rate column
    * (no window, no shuffle, counts correct in expectation).
    */
  def sampleToMix(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      shares: Seq[(String, Double)],
      salt: String = ""
  ): DataFrame =
    sampleToMixCore(df, domainCol, keyCol,
      mixTakesFrom(domainCounts(df, domainCol), shares), salt)

  private def sampleToMixCore(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      takes: Seq[(String, (Long, Long))],
      salt: String
  ): DataFrame = {
    val u = graft.pipeline.TextOps
      .hash32(concat(lit(salt), col(keyCol).cast("string")))
      .cast("double") / lit(4294967296.0)
    val take = takes.tail.foldLeft(
      when(col(domainCol) === takes.head._1, lit(takes.head._2._2))) {
      case (acc, (d, (_, t))) => acc.when(col(domainCol) === d, lit(t))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol)).orderBy(u.asc, col(keyCol).asc)
    df.withColumn("__take", take)
      .filter(col("__take").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__take"))
      .drop("__take", "__rn")
  }

  /** Temperature-balanced domain mixture: shares are computed FROM the
    * inventory as share_d ∝ n_d^alpha — the multilingual
    * temperature-sampling rule (mBERT/XLM-R style): alpha = 1 reproduces
    * the natural distribution (everything kept), alpha → 0 approaches
    * uniform-per-domain, intermediate alpha up-samples tail domains
    * relative to head ones. The shares then feed [[sampleToMix]]'s exact
    * deterministic hash-rank cut.
    *
    * Scale shape: ONE domain-keyed count aggregate whose result is
    * collected and shared by both the share derivation and the take
    * computation (a single corpus scan) — the domain cardinality must be
    * model-sized (languages, sources), the same bound [[sampleToMix]]
    * itself already imposes; the corpus is never collected. Domains are
    * sorted by name before the
    * share normalization so the floating-point sum order (and thus every
    * take boundary) is layout-invariant. */
  def sampleToMixTemperature(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      alpha: Double,
      salt: String = ""
  ): DataFrame = {
    val counts = domainCounts(df, domainCol)
    sampleToMixCore(df, domainCol, keyCol,
      mixTakesFrom(counts, temperatureSharesFrom(counts, alpha)), salt)
  }

  /** Window-free approximate twin of [[sampleToMixTemperature]] (the
    * [[sampleToMixApprox]] relationship): per-domain Bernoulli at rate
    * take/n instead of the exact per-domain rank window — counts correct
    * in expectation, plan is a pure filter. The exact form's per-domain
    * `row_number` sorts n_d rows per domain, which at corpus scale with a
    * handful of language domains IS the single-partition-sort cliff; this
    * is the 100 TB default. */
  def sampleToMixTemperatureApprox(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      alpha: Double,
      salt: String = ""
  ): DataFrame = {
    val counts = domainCounts(df, domainCol)
    sampleToMixApproxCore(df, domainCol, keyCol,
      mixTakesFrom(counts, temperatureSharesFrom(counts, alpha)), salt)
  }

  /** Token-budget mixture construction: per domain d, keep documents in
    * deterministic hash order until `budget_d` TOKENS are reached — the
    * "give me 50B tokens of web and 10B of code" training-mix cut, where
    * [[sampleToMix]] counts ROWS. A row is kept iff the EXCLUSIVE running
    * token sum of the rows before it (hash order: md5-uniform asc, key
    * asc, within its domain) is still under the budget, so the document
    * that crosses the budget is the last one kept, at least one document
    * survives per positive-budget domain with rows, and the output
    * overshoots by less than one document. Domains absent from `budgets`
    * are dropped; a budget for a domain with NO rows refuses (the
    * [[sampleToMix]] contract — a config error, not an empty sample);
    * null token counts consume 0 budget; budgets must be positive.
    * Returns the kept rows of `df` unchanged.
    *
    * Scale shape — NOT the naive per-domain cumulative window (a
    * corpus-hot domain would sort on one reducer; the NTILE-cliff class):
    * a histogram-CDF two-phase cut, bit-identical to the naive
    * definition. Phase 1 buckets the hash uniform into `buckets`
    * equal-width cells and aggregates per-(domain, bucket) token sums —
    * one hash agg, ≤ |domains|·`buckets` rows to the driver. Each
    * domain's crossing bucket is found driver-side with exact integer
    * cumsums: every bucket strictly below it keeps ALL rows (a pure
    * filter — any row there has exclusive cum < its bucket's inclusive
    * cumsum ≤ budget), every bucket above drops all rows, and ONLY the
    * crossing bucket's rows (≈ 1/`buckets` of the domain) pay the exact
    * cumulative window, seeded with the exact token cumsum below the
    * bucket. All token arithmetic is integral (longs) end-to-end, so the
    * keep set matches the naive window — and the SQL oracle — exactly.
    *
    * NULL keys hash to NULL and are DROPPED, in all variants (the
    * [[weightedSample]] / [[hashSplit]] hash-sampler convention); the
    * bit-identity claim is over non-null keys — a naive asc-nulls-first
    * window would instead sort a null-key row first and keep it. Filter
    * or surrogate null keys upstream if they carry token mass. The domain
    * column must be StringType (budgets are keyed by string; cast first).
    *
    * Sizing `buckets` under domain SKEW: the crossing sliver is
    * ≈ n_hot/`buckets` rows of the hottest budgeted domain on ONE
    * reducer — keep it ≲ 10⁷ (buckets ≈ n_hot/10⁷) and NO larger:
    * oversizing only pays per-(domain, bucket) hash-agg cardinality
    * (measured 90/9/1 skew table, BENCH_NOTES r12: B=1024 is free at a
    * 162M-row hot domain, B=131072 costs +22%; undersizing costs the
    * sliver sort — B=64 at 60M-row domains is +31%). The default 1024
    * covers a hot domain to ~10¹⁰ rows; the driver histogram is
    * |domains|·buckets rows, driver-trivial for model-sized domain
    * counts. Correctness is bucket-invariant (spec-pinned); only the
    * sliver's sort size changes. */
  def sampleToTokenBudget(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      budgets: Seq[(String, Long)],
      salt: String = "",
      buckets: Int = 1024
  ): DataFrame = {
    val base = tokenBudgetBase(df, domainCol, keyCol, tokens, budgets,
      salt, buckets)
    val cross = tokenBudgetCross(base, domainCol, budgets, buckets)
    tokenBudgetKeep(base, domainCol, keyCol, cross)
  }

  /** Phase 2 of the exact token-budget cut, given each domain's crossing
    * bucket + exact below-crossing cumsum: every bucket strictly below
    * crosses whole (pure filter), ONLY the crossing bucket's sliver pays
    * the exact cumulative window. Extracted verbatim from
    * [[sampleToTokenBudget]] (r17) so [[repeatToTokenBudget]] can reuse it
    * with crossings derived from its fused histogram. */
  private def tokenBudgetKeep(
      base: DataFrame,
      domainCol: String,
      keyCol: String,
      cross: Map[String, (Int, Long)]
  ): DataFrame = {
    val crossBkt = domainCase(cross.map { case (d, (cb, _)) => d -> cb },
      domainCol, "int")
    val belowTok = domainCase(cross.map { case (d, (_, b)) => d -> b },
      domainCol, "long")
    val keepAll = base.filter(col("__bkt") < crossBkt)
    // phase 2: the exact window runs ONLY on the crossing bucket's sliver
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col("__u").asc, col(keyCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val boundary = base.filter(col("__bkt") === crossBkt)
      .withColumn("__cum", belowTok + coalesce(sum(col("__tok")).over(w), lit(0L)))
      .filter(col("__cum") < col("__budget"))
      .drop("__cum")
    keepAll.unionByName(boundary)
      .drop("__budget", "__u", "__tok", "__bkt")
  }

  /** Epoch-repeat token-budget mixture — the UPSAMPLING half of the
    * training-mix arithmetic ("2.4 epochs of Wikipedia, 0.3 epochs of
    * web"): where [[sampleToTokenBudget]] can only cut a domain DOWN to
    * its budget, this repeats a domain whose budget EXCEEDS its inventory.
    * With per-domain inventory T_d and budget B_d, every row of domain d
    * is emitted ⌊B_d/T_d⌋ times (`epoch` = 0 … ⌊B_d/T_d⌋−1) and the
    * remaining B_d − ⌊B_d/T_d⌋·T_d tokens come from one final
    * [[sampleToTokenBudget]] pass (`epoch` = ⌊B_d/T_d⌋) under the SAME
    * salted hash order — so the partial epoch is a deterministic PREFIX of
    * the full-epoch order, sub-budgets nest, and B_d < T_d degenerates to
    * exactly the plain cut with `epoch` = 0. Exact-multiple budgets emit
    * no partial epoch. Per-epoch token mass is exact (each full epoch is
    * the whole inventory; the partial pass overshoots by < 1 row — the
    * [[sampleToTokenBudget]] contract). Returns `df`'s columns plus
    * `epoch` (int).
    *
    * Refusals: a budgeted domain with no rows, or with a ZERO token
    * inventory (nothing to repeat), or wanting more than `maxEpochs` full
    * epochs (a config-error guard — a mistyped budget would otherwise
    * silently explode the output 10⁶×) all refuse loudly. NULL keys are
    * dropped in BOTH parts (the hash-sampler convention); null token
    * counts consume 0 budget.
    *
    * Scale shape: the inventory is ONE per-domain hash agg collecting
    * |domains| rows; full epochs are a pure projection + a ≤`maxEpochs`-
    * element `sequence` explode (no shuffle, no window — output size is
    * the contract, not a plan hazard); the partial epoch reuses the
    * two-phase histogram-CDF cut. Nothing new sorts, shuffles, or reaches
    * the driver beyond |domains|-sized state. */
  def repeatToTokenBudget(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      budgets: Seq[(String, Long)],
      salt: String = "",
      buckets: Int = 1024,
      maxEpochs: Int = 1000
  ): DataFrame = {
    validateRepeatArgs(df, domainCol, budgets, maxEpochs)
    // FUSED phase 0+1 (r17, guide §2.4): ONE per-(domain, bucket)
    // token-sum histogram serves BOTH the epoch arithmetic (inventory =
    // the per-domain total over buckets) and the remainder cut's
    // crossing-bucket search — the old shape paid two full corpus
    // tokenize+aggregate passes (repeatPlan's inventory agg, then
    // sampleToTokenBudget's phase-1 agg) for the same information.
    // keyCol.isNotNull matches the old inventory filter exactly; the old
    // remainder histogram had no such filter, but a null key in a
    // budgeted domain made its getInt(crossing read) throw, so the two
    // shapes agree on every input the old one accepted.
    val hist: Map[String, Seq[(Int, Long)]] =
      tokenBudgetBase(df, domainCol, keyCol, tokens, budgets, salt, buckets)
        .filter(col(keyCol).isNotNull)
        .groupBy(col(domainCol).as("__d"), col("__bkt"))
        .agg(sum(col("__tok")).as("__t"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (d, rows) =>
          d -> rows.map(t => (t._2, t._3)).sortBy(_._1).toSeq
        }
    val inv = hist.map { case (d, rows) => d -> rows.map(_._2).sum }
    val plan = repeatPlanFrom(inv, budgets, maxEpochs)
    val fullDomains = plan.filter(_._2 >= 1)
    val budgetOf = domainCase(budgets.toMap, domainCol, "long")
    val inDomain = df.filter(budgetOf.isNotNull && col(keyCol).isNotNull)
    val full =
      if (fullDomains.isEmpty) None
      else {
        val eCase = domainCase(
          fullDomains.map { case (d, e, _) => d -> e }.toMap,
          domainCol, "int")
        Some(inDomain.filter(eCase.isNotNull)
          .withColumn("epoch", explode(sequence(lit(0), eCase - 1))))
      }
    val partDomains = plan.filter(_._3 > 0)
    val part =
      if (partDomains.isEmpty) None
      else {
        // remainder crossings from the SAME histogram (no second phase-1
        // agg); the keep/boundary assembly is sampleToTokenBudget's own
        val partBudgets = partDomains.map { case (d, _, r) => d -> r }
        val cross = partBudgets.map { case (d, r) =>
          d -> crossingOf(hist(d), r, buckets)
        }.toMap
        val baseRem = tokenBudgetBase(df, domainCol, keyCol, tokens,
          partBudgets, salt, buckets)
        val cut = tokenBudgetKeep(baseRem, domainCol, keyCol, cross)
        val eCase = domainCase(
          partDomains.map { case (d, e, _) => d -> e }.toMap,
          domainCol, "int")
        Some(cut.withColumn("epoch", eCase))
      }
    (full, part) match {
      case (Some(f), Some(p)) => f.unionByName(p)
      case (Some(f), None)    => f
      case (None, Some(p))    => p
      // unreachable: every budget is positive and every inventory is
      // positive, so e >= 1 or the remainder is > 0
      case (None, None)       => df.limit(0).withColumn("epoch", lit(0))
    }
  }

  /** Per-domain epoch arithmetic shared by [[repeatToTokenBudget]] and
    * [[repeatBudgetState]]: validate the budgets, aggregate the token
    * inventory (ONE hash agg, |domains| rows to the driver), and return
    * (domain, fullEpochs, remainderTokens) with the zero-inventory /
    * runaway-epoch / absent-domain refusals. */
  private def repeatPlan(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      budgets: Seq[(String, Long)],
      maxEpochs: Int
  ): Seq[(String, Int, Long)] = {
    validateRepeatArgs(df, domainCol, budgets, maxEpochs)
    val tok = coalesce(tokens.cast("long"), lit(0L))
    val budgetOf = domainCase(budgets.toMap, domainCol, "long")
    val inv = df.filter(budgetOf.isNotNull && col(keyCol).isNotNull)
      .groupBy(col(domainCol).as("__d"))
      .agg(sum(tok).as("__t"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    repeatPlanFrom(inv, budgets, maxEpochs)
  }

  /** The argument refusals shared by [[repeatToTokenBudget]] (fused
    * histogram) and [[repeatPlan]]. */
  private def validateRepeatArgs(
      df: DataFrame,
      domainCol: String,
      budgets: Seq[(String, Long)],
      maxEpochs: Int
  ): Unit = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.forall(_._2 > 0), s"budgets must be positive: $budgets")
    require(budgets.map(_._1).distinct.size == budgets.size,
      s"duplicate domains in budgets: $budgets")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    require(!df.columns.contains("epoch"),
      "df already carries an 'epoch' column — the repeat mixture appends " +
        "its own; rename or drop the existing one")
    requireStringDomain(df, domainCol)
  }

  /** The per-domain epoch arithmetic given the token inventory — the
    * zero-inventory / runaway-epoch / absent-domain refusals. */
  private def repeatPlanFrom(
      inv: Map[String, Long],
      budgets: Seq[(String, Long)],
      maxEpochs: Int
  ): Seq[(String, Int, Long)] = {
    val absent = budgets.map(_._1).toSet -- inv.keySet
    require(absent.isEmpty,
      s"budget domains with no rows: ${absent.toSeq.sorted.mkString(", ")} " +
        "(the sampleToMix contract: a budget for an absent domain is a " +
        "config error, not an empty sample)")
    budgets.map { case (d, b) =>
      val t = inv(d)
      require(t > 0,
        s"domain '$d' has a zero token inventory; it cannot be repeated " +
          "to a token budget")
      val e = b / t
      require(e <= maxEpochs,
        s"domain '$d' wants $e full epochs (budget $b over $t tokens) > " +
          s"maxEpochs $maxEpochs — raise maxEpochs deliberately if this " +
          "is intended")
      (d, e.toInt, b - e * t)
    }
  }

  /** Frozen state for [[repeatToTokenBudgetAgainst]] — the
    * [[tokenBudgetState]] pattern for the epoch-repeat mixture. The state
    * is the REMAINDER cut's frozen phase-1 state (crossing bucket, exact
    * below-sum, sliver rows) with one extra per-domain column `epochs`
    * (the full-epoch count ⌊B_d/T_d⌋); a domain whose budget is an exact
    * multiple of its inventory has no remainder pass and carries one
    * meta-only row with the sentinel `cross_bkt = -1`. Persist it like
    * any state frame; refresh by rebuilding when the inventory grows. */
  def repeatBudgetState(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      budgets: Seq[(String, Long)],
      salt: String = "",
      buckets: Int = 1024,
      maxEpochs: Int = 1000
  ): DataFrame = {
    val plan = repeatPlan(df, domainCol, keyCol, tokens, budgets, maxEpochs)
    val partDomains = plan.filter(_._3 > 0)
    val eCase = domainCase(
      plan.map { case (d, e, _) => d -> e }.toMap, "domain", "int")
    val part =
      if (partDomains.isEmpty) None
      else Some(tokenBudgetState(df, domainCol, keyCol, tokens,
        partDomains.map { case (d, _, r) => d -> r }, salt, buckets))
    val exactDomains = plan.filter(_._3 == 0L)
    val exact =
      if (exactDomains.isEmpty) None
      else {
        val keyType = df.schema(keyCol).dataType
        val session = df.sparkSession
        import session.implicits._
        Some(exactDomains.map { case (d, _, _) => (d, -1, 0L, 0L) }
          .sortBy(_._1)
          .toDF("domain", "cross_bkt", "below_tok", "budget")
          .withColumn("u", lit(null).cast("double"))
          .withColumn("key", lit(null).cast(keyType))
          .withColumn("tok", lit(null).cast("long"))
          .withColumn("salt", lit(salt))
          .withColumn("n_buckets", lit(buckets)))
      }
    val base = (part, exact) match {
      case (Some(p), Some(x)) => p.unionByName(x)
      case (Some(p), None)    => p
      case (None, Some(x))    => x
      case (None, None)       =>
        // unreachable: every plan entry has e >= 1 or remainder > 0
        sys.error("repeatBudgetState: empty plan")
    }
    base.withColumn("epochs", eCase)
  }

  /** Apply a frozen [[repeatBudgetState]] to new rows: every row of a
    * state domain is emitted once per FULL epoch (`epoch` = 0 … e−1 — a
    * pure broadcast-map + bounded explode), and the remainder pass is
    * [[sampleToTokenBudgetAgainst]] against the embedded remainder state
    * at `epoch` = e. Self-application reproduces [[repeatToTokenBudget]]
    * bit-for-bit, shards decompose, and micro-batches stream through
    * `foreachBatch` (both spec-pinned) — the ingest/streaming story for
    * the upsampling mixture. Rows from domains absent in the state are
    * dropped; NULL keys are dropped as in the batch form. */
  def repeatToTokenBudgetAgainst(
      state: DataFrame,
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column
  ): DataFrame =
    repeatToTokenBudgetAgainst(PreparedRepeatBudgetState(state), df,
      domainCol, keyCol, tokens)

  /** A [[repeatBudgetState]] frame with its driver-side meta cached —
    * the [[PreparedTokenBudgetState]] pattern for the repeat mixture:
    * the per-domain (epochs, crossing-bucket) map AND the embedded
    * remainder state's (salt, n_buckets) are probed once per STATE, not
    * once per micro-batch (the convenience DataFrame overload wraps per
    * call — two extra driver jobs per batch in a tight streaming
    * loop). */
  final case class PreparedRepeatBudgetState(state: DataFrame) {
    require(state.columns.contains("epochs"),
      "state must carry the repeatBudgetState 'epochs' column " +
        s"(got ${state.columns.toSeq})")
    /** |domains|-sized driver meta, same class as a budgets argument. */
    lazy val epochMeta: Map[String, (Int, Int)] =
      state.groupBy(col("domain"))
        .agg(first("epochs").as("__e"), max(col("cross_bkt")).as("__cb"))
        .collect()
        .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2))))
        .toMap
    /** The embedded remainder cut's prepared state (absent when every
      * domain's budget is an exact inventory multiple). */
    lazy val remainder: Option[PreparedTokenBudgetState] =
      if (epochMeta.valuesIterator.exists(_._2 >= 0))
        Some(PreparedTokenBudgetState(state.filter(col("cross_bkt") >= 0)))
      else None
  }

  /** [[repeatToTokenBudgetAgainst]] over a [[PreparedRepeatBudgetState]]
    * — identical semantics, meta probes amortized across calls. */
  def repeatToTokenBudgetAgainst(
      prepared: PreparedRepeatBudgetState,
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column
  ): DataFrame = {
    requireStringDomain(df, domainCol)
    require(!df.columns.contains("epoch"),
      "df already carries an 'epoch' column — the repeat mixture appends " +
        "its own; rename or drop the existing one")
    val em = prepared.epochMeta
    val fullDomains = em.collect { case (d, (e, _)) if e >= 1 => d -> e }
    val full =
      if (fullDomains.isEmpty) None
      else {
        val eCase = domainCase(fullDomains.toMap, domainCol, "int")
        Some(df.filter(eCase.isNotNull && col(keyCol).isNotNull)
          .withColumn("epoch", explode(sequence(lit(0), eCase - 1))))
      }
    val partDomains = em.collect { case (d, (e, cb)) if cb >= 0 => d -> e }
    val part =
      if (partDomains.isEmpty) None
      else {
        val eCase = domainCase(partDomains.toMap, domainCol, "int")
        Some(sampleToTokenBudgetAgainst(prepared.remainder.get, df,
            domainCol, keyCol, tokens)
          .withColumn("epoch", eCase))
      }
    (full, part) match {
      case (Some(f), Some(p)) => f.unionByName(p)
      case (Some(f), None)    => f
      case (None, Some(p))    => p
      case (None, None)       => df.limit(0).withColumn("epoch", lit(0))
    }
  }

  /** Shared validated projection of the exact token-budget cut: `df` plus
    * `__budget` (CASE over `budgets`, null-budget domains filtered out),
    * `__u` (salted md5 uniform of the key), `__tok` (long token count,
    * null → 0) and `__bkt` (⌊u·buckets⌋). A pure deterministic projection
    * — consumed by several jobs (histogram, keep-all filter, boundary
    * window) and deliberately NOT staged: re-deriving a codegen'd
    * projection from the scan is far cheaper than checkpoint-writing the
    * corpus (the rank-1-MF lesson). */
  private def tokenBudgetBase(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      budgets: Seq[(String, Long)],
      salt: String,
      buckets: Int
  ): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.forall(_._2 > 0), s"budgets must be positive: $budgets")
    require(budgets.map(_._1).distinct.size == budgets.size,
      s"duplicate domains in budgets: $budgets")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    requireStringDomain(df, domainCol)
    val u = graft.pipeline.TextOps
      .hash32(concat(lit(salt), col(keyCol).cast("string")))
      .cast("double") / lit(4294967296.0)
    val budgetOf = budgets.tail.foldLeft(
      when(col(domainCol) === budgets.head._1, lit(budgets.head._2))) {
      case (acc, (d, b)) => acc.when(col(domainCol) === d, lit(b))
    }
    df.withColumn("__budget", budgetOf)
      .filter(col("__budget").isNotNull)
      .withColumn("__u", u)
      .withColumn("__tok", coalesce(tokens.cast("long"), lit(0L)))
      .withColumn("__bkt", floor(u * lit(buckets.toDouble)).cast("int"))
  }

  /** Phase 1 of the exact token-budget cut: one per-(domain, bucket)
    * token-sum hash agg → driver (≤ |domains|·buckets rows), then each
    * domain's crossing bucket + the exact token cumsum below it, by
    * integral arithmetic. Crossing = the FIRST bucket whose INCLUSIVE
    * cumsum reaches the budget (`>=`, not `>`: a zero-token row sitting
    * exactly at an exhausted budget must route through the exact window,
    * where the strict `< budget` test drops it — the naive rule's
    * behavior); `buckets` (past the end) means the whole domain fits. */
  private def tokenBudgetCross(
      base: DataFrame,
      domainCol: String,
      budgets: Seq[(String, Long)],
      buckets: Int
  ): Map[String, (Int, Long)] = {
    val hist = base.groupBy(col(domainCol).as("__d"), col("__bkt"))
      .agg(sum(col("__tok")).as("__t"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    val absent = budgets.map(_._1).toSet -- hist.keySet
    require(absent.isEmpty,
      s"budget domains with no rows: ${absent.toSeq.sorted.mkString(", ")} " +
        "(the sampleToMix contract: a budget for an absent domain is a " +
        "config error, not an empty sample)")
    hist.map { case (d, rows) =>
      d -> crossingOf(rows.map(t => (t._2, t._3)).sortBy(_._1), budgets.toMap.apply(d), buckets)
    }
  }

  /** The crossing-bucket scan shared by [[tokenBudgetCross]] and the
    * fused histogram in [[repeatToTokenBudget]]: first bucket whose
    * INCLUSIVE cumsum reaches the budget, plus the exact cumsum below it.
    * `rows` must be (bucket, tokenSum) sorted by bucket. */
  private def crossingOf(
      rows: Seq[(Int, Long)],
      budget: Long,
      buckets: Int
  ): (Int, Long) = {
    var cum = 0L
    var cb = buckets // past the end: whole domain fits the budget
    var below = 0L
    var i = 0
    while (i < rows.length && cb == buckets) {
      if (cum + rows(i)._2 >= budget) { cb = rows(i)._1; below = cum }
      else cum += rows(i)._2
      i += 1
    }
    (cb, below)
  }

  /** Domain-keyed literal CASE chain (the ≤64-level lookup-table tier —
    * model-sized domain maps never warrant a join). */
  private def domainCase[T](
      m: Map[String, T],
      domainCol: String,
      castTo: String
  ): Column =
    m.toSeq.foldLeft(lit(null).cast(castTo)) {
      case (acc, (d, v)) =>
        when(col(domainCol) === lit(d), lit(v)).otherwise(acc)
    }

  /** Frozen phase-1 state of [[sampleToTokenBudget]], for incremental /
    * streaming application via [[sampleToTokenBudgetAgainst]] (the
    * [[graft.pipeline.Dedup.spanFingerprints]] pattern: persistable
    * DataFrame state, shard-sized work per application). One row per
    * crossing-bucket ("sliver") row of each budgeted domain — (domain,
    * u, key, tok) — plus, for a domain whose whole inventory fits its
    * budget, a single meta-only row (null u/key/tok); every row carries
    * the domain's crossing bucket, exact below-crossing token cumsum,
    * budget, and the (salt, n_buckets) the state was built with —
    * application reads them FROM the state, so its bucket arithmetic can
    * never disagree with the freeze.
    * State size ≈ Σ_d n_d/buckets rows — persist it like any table and
    * refresh by REBUILDING (one hash-agg pass over the grown corpus;
    * crossing buckets move as inventory grows, so the state is never
    * unioned incrementally). */
  def tokenBudgetState(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      budgets: Seq[(String, Long)],
      salt: String = "",
      buckets: Int = 1024
  ): DataFrame = {
    val base = tokenBudgetBase(df, domainCol, keyCol, tokens, budgets,
      salt, buckets)
    val cross = tokenBudgetCross(base, domainCol, budgets, buckets)
    val crossBkt = domainCase(cross.map { case (d, (cb, _)) => d -> cb },
      domainCol, "int")
    val belowTok = domainCase(cross.map { case (d, (_, b)) => d -> b },
      domainCol, "long")
    val sliver = base.filter(col("__bkt") === crossBkt)
      .select(col(domainCol).as("domain"), crossBkt.as("cross_bkt"),
        belowTok.as("below_tok"), col("__budget").as("budget"),
        col("__u").as("u"), col(keyCol).as("key"), col("__tok").as("tok"))
    // a domain whose whole inventory fits its budget has no sliver rows
    // (cross_bkt = buckets, past the end) but still needs its meta row —
    // application must keep ALL its rows, not drop an unknown domain
    val keyType = df.schema(keyCol).dataType
    val session = df.sparkSession
    import session.implicits._
    val fits = cross.toSeq.collect { case (d, (cb, below)) if cb == buckets =>
      (d, cb, below, budgets.toMap.apply(d))
    }.sortBy(_._1)
    val meta = fits.toDF("domain", "cross_bkt", "below_tok", "budget")
      .withColumn("u", lit(null).cast("double"))
      .withColumn("key", lit(null).cast(keyType))
      .withColumn("tok", lit(null).cast("long"))
    sliver.unionByName(meta)
      .withColumn("salt", lit(salt))
      .withColumn("n_buckets", lit(buckets))
  }

  /** Apply a frozen [[tokenBudgetState]] to new rows: keep row r iff the
    * token mass of the FROZEN inventory's rows ordered before r (hash
    * order: u asc, key asc, within r's domain) is under the domain's
    * budget — a pure per-row function of the frozen state, so shards
    * clean independently (union of per-shard applications ≡ one
    * application to the union) and micro-batches stream through it in
    * `foreachBatch` (parity spec'd in StreamingSpec — the streaming story
    * for the EXACT cut; the approx form needs no state at all). Applying
    * a corpus's own state back to that corpus reproduces
    * [[sampleToTokenBudget]] bit-for-bit (spec-pinned). Rows from domains
    * absent in the state are dropped (the budget-CASE convention); NULL
    * keys are dropped as in the batch form; `keyCol` must have the
    * state's key type. On a u-tie between a new row and the SAME key's
    * frozen twin the twin is not counted (that is what makes
    * self-application exact); distinct keys tie-break by key asc, as in
    * the batch form.
    *
    * Scale shape: one broadcast of the |domains|-row meta, a pure filter
    * for every non-crossing bucket, and ONE window over (new crossing
    * rows ∪ frozen sliver) — sliver-sized on both sides, never the
    * corpus. */
  def sampleToTokenBudgetAgainst(
      state: DataFrame,
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column
  ): DataFrame =
    sampleToTokenBudgetAgainst(PreparedTokenBudgetState(state), df,
      domainCol, keyCol, tokens)

  /** A [[tokenBudgetState]] frame with its driver-side meta (salt,
    * n_buckets) read ONCE and cached — wrap the state before a
    * high-frequency `foreachBatch` loop so the meta `head()` probe costs
    * one driver job per STATE, not one per micro-batch (the convenience
    * `sampleToTokenBudgetAgainst(state, …)` overload wraps per call and
    * pays the probe each time — fine for batch, wasteful in a tight
    * streaming loop). Column validation happens at construction; the
    * meta probe on first use. */
  final case class PreparedTokenBudgetState(state: DataFrame) {
    private val stateCols = Seq("domain", "cross_bkt", "below_tok",
      "budget", "u", "key", "tok", "salt", "n_buckets")
    require(stateCols.forall(state.columns.contains),
      s"state must carry tokenBudgetState columns $stateCols, " +
        s"got ${state.columns.toSeq}")
    /** (salt, n_buckets) frozen into the state — every row repeats them,
      * so the unordered head() is deterministic. */
    lazy val saltBuckets: (String, Int) = {
      val head = state.select("salt", "n_buckets").head()
      (head.getString(0), head.getInt(1))
    }
  }

  /** [[sampleToTokenBudgetAgainst]] over a [[PreparedTokenBudgetState]] —
    * identical semantics, meta probe amortized across calls. */
  def sampleToTokenBudgetAgainst(
      prepared: PreparedTokenBudgetState,
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column
  ): DataFrame = {
    requireStringDomain(df, domainCol)
    val state = prepared.state
    val (salt, buckets) = prepared.saltBuckets
    val u = graft.pipeline.TextOps
      .hash32(concat(lit(salt), col(keyCol).cast("string")))
      .cast("double") / lit(4294967296.0)
    // every state row of a domain repeats the same meta values, so the
    // unordered first() is deterministic here; the rename keeps a caller
    // domain column literally named "domain" unambiguous
    val meta = state.groupBy(col("domain").as("__mdom"))
      .agg(first("cross_bkt").as("__cb"), first("below_tok").as("__below"),
        first("budget").as("__bgt"))
    val joined = df
      .withColumn("__u", u)
      .withColumn("__tok", coalesce(tokens.cast("long"), lit(0L)))
      .withColumn("__bkt",
        floor(col("__u") * lit(buckets.toDouble)).cast("int"))
      .join(broadcast(meta), col(domainCol) === col("__mdom"), "inner")
      .drop("__mdom")
    val outCols = df.columns.toSeq
    val keepAll = joined.filter(col("__bkt") < col("__cb"))
      .select(outCols.map(col): _*)
    // crossing-bucket rows: exclusive cumsum of FROZEN tokens over the
    // union; new rows carry __tag 0 and sort before a frozen row with
    // the same (u, key), so a row's own frozen twin is never counted
    val cand = joined.filter(col("__bkt") === col("__cb"))
      .select(col(domainCol).as("__d"), col("__u"),
        col(keyCol).as("__k"), lit(0L).as("__ftok"), lit(0).as("__tag"),
        col("__below"), col("__bgt"),
        struct(outCols.map(col): _*).as("__row"))
    val frozen = state.filter(col("u").isNotNull)
      .select(col("domain").as("__d"), col("u").as("__u"),
        col("key").as("__k"), col("tok").as("__ftok"), lit(1).as("__tag"),
        lit(null).cast("long").as("__below"),
        lit(null).cast("long").as("__bgt"),
        lit(null).cast(cand.schema("__row").dataType).as("__row"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__d"))
      .orderBy(col("__u").asc, col("__k").asc, col("__tag").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val boundary = cand.unionByName(frozen)
      .withColumn("__cum", coalesce(sum(col("__ftok")).over(w), lit(0L)))
      .filter(col("__tag") === 0 &&
        col("__below") + col("__cum") < col("__bgt"))
      .select(outCols.map(c => col(s"__row.`$c`").as(c)): _*)
    keepAll.unionByName(boundary)
  }

  /** Priority token-budget cut: per domain keep the HIGHEST-`priority`
    * rows — order (priority desc, key asc), null priority = lowest — until
    * `budget_d` tokens, the "best N billion tokens per domain" curation
    * primitive ([[sampleToTokenBudget]] keeps a hash-RANDOM sample; this
    * keeps the TOP of a quality ranking). Same keep rule: a row survives
    * iff the exclusive running token sum of the higher-priority rows in
    * its domain is under the budget. Same domain-dropping and
    * absent-domain-refusal semantics as [[sampleToTokenBudget]]. Returns
    * the kept rows unchanged. The `priority` expression evaluates in each
    * of the operator's scans (probe, histogram, keep-filter, sliver
    * window) — an EXPENSIVE priority (e.g. `TextOps.qualityScore`) pays
    * ×8.7 at 500k docs (BENCH_NOTES r11). Two remedies: materialize the
    * priority into a stored column yourself, or pass
    * `materializePriority = true` — the operator then stages ONE slim
    * (domain, key, tok, priority) projection (4 narrow columns, NOT the
    * corpus — the rank-1-MF anti-lesson doesn't apply at that width),
    * runs the whole cut on it, and left-semi joins the kept keys back.
    * The flag requires UNIQUE, NON-NULL keys — ENFORCED by one agg on
    * the staged slim frame (a duplicate key would silently keep every
    * copy of a kept key; a null key would silently vanish) — and
    * trades one corpus-sized key join for re-evaluating the priority in
    * 3-4 scans — worth it only when the priority dominates the scan
    * (measured A/B in BENCH_NOTES r12); the default evaluates in-scan.
    *
    * Scale shape — the same two-phase cut as [[sampleToTokenBudget]],
    * with the uniform-hash buckets replaced by `buckets` equal-frequency
    * priority bins from ONE histogram-CDF probe
    * (`Dbbinsreg.quantileCutBins` — two narrow scans, bounded driver
    * state, no sort; the bin key is the codegen'd binary-search
    * `BucketBin` past 64 cuts): per-(domain, bin) token sums to the
    * driver, bins above the crossing keep as a pure filter, and only the
    * crossing bin's sliver pays the (priority desc, key) window, seeded
    * with the exact above-sum. Bucketing is monotone in priority, so the
    * keep set is bit-identical to the naive per-domain window whatever
    * the cuts — a heavily tied priority column only grows the sliver
    * (degenerating to the naive window when every row ties), never the
    * answer. Token arithmetic is integral end-to-end.
    *
    * Tied-class caveat (measured): SATURATING scores produce fat tied
    * classes — `TextOps.qualityScore`'s capped terms put 43% of the ×100
    * docs corpus at exactly 0.7, and when the budget crosses inside a
    * tied class the sliver IS that class (215k rows there; BENCH_NOTES
    * r12). If the sliver matters, compose a deterministic hash
    * tie-breaker into the priority AND size it to the quantile probe:
    * the probe's histogram cell is span·`relErr` wide, so the epsilon
    * must exceed that or the tied class still lands in one cell (cuts
    * interpolate uniformly within a cell — valid only when the epsilon
    * spreads the ties across cells). Measured: `p + hash32(key)/2³²·1e-5`
    * with `relErr = 1e-6` thins the state 464× (215,696 → 465 rows,
    * ≈ n/buckets); the same hash at 1e-9 under the default relErr
    * changes nothing. The epsilon DEFINES the within-tie order (replacing
    * key order) and perturbs genuine score gaps smaller than itself —
    * acceptable for curation cuts, size it below the gaps you care
    * about. */
  def takeTopTokenBudget(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      priority: Column,
      budgets: Seq[(String, Long)],
      buckets: Int = 1024,
      relErr: Double = 1e-3,
      materializePriority: Boolean = false
  ): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.forall(_._2 > 0), s"budgets must be positive: $budgets")
    require(budgets.map(_._1).distinct.size == budgets.size,
      s"duplicate domains in budgets: $budgets")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    requireStringDomain(df, domainCol)
    if (materializePriority) {
      // evaluate the priority ONCE: stage the slim 4-column projection,
      // run the identical cut on it, semi-join the kept keys back (keys
      // must be unique — the priority order is keyed anyway)
      import graft.Staging.StagedFrame
      val slim = df.select(col(domainCol), col(keyCol),
          tokens.cast("long").as("__mtok"),
          priority.cast("double").as("__mp"))
        .staged
      // the semi-join back requires UNIQUE, NON-NULL keys (a duplicate
      // key would silently keep EVERY copy of a kept key; a null key
      // never matches the semi-join and would silently vanish) — one
      // cheap agg on the already-staged slim frame enforces it
      val chk = slim.agg(count(lit(1)).as("__n"),
        count(col(keyCol)).as("__nk"),
        countDistinct(col(keyCol)).as("__nd")).head()
      require(chk.getLong(0) == chk.getLong(1),
        s"materializePriority requires non-null keys: " +
          s"${chk.getLong(0) - chk.getLong(1)} null `$keyCol` rows " +
          "(the kept-key semi-join cannot match them)")
      require(chk.getLong(1) == chk.getLong(2),
        s"materializePriority requires unique keys: `$keyCol` has " +
          s"${chk.getLong(1)} rows but only ${chk.getLong(2)} distinct " +
          "values (the kept-key semi-join would keep every copy of a " +
          "kept key) — deduplicate or use the default in-scan priority")
      val kept = takeTopTokenBudget(slim, domainCol, keyCol,
          col("__mtok"), col("__mp"), budgets, buckets, relErr)
        .select(col(keyCol))
      return df.join(kept, Seq(keyCol), "left_semi")
    }
    val (withBkt, cross, _) = topBudgetPhase1(df, domainCol, keyCol,
      tokens, priority, budgets, buckets, relErr)
    val crossBkt = domainCase(cross.map { case (d, (cb, _)) => d -> cb },
      domainCol, "int")
    val aboveTok = domainCase(cross.map { case (d, (_, a)) => d -> a },
      domainCol, "long")
    val keepAll = withBkt.filter(col("__bkt") > crossBkt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col("__p").desc, col(keyCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val boundary = withBkt.filter(col("__bkt") === crossBkt)
      .withColumn("__cum", aboveTok + coalesce(sum(col("__tok")).over(w), lit(0L)))
      .filter(col("__cum") < col("__budget"))
      .drop("__cum")
    keepAll.unionByName(boundary)
      .drop("__budget", "__p", "__tok", "__bkt")
  }

  /** Shared phase 1 of the priority cut: the validated (__budget, __p,
    * __tok, __bkt) projection (pure, NOT staged — the rank-1-MF lesson),
    * the per-(domain, bin) token histogram, and each domain's crossing
    * bin + exact above-crossing token cumsum. Null priorities skip the
    * quantile probe (they would poison the histogram bounds) and take
    * sentinel bin 0 — BELOW every real bin, so the descending crossing
    * walk visits them last, exactly their (priority desc → nulls last)
    * position in the naive order; crossing = the first bin (walking from
    * the top) whose inclusive cumsum reaches the budget, and cb = 0
    * covers both "crossed inside the null bin" and "whole domain fits"
    * (above distinguishes them). Returns (withBkt, cross, hist-presence
    * per domain). */
  private def topBudgetPhase1(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      priority: Column,
      budgets: Seq[(String, Long)],
      buckets: Int,
      relErr: Double
  ): (DataFrame, Map[String, (Int, Long)], Map[String, Set[Int]]) = {
    val budgetOf = budgets.tail.foldLeft(
      when(col(domainCol) === budgets.head._1, lit(budgets.head._2))) {
      case (acc, (d, b)) => acc.when(col(domainCol) === d, lit(b))
    }
    val base = df
      .withColumn("__budget", budgetOf)
      .filter(col("__budget").isNotNull)
      .withColumn("__p", priority.cast("double"))
      .withColumn("__tok", coalesce(tokens.cast("long"), lit(0L)))
    val cuts = graft.binsreg.Dbbinsreg
      .quantileCutBins(base.filter(col("__p").isNotNull), "__p",
        buckets, relErr)
      .getOrElse(Array.empty[Double])
    val bkt = when(col("__p").isNull, lit(0))
      .otherwise(graft.binsreg.Dbbinsreg.caseChainBin(col("__p"), cuts))
    val withBkt = base.withColumn("__bkt", bkt.cast("int"))
    val hist = withBkt.groupBy(col(domainCol).as("__d"), col("__bkt"))
      .agg(sum(col("__tok")).as("__t"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    val absent = budgets.map(_._1).toSet -- hist.keySet
    require(absent.isEmpty,
      s"budget domains with no rows: ${absent.toSeq.sorted.mkString(", ")} " +
        "(the sampleToMix contract: a budget for an absent domain is a " +
        "config error, not an empty sample)")
    val cross: Map[String, (Int, Long)] = hist.map { case (d, rows) =>
      val budget = budgets.toMap.apply(d)
      val byBkt = rows.sortBy(-_._2)
      var cum = 0L
      var cb = 0
      var above = 0L
      var i = 0
      while (i < byBkt.length && cb == 0) {
        if (cum + byBkt(i)._3 >= budget) { cb = byBkt(i)._2; above = cum }
        else cum += byBkt(i)._3
        i += 1
      }
      d -> (cb, above)
    }
    (withBkt, cross, hist.map { case (d, rows) => d -> rows.map(_._2).toSet })
  }

  /** Frozen phase-1 state of [[takeTopTokenBudget]] — the priority cut's
    * ingest/streaming story, the [[tokenBudgetState]] twin. One row per
    * crossing-BIN ("sliver") row of each budgeted domain — (domain, p,
    * key, tok) — plus a meta-only row (null p/key/tok) for a domain whose
    * sliver is empty (its whole inventory fits the budget and it has no
    * null-priority rows); every row carries the domain's crossing bin,
    * exact above-crossing token cumsum, and budget. Application needs no
    * bin cuts: a new row routes against the sliver's own priority range
    * (see [[takeTopTokenBudgetAgainst]]), so the state is
    * cut-representation-free and persists like any table. The caller
    * must apply the SAME priority semantics at application time (the
    * `tokens` contract) — priorities are compared as doubles. State size
    * = the crossing sliver: ≈ n/buckets normally, but the whole tied
    * class when the budget crosses inside one (the saturating-score
    * caveat on [[takeTopTokenBudget]] — tie-break a saturating priority
    * to keep the state thin). */
  def topTokenBudgetState(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      priority: Column,
      budgets: Seq[(String, Long)],
      buckets: Int = 1024,
      relErr: Double = 1e-3
  ): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.forall(_._2 > 0), s"budgets must be positive: $budgets")
    require(budgets.map(_._1).distinct.size == budgets.size,
      s"duplicate domains in budgets: $budgets")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    requireStringDomain(df, domainCol)
    val (withBkt, cross, bins) = topBudgetPhase1(df, domainCol, keyCol,
      tokens, priority, budgets, buckets, relErr)
    val crossBkt = domainCase(cross.map { case (d, (cb, _)) => d -> cb },
      domainCol, "int")
    val aboveTok = domainCase(cross.map { case (d, (_, a)) => d -> a },
      domainCol, "long")
    val sliver = withBkt.filter(col("__bkt") === crossBkt)
      .select(col(domainCol).as("domain"), crossBkt.as("cross_bin"),
        aboveTok.as("above_tok"), col("__budget").as("budget"),
        col("__p").as("p"), col(keyCol).as("key"), col("__tok").as("tok"))
    // a domain whose crossing bin holds NO rows (whole inventory fits and
    // no null-priority rows exist) still needs its meta row
    val keyType = df.schema(keyCol).dataType
    val session = df.sparkSession
    import session.implicits._
    val fits = cross.toSeq.collect {
      case (d, (cb, above)) if !bins(d).contains(cb) =>
        (d, cb, above, budgets.toMap.apply(d))
    }.sortBy(_._1)
    val meta = fits.toDF("domain", "cross_bin", "above_tok", "budget")
      .withColumn("p", lit(null).cast("double"))
      .withColumn("key", lit(null).cast(keyType))
      .withColumn("tok", lit(null).cast("long"))
    sliver.unionByName(meta)
  }

  /** Apply a frozen [[topTokenBudgetState]] to new rows: keep row r iff
    * the token mass of the FROZEN inventory's rows ranked above it
    * (priority desc, key asc, nulls last, within r's domain) is under
    * the domain's budget — a pure per-row function of the frozen state
    * (shards decompose; foreachBatch streams it; parity spec'd).
    * Applying a corpus's own state back to that corpus reproduces
    * [[takeTopTokenBudget]] bit-for-bit (spec-pinned).
    *
    * Routing needs no frozen bin cuts — bins are monotone in priority,
    * so the sliver's own range decides: a non-null priority ABOVE the
    * sliver's max outranks at most the above-crossing mass (< budget —
    * keep); one BELOW the sliver's min is outranked by at least the
    * inclusive crossing mass (≥ budget — drop); inside the range (and
    * null-priority rows when the crossing sits in the null bin) the
    * exact window runs over (new rows ∪ frozen sliver) — sliver-sized,
    * new rows ordered before frozen twins on full ties so
    * self-application is exact. Null-priority new rows drop whenever the
    * budget is exhausted inside non-null mass (cross_bin ≥ 1). Rows from
    * domains absent in the state are dropped (the budget-CASE
    * convention). */
  def takeTopTokenBudgetAgainst(
      state: DataFrame,
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      priority: Column
  ): DataFrame = {
    requireStringDomain(df, domainCol)
    val stateCols = Seq("domain", "cross_bin", "above_tok", "budget",
      "p", "key", "tok")
    require(stateCols.forall(state.columns.contains),
      s"state must carry topTokenBudgetState columns $stateCols, " +
        s"got ${state.columns.toSeq}")
    // min/max ignore nulls: a null-bin sliver (cross_bin = 0 with
    // null-priority rows) or a meta-only row yields null bounds, and the
    // cb = 0 routing below never consults them
    val meta = state.groupBy(col("domain").as("__mdom"))
      .agg(first("cross_bin").as("__cb"), first("above_tok").as("__above"),
        first("budget").as("__bgt"),
        min("p").as("__plo"), max("p").as("__phi"))
    val joined = df
      .withColumn("__p", priority.cast("double"))
      .withColumn("__tok", coalesce(tokens.cast("long"), lit(0L)))
      .join(broadcast(meta), col(domainCol) === col("__mdom"), "inner")
      .drop("__mdom")
    val outCols = df.columns.toSeq
    val pNew = col("__p")
    val keepFast = (col("__cb") === 0 && pNew.isNotNull) ||
      (pNew.isNotNull && col("__phi").isNotNull && pNew > col("__phi"))
    val dropFast = (col("__cb") > 0 && pNew.isNull) ||
      (pNew.isNotNull && col("__plo").isNotNull && pNew < col("__plo"))
    val keepAll = joined.filter(keepFast).select(outCols.map(col): _*)
    val cand = joined.filter(!keepFast && !dropFast)
      .select(col(domainCol).as("__d"), col("__p"),
        col(keyCol).as("__k"), lit(0L).as("__ftok"), lit(0).as("__tag"),
        col("__above"), col("__bgt"),
        struct(outCols.map(col): _*).as("__row"))
    val frozen = state.filter(col("key").isNotNull || col("p").isNotNull)
      .select(col("domain").as("__d"), col("p").as("__p"),
        col("key").as("__k"), col("tok").as("__ftok"), lit(1).as("__tag"),
        lit(null).cast("long").as("__above"),
        lit(null).cast("long").as("__bgt"),
        lit(null).cast(cand.schema("__row").dataType).as("__row"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__d"))
      .orderBy(col("__p").desc, col("__k").asc, col("__tag").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val boundary = cand.unionByName(frozen)
      .withColumn("__cum", coalesce(sum(col("__ftok")).over(w), lit(0L)))
      .filter(col("__tag") === 0 &&
        col("__above") + col("__cum") < col("__bgt"))
      .select(outCols.map(c => col(s"__row.`$c`").as(c)): _*)
    keepAll.unionByName(boundary)
  }

  /** UniMax token allocation (Chung et al. 2023): split a TOTAL token
    * budget across domains as evenly as possible while capping every
    * domain at `maxEpochs` passes over its inventory — the multilingual
    * -pretraining mixture rule that needs no temperature tuning and
    * never over-epochs a low-resource language. Waterfilling over
    * domains sorted by inventory (ascending, ties by name): each takes
    * min(maxEpochs · T_d, ⌊remaining / domains-left⌋); integer
    * arithmetic end-to-end, so the allocation carries an exact SQL
    * oracle (a |domains|-step recursion). NULL-domain and zero-inventory
    * rows are excluded before allocation; a domain allocated 0 tokens
    * (total exhausted by smaller domains' caps never happens — the even
    * share only shrinks as domains drop off — but a sub-|domains| total
    * can) is EXCLUDED from the result, honoring the budget-positivity
    * contract of the cut operators.
    *
    * Returns the |domains|-sized `budgets` list — feed it to
    * [[repeatToTokenBudget]] (upsampling, `maxEpochs` > 1) or
    * [[sampleToTokenBudget]] (pure downsampling, `maxEpochs` = 1). One
    * domain-keyed token-sum aggregate (model-sized collect) — the same
    * driver-state class as every budgets argument. */
  def uniMaxBudgets(
      df: DataFrame,
      domainCol: String,
      tokens: Column,
      totalBudget: Long,
      maxEpochs: Int = 1
  ): Seq[(String, Long)] =
    uniMaxBudgetsFromState(
      uniMaxState(df, domainCol, tokens), totalBudget, maxEpochs)

  /** Frozen token-inventory state for the UniMax family — the
    * |domains|-sized (domain, tok) sliver [[uniMaxBudgets]] probes the
    * live frame for, persisted once so a daily-ingest caller can re-cut
    * allocations (different totals, different epoch caps) WITHOUT
    * re-scanning the corpus — the same frozen-inventory shape as every
    * other budget-family state (README state matrix). One domain-keyed
    * token-sum aggregate (map-side partials); NULL domains excluded,
    * zero-inventory domains kept in the state (allocation drops them —
    * the state records the inventory, the policy lives in the cut). */
  def uniMaxState(
      df: DataFrame,
      domainCol: String,
      tokens: Column
  ): DataFrame = {
    requireStringDomain(df, domainCol)
    df.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol).as("domain"))
      .agg(sum(coalesce(tokens.cast("long"), lit(0L))).as("tok"))
  }

  /** Monotone refresh of a [[uniMaxState]] inventory: token sums are
    * additive, so the union state is one domain-keyed re-sum of the two
    * slivers — |domains|-sized work, nothing corpus-sized recomputes.
    * Fold a daily shard in as
    * `uniMaxStateMerge(state, uniMaxState(shard, …))`; spec-pinned equal
    * to rebuilding over the union. */
  def uniMaxStateMerge(a: DataFrame, b: DataFrame): DataFrame = {
    require(Seq("domain", "tok").forall(a.columns.contains) &&
        Seq("domain", "tok").forall(b.columns.contains),
      s"uniMax states must carry (domain, tok), got ${a.columns.toSeq} / ${b.columns.toSeq}")
    a.select(col("domain"), col("tok"))
      .unionByName(b.select(col("domain"), col("tok")))
      .groupBy("domain")
      .agg(sum(col("tok")).as("tok"))
  }

  /** UniMax waterfill from a frozen [[uniMaxState]] inventory — the
    * state twin of [[uniMaxBudgets]] (identical allocation, spec-pinned):
    * |domains|-sized collect + a |domains|-step driver fold. */
  def uniMaxBudgetsFromState(
      state: DataFrame,
      totalBudget: Long,
      maxEpochs: Int = 1
  ): Seq[(String, Long)] =
    uniMaxWaterfill(collectUniMaxState(state), totalBudget, maxEpochs)

  /** The |domains|-sized state collect the UniMax entry points share —
    * validated by name so a malformed frame refuses loudly. */
  private def collectUniMaxState(state: DataFrame): Seq[(String, Long)] = {
    require(Seq("domain", "tok").forall(state.columns.contains),
      s"uniMax state must carry (domain, tok), got ${state.columns.toSeq}")
    state.select(col("domain"), col("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
  }

  /** The pure waterfill over a collected inventory (Chung et al. 2023):
    * ascending-inventory order (ties by name), each domain takes
    * min(maxEpochs·T, ⌊remaining / domains-left⌋), integer end-to-end. */
  private def uniMaxWaterfill(
      inventory: Seq[(String, Long)],
      totalBudget: Long,
      maxEpochs: Int
  ): Seq[(String, Long)] = {
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val inv = inventory.filter(_._2 > 0L).sortBy { case (d, t) => (t, d) }
    var rem = totalBudget
    val out = Seq.newBuilder[(String, Long)]
    inv.zipWithIndex.foreach { case ((d, t), i) =>
      val share = rem / (inv.length - i)
      val a = math.min(maxEpochs.toLong * t, share)
      if (a > 0L) out += (d -> a)
      rem -= a
    }
    out.result()
  }

  /** The [[uniMaxBudgetsFromState]] allocation as a FRAME with per-domain
    * provenance — (domain, tok, budget, epochs = budget/tok) — for
    * logging/audit beside the mixture cut (the allocation a training run
    * actually used is worth persisting with the run). Built driver-side
    * from the |domains|-sized waterfill; zero-budget domains are absent,
    * honoring the budget-positivity contract of the cut operators. */
  def uniMaxAllocation(
      state: DataFrame,
      totalBudget: Long,
      maxEpochs: Int = 1
  ): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    // ONE state aggregation/collect feeds both the waterfill and the
    // provenance columns — a live (unpersisted) state scans once
    val inv = collectUniMaxState(state)
    val budgets = uniMaxWaterfill(inv, totalBudget, maxEpochs).toMap
    inv.collect { case (d, t) if budgets.contains(d) =>
      (d, t, budgets(d), budgets(d).toDouble / t.toDouble)
    }.toDF("domain", "tok", "budget", "epochs")
  }

  /** The window-free approximate form of [[sampleToTokenBudget]]: keep
    * each row with probability budget_d / total_tokens_d (clamped to 1)
    * via [[weightedSample]], so each domain's OUTPUT TOKEN MASS equals
    * min(budget, total) in expectation. One domain-keyed token-sum
    * aggregate (model-sized collect) derives the rates; the plan is then
    * a pure filter — no window, no shuffle — for corpora where even the
    * boundary-bucket window of the exact form is unwelcome. Same
    * determinism (salted md5 uniforms), domain-dropping, and
    * absent-domain-refusal semantics as the exact form. */
  def sampleToTokenBudgetApprox(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      tokens: Column,
      budgets: Seq[(String, Long)],
      salt: String = ""
  ): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.forall(_._2 > 0), s"budgets must be positive: $budgets")
    require(budgets.map(_._1).distinct.size == budgets.size,
      s"duplicate domains in budgets: $budgets")
    requireStringDomain(df, domainCol)
    val totals = df.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol))
      .agg(sum(coalesce(tokens.cast("long"), lit(0L))).as("__t"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1).toSeq
    val tm = totals.toMap
    val absent = budgets.map(_._1).toSet -- tm.keySet
    require(absent.isEmpty,
      s"budget domains with no rows: ${absent.toSeq.sorted.mkString(", ")} " +
        "(the sampleToMix contract: a budget for an absent domain is a " +
        "config error, not an empty sample)")
    val rates = budgets.map { case (d, b) =>
      val t = tm(d)
      d -> (if (t <= 0L) 1.0 else math.min(1.0, b.toDouble / t.toDouble))
    }
    val rate = rates.tail.foldLeft(
      when(col(domainCol) === rates.head._1, lit(rates.head._2))) {
      case (acc, (d, r)) => acc.when(col(domainCol) === d, lit(r))
    }
    weightedSample(df, keyCol, rate, salt)
  }

  /** The domain-keyed samplers key their budgets/shares by STRING, and
    * their driver-side collects read the domain column as a string — a
    * non-string domain would hash/collect inconsistently between variants
    * (an int domain coerces in the `===` CASE chain but throws in the
    * collect). One loud contract for the whole family: cast first. */
  private def requireStringDomain(df: DataFrame, domainCol: String): Unit = {
    val dt = df.schema(domainCol).dataType
    require(dt == org.apache.spark.sql.types.StringType,
      s"domain column '$domainCol' must be StringType (got " +
        s"${dt.simpleString}) — budgets/shares are keyed by string; " +
        s"cast the column first")
  }

  /** Per-domain row counts (model-sized collect), name-sorted so every
    * downstream floating-point fold is layout-invariant. NULL domains are
    * dropped — they can never match a share entry, and the other samplers
    * ([[sampleToMix]] CASE chain, [[weightedSample]]) drop them too. */
  private def domainCounts(
      df: DataFrame,
      domainCol: String
  ): Seq[(String, Long)] = {
    requireStringDomain(df, domainCol)
    df.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1).toSeq
  }

  private def temperatureSharesFrom(
      counts: Seq[(String, Long)],
      alpha: Double
  ): Seq[(String, Double)] = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(counts.nonEmpty, "temperature mixture over an empty frame")
    // IEEE sqrt is correctly rounded on every platform; pow is only
    // 1-ulp accurate and may differ between libms (engine vs oracle), so
    // the common alpha = 0.5 routes through sqrt for bit parity. Other
    // alphas carry a 1-ulp cross-engine risk at floor(share*n_out)
    // boundaries.
    counts.map { case (d, n) =>
      d -> (if (alpha == 0.5) math.sqrt(n.toDouble)
            else math.pow(n.toDouble, alpha))
    }
  }

  /** The window-free approximate form of [[sampleToMix]]: instead of an
    * exact per-domain hash-rank cut, keep each row with probability
    * take_d / n_d via [[weightedSample]] — per-domain counts are correct
    * in EXPECTATION (±√n noise), but the plan is a pure filter with no
    * per-domain sort, for corpora where a domain is too hot to window.
    * Same determinism guarantees; same domain-dropping semantics.
    */
  def sampleToMixApprox(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      shares: Seq[(String, Double)],
      salt: String = ""
  ): DataFrame =
    sampleToMixApproxCore(df, domainCol, keyCol,
      mixTakesFrom(domainCounts(df, domainCol), shares), salt)

  private def sampleToMixApproxCore(
      df: DataFrame,
      domainCol: String,
      keyCol: String,
      takes: Seq[(String, (Long, Long))],
      salt: String
  ): DataFrame = {
    val rate = takes.tail.foldLeft(
      when(col(domainCol) === takes.head._1,
        lit(takes.head._2._2.toDouble / takes.head._2._1))) {
      case (acc, (d, (n, t))) =>
        acc.when(col(domainCol) === d, lit(t.toDouble / n))
    }
    weightedSample(df, keyCol, rate, salt)
  }

  /** Per-domain (count, target take) for the mixture samplers: n_out =
    * ⌊min_d(n_d / share_d)⌋ (the largest total the inventory supports),
    * take_d = ⌊share_d · n_out⌋. */
  private def mixTakesFrom(
      counts: Seq[(String, Long)],
      shares: Seq[(String, Double)]
  ): Seq[(String, (Long, Long))] = {
    require(shares.nonEmpty, "shares must be non-empty")
    require(shares.forall(_._2 > 0), s"shares must be positive: $shares")
    val total = shares.map(_._2).sum
    val norm = shares.map { case (d, s) => (d, s / total) }
    val cm = counts.toMap
    norm.foreach { case (d, _) =>
      require(cm.contains(d), s"domain '$d' has no rows (have: ${cm.keys.toSeq.sorted.mkString(", ")})")
    }
    val nOut = math.floor(norm.map { case (d, s) => cm(d) / s }.min).toLong
    norm.map { case (d, s) => (d, (cm(d), math.floor(s * nOut).toLong)) }
  }

  /** One-pass column profiler: per column the null count, distinct count,
    * min/max/mean (numeric cast) — the data-quality summary a pipeline runs
    * before training ingest. Returns one row per column:
    * (col_name, n_rows, n_nulls, n_distinct, min_val, max_val, mean_val).
    *
    * Scale shape: ONE aggregate job over one scan. With
    * `exactDistinct=false` (the 100 TB default) distinct counts use
    * HyperLogLog (`approx_count_distinct`, no Expand); `true` switches to
    * exact COUNT(DISTINCT) — Catalyst plans k distinct aggregates as an
    * Expand (k× the scan's rows through the first aggregate), acceptable
    * for oracle parity and bounded k. The unpivot to rows is a `stack`
    * projection over the single 1-row result. Columns must cast to double
    * (profile strings via a length/hash projection first). */
  def profile(
      df: DataFrame,
      cols: Seq[String],
      exactDistinct: Boolean = false
  ): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    cols.foreach(c => require(df.columns.contains(c), s"column '$c' not found"))
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val cc = col(c)
      Seq(
        sum(when(cc.isNull, 1L).otherwise(0L)).as(s"_nn_$i"),
        (if (exactDistinct) countDistinct(cc)
         else approx_count_distinct(cc)).cast("long").as(s"_nd_$i"),
        min(cc.cast("double")).as(s"_mn_$i"),
        max(cc.cast("double")).as(s"_mx_$i"),
        avg(cc.cast("double")).as(s"_av_$i"))
    } :+ count(lit(1)).as("_n")
    val row1 = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.zipWithIndex
      .map { case (c, i) => s"'$c', _nn_$i, _nd_$i, _mn_$i, _mx_$i, _av_$i" }
      .mkString(", ")
    row1
      .selectExpr("_n",
        s"stack(${cols.length}, $stackArgs) AS " +
          "(col_name, n_nulls, n_distinct, min_val, max_val, mean_val)")
      .select(col("col_name"), col("_n").as("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"), col("mean_val"))
  }
}
