package graft.reg

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import graft.formula.{Formula, Vcov}
import graft.linalg.LinAlg
import graft.model.{ModelFrame, ModelMatrix}
import graft.model.ModelFrame.{Design, Y, buildDesign}
import graft.model.ModelMatrix.MMCol

/** OLS / fixed-effects regression on Spark DataFrames.
  *
  * Spark-native re-implementation of the reference engine's capabilities
  * (reference R/dbreg.R): a formula `y ~ x1 + x2 | fe1 + fe2` is compiled
  * into one-to-three DataFrame aggregation plans (Catalyst handles pushdown,
  * partial aggregation and codegen), a tiny sufficient-statistics result is
  * collected, and the estimates are finished with dense linear algebra on
  * the driver. Four acceleration strategies (reference dbreg.R:302-380):
  *
  *  - `moments`  — one global aggregation of the [1,X,y] moment triangle
  *  - `compress` — group-by compression (Wong et al. 2021); WLS on cells
  *  - `demean`   — within transform for 1-2 FE (FWL)
  *  - `mundlak`  — group-mean regressors for K FE (Mundlak 1978)
  *  - `hdfe`     — K-way / high-cardinality FE via alternating projections
  *                 (Guimarães & Portugal 2010; fixest-style demeaning as
  *                 iterated group-mean joins — BEYOND-REFERENCE: the
  *                 reference refuses >2 FE, dbreg.R:640-660)
  *  - `auto`     — cost-based chooser using cheap probe aggregations
  *
  * Scale notes: no step ever collects row-level data; every collect is a
  * 1-row moment vector, a ≤`compressNmax`-cell table, ≤64 mean rows per
  * FE key, or (CompressDriver only) a per-cluster score table. Every FE
  * strategy fetches its group means through [[groupMeans]]: one aggregate
  * over all FE keys and one bounded collect. A key with ≤64 levels
  * attaches as a literal lookup from the collected rows (nothing stays
  * cached); a larger key's mean table stays cached for the vcov pass and
  * joins, by broadcast up to 2M levels and by a shuffle join of the fact
  * table above that.
  */
object Dbreg {

  // widest dense design: a wider compress fit (terms + FE dummies) takes
  // the driver-side sparse WLS over its cells; Glm's dense IRLS refuses
  val MaxDesignCols = 120

  /** fitHdfe: projection-path steps between lineage stagings (inline-tier
    * FEs are pure literal-lookup projections — cheap to re-derive from
    * the scan, expensive to checkpoint at corpus size). */
  private val HdfeStageEvery = 8

  def fit(
      formula: String,
      df: DataFrame,
      vcov: String = "iid",
      strategy: String = "auto",
      compressRatio: Option[Double] = None,
      compressNmax: Long = 1000000L,
      ssc: String = "full",
      weights: Option[String] = None,
      hdfeTol: Double = 1e-8,
      hdfeMaxSweeps: Int = 60
  ): DbregResult = {
    val f = Formula.parse(formula)
    val v = Vcov.parse(vcov)
    fitParsed(f, df, v, strategy, compressRatio, compressNmax, ssc, weights,
      hdfeTol, hdfeMaxSweeps)
  }

  def fitParsed(
      f: Formula,
      df: DataFrame,
      v: Vcov,
      strategy: String = "auto",
      compressRatio: Option[Double] = None,
      compressNmax: Long = 1000000L,
      ssc: String = "full",
      weights: Option[String] = None,
      hdfeTol: Double = 1e-8,
      hdfeMaxSweeps: Int = 60
  ): DbregResult = {
    val clusterCol = v match { case Vcov.Cluster(c) => Some(c); case _ => None }
    // analytic weights (beyond-reference): rows with w <= 0 drop, as in fixest
    val base = ModelFrame.prepare(df, f, clusterCol.toSeq, weights)

    weights.foreach { _ =>
      require(f.fe.isEmpty && (strategy == "auto" || strategy == "moments"),
        "weights are supported for the moments strategy without fixed effects")
    }
    val chosen =
      if (weights.isDefined) "moments"
      else chooseStrategy(strategy, f, base, compressRatio, compressNmax)
    chosen match {
      case "moments" => fitMoments(f, base, v, ssc, weights)
      case "demean" => fitDemean(f, base, v, ssc)
      case "mundlak" => fitMundlak(f, base, v, ssc)
      case "compress" => fitCompress(f, base, v, ssc, compressNmax)
      case "hdfe" => fitHdfe(f, base, v, ssc, hdfeTol, hdfeMaxSweeps)
      case other => throw new IllegalArgumentException(s"unknown strategy: $other")
    }
  }

  /** Grouped regression: one OLS fit PER GROUP from a single keyed
    * aggregation pass — the "millions of small models" shape. The shuffle
    * carries one moment row per (group × task) thanks to map-side partials;
    * each group's normal equations then solve EXECUTOR-SIDE (a narrow
    * flatMap over the aggregated moment rows), so the result is a real
    * distributed DataFrame — nothing is ever resident on the driver, and
    * G scales to millions of groups.
    *
    * One fixed effect per group is supported (`y ~ x | fe`): the within
    * transform demeans y and every regressor by their (group, fe) means —
    * one extra keyed aggregation and one composite-key equi-join, both
    * shuffling on (group, fe) — the intercept is absorbed, `r2` becomes
    * the within-R², and the residual df subtracts the group's own FE
    * level count (dfRes = n_g − p_kept − L_g, the per-group analogue of
    * the demean strategy's bookkeeping above). More than one FE → refuse
    * (run the engine's 2-FE strategies per group instead).
    *
    * `maxGroups` is an optional sanity guard (one cheap count over the
    * cached moment table when set below Long.MaxValue); pass
    * `Long.MaxValue` to disable the extra job entirely.
    *
    * Returns a DataFrame (group, term, estimate, std_error, n, r2).
    * iid standard errors.
    */
  def fitGrouped(
      formula: String,
      df: DataFrame,
      groupCol: String,
      maxGroups: Long = 10000000L
  ): DataFrame = {
    val f = Formula.parse(formula)
    require(f.fe.size <= 1,
      s"fitGrouped supports at most one fixed effect, got ${f.fe.size}")
    val feOpt = f.fe.headOption
    val base = ModelFrame.prepare(df, f, Seq(groupCol))
    val d = buildDesign(base, f, groupCol +: f.fe,
      intercept = f.intercept && feOpt.isEmpty)
    val xs = d.xNames.map(col)
    // with an FE the within moments come from per-cell raw moments (no
    // demean join): one hash aggregate keyed (group, fe) over the corpus,
    // then a tiny per-group aggregate over the G×L cell rows. The
    // join-based spelling costs a second corpus pass plus a per-row hash
    // probe (broadcast) or a corpus sort (merge join) — measured 17-20 s
    // at 180M rows where this is ~2 s.
    val grouped = feOpt match {
      case None => MomentsKernel.aggregate(d.df, Seq(col(groupCol)), col(Y), xs)
      case Some(fe) => MomentsKernel.keyedWithin(d.df, groupCol, fe, col(Y), xs)
    }
    val moments = MomentsKernel.capGroups(grouped, maxGroups)

    // executor-side per-group solve: a narrow flatMap over the moment rows.
    // Each row is one group's sufficient statistics (O(p²) doubles); the
    // Cholesky/QR solve is local to it, so the output is a distributed
    // DataFrame and G scales to millions without driver memory growth.
    val spark = df.sparkSession
    import spark.implicits._
    val displayNames = d.displayNames
    val pN = d.xNames.length
    val hasFe = feOpt.isDefined
    val out = moments.flatMap { r =>
      val g = String.valueOf(r.getAs[Any](groupCol))
      val m = MomentsKernel.readRaw(r, pN)
      val n = m.n
      val solved = LinAlg.solveDetecting(m.sxx, m.sxy)
      val beta = solved.beta
      val keep = solved.keepIdx
      val rss = {
        val xtyK = breeze.linalg.DenseVector(keep.map(m.sxy(_)).toArray)
        val xtxK = breeze.linalg.DenseMatrix.tabulate(keep.length, keep.length)(
          (i, j) => m.sxx(keep(i), keep(j)))
        m.syy - 2.0 * beta.dot(xtyK) + beta.dot(xtxK * beta)
      }
      // FE path: moments are demeaned, so syy IS the within TSS and the
      // absorbed FE levels spend df (mirrors fitDemean's dfResOf)
      val dfFe = if (hasFe) MomentsKernel.double(r, MomentsKernel.Levels) else 0.0
      val tss = if (hasFe) m.syy else m.syy - m.sy * m.sy / n
      val dfRes = math.max(n - keep.length - dfFe, 1.0)
      val xtxInv = solved.xtxInv
      keep.zipWithIndex.map { case (origIdx, ki) =>
        val se = math.sqrt(xtxInv(ki, ki) * rss / dfRes)
        (g, displayNames(origIdx), beta(ki), se, n.round,
          if (tss > 0) 1.0 - rss / tss else 0.0)
      }
    }
    out.toDF("group", "term", "estimate", "std_error", "n", "r2")
  }

  /** The generated ANSI SQL for a strategy's aggregation — the analogue of
    * the reference's `sql_only = TRUE` (reference dbreg.R:760-762): returns
    * a runnable SQL string (DuckDB dialect-compatible) over a table named
    * `table`, starting with `WITH`, factors expanded as CASE WHEN. The
    * engine executes Catalyst plans, not this text; see [[SqlGen]]. */
  def sqlOnly(
      formula: String,
      df: DataFrame,
      table: String,
      strategy: String = "compress"
  ): String = SqlGen.sqlOnly(formula, df, table, strategy)

  /** The compressed cell table for a formula, without fitting — the
    * analogue of the reference's `data_only = TRUE` (dbreg.R:57-61):
    * GROUP BY (x…, fe…) with n / Σy / Σy² / ȳ / √n weights. */
  def compressedData(formula: String, df: DataFrame): DataFrame = {
    val f = Formula.parse(formula)
    val base = ModelFrame.prepare(df, f)
    val cellKeys = (f.xvars ++ f.fe).distinct
    base
      .groupBy(cellKeys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(f.y).cast("double")).as("sum_y"),
        sum(col(f.y).cast("double") * col(f.y).cast("double")).as("sum_y_sq"))
      .withColumn("mean_y", col("sum_y") / col("n"))
      .withColumn("wts", sqrt(col("n")))
  }

  // ---------------------------------------------------------------- chooser

  /** Auto decision tree (reference dbreg.R:494-701). Probes: COUNT(*),
    * COUNT(DISTINCT x+fe tuple), continuous-x heuristic
    * (approx_count_distinct > min(50, 0.2n), dbreg.R:421-440), and a 2-FE
    * balance check. All probes are single aggregate jobs.
    */
  private def chooseStrategy(
      strategy: String,
      f: Formula,
      base: DataFrame,
      compressRatio: Option[Double],
      compressNmax: Long
  ): String = {
    val nFe = f.fe.length
    var chosen = strategy
    if (strategy == "auto") {
      val ratioThreshold = compressRatio.getOrElse(if (nFe == 1 || nFe == 2) 0.6 else 0.01)
      val keyCols = (f.xvars ++ f.fe).distinct
      // one probe job: COUNT(*) + COUNT(DISTINCT key-tuple) together,
      // exact as in the reference (dbreg.R:494-701)
      val probe = base
        .agg(count(lit(1)).as("__n"),
          countDistinct(col(keyCols.head), keyCols.tail.map(col): _*).as("__cells"))
        .collect()(0)
      val nTotal = probe.getAs[Long]("__n")
      val nCells = probe.getAs[Long]("__cells")
      val ratio = nCells.toDouble / math.max(nTotal, 1L).toDouble
      val failRatio = ratio > ratioThreshold
      val failNmax = nCells > compressNmax

      if (nFe == 0) {
        val anyContinuous = hasContinuousX(f, base, nTotal)
        chosen =
          if (anyContinuous || failRatio || failNmax) "moments" else "compress"
      } else if (nFe == 1 || nFe == 2) {
        if (failRatio || failNmax) {
          if (nFe == 2) {
            // balanced panels take the one-pass GROUPING SETS within
            // transform; unbalanced ones (where the additive two-way
            // demean identity fails) take the exact alternating-
            // projection path instead of the pre-round-7 refusal
            if (isBalanced(base, f.fe)) chosen = "demean" else chosen = "hdfe"
          } else chosen = "demean"
        } else chosen = "compress"
      } else {
        // K ≥ 3 FE: compress while the cell table stays small (exact and
        // one aggregation); alternating projections once it does not —
        // the reference refuses this case outright (dbreg.R:640-660)
        chosen = if (failRatio || failNmax) "hdfe" else "compress"
      }
    }
    // guards (reference dbreg.R:676-699)
    if (chosen == "moments" && nFe > 0) chosen = "compress"
    if (chosen == "demean" && !(nFe == 1 || nFe == 2)) chosen = "compress"
    if (chosen == "hdfe" && nFe == 0) chosen = "moments"
    chosen
  }

  private def hasContinuousX(f: Formula, base: DataFrame, nTotal: Long): Boolean = {
    val numericXs = f.xvars.filterNot(ModelMatrix.isFactor(base, _))
    if (numericXs.isEmpty) false
    else {
      val aggs = numericXs.map(x => approx_count_distinct(col(x)).as(s"_acd_$x"))
      val row = base.agg(aggs.head, aggs.tail: _*).collect()(0)
      val cut = math.min(50.0, 0.2 * nTotal)
      numericXs.exists(x => row.getAs[Long](s"_acd_$x").toDouble > cut)
    }
  }

  /** Balanced panel ⟺ all fe1×fe2 cell counts identical (A9). */
  private def isBalanced(base: DataFrame, fe: Seq[String]): Boolean =
    base
      .groupBy(fe.map(col): _*)
      .count()
      .agg(countDistinct(col("count")).as("k"))
      .collect()(0)
      .getAs[Long]("k") == 1L

  // ------------------------------------------------------------- strategies

  /** Attach a plain linear predictor (moments/compress/mundlak shape):
    * termCols maps kept display names to expressions over new data. */
  private def withLinearPredictor(
      res: DbregResult,
      termCols: Map[String, Column],
      preJoin: DataFrame => DataFrame = identity,
      offsetCol: Option[Column] = None,
      intervalsSupported: Boolean = true
  ): DbregResult = {
    val beta = breeze.linalg.DenseVector(res.coeftable.map(_.estimate).toArray)
    res.copy(predictor = Some(new LinearPredictor(
      res.terms, termCols, beta, res.vcov,
      res.rss / res.dfResidual, res.dfResidual,
      preJoin, offsetCol, intervalsSupported)))
  }

  /** Moments strategy (reference dbreg.R:703-872): one pass, no FE.
    * With `weights` the same pass computes the weighted triangle
    * [1,X,y]ᵀW[1,X,y] — exact WLS from one aggregation. */
  private def fitMoments(
      f: Formula,
      base: DataFrame,
      v: Vcov,
      ssc: String,
      weights: Option[String] = None
  ): DbregResult = {
    val cluster = v match { case Vcov.Cluster(c) => Seq(c); case _ => Nil }
    val d = buildDesign(base, f, cluster ++ weights, f.intercept)
    val mom = MomentsKernel.compute(d.df, Y, d.xNames, intercept = false,
      weightName = weights)
    val res = finish(f, d, mom, v, ssc,
      strategy = "moments",
      nobs = mom.nRows, nobsOrig = mom.nRows,
      dfFe = 0.0, tss = mom.sumYSq - mom.sumY * mom.sumY / mom.n,
      dfResOf = (n, pKept) => math.max(n - pKept, 1.0),
      clusterK = (pKept, _) => pKept,
      weightCol = weights)
    withLinearPredictor(res,
      d.cols.map(c => ModelMatrix.displayName(c.name) -> c.col).toMap)
  }

  /** Demean / within strategy, 1-2 FE (reference dbreg.R:874-1235).
    * Two FE take unit, time and overall means from ONE GROUPING SETS
    * ((fe1),(fe2),()) aggregate: exact on balanced panels. */
  private def fitDemean(f: Formula, base: DataFrame, v: Vcov, ssc: String): DbregResult = {
    val cluster = v match { case Vcov.Cluster(c) => Seq(c); case _ => Nil }
    val d0 = buildDesign(base, f, f.fe ++ cluster, intercept = false)
    val valueCols = Y +: d0.xNames
    val gm = groupMeans(d0.df, f.fe, valueCols, overall = f.fe.length == 2)
    val demeaned = gm.byKey match {
      case Seq(um) =>
        um.attach(d0.df, "_m").select(cluster.map(col) ++
          valueCols.map(c => (col(c) - col(c + "_m")).as(c)): _*)
      case Seq(um, tm) =>
        // an empty input has no overall row; finish refuses it below
        def om(c: String) = gm.overall.fold(Double.NaN)(_.getAs[Double](c))
        tm.attach(um.attach(d0.df, "_u"), "_t").select(cluster.map(col) ++
          valueCols.map(c => (col(c) - col(c + "_u") - col(c + "_t") +
            lit(om(c))).as(c)): _*)
    }

    val mom = MomentsKernel.compute(demeaned, Y, d0.xNames, intercept = false)
    val dfFe = gm.byKey.map(_.levels.toDouble).sum - (f.fe.length - 1).toDouble
    val res = finish(f, d0.copy(df = demeaned), mom, v, ssc,
      strategy = "demean",
      nobs = mom.nRows, nobsOrig = mom.nRows,
      dfFe = dfFe, tss = mom.sumYSq, // within TSS (reference dbreg.R:1214)
      dfResOf = (n, pKept) => math.max(n - pKept - dfFe, 1.0),
      clusterK = (pKept, nested) => pKept + dfFe - nested,
      nestedBase = Some(base))
    gm.release()
    // FE intercepts for prediction: α_g = ȳ_g − x̄_g'β̂ over kept terms,
    // from the means re-attached to new data (an unseen level reads null);
    // two FE add the unit and time intercepts and subtract the overall one
    val dispToInt = d0.displayNames.zip(d0.xNames).toMap
    def alpha(mean: String => Column): Column = mean(Y) - res.coeftable
      .map(r => lit(r.estimate) * mean(dispToInt(r.term))).reduceOption(_ + _).getOrElse(lit(0.0))
    withFePredictor(res, d0,
      gm.byKey.zipWithIndex.map { case (m, i) =>
        ((nd: DataFrame) => m.attach(nd, s"_a$i", "left"), alpha(c => col(c + s"_a$i")))
      } ++ gm.overall.map(r => (identity[DataFrame] _, -alpha(c => lit(r.getAs[Double](c))))))
  }

  /** The FE-absorbing predictor (demean, hdfe): x'β̂ plus the per-FE
    * intercept parts (a pre-join and a column each); point predictions
    * only, as in the reference. */
  private def withFePredictor(res: DbregResult, d0: Design,
      alphas: Seq[(DataFrame => DataFrame, Column)]): DbregResult =
    withLinearPredictor(res,
      d0.cols.map(c => ModelMatrix.displayName(c.name) -> c.col).toMap,
      preJoin = nd => alphas.foldLeft(nd) { case (d, (pj, _)) => pj(d) },
      offsetCol = Some(alphas.map(_._2).reduce(_ + _)),
      intervalsSupported = false)

  /** K-way / high-cardinality fixed effects via ALTERNATING PROJECTIONS
    * (Guimarães & Portugal 2010; the fixest/reghdfe demeaning loop
    * re-expressed as Spark group-mean joins). BEYOND-REFERENCE: the
    * reference refuses >2 FE outright (dbreg.R:640-660) and this engine
    * previously routed such fits to compress, whose FE-dummy design dies
    * past MaxDesignCols — high-cardinality FE (user/item) had no exact
    * distributed path.
    *
    * Algorithm: sweep over the FEs, each step subtracting per-group means
    * of (y, X) for one FE — the projection onto that FE's orthogonal
    * complement; iterate sweeps until every FE's residual group means are
    * ~0 (the von Neumann alternating-projection limit = the joint within
    * transform). One FE converges in exactly one sweep; K ≥ 2 typically
    * needs a handful.
    *
    * Scale shape: each sweep is K [[groupMeans]] queries + K mean-attach
    * steps over the (cluster?, fe*, y, X) projection; each query also
    * returns the FE's level count, which the first sweep records for the
    * df bookkeeping. The attach tier decides the sweep cost:
    *  - ≤64 levels (the InlineMeansMaxLevels tier): the means COLLECT
    *    (the convergence statistic folds out of the same rows
    *    driver-side) and attach as a literal lookup PROJECTION — no join,
    *    no shuffle, and crucially NO lineage checkpoint: re-deriving a
    *    chain of codegen'd projections from the scan is far cheaper than
    *    writing the corpus to checkpoint blocks each step (measured at
    *    180M rows: per-step localCheckpoint = 14-21 GB of disk traffic,
    *    which turned a ~1 min fit into 20+ min). A periodic stage every
    *    `HdfeStageEvery` steps bounds plan depth.
    *  - 64 < levels ≤ 2M (the maybeBroadcast tier): the means table is
    *    CACHED and attached by broadcast hash join — re-probing a cached
    *    build side per downstream aggregate is a hash lookup per row,
    *    far cheaper than writing the corpus to checkpoint blocks
    *    (measured at 180M rows × 1000-level FE: per-step staging 250 s →
    *    broadcast-tier 80 s); the cached mean tables (≤ steps × levels ×
    *    (p+2) doubles) release after the final moments pass.
    *  - >2M levels: the means table must shuffle-join, and the result IS
    *    staged per step — re-running a shuffle join per downstream
    *    aggregate would cost more than the checkpoint write.
    * Convergence: a sweep whose largest pre-subtraction |group mean|
    * falls below `tol`·max(1, scale of sweep 1) ends the loop; `tol = 0`
    * forces exactly `maxSweeps` sweeps (the fixed-sweep mode the q200
    * DuckDB oracle unrolls).
    *
    * Degrees of freedom: dfFe = Σ levels(fe_k) − (K − 1) — exact for one
    * connected component (the fixest default; exact connected-component
    * counting for K ≥ 3 is itself open).
    *
    * Prediction: the per-step mean tables contain everything FE-intercept
    * recovery needs, so it is FREE — zero extra corpus passes. Every
    * projection the loop applies to (y, X) accumulates per FE into
    * A_k^y(level) and A_k^{x_i}(level); by FWL linearity the LSDV fitted
    * value decomposes as ŷ = Xβ̂ + Σ_k α_k(level_k) with
    * α_k = A_k^y − Σ_i β̂_i · A_k^{x_i} over KEPT terms. New data joins
    * (or literal-looks-up, inline tier) the level-sized α_k tables; an
    * unseen level yields a visible null fit (the fitDemean contract).
    * α components are identified only up to cross-component constants —
    * predictions are exact for level combinations connected to the
    * training components (the same caveat fixest's fixef() carries).
    */
  private def fitHdfe(
      f: Formula,
      base: DataFrame,
      v: Vcov,
      ssc: String,
      tol: Double,
      maxSweeps: Int
  ): DbregResult = {
    require(f.fe.nonEmpty, "hdfe requires at least one fixed effect")
    require(maxSweeps >= 1, s"maxSweeps must be >= 1, got $maxSweeps")
    require(tol >= 0.0, s"tol must be >= 0, got $tol")
    val cluster = v match { case Vcov.Cluster(c) => Seq(c); case _ => Nil }
    val d0 = buildDesign(base, f, (f.fe ++ cluster).distinct, intercept = false)
    val valueCols = Y +: d0.xNames
    val carry = (f.fe ++ cluster).distinct

    // level count per FE (df bookkeeping), from each step's means query
    val levels = Array.fill(f.fe.length)(0L)
    var cur = d0.df
    // shuffle-tier gm released one step later (its reference is cut by the
    // step's stage); broadcast-tier gms stay cached only until the NEXT
    // stage of cur materializes — staging cuts cur's lineage past them,
    // so holding every sweep's mean tables to fit end (up to
    // maxSweeps·K × ≤2M rows) would be pure spill pressure. `held` are
    // the post-last-stage tables cur still probes; on stage they move to
    // `pending`, whose release() runs only after the next action
    // materializes the checkpoint.
    var pending: List[GroupMeans] = Nil
    var held: List[GroupMeans] = Nil
    def release(): Unit = { pending.foreach(_.release()); pending = Nil }
    // per-FE accumulated mean tables (FE-intercept recovery — see the
    // Prediction paragraph above): inline tier accumulates driver-side
    // (≤64 entries), join tiers as a level-sized running full-outer sum,
    // eagerly staged so it never re-derives a released mean table
    val accMaps = Array.fill(f.fe.length)(
      scala.collection.mutable.LinkedHashMap.empty[Any, Array[Double]])
    val accDfs = Array.fill[Option[DataFrame]](f.fe.length)(None)
    val accCols = valueCols.indices.map(i => s"__acc$i")
    var sweep = 0
    var stepsSinceStage = 0
    // the latest stage of cur: the next stage supersedes it, the final
    // moments pass is its last reader
    var stagedCur: Option[DataFrame] = None
    var lastSweepMax = Double.PositiveInfinity
    var scale0 = -1.0
    while (sweep < maxSweeps &&
        (sweep == 0 || lastSweepMax >= tol * math.max(1.0, scale0))) {
      var sweepMax = 0.0
      f.fe.zipWithIndex.foreach { case (fe, fi) =>
        // the level count comes with the first sweep's means; up to 64
        // levels the mean rows come back (the convergence statistic folds
        // out of them driver-side). The step's first query materializes
        // any pending stage
        val gm = groupMeans(cur, Seq(fe), valueCols,
          known = if (sweep == 0) None else Some(levels(fi)))
        val m = gm.byKey.head
        levels(fi) = m.levels
        val shuffleTier = m.levels > BroadcastMeansMaxLevels
        m.rows match {
          case Some(rows) =>
            release()
            rows.foreach { r =>
              val acc = accMaps(fi).getOrElseUpdate(r.getAs[Any](fe),
                Array.fill(valueCols.length)(0.0))
              valueCols.zipWithIndex.foreach { case (c, i) =>
                val v = r.getAs[Double](c)
                if (!v.isNaN) {
                  sweepMax = math.max(sweepMax, math.abs(v))
                  acc(i) += v
                }
              }
            }
          case None =>
            val p = m.table
            val mxRow = p
              .agg(greatest(valueCols.map(c => max(abs(col(c)))) :+ lit(0.0): _*))
              .collect()(0)
            release()
            if (!mxRow.isNullAt(0)) sweepMax = math.max(sweepMax, mxRow.getDouble(0))
            val stepAcc = p.select(
              col(fe) +: valueCols.indices.map(i => col(valueCols(i)).as(accCols(i))): _*)
            // staged (eagerly) while this step's mean table is still
            // cached, so a later shuffle-tier release never forces a gm
            // recompute through the accumulator's lineage; the running
            // sum it supersedes is then read by nothing
            val merged = accDfs(fi) match {
              case None => graft.Staging.stage(stepAcc)
              case Some(a) =>
                val next = graft.Staging.stage(a
                  .join(p.select(
                    col(fe) +: valueCols.indices.map(i =>
                      col(valueCols(i)).as(s"__st$i")): _*), Seq(fe), "full_outer")
                  .select(col(fe) +: valueCols.indices.map(i =>
                    (coalesce(col(accCols(i)), lit(0.0)) +
                      coalesce(col(s"__st$i"), lit(0.0))).as(accCols(i))): _*))
                graft.Staging.release(a)
                next
            }
            accDfs(fi) = Some(merged)
            if (shuffleTier) pending ::= gm else held ::= gm
        }
        val next = m.attach(cur, "_m").select(
          carry.map(col) ++
            valueCols.map(c => (col(c) - col(c + "_m")).as(c)): _*)
        // stage after every SHUFFLE-join step (re-running the shuffle
        // would cost more than the checkpoint, and staging cuts the
        // reference so the shuffled mean table can release) and
        // periodically on the projection/broadcast paths (bounds plan
        // depth without per-step corpus writes)
        stepsSinceStage += 1
        cur =
          if (shuffleTier || stepsSinceStage >= HdfeStageEvery) {
            stepsSinceStage = 0
            // this stage cuts cur's lineage past every broadcast-tier
            // mean table held so far — queue them behind the checkpoint's
            // materialization instead of holding all sweeps to fit end
            pending = pending ++ held
            held = Nil
            val staged = graft.Staging.stage(next)
            stagedCur.foreach(graft.Staging.release)
            stagedCur = Some(staged)
            staged
          } else next
      }
      if (scale0 < 0.0) scale0 = sweepMax
      lastSweepMax = sweepMax
      sweep += 1
      // a single FE is one exact projection — no second sweep needed
      if (f.fe.length == 1) sweep = maxSweeps
    }
    // converged = the loop stopped on tolerance, not on the sweep cap.
    // Exact cases (single FE: one projection; tol = 0: the fixed-sweep
    // oracle contract) report true. A cap-exhausted multi-FE fit is a
    // TRUNCATED projection — poorly-connected panels (worker×firm-style
    // correlated FEs) can need hundreds of sweeps — so warn loudly, the
    // way fixest/reghdfe surface non-convergence, and record the state
    // on the result for programmatic callers.
    val sweepsRun = if (f.fe.length == 1) 1 else sweep
    val converged = f.fe.length == 1 || tol == 0.0 ||
      lastSweepMax < tol * math.max(1.0, scale0)
    if (!converged)
      Console.err.println(
        f"[dbreg] WARNING: hdfe did not converge in $maxSweeps sweeps " +
          f"(last sweep max |mean| = $lastSweepMax%.3e, tol threshold = " +
          f"${tol * math.max(1.0, scale0)}%.3e); estimates are a truncated " +
          "projection — raise hdfeMaxSweeps")

    val dfFe = levels.map(_.toDouble).sum - (f.fe.length - 1).toDouble
    val mom = MomentsKernel.compute(cur, Y, d0.xNames, intercept = false)
    val res = finish(f, d0.copy(df = cur), mom, v, ssc,
      strategy = "hdfe",
      nobs = mom.nRows, nobsOrig = mom.nRows,
      dfFe = dfFe, tss = mom.sumYSq, // within TSS, as in fitDemean
      dfResOf = (n, pKept) => math.max(n - pKept - dfFe, 1.0),
      clusterK = (pKept, nested) => pKept + dfFe - nested,
      nestedBase = Some(base))
    // FE-intercept recovery from the accumulated mean tables (see the
    // Prediction scaladoc): α_k = A_k^y − Σ_{kept i} β̂_i · A_k^{x_i}
    val dispToInt = d0.displayNames.zip(d0.xNames).toMap
    val betaByIdx: Map[Int, Double] = res.coeftable
      .map(r => valueCols.indexOf(dispToInt(r.term)) -> r.estimate).toMap
    def alpha(accs: Int => Double): Double =
      accs(0) - betaByIdx.map { case (i, b) => b * accs(i) }.sum
    val alphaParts: Seq[(DataFrame => DataFrame, Column)] =
      f.fe.toSeq.zipWithIndex.map { case (fe, fi) =>
        if (levels(fi) <= InlineMeansMaxLevels) {
          // literal lookup — unseen level falls through to null (the
          // fitDemean visible-null-fit contract)
          val chain = accMaps(fi).foldLeft(lit(null).cast("double")) {
            case (acc, (level, arr)) =>
              when(col(fe) === lit(level), lit(alpha(arr(_)))).otherwise(acc)
          }
          (identity[DataFrame] _, chain)
        } else {
          val alphaCol = s"__g_ha_$fi"
          val beta = betaByIdx.map { case (i, b) => lit(b) * col(accCols(i)) }
            .reduceOption(_ + _).getOrElse(lit(0.0))
          // the level-sized table the predictor holds for its life; the
          // running sum it is built from is read by nothing after it
          val tbl = graft.Staging.stage(accDfs(fi).get
            .select(col(fe), (col(accCols(0)) - beta).as(alphaCol)))
          graft.Staging.release(accDfs(fi).get)
          ((nd: DataFrame) => nd.join(maybeBroadcast(tbl, levels(fi)), Seq(fe), "left"),
            col(alphaCol))
        }
      }
    release()
    held.foreach(_.release())
    stagedCur.foreach(graft.Staging.release)
    withFePredictor(
      res.copy(hdfeSweeps = Some(sweepsRun), hdfeConverged = Some(converged)),
      d0, alphaParts)
  }

  /** Mundlak / correlated-random-effects strategy (reference dbreg.R:1237-1502). */
  private def fitMundlak(f: Formula, base: DataFrame, v: Vcov, ssc: String): DbregResult = {
    require(f.fe.nonEmpty, "mundlak requires at least one fixed effect")
    val cluster = v match { case Vcov.Cluster(c) => Seq(c); case _ => Nil }
    val d0 = buildDesign(base, f, f.fe ++ cluster, intercept = false)

    // every FE's x means from one aggregate (GROUPING SETS for K ≥ 2)
    val gm = groupMeans(d0.df, f.fe, d0.xNames)
    val aug = gm.byKey.foldLeft(d0.df)((acc, m) => m.attach(acc, s"_bar_${m.key}"))
    val barNames = for (fe <- f.fe; (xn, dn) <- d0.xNames.zip(d0.displayNames))
      yield (s"${xn}_bar_$fe", s"${dn}_bar_$fe")
    val interceptName = "__g_const"
    val augWithConst = aug.withColumn(interceptName, lit(1.0))
    val xAll = (interceptName +: d0.xNames) ++ barNames.map(_._1)
    val dispAll = ("(Intercept)" +: d0.displayNames) ++ barNames.map(_._2)
    val d = Design(augWithConst, xAll.toIndexedSeq, dispAll.toIndexedSeq, Nil)

    val mom = MomentsKernel.compute(d.df, Y, d.xNames, intercept = false)
    val res = finish(f, d, mom, v, ssc,
      strategy = "mundlak",
      nobs = mom.nRows, nobsOrig = mom.nRows,
      dfFe = 0.0, tss = mom.sumYSq - mom.sumY * mom.sumY / mom.n,
      dfResOf = (n, pKept) => math.max(n - pKept, 1.0),
      clusterK = (pKept, _) => pKept,
      nestedBase = Some(base))
    gm.release()
    // prediction: original x expressions + group-mean columns re-attached
    // (an unseen level gets null means, so a null fit)
    val termCols =
      ((("(Intercept)", lit(1.0))) +:
        d0.cols.map(c => (ModelMatrix.displayName(c.name), c.col))) ++
        barNames.map { case (internal, display) => (display, col(internal)) }
    val preJoin = (nd: DataFrame) =>
      gm.byKey.foldLeft(nd)((acc, m) => m.attach(acc, s"_bar_${m.key}", "left"))
    withLinearPredictor(res, termCols.toMap, preJoin = preJoin)
  }

  /** Compress strategy (reference dbreg.R:1504-1716; Wong et al. 2021).
    * Cells = GROUP BY (x…, fe…); exact WLS on cells with weight n. The
    * normal equations are re-aggregated distributively over the compressed
    * DF (cells never need to reach the driver), which avoids the reference's
    * sparse-dummy-matrix memory blow-up (benchmark.R:93-109).
    */
  private def fitCompress(
      f: Formula,
      base: DataFrame,
      v: Vcov,
      ssc: String,
      compressNmax: Long
  ): DbregResult = {
    val cellKeys = (f.xvars ++ f.fe).distinct
    val comp = base
      .groupBy(cellKeys.map(col): _*)
      .agg(
        count(lit(1)).cast("double").as("__g_n"),
        sum(col(f.y).cast("double")).as("__g_sy"),
        sum(col(f.y).cast("double") * col(f.y).cast("double")).as("__g_syy"))
      .withColumn(Y, col("__g_sy") / col("__g_n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // cell count comes free from the moments pass (mom.nRows) — the first
    // action below materializes the cache; no separate count job

    // design columns over the cells: x expansion + FE dummies, every level
    // from ONE probe (more than compressNmax levels ⇒ more cells too)
    val factors = f.xvars.filter(ModelMatrix.isFactor(comp, _))
    val levels = ModelMatrix.levels(comp, factors ++ f.fe,
      math.min(math.max(compressNmax, ModelMatrix.DefaultMaxLevels), Int.MaxValue - 1L).toInt,
      absorbed = f.fe)
    val termCols = ModelFrame.designCols(f, factors.map(v => v -> levels(v)).toMap,
      intercept = true)
    val feCols = ModelFrame.feDummyCols(f.fe, levels)
    if (termCols.size + feCols.size > MaxDesignCols) {
      // high-cardinality FE: a dense triangle of p(p+1)/2 mostly-zero
      // dummy products per cell row is the wrong shape for sparse dummies —
      // switch to the driver-side sparse WLS over collected cells (the
      // reference's own client-side path, bounded by compressNmax)
      val res = CompressDriver.fit(f, base, comp, cellKeys, termCols, feCols, v, ssc,
        compressNmax)
      comp.unpersist()
      return res
    }
    val all = (termCols ++ feCols).map(ModelMatrix.renderCol)
    val xNames = all.indices.map(i => s"__g_x$i")
    val designed = comp.select(
      (cellKeys.map(col) ++ Seq(col("__g_n"), col("__g_sy"), col("__g_syy"), col(Y)) ++
        all.zipWithIndex.map { case (c, i) => c.col.cast("double").as(xNames(i)) }): _*)
    val d = Design(designed, xNames,
      all.map(c => ModelMatrix.displayName(c.name)).toIndexedSeq, all)

    val mom = MomentsKernel.compute(
      d.df, Y, d.xNames, intercept = false, weightName = Some("__g_n"),
      extraAggs = Seq("_true_syy" -> sum(col("__g_syy"))))
    val trueSyy = mom.extra("_true_syy")
    val nOrig = mom.n.round
    val nCells = mom.nRows
    // weighted Xᵀy with ȳ equals the true Xᵀy (x constant within cell), but
    // Σw·ȳ² ≠ Σy² — substitute the true Σy² for RSS/TSS.
    val momTrue = mom.copy(sumYSq = trueSyy)

    val res = finish(f, d, momTrue, v, ssc,
      strategy = "compress",
      nobs = nCells, nobsOrig = nOrig,
      dfFe = 0.0, tss = trueSyy - mom.sumY * mom.sumY / mom.n,
      dfResOf = (_, _) => math.max(nOrig.toDouble - all.size, 1.0),
      clusterK = (_, nested) => all.size - nested,
      nestedBase = Some(base),
      compressCells = Some(CompressCells(base, cellKeys, all)))
    comp.unpersist()
    withLinearPredictor(
      res.copy(
        compressionRatio = Some(nCells.toDouble / math.max(nOrig, 1L)),
        feTerms = feCols.map(c => ModelMatrix.displayName(c.name))),
      all.map(c => ModelMatrix.displayName(c.name) -> c.col).toMap)
  }

  private final case class CompressCells(
      base: DataFrame,
      cellKeys: Seq[String],
      designCols: List[MMCol]
  )

  // ------------------------------------------------------------- finishing

  /** Solve, collinearity-drop, RSS/TSS, then the requested vcov including
    * the second-pass meat aggregations. */
  private def finish(
      f: Formula,
      d: Design,
      mom: MomentsResult,
      v: Vcov,
      ssc: String,
      strategy: String,
      nobs: Long,
      nobsOrig: Long,
      dfFe: Double,
      tss: Double,
      dfResOf: (Double, Double) => Double,
      clusterK: (Double, Double) => Double,
      nestedBase: Option[DataFrame] = None,
      compressCells: Option[CompressCells] = None,
      weightCol: Option[String] = None
  ): DbregResult = {
    require(nobsOrig > 0,
      "no rows after missing-value filtering (empty input?)")
    val solved = LinAlg.solveDetecting(mom.xtx, mom.xty)
    val keptIdx = solved.keepIdx
    val keptX = keptIdx.map(d.xNames)
    val keptDisp = keptIdx.map(d.displayNames)
    val dropped = solved.dropIdx.map(d.displayNames)
    val beta = solved.beta
    val xtxInv = solved.xtxInv

    val rss = {
      val xtyK = breeze.linalg.DenseVector(keptIdx.map(mom.xty(_)).toArray)
      val xtxK = breeze.linalg.DenseMatrix.tabulate(keptIdx.length, keptIdx.length)(
        (i, j) => mom.xtx(keptIdx(i), keptIdx(j)))
      mom.sumYSq - 2.0 * beta.dot(xtyK) + beta.dot(xtxK * beta)
    }
    val pKept = keptX.length.toDouble
    val dfRes = dfResOf(nobsOrig.toDouble, pKept)

    def resid(df: DataFrame): Column =
      keptX.zipWithIndex.foldLeft(col(Y).cast("double")) { case (acc, (nm, i)) =>
        acc - lit(beta(i)) * col(nm).cast("double")
      }
    val keptXd = keptX.map(col(_).cast("double"))

    val (vmat, vtype, nClusters) = v match {
      case Vcov.Iid =>
        (LinAlg.vcovIid(xtxInv, rss, dfRes), "iid", None)

      case Vcov.Hc1 =>
        val meat = compressCells match {
          case Some(_) =>
            // per-cell grouped residuals: rss_g = Σy²_g − 2ŷ_g Σy_g + n_g ŷ_g²
            val yhat = keptX.zipWithIndex
              .map { case (nm, i) => lit(beta(i)) * col(nm).cast("double") }
              .reduce(_ + _)
            val cells = d.df
              .withColumn("__g_yhat", yhat)
              .withColumn(
                "__g_rssg",
                col("__g_syy") - lit(2.0) * col("__g_yhat") * col("__g_sy") +
                  col("__g_n") * col("__g_yhat") * col("__g_yhat"))
            MomentsKernel.hc1Meat(cells, col("__g_rssg"), keptXd)
          case None =>
            val e = resid(d.df)
            // WLS score = w·e·x ⇒ HC1 meat scale = (w·e)²
            val s = weightCol.map(wc => e * col(wc).cast("double")).getOrElse(e)
            MomentsKernel.hc1Meat(d.df, s * s, keptXd)
        }
        (LinAlg.vcovHc1(xtxInv, meat, nobsOrig.toDouble, dfRes), "hc1", None)

      case Vcov.Cluster(cl) =>
        val (g, meat) = compressCells match {
          case Some(cc) =>
            // cluster×cell stats, ŷ from the cell's x values (A12)
            val gc = cc.base
              .groupBy((cl +: cc.cellKeys).distinct.map(col): _*)
              .agg(
                count(lit(1)).cast("double").as("__g_n"),
                sum(col(f.y).cast("double")).as("__g_sy"))
            val withDesign = cc.designCols.zipWithIndex.foldLeft(gc) {
              case (acc, (c, i)) => acc.withColumn(s"__g_x$i", c.col.cast("double"))
            }
            val yhat = keptX.zipWithIndex
              .map { case (nm, i) => lit(beta(i)) * col(nm).cast("double") }
              .reduce(_ + _)
            MomentsKernel.cr1Meat(withDesign, col(cl),
              col("__g_sy") - col("__g_n") * yhat, keptX.map(col))
          case None =>
            val e = resid(d.df)
            // WLS cluster score = Σ_g w·e·x
            MomentsKernel.cr1Meat(d.df, col(cl),
              weightCol.map(wc => e * col(wc).cast("double")).getOrElse(e),
              keptX.map(col))
        }
        val nested =
          if (ssc == "nested") nestedBase.map(countNestedFeLevels(_, f.fe, cl)).getOrElse(0.0)
          else 0.0
        val k = clusterK(pKept, nested)
        (LinAlg.vcovCr1(xtxInv, meat, nobsOrig.toDouble, g.toDouble, k), "cluster", Some(g))
    }

    val coeftable = keptDisp.zipWithIndex.map { case (nm, i) =>
      val se = math.sqrt(vmat(i, i))
      val t = beta(i) / se
      CoefRow(nm, beta(i), se, t, LinAlg.pValue(t, dfRes))
    }
    DbregResult(
      coeftable = coeftable,
      vcov = vmat,
      vcovType = vtype,
      strategy = strategy,
      nobs = nobs,
      nobsOrig = nobsOrig,
      dfResidual = dfRes,
      rss = rss,
      tss = tss,
      fe = f.fe,
      collinDropped = dropped,
      nClusters = nClusters
    )
  }

  /** ssc="nested": total levels of FE vars nested within the cluster var
    * (reference dbreg.R:1718-1752). */
  private def countNestedFeLevels(base: DataFrame, fe: Seq[String], cluster: String): Double =
    NestedFe.count(base, fe, cluster)

  // ------------------------------------------------------------ group means

  /** Mean tables at or below this many rows broadcast; above it they
    * shuffle-join (and fitHdfe stages per step to cut the reference). */
  private val BroadcastMeansMaxLevels = 2000000L

  /** Broadcast a level-sized table when plausibly small; larger tables
    * flow through a shuffle join instead. */
  private def maybeBroadcast(df: DataFrame, nRows: Long): DataFrame =
    if (nRows <= BroadcastMeansMaxLevels) broadcast(df) else df

  /** Above this many levels a mean table joins; at or below it the means
    * are collected (L×(p+1) doubles — trivially driver-safe) and inlined
    * as a literal lookup expression. Measured at 60M rows: the
    * BroadcastHashJoin PROBE costs ~5 s against a 3-row build side where
    * the equivalent literal CASE chain costs ~0.6 s — a hash probe +
    * output-row copy per fact row loses badly to L codegen'd comparisons
    * when L is tiny. Typical FE dimensions (month, region, flag) are. */
  private val InlineMeansMaxLevels = 64L

  /** One FE key's means of `valueCols` (named as the value columns):
    * every (key, means…) row in `rows` when `levels` ≤
    * InlineMeansMaxLevels, else None and the level-sized `table` joins. */
  private final case class FeMeans(
      key: String,
      levels: Long,
      valueCols: Seq[String],
      rows: Option[Array[Row]],
      table: DataFrame
  ) {

    /** `df` plus a column `c + suffix` per mean: the inline literal lookup
      * (one struct-valued when-chain; an unseen level reads null), else a
      * join of the mean table, broadcast up to BroadcastMeansMaxLevels. */
    def attach(df: DataFrame, suffix: String, joinType: String = "inner"): DataFrame =
      rows match {
        case Some(rs) =>
          val lookup = rs.foldLeft(struct(valueCols.map(c => lit(null).cast("double").as(c)): _*)) {
            (acc, r) => when(col(key) === lit(r.getAs[Any](key)),
              struct(valueCols.map(c => lit(r.getAs[Double](c)).as(c)): _*)).otherwise(acc)
          }
          df.withColumn("__lk", lookup).select(df.columns.toIndexedSeq.map(col) ++
            valueCols.map(c => col("__lk")(c).as(c + suffix)): _*)
        case None =>
          val t = table.select(col(key) +: valueCols.map(c => col(c).as(c + suffix)): _*)
          df.join(maybeBroadcast(t, levels), Seq(key), joinType)
      }
  }

  /** Every FE key's means, the overall means row when asked for, and
    * `release()` for the aggregate (still cached only if a key joins). */
  private final case class GroupMeans(byKey: Seq[FeMeans], overall: Option[Row], agg: DataFrame) {
    def release(): Unit = { agg.unpersist(); () }
  }

  /** The group-means step of every FE strategy (PAPER §0's group-mean
    * CTEs): ONE aggregate of `valueCols` — GROUP BY for one key, else
    * GROUPING SETS over the keys, plus the empty set when `overall` — and
    * ONE bounded collect of each key's level count and, up to
    * InlineMeansMaxLevels levels, its mean rows. Only when a key
    * overflows does the aggregate stay cached (moments and vcov passes).
    * `known`: one key's level count from an earlier call (fitHdfe's later
    * sweeps) — inline a plain collect, else no query at all. */
  private def groupMeans(
      df: DataFrame,
      keys: Seq[String],
      valueCols: Seq[String],
      overall: Boolean = false,
      known: Option[Long] = None
  ): GroupMeans = {
    val avgs = valueCols.map(c => avg(col(c)).as(c))
    // grouping_id bit k-1-i is 1 when key i is aggregated away
    val k = keys.length
    val all = (1L << k) - 1L
    val keyGids = keys.indices.map(i => all - (1L << (k - 1 - i)))
    val means =
      if (k == 1 && !overall)
        df.groupBy(col(keys.head)).agg(avgs.head, avgs.tail: _*)
          .withColumn("__gid", lit(keyGids.head))
      else
        df.groupingSets(keys.map(c => Seq(col(c))) ++ (if (overall) Seq(Nil) else Nil),
            keys.map(col): _*)
          .agg(avgs.head, avgs.tail :+ grouping_id().as("__gid"): _*)
    // a known inline key needs no cache: one plain collect
    val agg =
      if (known.exists(_ <= InlineMeansMaxLevels)) means
      else means.persist(StorageLevel.MEMORY_AND_DISK)
    def gidOf(r: Row) = r.getAs[Long]("__gid")
    val (levelsOf, meanRows) = known match {
      case Some(n) =>
        (Map(keyGids.head -> n), if (n <= InlineMeansMaxLevels) agg.collect() else Array.empty[Row])
      case None =>
        // one pass over the aggregate's partitions: each keeps ≤ cap rows
        // per grouping set, and a set's row count in the partition rides
        // on its first kept row — a set with ≤ cap rows in all is in hand
        val (cap, gi, width) = (InlineMeansMaxLevels, agg.schema.fieldIndex("__gid"), agg.schema.length)
        val rows = agg.mapPartitions { it =>
          val n = scala.collection.mutable.HashMap.empty[Long, Long]
          val kept = it.filter { r =>
            val c = n.getOrElse(r.getLong(gi), 0L)
            n(r.getLong(gi)) = c + 1
            c < cap
          }.toVector
          kept.iterator.map(r => Row.fromSeq(r.toSeq :+ n.remove(r.getLong(gi)).getOrElse(null)))
        }(Encoders.row(agg.schema.add("__levels", LongType))).collect()
        (rows.filterNot(_.isNullAt(width)).groupMapReduce(gidOf)(_.getLong(width))(_ + _), rows)
    }
    val byKey = keys.zip(keyGids).map { case (key, g) =>
      val n = levelsOf.getOrElse(g, 0L)
      FeMeans(key, n, valueCols,
        if (n <= InlineMeansMaxLevels) Some(meanRows.filter(gidOf(_) == g)) else None,
        agg.filter(col("__gid") === g).select(col(key) +: valueCols.map(col): _*))
    }
    if (byKey.forall(_.rows.isDefined)) agg.unpersist()
    GroupMeans(byKey, if (overall) meanRows.find(gidOf(_) == all) else None, agg)
  }
}
