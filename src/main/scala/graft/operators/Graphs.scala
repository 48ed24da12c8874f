package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Staging

/** Iterative graph analytics over an edge relation. PageRank here is the
  * canonical "importance over a link graph" operator a web-scale curation
  * pipeline runs over its domain/citation graph (quality signals à la
  * Common Crawl domain ranks).
  *
  * Scale shape: the per-iteration work is ONE keyed equi-join
  * (edges ⋈ ranks on the source) + one keyed sum aggregate on the
  * destination — the exact shape Pregel-style systems distribute; the
  * edge table and out-degrees are staged once ([[Staging]]) so every
  * iteration re-reads executor-local (or reliably checkpointed) blocks
  * instead of re-running the upstream plan. Dangling mass and the node
  * count ride 1-row broadcast cross-joins — no driver-side collection of
  * row data anywhere, and the iteration count is a bounded parameter
  * (convergence-driven loops should compose this per-iteration step with
  * an external driver check).
  */
object Graphs {

  /** Damped PageRank over directed edges (duplicates collapse): for
    * `iters` rounds,
    *
    *   r'(v) = (1−d)/N + d · ( Σ_{u→v} r(u)/outdeg(u) + dangling/N )
    *
    * where `dangling` is the rank mass of nodes with no out-edges
    * (redistributed uniformly — the standard stochastic-matrix patch) and
    * N counts distinct nodes on either edge side. Initial rank 1/N; ranks
    * sum to 1 every round. Returns (node, rank).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      damping: Double = 0.85,
      checkpointEvery: Int = 5
  ): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    val e = Staging.stage(edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull)
      .distinct())
    val nodes = Staging.stage(
      e.select(col("__s").as("__n")).union(e.select(col("__d").as("__n"))).distinct())
    val outDeg = Staging.stage(
      e.groupBy(col("__s")).agg(count(lit(1)).as("__deg")))
    // 1-row node count, attached by broadcast everywhere a /N appears
    // (NOT named __N: analysis is case-insensitive and would collide __n)
    val nCount = nodes.agg(count(lit(1)).cast("double").as("__ntot"))
    var ranks = nodes.crossJoin(broadcast(nCount))
      .select(col("__n"), (lit(1.0) / col("__ntot")).as("__r"))
    for (i <- 1 to iters) {
      // every join below resolves by DISTINCT column names (never the
      // df("col") form): the iteration re-derives plans from the same
      // staged frames, so dataset-id references would be ambiguous
      val withDeg = ranks
        .join(outDeg, col("__n") === col("__s"), "left")
        .select(col("__n"), col("__r"), col("__deg"))
      // rank mass sitting on dangling nodes, as a 1-row frame (coalesce
      // keeps the empty-aggregation null out of the arithmetic)
      val dangling = withDeg.filter(col("__deg").isNull)
        .agg(coalesce(sum(col("__r")), lit(0.0)).as("__dang"))
      val contrib = e
        .join(withDeg.filter(col("__deg").isNotNull),
          col("__s") === col("__n"))
        .select(col("__d"), (col("__r") / col("__deg")).as("__c"))
        .groupBy(col("__d"))
        .agg(sum(col("__c")).as("__sum"))
        .withColumnRenamed("__d", "__cd")
      ranks = nodes
        .join(contrib, col("__n") === col("__cd"), "left")
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nCount))
        .select(col("__n"),
          (lit(1.0 - damping) / col("__ntot") +
            lit(damping) * (coalesce(col("__sum"), lit(0.0)) +
              col("__dang") / col("__ntot"))).as("__r"))
      // each round references ranks through BOTH the dangling and the
      // contribution branch, so the logical plan doubles per iteration —
      // truncate periodically or a 30-iteration production run walks an
      // exponential tree (the duplicateClusters clamp, Dedup.scala)
      if (i % checkpointEvery == 0 && i < iters)
        ranks = Staging.stage(ranks)
    }
    ranks.select(col("__n").as("node"), col("__r").as("rank"))
  }

  /** Connected components over an undirected edge relation: every node is
    * labeled with the minimum node id reachable from it. Returns
    * (node, component); isolated nodes (absent from `edges`) produce no
    * row — union them in with self-labels if needed.
    *
    * This is the public graph-API spelling of the label-propagation /
    * pointer-jumping loop the dedup pipeline uses to collapse near-dup
    * pair graphs ([[graft.pipeline.Dedup.duplicateClusters]] — one
    * min-label propagate join + one shortcut join per round, lineage
    * truncated every few rounds); convergence needs O(log diameter)
    * rounds thanks to the pointer jumps.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 20,
      checkpointEvery: Int = 5
  ): DataFrame =
    graft.pipeline.Dedup.duplicateClusters(
        edges.select(col(srcCol).as("id1"), col(dstCol).as("id2")),
        maxIter, checkpointEvery)
      .select(col("id").as("node"), col("cluster").as("component"))

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected edge relation: every node starts labeled with its own id;
    * each round every node adopts its neighbors' MOST FREQUENT label
    * (ties → smallest label — the deterministic variant, so results are
    * layout- and schedule-invariant, unlike classic random-order LPA).
    * `iters` is a fixed parameter: LPA oscillates on bipartite structures,
    * so production runs pick small fixed rounds (2-5) rather than
    * convergence loops. Returns (node, label) — nodes sharing a label
    * after k rounds are density-connected communities, a finer grouping
    * than [[connectedComponents]] (which merges everything reachable).
    *
    * Scale shape: per round ONE edge⋈labels equi-join, one
    * (node, label)-keyed count aggregate, one per-node top-1 via
    * max_by-style aggregation (no windows over the corpus); the edge
    * table is staged once; labels stage every `checkpointEvery` rounds
    * (the [[pageRank]] lineage rule). Driver holds nothing. Node ids must
    * be numeric (the tie-break orders by the negated label). */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      checkpointEvery: Int = 3
  ): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    val e = Staging.stage(edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b")))
      .distinct())
    var labels = e.select(col("a").as("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
    for (i <- 1 to iters) {
      // neighbor label frequencies, then the deterministic mode:
      // struct max of (count, -label)-ordered keys via max_by semantics —
      // a plain aggregate, no per-node window
      val freq = e
        .join(labels.select(col("n").as("b"), col("lbl")), "b")
        .groupBy(col("a"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val top = freq
        .groupBy(col("a"))
        .agg(max(struct(col("c"), (-col("lbl")).as("negl"))).as("__m"))
        .select(col("a").as("n"), (-col("__m.negl")).as("lbl"))
      labels =
        if (i % checkpointEvery == 0 && i < iters) Staging.stage(top)
        else top
    }
    labels.select(col("n").as("node"), col("lbl").as("label"))
  }

  /** Per-vertex triangle counts and local clustering coefficient over an
    * undirected edge relation (self-loops and duplicate/reversed edges
    * collapse). Returns (node, degree, triangles, clustering) for every
    * vertex in the edge set; `clustering = 2·triangles / (degree·(degree−1))`
    * (0 when degree < 2). On a near-dup pair graph, high clustering =
    * clique-like duplicate families, low = chain-like borderline matches —
    * the standard dedup-graph diagnostic.
    *
    * Scale shape: the classic degree-ordered wedge count. Each edge is
    * oriented from its (degree, id)-smaller endpoint, which bounds every
    * out-neighborhood by O(√m), so the wedge self-join generates O(m^1.5)
    * candidate rows total instead of Σ deg² (a web-scale hub would
    * otherwise explode the join); wedges close against the canonical edge
    * set in ONE key-equi join. All three reused tables (canonical edges,
    * degrees, oriented edges) are staged, every join/agg is
    * key-partitioned, and nothing reaches the driver.
    */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String
  ): DataFrame = {
    val e = Staging.stage(edges
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct())
    // deg feeds the orientation build twice and the final output join —
    // three plans; stage it so the union+aggregate shuffle runs once
    val deg = Staging.stage(e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d")))
    val smallerFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val dir = Staging.stage(e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(smallerFirst, col("u")).otherwise(col("v")).as("s"),
        when(smallerFirst, col("v")).otherwise(col("u")).as("t")))
    // wedges t1—s—t2 (t1 < t2 keeps the candidate pair canonical, so the
    // closing edge is exactly one row of `e` and each triangle counts once)
    val wedges = dir.select(col("s"), col("t").as("t1"))
      .join(dir.select(col("s"), col("t").as("t2")), "s")
      .filter(col("t1") < col("t2"))
    val tri = wedges
      .join(e, col("t1") === col("u") && col("t2") === col("v"))
      .select(col("s"), col("t1"), col("t2"))
    val perVertex = tri
      .select(explode(array(col("s"), col("t1"), col("t2"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("tc"))
    deg.join(perVertex, Seq("n"), "left")
      .select(
        col("n").as("node"),
        col("d").as("degree"),
        coalesce(col("tc"), lit(0L)).as("triangles"),
        when(col("d") >= 2,
          coalesce(col("tc"), lit(0L)) * 2.0 / (col("d") * (col("d") - 1.0)))
          .otherwise(lit(0.0)).as("clustering"))
  }
}
