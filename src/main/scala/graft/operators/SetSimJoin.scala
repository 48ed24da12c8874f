package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Staging

/** Exact set-similarity join via prefix filtering (PPJoin-family,
  * Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08) — the LOSSLESS
  * counterpart to MinHash LSH: every pair with Jaccard ≥ τ is returned,
  * no probabilistic recall, no bucket valves.
  *
  * The pruning identity: order every set by one GLOBAL token order and
  * keep each set's first `|x| − ⌈τ·|x|⌉ + 1` tokens (its "prefix"). Two
  * sets with Jaccard ≥ τ MUST share a prefix token — so the candidate
  * join runs over prefixes only, and correctness does not depend on
  * WHICH total order is used. Performance does: ordering by ascending
  * document frequency puts the RAREST tokens in prefixes, so candidate
  * buckets are the small ones (a boilerplate token shared by half the
  * corpus lands in almost no prefix). The length filter
  * `min(|x|,|y|) ≥ τ·max(|x|,|y|)` prunes the rest.
  *
  * Scale shape: tokens are 64-bit-HASHED per row at staging (xxhash64 —
  * a hashed token is just a relabeled token, and prefix filtering is
  * correct under any total order, so every downstream structure carries
  * 8-byte fixed-width longs instead of variable-length strings: the
  * vocab aggregate, the prefix table, the candidate equi-join payload
  * and the verification set arrays all shrink severalfold). Then: one
  * vocab-sized frequency aggregate; per-doc windows (bounded by doc
  * length) for prefix positions; the candidate equi-join is keyed on
  * the token hash and hits rare-token buckets by construction;
  * verification joins candidate ids back to the staged per-doc sorted
  * hash arrays. Nothing is all-pairs and nothing collects to the
  * driver. Exactness caveat: two DISTINCT tokens colliding in xxhash64
  * would merge — with a 64-bit hash that is ~n²·2⁻⁶⁴ over a doc's
  * vocabulary, vanishingly below any data-pipeline noise floor (and the
  * q167 oracle cross-checks the string-exact answer).
  */
object SetSimJoin {

  /** All pairs (id1 < id2) with exact token-set Jaccard ≥ `tau`.
    * `tokensCol` must be an `array<string>` expression over `df`'s rows
    * (duplicates collapse — set semantics). Returns (id1, id2, jaccard).
    *
    * Candidates pass the PPJoin positional prune (Xiao et al.
    * WWW'08): a matched prefix token at (1-based) global-order positions
    * i in x and j in y bounds the overlap by 1 + min(|x|−i, |y|−j), and
    * Jaccard ≥ τ requires overlap ≥ α = ⌈τ/(1+τ)·(|x|+|y|)⌉ — candidate
    * rows whose bound cannot reach α are dropped BEFORE the distinct and
    * the verification joins. Sound because at a pair's FIRST shared
    * token (in the global order) no common token precedes i or j, so the
    * bound holds there and true pairs always keep at least that row; a
    * later row passing spuriously only costs a verification, never a
    * result. The α threshold subtracts 1e-9 before ceil so an exactly-
    * integer real boundary can't round up in float and over-prune —
    * slack only ever under-prunes, and verification is exact anyway.
    */
  def jaccardJoin(
      df: DataFrame,
      idCol: String,
      tokensCol: Column,
      tau: Double
  ): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    // NOTE for callers: pass `tokensCol` over a BOUND token attribute
    // (select the token array first), not an inline tokens(text) chain —
    // HOF lambdas get no CSE, so an embedded tokenize re-runs per
    // element (the Dedup.shingleSets lesson). Per-row hash+array_distinct
    // replaces a global DISTINCT: (id, token) duplicates only occur
    // within one row, so deduping the array first saves a full shuffle.
    // The hashed SET table (one sorted long-array row per doc) is staged
    // ONCE and reused by the prefix explode AND the verification joins;
    // null tokens drop BEFORE hashing (xxhash64(null) returns the seed,
    // not null — compacting after would turn nulls into a phantom token)
    // so sizes and intersections agree with the exploded view. Sorted
    // once per doc — verification is then a zero-allocation two-pointer
    // merge over primitive longs per candidate pair.
    val sets = Staging.stage(graft.sources.ScaleOps
      .normalizeParallelism(
        df.select(col(idCol).as("id"), tokensCol.as("__toks")),
        df.sparkSession.sparkContext.defaultParallelism)
      .select(col("id"),
        sort_array(array_distinct(
          transform(array_compact(col("__toks")), t => xxhash64(t)))).as("__set")))
    val tok = Staging.stage(
      sets.select(col("id"), explode(col("__set")).as("token")))
    // global token order = (doc-frequency asc, token asc). The join is
    // correct under ANY total order; this one is the candidate-minimizing
    // heuristic. The order is USED only inside per-doc windows — no
    // global rank is ever materialized (a corpus-wide row_number would be
    // a single-partition sort over the whole vocab).
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("__df"))
    val sizes = sets.select(col("id"), size(col("__set")).cast("long").as("__sz"))
    // prefix length p = sz − ⌈τ·sz⌉ + 1 (ceil via integer arithmetic so
    // both engines agree bit-exactly on the boundary)
    val ranked = tok.join(dfreq, "token").join(sizes, "id")
    val withPos = ranked.withColumn("__pos",
      row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("__df").asc, col("token").asc)))
    val prefix = Staging.stage(withPos
      .filter(col("__pos") <=
        col("__sz") - ceil(lit(tau) * col("__sz")).cast("long") + lit(1))
      .select(col("id"), col("token"), col("__sz"), col("__pos")))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.token") === col("b.token") && col("a.id") < col("b.id"))
      .filter(least(col("a.__sz"), col("b.__sz")).cast("double") >=
        lit(tau) * greatest(col("a.__sz"), col("b.__sz")))
      .filter(
        (lit(1L) + least(col("a.__sz") - col("a.__pos"),
          col("b.__sz") - col("b.__pos"))).cast("double") >=
          ceil(lit(tau / (1.0 + tau)) *
            (col("a.__sz") + col("b.__sz")).cast("double") - lit(1e-9)))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    verify(sets, cand, tau)
  }

  /** Exact verification: intersection size via the per-doc SET ARRAYS —
    * two id-keyed joins of |cand| rows each, intersection computed per
    * pair as a projection. The exploded alternative (cand ⋈ tokens ⋈
    * tokens) expands to |cand|·avg|set| rows — measured 1.6B
    * intermediate rows at the ×100 point (500k docs, 31M candidates),
    * minutes of shuffle for what this shape does in seconds. */
  private def verify(sets: DataFrame, cand: DataFrame, tau: Double): DataFrame = {
    cand
      .join(sets.select(col("id").as("id1"), col("__set").as("__set1"),
        size(col("__set")).as("__s1")), "id1")
      .join(sets.select(col("id").as("id2"), col("__set").as("__set2"),
        size(col("__set")).as("__s2")), "id2")
      .select(col("id1"), col("id2"), col("__s1"), col("__s2"),
        graft.functions.SortedIntersectCount(col("__set1"), col("__set2"))
          .as("__common"))
      .select(col("id1"), col("id2"),
        (col("__common").cast("double") /
          (col("__s1") + col("__s2") - col("__common"))).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }
}
