package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rank-1 matrix factorization over an implicit-feedback ratings relation —
  * the dominant singular pair of the (user × item) interaction matrix by
  * alternating closed-form least squares, which at rank 1 IS the power
  * iteration: each half-step solves every row's 1-d normal equation
  *
  *   u_i = Σ_j r_ij·v_j / Σ_{j∈R_i} v_j² ,   v_j = Σ_i r_ij·u_i / Σ_{i∈R_j} u_i²
  *
  * exactly (no learning rate, no sampling). The result is the classic
  * "taste axis": items sorted by v_j rank them along the strongest
  * co-consumption direction, u_i·v_j scores an unseen (user, item) pair.
  * Rank-1 keeps every step a scalar aggregation — k>1 needs per-key k×k
  * solves, which is a different operator (see
  * [[graft.reg.CompressDriver]] for the engine's dense-solve precedent).
  *
  * Scale shape: each half-step is ONE equi-join of the ratings relation
  * with the (id, factor) table of the side being held fixed — keyed on
  * that side's id — followed by ONE keyed aggregation on the side being
  * solved. Both shuffles are keyed on ids (AQE/exchange reuse across
  * iterations); factor tables are id-keyed and join-broadcastable when a
  * side is small. Only the FACTOR tables are staged per iteration (they
  * are re-read every round and bound the loop's plan growth); the ratings
  * relation itself stays a pure projection of the source scan — the hdfe
  * lesson, measured here at ×300 lineitem (180M rows): staging the
  * corpus-sized relation costs 25–56 s per pass in checkpoint-block I/O
  * where re-deriving the codegen'd projection from parquet costs ~4 s,
  * and keeping ids in their native type instead of casting to string in
  * the loop saves another ~1.5× on every join/agg key (ids are cast to
  * string only in the final two-sided union). 2-iteration wall at 180M:
  * 179 s before, ~25 s after. Nothing is ever collected to the driver.
  */
object Recommend {

  /** Alternating rank-1 factors after `iters` full (u then v) rounds from
    * the deterministic all-ones item start, both sides L2-normalized at
    * the end (directions, not magnitudes — the scale freedom of a
    * factorization is fixed so results are engine-comparable).
    *
    * Returns (side, id, factor) with side ∈ {"user", "item"}; rows with a
    * NULL user/item/value are dropped. Duplicate (user, item) pairs are
    * legal and act as weighted evidence (sum-aggregate upstream to
    * collapse them).
    */
  def rank1Factors(
      df: DataFrame,
      userCol: String,
      itemCol: String,
      valueCol: String,
      iters: Int
  ): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val r = df
      .select(col(userCol).as("__u"), col(itemCol).as("__i"),
        col(valueCol).cast("double").as("__r"))
      .filter(col("__u").isNotNull && col("__i").isNotNull &&
        col("__r").isNotNull)
    var v = r.select(col("__i")).distinct().withColumn("__f", lit(1.0))
    var u: DataFrame = null
    for (_ <- 1 to iters) {
      def solve(fixed: DataFrame, joinKey: String, solveKey: String) =
        graft.Staging.stage(
          r.join(fixed, joinKey)
            .groupBy(col(solveKey))
            .agg(sum(col("__r") * col("__f")).as("__num"),
              sum(col("__f") * col("__f")).as("__den"))
            .select(col(solveKey),
              when(col("__den") > 0.0, col("__num") / col("__den"))
                .otherwise(lit(0.0)).as("__f")))
      u = solve(v, "__i", "__u")
      v = solve(u, "__u", "__i")
    }
    def normalized(side: String, t: DataFrame, id: String): DataFrame = {
      val nrm = t.agg(sqrt(sum(col("__f") * col("__f"))).as("__nrm"))
      t.crossJoin(broadcast(nrm))
        .select(lit(side).as("side"), col(id).cast("string").as("id"),
          when(col("__nrm") > 0.0, col("__f") / col("__nrm")).as("factor"))
    }
    normalized("user", u, "__u").unionAll(normalized("item", v, "__i"))
  }
}
