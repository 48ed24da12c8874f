package graft.pipeline

import graft.Staging.StagedFrame
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes over whitespace tokens — the SQL-expressible
  * cousin of the fastText-style linear classifiers the big curation
  * pipelines use for language ID and quality filtering (CCNet trains
  * fastText; the NB sufficient statistics are pure keyed aggregation, so
  * the whole train+score path stays inside Catalyst with zero UDFs and an
  * exact DuckDB oracle).
  *
  * Scale shape: training is ONE corpus pass — explode(tokens) then a
  * partial+final hash aggregate keyed (label, token); everything after
  * that (label totals, vocabulary size, smoothing) derives from the
  * aggregated V×L table, never from a second corpus scan. Scoring is a
  * token-keyed join of per-doc token counts against the broadcast model
  * (a vocabulary is small next to a corpus), then one partial+final
  * aggregate keyed on doc id. Label cardinality L is assumed model-sized
  * (it pivots into L score columns), exactly like the factor-level
  * discovery in [[graft.model.ModelMatrix]].
  */
object Classify {

  /** Laplace-smoothed multinomial NB token model: one row per OBSERVED
    * (label, token) pair with its count and log-likelihood
    * `ln((n + alpha) / (tot_label + alpha * V))`, V = corpus vocabulary
    * size. Unseen (label, token) pairs score `ln(alpha / (tot_label +
    * alpha * V))` — derivable from the same row set, see [[nbClassify]].
    *
    * One corpus shuffle on (label, token); the tiny aggregate is
    * staged (Staging.stage; not persisted — lazily-returned frame, see
    * PLANS.md §22) because label totals and vocabulary both re-read it.
    */
  def nbModel(
      df: DataFrame,
      textCol: String,
      labelCol: String,
      alpha: Double = 1.0
  ): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val counts = df
      .select(col(labelCol).as("label"), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("label", "token")
      .agg(count(lit(1)).as("n"))
      .staged
    val labTot = counts.groupBy("label").agg(sum(col("n")).as("tot"))
    val vocab = counts.agg(countDistinct(col("token")).cast("double").as("vocab"))
    counts
      .join(labTot, Seq("label"))
      .crossJoin(broadcast(vocab))
      .select(
        col("label"), col("token"), col("n"),
        log((col("n") + lit(alpha)) / (col("tot") + lit(alpha) * col("vocab")))
          .as("loglik"))
  }

  /** Self-trained (resubstitution) NB classification: train [[nbModel]] on
    * the corpus, then score every document and return
    * (id, pred, score) — `pred` the argmax label (ties break to the
    * alphabetically first label), `score` its log-posterior
    * `ln prior + Σ_tokens tf · loglik`. Zero-token documents keep the
    * prior-only argmax.
    *
    * The label list, per-label token totals, and vocabulary size are
    * collected to the driver first — a model-sized action (L + 1 scalars),
    * the same contract as IVF's trained centroids — so the per-label score
    * columns and unseen-token fallbacks are plan literals and the scoring
    * pass is one join + one aggregate.
    */
  def nbClassify(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      alpha: Double = 1.0
  ): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val model = nbModel(df, textCol, labelCol, alpha).staged

    // model-sized driver actions: L label rows (priors + totals + vocab)
    val priorRows = df
      .groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
      .orderBy("label")
      .collect()
    val labels = priorRows.map(_.getString(0)).toSeq
    require(labels.nonEmpty, "corpus has no rows")
    val nDocsTotal = priorRows.map(_.getLong(1)).sum.toDouble
    val logPrior: Map[String, Double] =
      priorRows.map(r => r.getString(0) -> math.log(r.getLong(1) / nDocsTotal)).toMap
    val totRows = model
      .groupBy("label")
      .agg(sum(col("n")).as("tot"), countDistinct(col("token")).as("vt"))
      .collect()
    val tot: Map[String, Long] =
      totRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocabSize = model.select(countDistinct(col("token"))).head().getLong(0).toDouble
    val unseen: Map[String, Double] = labels.map { l =>
      l -> math.log(alpha / (tot.getOrElse(l, 0L) + alpha * vocabSize))
    }.toMap

    // (token, __ll_<label>…) — observed pairs only; nulls fall back to the
    // per-label unseen constant at score time. Pivot emits columns named by
    // the label VALUES in list order; the positional toDF rename keeps
    // arbitrary label strings from colliding with id/token/tf.
    val wide = broadcast(model.groupBy("token").pivot("label", labels)
      .agg(first(col("loglik")))
      .toDF("token" +: labels.map(l => s"__ll_$l"): _*))

    val docTf = df
      .select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("id", "token")
      .agg(count(lit(1)).cast("double").as("tf"))
    val scored = docTf
      .join(wide, Seq("token"), "left")
      .groupBy("id")
      .agg(
        sum(col("tf") * coalesce(col(s"__ll_${labels.head}"), lit(unseen(labels.head))))
          .as(s"__s_${labels.head}"),
        labels.tail.map(l =>
          sum(col("tf") * coalesce(col(s"__ll_$l"), lit(unseen(l)))).as(s"__s_$l")): _*)

    // zero-token docs: left join back to the id spine, score = prior only
    val spine = df.select(col(idCol).as("id")).distinct()
    val full = spine.join(scored, Seq("id"), "left")

    val scoreCols = labels.map(l => coalesce(col(s"__s_$l"), lit(0.0)) + lit(logPrior(l)))
    // argmax with ties to the first (alphabetically smallest) label:
    // replace only on strict improvement, scanning labels in sorted order
    val (bestLabel, bestScore) = labels.zip(scoreCols).tail
      .foldLeft((lit(labels.head), scoreCols.head)) {
        case ((bl, bs), (l, s)) =>
          (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
      }
    full.select(col("id"), bestLabel.as("pred"), bestScore.as("score"))
  }
}
