package graft

import org.apache.spark.sql.DataFrame

/** Uniform lineage-truncation gate for lazily-returned, reused frames.
  *
  * Operators that return a frame the caller will read several times
  * (shingle tables, signature tables, IRLS working sets, compressed
  * cells, the edge and rank tables iterative operators re-read every
  * round) truncate lineage so re-reads don't re-run the upstream plan.
  * HOW they truncate follows one rule for EVERY staged frame in the
  * library: configuring a checkpoint dir IS the opt-in to cluster-safe
  * staging.
  *
  *   - no `sc.setCheckpointDir` (single-node / ephemeral runs):
  *     `localCheckpoint` — blocks persist executor-locally;
  *   - a checkpoint dir is set (long multi-executor jobs): a RELIABLE
  *     `checkpoint` into that dir — localCheckpoint blocks die with their
  *     executor and have no lineage to recompute from, so executor loss
  *     (routine preemption at 1000-executor scale) would otherwise kill
  *     the job.
  *
  * Both paths checkpoint EAGERLY. Lazy (`eager = false`) marking defers
  * `doCheckpoint` to the end of whichever job first materializes the
  * marked RDD — under AQE that can be a broadcast-exchange thread
  * broadcasting a sub-plan that embeds the staged frame, and Spark's
  * lock order there (`RDDCheckpointData$` class lock → RDD lock)
  * inverts the DAGScheduler's job-submission order (RDD lock via
  * getCacheLocs → `RDDCheckpointData$` via rdd.partitions): a
  * Java-level deadlock that froze a real run of this suite (jstack:
  * `broadcast-exchange-88` in RDDCheckpointData.checkpoint vs
  * `dag-scheduler-event-loop` in getMissingParentStages). Eager
  * checkpointing materializes in a single controlled query before any
  * later query can embed the frame, so no concurrent submission can
  * race the first `doCheckpoint`. For reliable checkpoints eager is also
  * strictly cheaper: a lazily-marked reliable checkpoint recomputes the
  * whole plan in a second write-out job at first-action end.
  */
object Staging {

  def stage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Frees the blocks behind a frame [[stage]] returned, once nothing
    * will read it again: a local checkpoint has no lineage to recompute
    * from. A no-op on any other frame. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      r.rdd.unpersist(blocking = false); ()
    case _ => ()
  }

  /** `df.staged` — drop-in for `df.localCheckpoint(false)` call sites. */
  implicit class StagedFrame(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }
}
