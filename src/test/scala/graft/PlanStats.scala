package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, QueryExecution,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Structural counts of one physical plan — what a plan-shape pin
  * asserts on, read from the plan TREE (never its string).
  *
  * `joins` maps each join operator's node name (BroadcastHashJoin,
  * SortMergeJoin, …) to its count. `lambdas` counts higher-order-function
  * expressions (the interpreted `x -> …` lambdas); `codegenFallbacks`
  * counts every expression that runs interpreted inside codegen (HOFs
  * included). `cachedScans` counts reads of a persisted frame. */
final case class PlanStats(
    shuffles: Int,
    broadcasts: Int,
    joins: Map[String, Int],
    windows: Int,
    windowGroupLimits: Int,
    hashAggregates: Int,
    lambdas: Int,
    codegenFallbacks: Int,
    cachedScans: Int
) {
  def joinCount: Int = joins.values.sum
}

object PlanStats extends AdaptiveSparkPlanHelper {

  /** Stats of `df`'s physical plan, built without running it. */
  def planStats(df: DataFrame): PlanStats =
    planStats(df.queryExecution.executedPlan)

  /** Walks the whole tree, seeing through `AdaptiveSparkPlanExec` and
    * its query stages (initial plan before execution, final plan after).
    * Cached relations are leaves: a scan of a persisted frame does not
    * count the plan that filled the cache. */
  def planStats(plan: SparkPlan): PlanStats = {
    val nodes = collect(plan) { case p => p }
    val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    PlanStats(
      shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      joins = nodes.collect { case j: BaseJoinExec => j.nodeName }
        .groupBy(identity).map { case (k, v) => k -> v.size },
      windows = nodes.count(_.isInstanceOf[WindowExec]),
      windowGroupLimits = nodes.count(_.isInstanceOf[WindowGroupLimitExec]),
      hashAggregates = nodes.count(_.isInstanceOf[HashAggregateExec]),
      lambdas = exprs.count(_.isInstanceOf[HigherOrderFunction]),
      codegenFallbacks = exprs.count(_.isInstanceOf[CodegenFallback]),
      cachedScans = nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
  }

  /** Every file-source scan in `plan`: its `requiredSchema` is the
    * ReadSchema, its `dataFilters` the filters pushed to the reader. */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case s: FileSourceScanExec => s }

  /** Every aggregate operator of `plan` that runs outside whole-stage
    * codegen: those not inside a `WholeStageCodegenExec` stage (a plan
    * wider than `spark.sql.codegen.maxFields` never is). */
  def interpretedAggregates(plan: SparkPlan): Seq[BaseAggregateExec] = {
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil // the next stage's input
      case _ => p +: p.children.flatMap(stage)
    }
    val compiled = collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => stage(w.child))
    collect(plan) { case a: BaseAggregateExec => a }
      .filterNot(a => compiled.exists(_ eq a))
  }

  /** The partitioning key expressions of every shuffle in `plan`. */
  def shuffleKeys(plan: SparkPlan): Seq[Seq[Expression]] =
    collect(plan) { case s: ShuffleExchangeLike => s.outputPartitioning }
      .map {
        case h: HashPartitioning => h.expressions
        case _ => Nil
      }

  /** Runs `f` and returns every query it executed, in completion order:
    * the action's name (`collect`, `head`, `localCheckpoint`, …) and its
    * `QueryExecution`, one per action including eager checkpoints. */
  def capturedQueries(spark: SparkSession)(f: => Unit)
      : Seq[(String, QueryExecution)] = {
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(fn -> qe); ()
      }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** Blocks until the (asynchronous) listener bus has delivered every
    * queued event. `waitUntilEmpty` is Spark-internal (package-private
    * members compile to public bytecode), so it is reached reflectively. */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }
}
