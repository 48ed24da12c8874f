package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Readings of the host and of this process. */
object Host {
  /** Aggregate CPU ticks from the first line of /proc/stat. */
  final case class Ticks(steal: Long, total: Long)

  def ticks(): Ticks = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      // user nice system idle iowait irq softirq steal [guest guest_nice];
      // guest time is already inside user, so only the first eight add up
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Ticks(if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  /** Share of all CPU ticks between `a` and `b` that the hypervisor stole. */
  def stealPct(a: Ticks, b: Ticks): Double = {
    val t = b.total - a.total
    if (t <= 0) 0.0 else 100.0 * (b.steal - a.steal) / t
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (driver and local executors). */
  def cpuNs(): Long = os.getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Task-level work attributed to one span. Written by the listener thread,
  * read by the main thread after the listener bus is drained. */
final class Work {
  var jobs, stages, tasks, failedTasks, stagingJobs = 0L
  var runMs, cpuNs, inputB, shufWB, shufRB, fetchWaitMs, spillB, resultB,
    schedDelayMs = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; stagingJobs += o.stagingJobs
    runMs += o.runMs; cpuNs += o.cpuNs; inputB += o.inputB
    shufWB += o.shufWB; shufRB += o.shufRB; fetchWaitMs += o.fetchWaitMs
    spillB += o.spillB; resultB += o.resultB; schedDelayMs += o.schedDelayMs
  }
}

/** A span around one call into a graft layer. Times are epoch ms (to line
  * up with Spark's job events) plus nanoTime for the duration. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    startMs: Long, startNs: Long, steal0: Host.Ticks) {
  var wallS = 0.0
  var endMs = 0L
  var stealPct = 0.0
}

/** Spans recorded around the benchmark's own calls into each layer, plus
  * a SparkListener that attributes every job (and its stages and tasks)
  * to the span that was open on the submitting thread, through a local
  * property, and a QueryExecutionListener that counts tokenizer
  * expressions in executed plans. Nothing is recorded inside the library.
  *
  * `on = false` makes every call a plain pass-through, so the untimed and
  * untraced code paths are the same code. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private var pass = -1
  var on = false

  private val work = mutable.HashMap.empty[Int, Work]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** (job start ms, job end ms, staging?) per job. */
  private val jobWall = mutable.HashMap.empty[Int, (Long, Long, Boolean)]
  private var tokenizeExprs = 0L
  /** Tokenizer expressions counted per pass, read after a drain. */
  val tokenizePerPass = mutable.HashMap.empty[Int, Long]

  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = span
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      val staging = e.stageInfos.exists(_.name.contains("Staging.scala"))
      jobWall(e.jobId) = (e.time, e.time, staging)
      val w = workOf(span)
      w.jobs += 1
      if (staging) w.stagingJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobWall.get(e.jobId).foreach { case (s, _, st) =>
        jobWall(e.jobId) = (s, e.time, st)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        spanOfStage(e.stageInfo.stageId).foreach(s => workOf(s).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      spanOfStage(e.stageId).foreach { s =>
        val w = workOf(s)
        w.tasks += 1
        if (!e.taskInfo.successful) w.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.inputB += m.inputMetrics.bytesRead
          w.shufWB += m.shuffleWriteMetrics.bytesWritten
          w.shufRB += m.shuffleReadMetrics.totalBytesRead
          w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          w.spillB += m.diskBytesSpilled
          w.resultB += m.resultSize
          // the Spark UI's definition of scheduler delay
          w.schedDelayMs += math.max(0L, e.taskInfo.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - e.taskInfo.gettingResultTime)
        }
      }
    }
    private def spanOfStage(stage: Int): Option[Int] =
      stageJob.get(stage).map(j => jobSpan.getOrElse(j, -1))
  }

  private object plans extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized { tokenizeExprs += Tracer.countTokenizers(qe.executedPlan) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }
  private def detach(): Unit = {
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }

  /** Runs one pass with tracing on or off. Listeners are attached only
    * while a traced pass runs, so untraced passes pay nothing. */
  def pass[A](p: Int, traced: Boolean)(body: => A): A = {
    pass = p
    on = traced
    if (traced) attach()
    try body
    finally if (traced) {
      org.apache.spark.PerfbenchBus.drain(sc)
      detach()
      Tracer.this.synchronized {
        tokenizePerPass(p) = tokenizeExprs
        tokenizeExprs = 0L
      }
      on = false
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, current, pass, name, System.currentTimeMillis(),
        System.nanoTime(), Host.ticks())
      spans += s
      val parent = current
      current = s.id
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.wallS = (System.nanoTime() - s.startNs) / 1e9
        s.endMs = System.currentTimeMillis()
        s.stealPct = Host.stealPct(s.steal0, Host.ticks())
        current = parent
        sc.setLocalProperty(Prop, if (parent < 0) null else parent.toString)
      }
    }

  def workOfSpan(id: Int): Work = synchronized(work.getOrElse(id, new Work))

  /** Jobs attributed to `ids`, with their wall intervals. */
  def jobsOf(ids: Set[Int]): Seq[(Long, Long, Boolean)] = synchronized {
    jobSpan.collect { case (j, s) if ids(s) => jobWall(j) }.toSeq
  }

  /** Span wall minus the part of it its children cover. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum
}

object Tracer {
  /** Tokenizer expressions in an executed plan, through adaptive plans,
    * query stages and subqueries. */
  def countTokenizers(plan: SparkPlan): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    nodes(plan).map(_.expressions.map(_.collect {
      case t: graft.functions.WhitespaceTokens => t
    }.size.toLong).sum).sum
  }

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var started = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!started || s >= end) { total += e - s; end = e; started = true }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
