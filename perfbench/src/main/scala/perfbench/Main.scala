package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed unit of work. `run` does what is timed and returns the check
  * of its output, which runs after the clock stops. `span` names the
  * layer the op is a call into. */
final case class Op(kind: String, span: String, run: () => (() => Unit))

/** A journey: its inputs, the ops of each pass, and its output checks. */
trait Workload {
  /** Passes the timed loop runs even when the time is up. */
  def minPasses: Int
  /** Passes the inputs allow (ingest has a finite pool of shards). */
  def maxPasses: Int = Int.MaxValue
  /** Input rows one pass processes. */
  def rowsPerPass: Long
  /** Generates the inputs from the seed and builds any state. */
  def setup(): Unit
  /** Ops of pass `p`; pass 0 is the untimed warmup. */
  def pass(p: Int): Seq[Op]
  /** Bytes pass `p` wrote to the lake. */
  def writtenBytes(p: Int): Long = 0L
  /** (files, bytes) of the persisted states after pass `p`. */
  def stateSize(p: Int): (Long, Long) = (0L, 0L)
  /** Checks on what the last pass left behind; returns the failures. */
  def finalChecks(): Seq[String] = Nil
  /** Directories holding the generated inputs. */
  def inputDirs: Seq[File]
  /** Input sizes and shape, recorded with the result. */
  def describe: Map[String, Any]
  /** Span whose time `reg.auto` is compared to, if the workload has one. */
  def autoTwin: Option[String] = None
}

final case class OpResult(kind: String, pass: Int, traced: Boolean,
    wallS: Double, cpuS: Double, stealPct: Double, error: Option[String])

final case class PassResult(pass: Int, traced: Boolean, wallS: Double,
    cpuS: Double, gcS: Double, stealPct: Double)

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dir: File, launchMs: Long, cores: Int,
      failOp: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("dir")),
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m.get("fail-op"))
  }

  def session(args: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(args.dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(args.dir, "warehouse").getPath)
      // the library's staged frames (localCheckpoint) race the context
      // cleaner's accumulator cleanup; the JVM lives for one run only
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    args.dir.mkdirs()
    val spark = session(args)
    val sessionS = (System.currentTimeMillis() - args.launchMs) / 1e3
    val lake = new File(args.dir, "lake")
    val tracer = new Tracer(spark)
    val wl: Workload = args.workload match {
      case "fit_scan" => new FitScan(spark, lake, args.seed)
      case "fit_panel" => new FitPanel(spark, lake, args.seed)
      case "ingest_daily" => new IngestDaily(spark, lake, args.seed, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val passes = mutable.ArrayBuffer.empty[PassResult]

    def runOp(op: Op, p: Int, traced: Boolean): Unit = {
      val k0 = Host.ticks()
      val c0 = Host.cpuNs()
      val t0 = System.nanoTime()
      var wall, cpu = 0.0
      val error = try {
        if (args.failOp.contains(op.kind)) throw new RuntimeException(
          s"injected failure in ${op.kind}")
        val check = tracer.span(op.span)(op.run())
        wall = (System.nanoTime() - t0) / 1e9
        cpu = (Host.cpuNs() - c0) / 1e9
        check()
        None
      } catch {
        case t: Throwable =>
          System.err.println(s"op ${op.kind} (pass $p) failed: $t")
          t.printStackTrace()
          Some(s"${t.getClass.getSimpleName}: ${t.getMessage}".take(500))
      }
      ops += OpResult(op.kind, p, traced, wall, cpu,
        Host.stealPct(k0, Host.ticks()), error)
    }

    def runPass(p: Int, traced: Boolean): Unit = {
      val k0 = Host.ticks()
      val c0 = Host.cpuNs()
      val g0 = Host.gcMs()
      val t0 = System.nanoTime()
      tracer.pass(p, traced) {
        wl.pass(p).foreach(op => runOp(op, p, traced))
      }
      passes += PassResult(p, traced, (System.nanoTime() - t0) / 1e9,
        (Host.cpuNs() - c0) / 1e9, (Host.gcMs() - g0) / 1e3,
        Host.stealPct(k0, Host.ticks()))
    }

    // ---- set-up: inputs, states, and the untimed warmup pass
    val inputsT0 = System.nanoTime()
    wl.setup()
    val inputsS = (System.nanoTime() - inputsT0) / 1e9
    val inputsSha = sha256(wl.inputDirs)
    val warmT0 = System.nanoTime()
    runPass(0, traced = false)
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val setupS = (System.currentTimeMillis() - args.launchMs) / 1e3

    // ---- timed loop. Traced runs alternate untraced and traced passes,
    // so the tracing overhead is measured inside one run.
    val minPasses = if (args.trace) 2 * wl.minPasses else wl.minPasses
    val k0 = Host.ticks()
    val t0 = System.nanoTime()
    var p = 1
    while (p <= wl.maxPasses &&
        (p <= minPasses || (System.nanoTime() - t0) / 1e9 < args.seconds)) {
      runPass(p, traced = args.trace && p % 2 == 0)
      p += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val stealPct = Host.stealPct(k0, Host.ticks())
    val finalErrors = try wl.finalChecks() catch {
      case t: Throwable => Seq(s"final check threw: $t")
    }
    finalErrors.foreach(e => System.err.println(s"check failed: $e"))

    val timedOps = ops.filter(_.pass > 0)
    val failed = ops.count(_.error.isDefined)
    val attempted = ops.size
    val e2eOps = timedOps.filter(o => !o.traced && o.error.isEmpty)
    // a pass's time is the sum of its ops: output checks are not timed
    val e2ePasses = timedOps.filter(!_.traced).groupBy(_.pass).toSeq
      .filter(_._2.forall(_.error.isEmpty))
    val runS = Stats.median(e2ePasses.map(_._2.map(_.wallS).sum))
    val e2e = Map[String, Double](
      "setup_s" -> setupS,
      "run_s" -> runS,
      "op_p50_s" -> Stats.median(e2eOps.groupBy(_.kind).values
        .map(os => Stats.median(os.map(_.wallS).toSeq)).toSeq),
      "rows_per_s" -> (if (runS > 0) wl.rowsPerPass / runS else 0.0),
      "cpu_s" -> Stats.median(e2ePasses.map(_._2.map(_.cpuS).sum)),
      "failed_op_ratio" -> failed.toDouble / math.max(attempted, 1),
      "written_mb" -> Stats.median(e2ePasses.map(x => wl.writtenBytes(x._1) / 1e6)),
      "peak_rss_mb" -> Host.peakRssMb())
    val layers =
      if (args.trace) Layers.metrics(tracer, wl, passes.toSeq, ops.toSeq,
        args.cores, stealPct)
      else Map.empty[String, Double]

    val burst = Stats.stealBurst(timedOps.filter(_.error.isEmpty).toSeq, stealPct)
    val result = Map[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "trace" -> args.trace, "seconds" -> args.seconds,
      "correct" -> (failed == 0 && finalErrors.isEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> (ops.flatMap(o => o.error.map(e => s"${o.kind}#${o.pass}: $e")) ++
        finalErrors),
      "inputs" -> (wl.describe + ("sha256" -> inputsSha)),
      "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS,
        "warmup_s" -> warmupS, "setup_s" -> setupS),
      "host" -> (Map("nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores" -> args.cores, "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "timed_s" -> timedS, "steal_pct" -> stealPct) ++ burst),
      "metrics" -> (e2e ++ layers),
      "passes" -> passes.map(x => Map("pass" -> x.pass, "traced" -> x.traced,
        "wall_s" -> x.wallS, "cpu_s" -> x.cpuS, "gc_s" -> x.gcS,
        "steal_pct" -> x.stealPct)).toSeq,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "pass" -> o.pass,
        "traced" -> o.traced, "wall_s" -> o.wallS, "cpu_s" -> o.cpuS,
        "steal_pct" -> o.stealPct, "ok" -> o.error.isEmpty)).toSeq)
    write(new File(args.dir, "result.json"), Json.render(result))
    if (args.trace) write(new File(args.dir, "spans.jsonl"),
      Layers.spanLines(tracer).mkString("", "\n", "\n"))
    println(f"perfbench ${args.workload} seed=${args.seed} passes=${passes.size - 1} " +
      f"ops=$attempted failed=$failed steal=$stealPct%.2f%% " +
      e2e.toSeq.sorted.map { case (k, v) => f"$k=$v%.4f ${Units(k)}" }.mkString(", "))
    spark.stop()
    deleteTree(lake)
  }

  /** Units of the end-to-end metrics on the summary line. */
  val Units = Map("setup_s" -> "s", "run_s" -> "s", "op_p50_s" -> "s",
    "rows_per_s" -> "rows/s", "cpu_s" -> "s", "failed_op_ratio" -> "ratio",
    "written_mb" -> "MB", "peak_rss_mb" -> "MB")

  /** Content hash of every file under `dirs`, in path order, skipping
    * Spark's checksum and marker files. A parquet file is hashed without
    * its footer: parquet-mr lists a column's encodings in hash-set order,
    * which changes from JVM to JVM while every data page stays the same. */
  def sha256(dirs: Seq[File]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else Seq(f)
    dirs.flatMap(files)
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .foreach { f =>
        val b = Files.readAllBytes(f.toPath)
        val end =
          if (!f.getName.endsWith(".parquet")) b.length
          else b.length - 8 - java.nio.ByteBuffer.wrap(b, b.length - 8, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        md.update(b, 0, end)
      }
    md.digest().map("%02x".format(_)).mkString
  }

  def write(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def dirBytes(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (if (f.getName.startsWith(".") || f.getName.startsWith("_")) (0L, 0L)
      else (1L, f.length()))
    else f.listFiles().map(dirBytes).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The steal-burst signature, computed per run: an op is poisoned when
    * it ran at least 1.5x its kind's median wall time while its CPU time
    * stayed within 1.1x of the kind's median (the counters are flat while
    * the wall moves) or while the host stole more than 5% of the CPU. */
  def stealBurst(ops: Seq[OpResult], stealPct: Double): Map[String, Any] = {
    val poisoned = ops.groupBy(_.kind).values.toSeq.flatMap { os =>
      val w = median(os.map(_.wallS))
      val c = median(os.map(_.cpuS))
      os.filter(o => o.wallS > 1.5 * w && (o.cpuS <= 1.1 * c || o.stealPct > 5.0))
    }
    Map("poisoned_ops" -> poisoned.map(o => s"${o.kind}#${o.pass}"),
      "steal_burst" -> (poisoned.nonEmpty || stealPct > 5.0))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => k.toString -> x }
      .sortBy(_._1).map { case (k, x) => s"${quote(k)}: ${render(x)}" }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
