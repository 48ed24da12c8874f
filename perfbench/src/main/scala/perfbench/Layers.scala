package perfbench

/** Per-layer metrics of a traced run, all per pass (one round of a fit
  * workload's ops, or one shard's full day). Times are medians over the
  * traced passes; counts are the median over the first `minPasses` traced
  * passes, which every run reaches, so they repeat exactly for a seed. */
object Layers {
  /** Span names whose per-pass wall time is a metric `<name>_s`. */
  val TimedSpans = Seq("reg.compress", "reg.auto", "reg.demean", "reg.mundlak",
    "reg.moments", "binsreg.fit", "pipeline.redact", "pipeline.exact_dedup",
    "pipeline.dedup_state", "pipeline.decontaminate", "pipeline.pack",
    "sources.split", "sources.budget", "ingest.apply", "pipeline.cluster_ingest",
    "pipeline.minhash_refresh", "ingest.refresh", "state.write")

  def metrics(tr: Tracer, wl: Workload, passes: Seq[PassResult],
      ops: Seq[OpResult], cores: Int, stealPct: Double): Map[String, Double] = {
    val traced = passes.filter(p => p.pass > 0 && p.traced).map(_.pass)
    val counted = traced.take(wl.minPasses)
    val spansOf = tr.spans.toSeq.groupBy(_.pass)
    def spans(p: Int) = spansOf.getOrElse(p, Seq.empty)
    def named(p: Int, pred: String => Boolean) = spans(p).filter(s => pred(s.name))
    def work(ss: collection.Seq[Span]): Work = {
      val w = new Work
      ss.foreach(s => w.add(tr.workOfSpan(s.id)))
      w
    }
    def time(f: Int => Double) = Stats.median(traced.map(f))
    def count(f: Int => Double) = Stats.median(counted.map(f))
    def wallOf(p: Int, name: String) = named(p, _ == name).map(_.wallS).sum
    def opWall(p: Int) = ops.filter(o => o.pass == p).map(_.wallS).sum
    def untracedOpWall = Stats.median(passes.filter(p => p.pass > 0 && !p.traced)
      .map(p => opWall(p.pass)))

    val spanTimes = TimedSpans.map(n => s"${n}_s" -> time(wallOf(_, n))).toMap
    val autoOverhead = wl.autoTwin.fold(0.0)(twin =>
      time(p => wallOf(p, "reg.auto") - wallOf(p, twin)))
    def regJobs(p: Int) = {
      val fits = named(p, _.startsWith("reg."))
      work(fits).jobs.toDouble / math.max(fits.size, 1)
    }
    // jobs of the pass: wall intervals for driver self time and staging
    def jobs(p: Int) = tr.jobsOf(spans(p).map(_.id).toSet)
    def top(p: Int) = spans(p).filter(_.parent < 0)
    def driverSelf(p: Int) = top(p).map { s =>
      val inside = tr.jobsOf(subtree(tr, s.id)).map { case (a, b, _) =>
        (math.max(a, s.startMs), math.min(b, s.endMs)) }
      s.wallS - Tracer.covered(inside) / 1e3
    }.sum
    def w(p: Int) = work(spans(p))
    val mb = 1e6

    spanTimes ++ Map(
      "reg.auto_overhead_s" -> autoOverhead,
      "reg.jobs_per_fit" -> count(regJobs),
      "binsreg.jobs" -> count(p => work(named(p, _ == "binsreg.fit")).jobs.toDouble),
      "scan.input_mb" -> count(w(_).inputB / mb),
      "exec.cpu_s" -> time(w(_).cpuNs / 1e9),
      "exec.run_s" -> time(w(_).runMs / 1e3),
      "exec.busy_pct" -> time(p => 100.0 * w(p).runMs / 1e3 /
        math.max(top(p).map(_.wallS).sum * cores, 1e-9)),
      "exec.tasks" -> count(w(_).tasks.toDouble),
      "exec.failed_tasks" -> count(w(_).failedTasks.toDouble),
      "exec.gc_s" -> time(p => passes.find(_.pass == p).map(_.gcS).getOrElse(0.0)),
      "exchange.shuffle_write_mb" -> count(w(_).shufWB / mb),
      "exchange.shuffle_read_mb" -> count(w(_).shufRB / mb),
      "exchange.fetch_wait_s" -> time(w(_).fetchWaitMs / 1e3),
      "exchange.spill_mb" -> count(w(_).spillB / mb),
      "driver.self_s" -> time(driverSelf),
      "driver.jobs" -> count(w(_).jobs.toDouble),
      "driver.result_mb" -> count(w(_).resultB / mb),
      "sched.delay_s" -> time(w(_).schedDelayMs / 1e3),
      "pipeline.tokenize_exprs" -> count(p => tr.tokenizePerPass.getOrElse(p, 0L).toDouble),
      "staging.jobs" -> count(w(_).stagingJobs.toDouble),
      "staging.s" -> time(p => Tracer.covered(jobs(p).filter(_._3)
        .map(j => (j._1, j._2))) / 1e3),
      "state.total_mb" -> count(wl.stateSize(_)._2 / mb),
      "state.files" -> count(wl.stateSize(_)._1.toDouble),
      "lake.written_mb" -> count(wl.writtenBytes(_) / mb),
      "host.steal_pct" -> stealPct,
      "trace.overhead_pct" -> {
        val u = untracedOpWall
        if (u > 0) 100.0 * (time(opWall) / u - 1.0) else 0.0
      },
      "ops.failed_op_ratio" ->
        ops.count(_.error.isDefined).toDouble / math.max(ops.size, 1))
  }

  private def subtree(tr: Tracer, root: Int): Set[Int] = {
    val kids = tr.spans.filter(_.parent == root).map(_.id)
    kids.flatMap(subtree(tr, _)).toSet ++ kids + root
  }

  /** One JSON line per span, with its self time and attributed work. */
  def spanLines(tr: Tracer): Seq[String] = tr.spans.toSeq.map { s =>
    val w = tr.workOfSpan(s.id)
    Json.render(Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
      "name" -> s.name, "start_ms" -> s.startMs, "wall_s" -> s.wallS,
      "self_s" -> tr.selfS(s), "steal_pct" -> s.stealPct, "jobs" -> w.jobs,
      "stages" -> w.stages, "tasks" -> w.tasks, "exec_cpu_s" -> w.cpuNs / 1e9,
      "exec_run_s" -> w.runMs / 1e3, "input_mb" -> w.inputB / 1e6,
      "shuffle_write_mb" -> w.shufWB / 1e6, "shuffle_read_mb" -> w.shufRB / 1e6,
      "staging_jobs" -> w.stagingJobs))
  }
}
