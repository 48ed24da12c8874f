package graft.streaming

import breeze.linalg.DenseVector
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.linalg.LinAlg
import graft.reg.MomentsKernel

/** Streaming extensions (beyond the reference's batch-only surface,
  * SURVEY.md §2.10): the moments strategy's sufficient statistics are plain
  * sums, so OLS over a stream is one incremental `groupBy().agg(sum…)` —
  * Spark maintains the partial aggregates in the state store and the driver
  * can solve the normal equations from any micro-batch's output.
  */
object StreamingReg {

  /** Column list of the [1, X, y] moment sums for `y ~ xs` (upper triangle):
    * `n`, `sum_y`, `sum_y_sq`, `sum_x<i>`, `sum_x<i>_y`, `sum_x<i>_x<j>`.
    * Works on both batch and streaming DataFrames. */
  def momentAggs(y: String, xs: Seq[String]): Seq[Column] =
    MomentsKernel.rawAggs(col(y).cast("double"), xs.map(col(_).cast("double")),
      names = MomentsKernel.Streamed)

  /** Incremental sufficient statistics for `y ~ xs`, optionally keyed.
    * On a streaming input use output mode "complete" (no watermark) or key
    * by a window column with a watermark for bounded state. */
  def momentsStream(df: DataFrame, y: String, xs: Seq[String], keys: Seq[Column] = Nil): DataFrame =
    MomentsKernel.aggregate(df, keys, col(y).cast("double"),
      xs.map(col(_).cast("double")), MomentsKernel.Streamed)

  private def moments(row: Row, p: Int) =
    MomentsKernel.readRaw(row, p, MomentsKernel.Streamed)

  /** Solve OLS (with intercept) from one row of [[momentsStream]] output —
    * call from `foreachBatch` or on a memory-sink table. */
  def solve(row: Row, p: Int): DenseVector[Double] = {
    val (xtx, xty) = moments(row, p).withIntercept
    LinAlg.solveWithFallback(xtx, xty).beta
  }

  /** Ridge path from one row of [[momentsStream]] output — the streamed
    * sufficient statistics are the SAME additive sums the batch ridge scan
    * produces, so the whole λ path (estimates, df_eff, GCV) updates per
    * micro-batch with zero re-reads of history. `xs` are the display names
    * in [[momentAggs]] order. */
  def solveRidge(
      row: Row,
      xs: Seq[String],
      lambdas: Seq[Double],
      standardize: Boolean = true
  ): Seq[graft.reg.Ridge.RidgeFit] = {
    val m = moments(row, xs.length)
    val (xtx, xty) = m.withIntercept
    graft.reg.Ridge.pathFromTriangle(xs.toIndexedSeq, xtx, xty,
      m.syy, m.n.round, lambdas, standardize)
  }

  /** Watermarked tumbling-window aggregation over an event stream — the
    * streaming form of the batch q40 shape. `tsCol` must be TimestampType. */
  def windowedEventAgg(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      valueCol: String,
      window_ : String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))

  /** Streaming exact-dedup: drop events whose fingerprint was already seen
    * within the watermark horizon (bounded state — the streaming form of
    * the batch exactGroups dedup). */
  def streamingDedup(
      events: DataFrame,
      tsCol: String,
      fingerprintCol: Column,
      watermark: String = "1 hour"
  ): DataFrame =
    events
      .withColumn("__fp", fingerprintCol)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming window attribution — the streaming form of the batch
    * [[graft.operators.RangeJoin.pointInInterval]] shape: every point
    * event joins the trigger events whose `[trigger.ts, trigger.ts +
    * windowUs]` window contains it (inclusive).
    *
    * Spark refuses stream-stream joins without an equality predicate, so
    * the batch operator's bucketization carries over verbatim: triggers
    * emit their (at most 2, since bucketWidth = window length) overlapped
    * time buckets via a stateless explode, points emit exactly one, and
    * the join is a supported equi-join on `__bucket` with the exact range
    * predicate re-checked. The time-bound predicate additionally lets the
    * state store evict: a trigger older than watermark + window can never
    * match a future point, so state stays bounded. Both inputs must be
    * streaming frames with `tsCol` TimestampType. */
  def streamingAttribution(
      points: DataFrame,
      triggers: DataFrame,
      tsCol: String,
      windowUs: Long = 600000000L,
      watermark: String = "1 hour"
  ): DataFrame = {
    require(windowUs > 0, s"windowUs must be > 0, got $windowUs")
    val clash = points.columns.toSet.intersect(triggers.columns.toSet) - tsCol
    require(clash.isEmpty,
      s"point/trigger column names must be disjoint outside '$tsCol', " +
        s"both have: ${clash.mkString(", ")}")
    import graft.operators.RangeJoin.floorDiv
    val p = points.withColumn("__pts", col(tsCol)).drop(tsCol)
      .withWatermark("__pts", watermark)
      .withColumn("__bucket", floorDiv(unix_micros(col("__pts")), windowUs))
    val t = triggers.withColumn("__tts", col(tsCol)).drop(tsCol)
      .withWatermark("__tts", watermark)
      .withColumn("__bucket", explode(sequence(
        floorDiv(unix_micros(col("__tts")), windowUs),
        floorDiv(unix_micros(col("__tts")) + windowUs, windowUs))))
    p.join(t, Seq("__bucket"))
      .filter(col("__pts") >= col("__tts") &&
        col("__pts") <= col("__tts") + expr(s"INTERVAL $windowUs MICROSECOND"))
      .drop("__bucket")
      .withColumnRenamed("__pts", s"point_$tsCol")
      .withColumnRenamed("__tts", s"trigger_$tsCol")
  }

  /** Finalized session emitted by [[streamingSessionize]]. */
  final case class Session(
      key: String, startMs: Long, endMs: Long, nEvents: Long, sumValue: Double)

  /** Open-session state for [[streamingSessionize]] (public: the state
    * encoder's generated code must be able to reach the accessors). */
  final case class SessionState(
      startMs: Long, endMs: Long, n: Long, sumV: Double)

  /** Streaming gap-based sessionization — the stateful-streaming form of
    * the batch q54 shape (lag window + running session index).
    *
    * State per key is one open session (bounded). A micro-batch's events
    * extend the open session or close it and start a new one when the gap
    * exceeds `gapMs`; the event-time timeout closes idle sessions once the
    * watermark passes their horizon, so state cannot grow without bound.
    * Emits only FINALIZED sessions (closed by a gap or by timeout). */
  def streamingSessionize(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      valueCol: String,
      gapMs: Long = 30L * 60L * 1000L,
      watermark: String = "1 hour"
  ): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .select(
        col(keyCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"),
        col(valueCol).cast("double").as("v"))
      .withWatermark("ts", watermark) // after the projection, so the tag
      .as[(String, java.sql.Timestamp, Double)] // survives onto the used attr
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed the open session's horizon: finalize it
            val s = state.get
            state.remove()
            Iterator(Session(key, s.startMs, s.endMs, s.n, s.sumV))
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur = state.getOption
            sorted.foreach { case (_, ts, v) =>
              val t = ts.getTime
              cur match {
                case Some(s) if t - s.endMs <= gapMs =>
                  cur = Some(SessionState(s.startMs, math.max(s.endMs, t), s.n + 1, s.sumV + v))
                case Some(s) =>
                  out += Session(key, s.startMs, s.endMs, s.n, s.sumV)
                  cur = Some(SessionState(t, t, 1L, v))
                case None =>
                  cur = Some(SessionState(t, t, 1L, v))
              }
            }
            cur.foreach { s =>
              // close the open session once event time passes end + gap.
              // A timeout at/below the current watermark would throw and
              // kill the query (Spark refuses past timestamps — reached
              // when a batch delivers events older than the watermark,
              // e.g. a late replay): the watermark passing the horizon
              // means the gap window is already over, so finalize now,
              // exactly as the event-time timeout would have.
              val horizon = s.endMs + gapMs
              if (horizon <= state.getCurrentWatermarkMs()) {
                out += Session(key, s.startMs, s.endMs, s.n, s.sumV)
                if (state.exists) state.remove()
              } else {
                state.update(s)
                state.setTimeoutTimestamp(horizon)
              }
            }
            out.iterator
          }
      }
      .toDF("key", "start_ms", "end_ms", "n_events", "sum_value")
  }

  /** Per-key running statistics via mapGroupsWithState — the custom-state
    * escape hatch for semantics windowed aggs can't express. */
  final case class RunningStats(n: Long, mean: Double, m2: Double) {
    def variance: Double = if (n > 1) m2 / (n - 1) else 0.0
  }

  def runningStatsPerKey(
      events: DataFrame,
      keyCol: String,
      valueCol: String
  ): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val typed = events
      .select(col(keyCol).cast("string").as("k"), col(valueCol).cast("double").as("v"))
      .as[(String, Double)]
    typed
      .groupByKey(_._1)
      .mapGroupsWithState[RunningStats, (String, Long, Double, Double)](
        GroupStateTimeout.NoTimeout) {
        case (key, values, state: GroupState[RunningStats]) =>
          var s = state.getOption.getOrElse(RunningStats(0L, 0.0, 0.0))
          values.foreach { case (_, v) =>
            // Welford update: numerically stable running mean/variance
            val n1 = s.n + 1
            val delta = v - s.mean
            val mean1 = s.mean + delta / n1
            s = RunningStats(n1, mean1, s.m2 + delta * (v - mean1))
          }
          state.update(s)
          (key, s.n, s.mean, s.variance)
      }
      .toDF("key", "n", "mean", "variance")
  }

  /** Streaming rolling active users — the streaming form of the batch
    * [[graft.operators.Events.rollingActiveUsers]]: sliding event-time
    * windows + a per-window DISTINCT-user estimate.
    *
    * The batch operator counts exactly; in a stream an exact per-window
    * distinct would hold a user SET per open window in the state store —
    * unbounded in users, the one thing streaming state must never be.
    * approx_count_distinct keeps one HLL (fixed bytes) per open
    * window, mergeable across micro-batches, ~5% relative standard
    * deviation at Spark's default rsd (pass a tighter rsd upstream if the
    * use sizes thresholds off it) — and EXACT at small cardinalities
    * (HLL sparse mode). Windows finalize when the watermark passes,
    * bounding open-window state.
    */
  def streamingRollingActives(
      events: DataFrame,
      tsCol: String,
      userCol: String,
      window_ : String = "7 days",
      slide: String = "1 day",
      watermark: String = "1 day"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_, slide))
      .agg(approx_count_distinct(col(userCol)).as("n_active_approx"))

  /** A step-reach transition emitted by [[streamingFunnel]]. */
  final case class StepReach(key: String, stepIdx: Int, step: String, reachMs: Long)

  /** Per-user funnel state: first order-respecting match time (ms) per
    * step, −1 = unreached (public: the state encoder's generated code
    * must reach the accessor). Reached steps always form a prefix. */
  final case class FunnelState(times: Seq[Long])

  /** Streaming funnel — the streaming form of the batch
    * [[graft.operators.Events.funnel]] cascade: per user, step k is
    * reached by the first step-k event at-or-after the step-(k−1) match
    * (within `maxGapMs` of it when set). Emits one APPEND row per newly
    * reached step — `(key, step_idx, step, reach_ms)` transitions; a
    * downstream windowed count over `step_idx` gives live conversion
    * rates (Spark ≥3.4 supports the stateful-op → agg chain in append
    * mode).
    *
    * State per user is k longs (fixed); users who complete the funnel
    * drop their state immediately, users who never matched step 1 store
    * none, and with a conversion window set, users idle past their next
    * step's deadline are evicted by event-time timeout — so state is
    * bounded by ACTIVE mid-funnel users, not corpus users. WITHOUT a
    * conversion window (`maxGapMs = None`) a user who reached step 1 and
    * never finishes is remembered FOREVER — state then grows with
    * lifetime one-step users, not active ones. `idleTtlMs` bounds that
    * mode too: a user with no matching events for `idleTtlMs` of event
    * time is evicted (their funnel progress is forgotten — a later
    * conversion restarts from step 1; the standard state-TTL trade).
    * When both are set, eviction fires at whichever deadline is earlier.
    *
    * Batch-vs-stream contract: events are processed in event-time order
    * WITHIN each micro-batch, so in-order (or per-batch-complete) feeds
    * reproduce the batch earliest-match cascade exactly; an out-of-order
    * event arriving in a LATER batch than a same-step rival cannot
    * retract an already-emitted match (append semantics) and may
    * therefore record a later reach time than the batch funnel would.
    * Late-event caveat: events BELOW the watermark are still applied
    * (`flatMapGroupsWithState` does not drop them — only the timeout
    * machinery consults the watermark), so a very late event can emit a
    * reach transition whose `reach_ms` falls inside a window a
    * downstream watermark-driven aggregation has already finalized;
    * filter `ts >= watermark` upstream if downstream windows must never
    * see sub-watermark transitions.
    */
  def streamingFunnel(
      events: DataFrame,
      tsCol: String,
      userCol: String,
      typeCol: String,
      steps: Seq[String],
      maxGapMs: Option[Long] = None,
      watermark: String = "1 hour",
      idleTtlMs: Option[Long] = None
  ): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"duplicate funnel steps: $steps")
    require(maxGapMs.forall(_ > 0), s"maxGapMs must be positive: $maxGapMs")
    require(idleTtlMs.forall(_ > 0), s"idleTtlMs must be positive: $idleTtlMs")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stepIdx = steps.zipWithIndex.toMap
    val typed = events
      .select(col(userCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"),
        col(typeCol).cast("string").as("e"))
      .filter(col("e").isin(steps: _*))
      .withWatermark("ts", watermark)
      .as[(String, java.sql.Timestamp, String)]
    val timeout =
      if (maxGapMs.isDefined || idleTtlMs.isDefined)
        GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, StepReach](OutputMode.Append(), timeout) {
        case (key, rows, state: GroupState[FunnelState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // conversion window expired: this user can never advance
            state.remove()
            Iterator.empty
          } else {
            val times = state.getOption.map(_.times.toArray)
              .getOrElse(Array.fill(steps.length)(-1L))
            val out = scala.collection.mutable.ArrayBuffer.empty[StepReach]
            // tie-break same-timestamp events by STEP ORDER (not the raw
            // type string) so a same-second signup→purchase cascades the
            // way the batch funnel's __ts >= __prev comparison does
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, stepIdx(r._3)))
            sorted.foreach { case (_, ts, e) =>
              val t = ts.getTime
              val k = stepIdx(e)
              val prevOk = k == 0 || (times(k - 1) >= 0 && t >= times(k - 1) &&
                maxGapMs.forall(g => t - times(k - 1) <= g))
              if (prevOk && times(k) < 0) {
                times(k) = t
                out += StepReach(key, k + 1, steps(k), t)
              }
            }
            if (times.last >= 0) {
              // funnel complete — no further transitions possible
              if (state.exists) state.remove()
            } else if (times.head < 0) {
              // never matched step 1 — nothing to remember
              if (state.exists) state.remove()
            } else {
              // reached steps form a prefix, so the first unreached
              // step's predecessor is always set
              val kStar = times.indexWhere(_ < 0)
              val gapDeadline = maxGapMs.map(g => times(kStar - 1) + g)
              // idle TTL runs from the user's last matching activity:
              // the later of the reached-step times and this batch's rows
              // (an out-of-order straggler can't move it backwards)
              val idleDeadline = idleTtlMs.map { ttl =>
                val lastSeen = math.max(times.max,
                  sorted.iterator.map(_._2.getTime).foldLeft(Long.MinValue)(math.max))
                lastSeen + ttl
              }
              (gapDeadline.toList ++ idleDeadline.toList) match {
                case Nil =>
                  state.update(FunnelState(times.toSeq))
                case ds =>
                  val deadline = ds.min
                  // a timeout below the current watermark would throw and
                  // kill the query (Spark refuses past timestamps); a
                  // conversion deadline the watermark already passed means
                  // this user can never advance, and a passed idle
                  // deadline means the TTL already expired — drop now
                  val wm = state.getCurrentWatermarkMs()
                  if (deadline <= wm) {
                    if (state.exists) state.remove()
                  } else {
                    state.update(FunnelState(times.toSeq))
                    state.setTimeoutTimestamp(deadline)
                  }
              }
            }
            out.iterator
          }
      }
      .toDF("key", "step_idx", "step", "reach_ms")
  }
}
