package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming twins of the batch event analytics.
  *
  * The reference's pipelines are scheduled batch (GitHub Actions cron,
  * reference: README.md "Github Actions Schedule") — re-expressed here as
  * continuous streams: readStream -> watermark -> windowed agg / stateful
  * sessionization -> append sink. Designed for per-key state at scale:
  * state is partitioned by user key, watermark bounds state size.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class Session(user_id: Long, session_start: Long, session_end: Long,
                     n_events: Long, total_value: Double)
  case class SessState(start: Long, last: Long, n: Long, total: Double)

  /** Tumbling-window per-type counts with a 10-minute watermark: late data
    * beyond the watermark is dropped, state is bounded. */
  def tumblingCounts(events: DataFrame, window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))

  /** One sorted micro-batch of (sec, value) rows folded into the running
    * session. In-horizon out-of-order events merge with min/max — the
    * naive `last = sec` would drag the session end BACKWARDS and emit
    * end < start. Events older than `start - gap` belong to an earlier,
    * already-closed session: they gap-merge AMONG THEMSELVES within the
    * batch (so a late burst that arrives together forms the same sessions
    * the batch twin [[graft.operators.Sessionize]] would) and close at
    * batch end. The one remaining divergence from the batch twin: a late
    * burst SPLIT ACROSS micro-batches closes once per batch — inherent to
    * closing late data eagerly instead of holding unbounded extra state. */
  private def foldBatch(user: Long, sorted: Seq[(Long, Double)], gapSec: Long,
                        cur0: Option[SessState],
                        close: Session => Unit): Option[SessState] = {
    var cur = cur0
    var late: Option[SessState] = None
    def emit(s: SessState): Unit =
      close(Session(user, s.start, s.last, s.n, s.total))
    sorted.foreach { case (sec, value) =>
      cur match {
        case Some(s) if sec < s.start - gapSec => // earlier closed session
          late = late match {
            // sorted input: sec >= late.last always, so only gap-split
            // (close + restart) or merge-extend can happen here
            case Some(l) if sec > l.last + gapSec =>
              emit(l); Some(SessState(sec, sec, 1, value))
            case Some(l) =>
              Some(SessState(l.start, math.max(l.last, sec), l.n + 1, l.total + value))
            case None => Some(SessState(sec, sec, 1, value))
          }
        case Some(s) if sec > s.last + gapSec => // next session: close current
          // the current session may have extended DOWN to touch the late
          // track EARLIER in this batch: merge before closing, exactly
          // like the end-of-batch re-check — otherwise a batch that
          // bridges down AND jumps forward (e.g. 850, 950, 1400 over
          // [1000,1080] gap 100) splits the twin's one [850,1080]
          late match {
            case Some(l) if l.last + gapSec >= s.start =>
              emit(SessState(math.min(l.start, s.start),
                math.max(l.last, s.last), l.n + s.n, l.total + s.total))
              late = None
            case _ => emit(s)
          }
          cur = Some(SessState(sec, sec, 1, value))
        case Some(s) => // inside / adjacent: merge, possibly extending either end
          cur = Some(SessState(math.min(s.start, sec), math.max(s.last, sec),
            s.n + 1, s.total + value))
        case None =>
          cur = Some(SessState(sec, sec, 1, value))
      }
    }
    // the current session's START may have been extended DOWN during this
    // batch (an in-gap earlier event), closing the gap to the late track:
    // re-check adjacency before emitting, or a batch like (850, 950) over
    // state [1000,1200] with gap 100 would emit a spurious [850,850] where
    // the batch twin sessionizes one [850,1200]
    (late, cur) match {
      case (Some(l), Some(s)) if l.last + gapSec >= s.start =>
        cur = Some(SessState(math.min(l.start, s.start),
          math.max(l.last, s.last), l.n + s.n, l.total + s.total))
      case (Some(l), _) => emit(l)
      case _ => ()
    }
    cur
  }

  /** Gap-based sessionization with explicit state: one state entry per
    * live user, closed sessions emitted on gap or processing-time timeout.
    * Batch twin: [[graft.operators.Sessionize.sessionize]]. */
  def sessionizeStream(events: Dataset[Event], gapSec: Long,
                       timeout: GroupStateTimeout =
                         GroupStateTimeout.ProcessingTimeTimeout()): Dataset[Session] = {
    import events.sparkSession.implicits._
    // EventTimeTimeout needs a watermark and a different timeout call —
    // that variant IS sessionizeEventTime; fail fast instead of starting
    // a query that throws per-group at runtime
    require(timeout == GroupStateTimeout.NoTimeout() ||
        timeout == GroupStateTimeout.ProcessingTimeTimeout(),
      "sessionizeStream supports NoTimeout/ProcessingTimeTimeout; " +
        "use sessionizeEventTime for event-time closing")
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()
    events.filter(_.ts != null) // batch twin drops null timestamps too
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), timeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              Session(user, s.start, s.last, s.n, s.total)).toIterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
              .map(e => (e.ts.getTime / 1000, e.value))
            var closed = List.empty[Session]
            val cur = foldBatch(user, sorted, gapSec, state.getOption, closed ::= _)
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapSec * 1000)
            }
            closed.reverseIterator
          }
      }
  }

  /** Event-time sessionization: sessions close when the WATERMARK passes
    * session end + gap (not wall clock), so results are deterministic
    * under replay/late data — the production-grade variant of
    * [[sessionizeStream]]. State per live user, bounded by the watermark. */
  def sessionizeEventTime(events: Dataset[Event], gapSec: Long,
                          watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.filter(_.ts != null) // batch twin drops null timestamps too
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              Session(user, s.start, s.last, s.n, s.total)).toIterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
              .map(e => (e.ts.getTime / 1000, e.value))
            var closed = List.empty[Session]
            val cur = foldBatch(user, sorted, gapSec, state.getOption, closed ::= _)
            cur.foreach { s =>
              state.update(s)
              // close when event-time watermark passes last + gap; a
              // merge-only batch can leave last + gap at or behind the
              // watermark, where setTimeoutTimestamp throws — clamp just
              // past it (the group then times out on the next trigger)
              state.setTimeoutTimestamp(math.max((s.last + gapSec) * 1000,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  case class Interval(user_id: Long, event_type: String, from_sec: Long,
                      to_sec: Long, n_events: Long)
  case class IntervalState(state: String, from: Long, last: Long, n: Long)

  /** Streaming state-change history: per user, consecutive runs of the
    * same event_type collapse into one interval, CLOSED the moment a
    * different state arrives — the incremental SCD-type-2 writer. Batch
    * twin: [[graft.operators.Sessionize.stateIntervals]] (the
    * two-row_number gaps-and-islands form). A run with no successor
    * closes when the event-time watermark passes `last + flushSec`
    * (liveness bound — also what bounds state size: one small entry per
    * user inside the watermark horizon). */
  def stateIntervalsStream(events: Dataset[Event], flushSec: Long = 3600,
                           watermarkDelay: String = "10 minutes"): Dataset[Interval] = {
    import events.sparkSession.implicits._
    events.filter(_.ts != null) // batch twin drops null timestamps too
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[IntervalState, Interval](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[IntervalState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              Interval(user, s.state, s.from, s.last, s.n)).toIterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Interval]
            var cur = state.getOption
            // ALL late events (before the live run) — including live-type
            // ones — build a consecutive-run track of their own, like the
            // batch twin's run grouping. Merging a late live-type event
            // straight into the live run would rewind `from` and let a
            // later late different-type event read as "inside the run",
            // closing the live run with OVERLAPPING output. The track
            // resolves when the batch leaves the late region (or ends):
            // only a FINAL late run of the live type is adjacent to the
            // live run in the batch timeline and merges into it (the
            // documented min/max rewind); anything else closes as its own
            // interval. Cross-batch late adjacency still splits: the
            // state holds only the live run.
            var lateRun: Option[IntervalState] = None
            def resolveLate(): Unit = lateRun.foreach { lr =>
              cur match {
                case Some(s) if s.state == lr.state =>
                  cur = Some(s.copy(from = math.min(s.from, lr.from),
                    last = math.max(s.last, lr.last), n = s.n + lr.n))
                case _ =>
                  closed ::= Interval(user, lr.state, lr.from, lr.last, lr.n)
              }
              lateRun = None
            }
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                case Some(s) if sec < s.from =>
                  lateRun match {
                    case Some(lr) if lr.state == e.event_type =>
                      lateRun = Some(lr.copy(from = math.min(lr.from, sec),
                        last = math.max(lr.last, sec), n = lr.n + 1))
                    case Some(lr) =>
                      // type change INSIDE the late region: the previous
                      // late run can never merge with the live run (this
                      // event sits between them in the timeline)
                      closed ::= Interval(user, lr.state, lr.from, lr.last,
                        lr.n)
                      lateRun = Some(IntervalState(e.event_type, sec, sec, 1))
                    case None =>
                      lateRun = Some(IntervalState(e.event_type, sec, sec, 1))
                  }
                case Some(s0) if s0.state == e.event_type =>
                  // resolveLate may merge a live-type late run into cur:
                  // always re-read cur after resolving
                  resolveLate()
                  val s = cur.get
                  cur = Some(s.copy(from = math.min(s.from, sec),
                    last = math.max(s.last, sec), n = s.n + 1))
                case Some(_) =>
                  // a live-type late run may have just merged into cur —
                  // close the REFRESHED live run, then start the new one
                  resolveLate()
                  val s = cur.get
                  closed ::= Interval(user, s.state, s.from, s.last, s.n)
                  cur = Some(IntervalState(e.event_type, sec, sec, 1))
                case None =>
                  cur = Some(IntervalState(e.event_type, sec, sec, 1))
              }
            }
            resolveLate()
            cur.foreach { s =>
              state.update(s)
              // clamp past the watermark like sessionizeEventTime: a
              // merge-only batch can leave last + flush behind it
              state.setTimeoutTimestamp(math.max((s.last + flushSec) * 1000,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  case class StepReach(user_id: Long, step: Int, step_name: String, sec: Long)

  /** Streaming earliest-entry funnel — the incremental twin of
    * [[graft.operators.Funnel.funnel]]: per user, `times` holds each
    * reached step's second (Long.MinValue = unreached — a real epoch
    * second can be -1); an arriving event advances
    * the funnel iff it is the next step's type, strictly after the
    * previous step, and within `windowSec` of step 1. Every advance
    * emits a StepReach transition (Append mode) — `groupBy(step)` at the
    * sink reproduces the batch per-step counts. State is k+0 longs per
    * user, FOREVER (no timeout): batch parity requires remembering that
    * a user already entered — dropping state on a timeout would let a
    * late re-entry start a second funnel the batch definition doesn't
    * have. With events arriving in event-time order across batches
    * (in-batch order is sorted here), stream == batch exactly —
    * spec-pinned including a cross-batch advance. */
  def funnelStream(events: Dataset[Event], steps: Seq[String],
                   windowSec: Long): Dataset[StepReach] = {
    import events.sparkSession.implicits._
    val k = steps.size
    events.filter(_.ts != null) // batch twin drops null timestamps too
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Long], StepReach](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[Array[Long]]) =>
          // Long.MinValue = unreached (a real epoch second never collides)
          val times = state.getOption.getOrElse(Array.fill(k)(Long.MinValue))
          val out = List.newBuilder[StepReach]
          // (SEC, id) order — matching the batch fold's whole-second sort
          rows.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id)).foreach { e =>
            val depth = times.indexWhere(_ == Long.MinValue) match {
              case -1 => k
              case d => d
            }
            val sec = e.ts.getTime / 1000
            if (depth < k && e.event_type == steps(depth) &&
                (depth == 0 ||
                  (sec > times(depth - 1) && sec <= times(0) + windowSec))) {
              times(depth) = sec
              out += StepReach(user, depth + 1, steps(depth), sec)
            }
          }
          // only funnel ENTRANTS hold state: an all-unreached array is
          // indistinguishable from absent state at read time (getOrElse
          // refills it), and writing it would grow the forever-lived
          // store with every user that ever produced ANY event
          if (times.exists(_ != Long.MinValue)) state.update(times)
          out.result().iterator
      }
  }

  /** Streaming exact dedup: one state entry per key within the watermark
    * horizon — the incremental form of Dedup.exactDupGroups for a
    * continuously-ingested corpus (content-hash the payload upstream and
    * dedup on the hash column). Dedup is on the KEY ALONE:
    * `dropDuplicatesWithinWatermark` expires state at the watermark
    * without the legacy trick of appending the event-time column to the
    * key — which silently re-admitted the same key re-delivered with a
    * different timestamp (a restamping producer retry). */
  def streamingDedup(events: DataFrame, tsCol: String, keyCols: Seq[String],
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming ingest hygiene for a DOCUMENT stream: per-row quality gate
    * (token floor + repeated-3gram ceiling, graft.functions.Text /
    * NGrams) followed by PII redaction — all stateless per-row
    * expressions, so the batch operators stream UNCHANGED with no state
    * store and no watermark; compose with [[nearDupFilterBatch]]
    * downstream for the full ingest pipeline (gate -> scrub -> near-dup).
    * Emits the scrubbed text plus the gate metrics for audit sinks. */
  def qualityScrubStream(docs: DataFrame, idCol: String, textCol: String,
                         minTokens: Int, maxRepRatioPpm: Long): DataFrame = {
    import graft.functions.Text
    docs
      .select(col(idCol), col(textCol), Text.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col(textCol), col("__toks"),
        graft.plans.NGrams.ngrams(col("__toks"), 3).as("__g3"))
      .select(col(idCol), col(textCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        Text.repRatioPpm(col("__g3")).as("rep_ratio_ppm"))
      .where(col("n_tokens") >= minTokens && col("rep_ratio_ppm") <= maxRepRatioPpm)
      // the RAW text rides along: downstream gates whose models are
      // trained on raw reference text (benchmark n-grams, the LM) must
      // score the raw form — scrubbed_text is the OUTPUT form
      .select(col(idCol), col(textCol),
        Text.piiScrub(col(textCol)).as("scrubbed_text"),
        col("n_tokens"), col("rep_ratio_ppm"))
  }

  /** Streaming decontamination gate: drop stream documents sharing >=
    * `minShared` distinct token n-grams with a fixed benchmark set.
    * The benchmark n-gram universe (from
    * [[graft.operators.Curate.benchmarkNgrams]] — capped, distinct) is
    * broadcast once as a hash table and the overlap count is one native
    * [[graft.plans.ModelApply]] `countIn` over the row's distinct
    * n-grams: STATELESS, no state store, no watermark, no shuffle, and
    * the plan carries the broadcast handle, not the n-grams — the stream
    * twin of the batch inverted-index join, valid because eval
    * benchmarks are driver-scale by nature while the STREAM is the
    * unbounded side. Emits survivors with the overlap count for audit
    * sinks. */
  def contaminationGateStream(docs: DataFrame, idCol: String, textCol: String,
                              benchNgrams: Array[String], n: Int,
                              minShared: Int): DataFrame = {
    import graft.functions.Text
    import graft.plans.{ModelApply, ModelTable}
    val bench = ModelApply.broadcast(docs.sparkSession, "benchmark_ngrams",
      ModelTable.ones(benchNgrams))
    // withColumn + drop, not a projection: every OTHER input column
    // (scrubbed_text, audit metrics from an upstream gate) rides through
    // untouched — a projecting gate silently strips the scrubbed output
    // form from the composed curationStream
    docs
      .withColumn("__toks", Text.tokens(col(textCol)))
      .withColumn("n_bench_ngrams", ModelApply.countIn(
        array_distinct(graft.plans.NGrams.ngrams(col("__toks"), n)), bench))
      .drop("__toks")
      .where(col("n_bench_ngrams") < minShared)
  }

  /** Stream-stream interval join (the click→conversion attribution
    * shape): right events join left events of the same user whose
    * timestamp falls within `[left.ts, left.ts + withinSec]`. Both sides
    * carry watermarks, so Spark bounds the join state — a left event is
    * dropped from state once the right watermark passes
    * `left.ts + withinSec`, and vice versa; without the time bound the
    * state would grow forever. Equi-key on user plus the range predicate
    * → shuffle on user, range-pruned state lookups. */
  def intervalJoinStreams(left: Dataset[Event], right: Dataset[Event],
                          withinSec: Long,
                          watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.toDF().withWatermark("ts", watermarkDelay).alias("l")
    val r = right.toDF().withWatermark("ts", watermarkDelay).alias("r")
    l.join(r,
        expr(s"""l.user_id = r.user_id AND
                 r.ts >= l.ts AND
                 r.ts <= l.ts + INTERVAL $withinSec SECONDS"""))
      .select(col("l.user_id").as("user_id"),
        col("l.event_id").as("left_id"), col("r.event_id").as("right_id"),
        col("l.ts").cast("long").as("left_sec"),
        col("r.ts").cast("long").as("right_sec"),
        col("r.value").as("right_value"))
  }

  case class KmvGroup(key: String, kmv: Seq[Long])

  /** Streaming KMV distinct-count sketch per key — the stream twin of the
    * native [[graft.plans.KmvSketch]] aggregate, sharing its ONE insert
    * routine. Because KMV is hash-ordered with no randomness, the stream
    * sketch after any batch split equals the batch aggregate over the
    * same rows BIT FOR BIT (spec-pinned) — the property HLL twins cannot
    * offer (their estimates are rows-only comparable). State per key is
    * <= k longs; emits the updated sketch each micro-batch (Update
    * mode). At scale the key partitions the state store exactly like the
    * sessionizers above. */
  def kmvDistinctStream(rows: Dataset[(String, Long)],
                        k: Int): Dataset[KmvGroup] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], KmvGroup](GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[(String, Long)], state: GroupState[Array[Long]]) =>
          val b = new java.util.TreeSet[java.lang.Long]()
          state.getOption.foreach(_.foreach(l => b.add(l)))
          it.foreach { case (_, h) => graft.plans.KmvSketch.insert(b, h, k) }
          val arr = new Array[Long](b.size)
          val bit = b.iterator()
          var i = 0
          while (bit.hasNext) { arr(i) = bit.next().longValue(); i += 1 }
          state.update(arr)
          KmvGroup(key, arr.toSeq) // TreeSet iterates ascending: sorted
      }
  }

  case class Transition(user_id: Long, from_type: String, to_type: String,
                        sec: Long)

  /** Streaming Markov transitions — the incremental twin of
    * [[graft.operators.Funnel.transitions]]: per-user state is ONLY the
    * latest event's type (nothing else participates in the fold — a
    * late cross-batch event cannot be retro-inserted in append mode, so
    * storing its (sec, id) would be dead weight masquerading as an
    * ordering guard), each arrival emits the (prev -> current) pair;
    * `groupBy(from, to)` at the sink reproduces the batch matrix
    * counts. Events sort in-batch and must arrive event-time-ordered
    * across batches (same contract as the other per-user folds); ties
    * use event_id, matching the batch window's (sec, tie) order.
    * Append mode, cross-batch edge spec-pinned. */
  def transitionsStream(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.filter(_.ts != null) // batch twin drops null timestamps too
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[String]) =>
          var prev = state.getOption
          val out = List.newBuilder[Transition]
          // order by (SEC, id), not millis: the batch window sorts on
          // whole seconds, and sub-second millis order could disagree
          // with the event_id tie-break
          rows.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id)).foreach { e =>
            val sec = e.ts.getTime / 1000
            prev.foreach { pType =>
              out += Transition(user, pType, e.event_type, sec)
            }
            prev = Some(e.event_type)
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  case class CmsGroup(key: String, grid: Seq[Long])

  /** Streaming Count-Min-Sketch per group key — the incremental twin of
    * the [[graft.plans.CmsSketch]] aggregate, sharing its ONE bucket
    * routine ([[graft.plans.CmsSketch.bucket]]) so stream and batch
    * cannot drift: state is the d x w long grid per group (8 KB at the
    * 4x256 default, independent of key cardinality), each arriving value
    * increments its d buckets, Update mode emits the grid after every
    * batch. Because grid updates are elementwise adds, arrival order and
    * batch boundaries cannot change the result — the spec pins stream
    * after batched arrival == batch aggregate BIT FOR BIT. */
  def cmsStream(rows: Dataset[(String, String)], d: Int = 4,
                w: Int = 256): Dataset[CmsGroup] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], CmsGroup](GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[(String, String)], state: GroupState[Array[Long]]) =>
          val grid = state.getOption.getOrElse(new Array[Long](d * w))
          it.foreach { case (_, v) =>
            if (v != null) {
              var i = 0
              while (i < d) {
                grid(i * w + graft.plans.CmsSketch.bucket(i, v, w)) += 1L
                i += 1
              }
            }
          }
          state.update(grid)
          CmsGroup(key, grid.toSeq)
      }
  }

  case class HistGroup(key: String, bins: Seq[Long])

  /** Streaming histogram — the mergeable-sketch twin of
    * [[graft.operators.Stats.histogramQuantiles]]'s binning (the
    * kmv/cms family discipline): per-key bin counts held as
    * `mapGroupsWithState` state, updated with the IDENTICAL
    * truncating-division + edge-clamp binning (JVM `Long` division ==
    * Spark `DIV`, spec-pinned), full histogram emitted after every
    * batch. Quantile extraction from a snapshot is the same
    * first-bin-at-ceil-rank integer arithmetic as the batch operator
    * and composes downstream. State is O(bins) per key — bounded by
    * construction, never value-cardinality. */
  def histStream(rows: Dataset[(String, Long)], lo: Long, hi: Long,
                 bins: Int): Dataset[HistGroup] = {
    require(hi > lo && bins > 0 && (hi - lo) % bins == 0,
      s"need hi > lo, bins > 0, integral width: ($lo, $hi, $bins)")
    val width = (hi - lo) / bins
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], HistGroup](GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[(String, Long)], state: GroupState[Array[Long]]) =>
          val h = state.getOption.getOrElse(new Array[Long](bins))
          it.foreach { case (_, v) =>
            val b = math.min(math.max((v - lo) / width, 0L), bins - 1L).toInt
            h(b) += 1L
          }
          state.update(h)
          HistGroup(key, h.toSeq)
      }
  }

  /** Streaming LM-quality gate (the CCNet train-batch / apply-stream
    * split): a bigram model trained once on a bounded reference corpus
    * ([[graft.operators.Curate.lmModel]]) is broadcast once as a hash
    * table; each stream document scores `mean over bigram instances of
    * the model's conditional ppm` (unseen bigrams score 0 — the stream
    * side may contain anything) and survives at `lm_score_ppm >=
    * minScorePpm`. STATELESS: no state store, no watermark, no shuffle —
    * scoring is native bigrams ([[graft.plans.NGrams]]) plus one
    * [[graft.plans.ModelApply]] `sumOver`, exactly [[
    * graft.operators.Curate.lmScore]]'s integers when every bigram is in
    * the model. */
  def lmGateStream(docs: DataFrame, idCol: String, textCol: String,
                   model: Map[String, Long], minScorePpm: Long): DataFrame = {
    import graft.functions.Text
    import graft.plans.{ModelApply, ModelTable}
    val m = ModelApply.broadcast(docs.sparkSession, "lm_model", ModelTable(model))
    // withColumn + drop (see contaminationGateStream): pass-through for
    // all non-metric input columns, so composed gates keep the scrubbed
    // output form and upstream audit metrics
    docs
      .withColumn("__bgs", graft.plans.NGrams.ngrams(Text.tokens(col(textCol)), 2))
      .withColumn("n_bigrams", size(col("__bgs")).cast("long"))
      .withColumn("__sum_ppm", ModelApply.sumOver(col("__bgs"), m))
      .withColumn("lm_score_ppm",
        when(col("n_bigrams") > 0, expr("__sum_ppm DIV n_bigrams"))
          .otherwise(lit(0L)))
      .where(col("n_bigrams") > 0 && col("lm_score_ppm") >= minScorePpm)
      .drop("__bgs", "__sum_ppm")
  }

  /** Streaming mixture gate + shard label (the train-batch/apply-stream
    * split of [[graft.operators.TrainMix]]): per-source temperature
    * rates trained once on the corpus ([[graft.operators.TrainMix
    * .mixtureRates]]) are broadcast once as a hash table, read per row
    * by one [[graft.plans.ModelApply]] `lookup`; each stream document
    * keeps iff `md5(key) mod 1e6 < rate_ppm(source)` — the IDENTICAL
    * deterministic predicate as the batch
    * [[graft.operators.TrainMix.temperatureSample]], so stream and batch
    * select the same documents — and is labeled with its deterministic
    * `md5(key) mod shards` output shard. STATELESS: no state store, no
    * watermark, no shuffle. Unknown/null sources are dropped (no trained
    * rate — the conservative gate for a mixture contract). `shard_pos`
    * is batch-only by design: a dense read position requires a total
    * order over the finished corpus, which a stream does not have. */
  def mixtureGateStream(docs: DataFrame, keyCol: String, sourceCol: String,
                        rates: Map[String, Long], shards: Int): DataFrame = {
    import graft.plans.{ModelApply, ModelTable}
    val m = ModelApply.broadcast(docs.sparkSession, "mixture_rates", ModelTable(rates))
    val key = col(keyCol).cast("string")
    docs
      .withColumn("rate_ppm", ModelApply.lookup(col(sourceCol).cast("string"), m))
      .where(col("rate_ppm").isNotNull &&
        pmod(graft.plans.Md5Long.md5Long(key), lit(1000000L)) < col("rate_ppm"))
      // 's|' salt = TrainMix.shardLayout's: the shard hash must be
      // independent of the unsalted survival threshold above, or shard
      // residues correlate with survival when gcd(shards, 1e6) > 1
      .withColumn("shard",
        pmod(graft.plans.Md5Long.md5Long(concat(lit("s|"), key)),
          lit(shards.toLong)))
  }

  /** Streaming concat-and-chunk packing — the foreachBatch twin of
    * [[graft.operators.TrainMix.packSequences]], completing §2.4e's
    * streaming story (mixture already had its gate twin). Documents
    * arriving in micro-batches are laid out into the SAME global
    * training sequences the batch operator would assign: each batch
    * runs the distributed within-batch prefix sum
    * ([[graft.operators.Stats.withRunningTotal]] with no group columns —
    * never a global window) shifted by the carried global token offset, so
    * `seq_id`/`seq_off`/`n_splits` continue the stream-long
    * concatenation across batches (spec pins stream == batch on the
    * same corpus).
    *
    * Carried state is ONE ROW per batch: a (batch_id, start_off,
    * end_off) ledger at `statePath`, committed AFTER emit. Replay of a
    * batch id finds its own ledger row, reuses its recorded start
    * offset, and emits the IDENTICAL deterministic layout without
    * advancing state — so an at-least-once replay is harmless and a
    * batch-id-partitioned sink (the annIngestBatch discipline) makes
    * it exactly-once. Zero-token documents drop, matching the batch
    * operator's contract. */
  def packStream(statePath: String, orderCols: Seq[String],
                 tokensCol: String, budget: Long,
                 emit: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(budget > 0, s"budget must be positive, got $budget")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      // idle triggers: no ledger reads, no prefix-sum machinery, and no
      // zero-width ledger row — an idle night on a ProcessingTime
      // trigger would otherwise append thousands of one-file parquet
      // commits that every later batch's ledger reads pay for (the
      // upsertBatch guard, same rationale)
      if (batch.isEmpty) ()
      else {
      val ledger = readStoreIfExists(spark, statePath, Some(LedgerSchema))
      val mine = ledger.flatMap(
        _.where(col("batch_id") === batchId)
          .select("start_off").collect().headOption.map(_.getLong(0)))
      val start = mine.getOrElse(
        ledger.flatMap(l => Option(l.agg(max("end_off")).head())
          .filterNot(_.isNullAt(0)).map(_.getLong(0))).getOrElse(0L))
      val positive = batch.where(col(tokensCol) > 0)
      // per-batch scope: the prefix sum persists its repartitioned
      // input, and a foreachBatch handler runs for the stream's
      // lifetime — without closing, every micro-batch would pin one
      // more cached DataFrame
      graft.PersistScope.within {
        val laid = graft.operators.Stats.withRunningTotal(
            positive, Nil, orderCols.map(col), col(tokensCol), "__cum")
          .withColumn("__start", col("__cum") - col(tokensCol) + lit(start))
          .withColumn("__end", col("__cum") + lit(start))
          .withColumn("seq_id", expr(s"__start DIV ${budget}L"))
          .withColumn("seq_off", pmod(col("__start"), lit(budget)))
          .withColumn("n_splits",
            expr(s"(__end - 1) DIV ${budget}L") - col("seq_id"))
          .drop("__cum", "__start", "__end")
        emit(laid)
        if (mine.isEmpty) { // commit AFTER emit; replay never re-commits
          val total = positive
            .agg(coalesce(sum(col(tokensCol)), lit(0L)).cast("long"))
            .head().getLong(0)
          import spark.implicits._
          Seq((batchId, start, start + total))
            .toDF("batch_id", "start_off", "end_off")
            .coalesce(1).write.mode("append").parquet(statePath)
        }
      }
      }
    }
  }

  /** The full curation recipe ON THE STREAM — the streaming twin of the
    * batch `q_curation_pipeline`: quality gate (token count + 3-gram
    * repetition + PII scrub) → benchmark decontamination → LM-quality
    * gate, all STATELESS per-row expression chains over broadcast
    * models, then the stateful minhash near-dup filter in foreachBatch
    * (signature store commits after emit — replay drops, never
    * duplicates). Returns the gated streaming frame plus the
    * foreachBatch handler to hang on `writeStream`; the caller's `emit`
    * receives each batch's survivors.
    *
    * Same 100 TB split as every gate here: models (benchmark n-grams,
    * LM) train on bounded reference corpora and are broadcast once, when
    * this is called, as [[graft.plans.ModelApply]] hash tables — the
    * plan holds their handles, so its size does not grow with the
    * models; only the near-dup store grows with the corpus, and that is
    * the one stage with per-batch state IO. */
  def curationStream(docs: DataFrame, idCol: String, textCol: String,
                     minTokens: Int, maxRepRatioPpm: Long,
                     benchNgrams: Array[String], benchN: Int, minShared: Int,
                     lmModel: Map[String, Long], minScorePpm: Long,
                     storePath: String, emit: DataFrame => Unit)
      : (DataFrame, (DataFrame, Long) => Unit) = {
    // decontamination, LM scoring, and near-dup signatures all run on
    // the RAW text: the benchmark n-grams and the LM train on raw
    // reference corpora, and scrubbing FIRST would let a contaminated
    // document slip the gate whenever the shared span contains PII
    // ("john@x.com" -> "[EMAIL]" no longer matches the benchmark's
    // n-grams) — the batch q_curation_pipeline decontaminates raw
    // tokens. scrubbed_text is the OUTPUT form, and that contract is
    // ENFORCED here rather than left to callers: the raw column is
    // dropped from every frame handed to `emit`, so a caller that
    // persists the emitted batch as-is can never write unscrubbed PII.
    // (Near-dup signatures still hash the raw column internally — it is
    // only the emitted projection that loses it. Signature stores built
    // before the raw-signature ordering (pre-R14) hashed scrubbed_text
    // and will never match raw-text signatures: rebuild them, or
    // near-dups of the pre-change corpus are silently re-admitted.)
    val gated = lmGateStream(
      contaminationGateStream(
        qualityScrubStream(docs, idCol, textCol, minTokens, maxRepRatioPpm),
        idCol, textCol, benchNgrams, benchN, minShared),
      idCol, textCol, lmModel, minScorePpm)
    (gated, nearDupFilterBatch(storePath, idCol, textCol,
      emit = df => emit(df.drop(textCol))))
  }

  /** Read a gate's state store iff its path exists. A missing store is
    * the normal first-batch state and means "empty"; any OTHER failure
    * (FS flake, corrupted files) must FAIL the batch — treating it as
    * empty would silently re-admit duplicates.
    *
    * `schema`: the fixed columns of a store this file writes unpartitioned
    * ([[SigStoreSchema]], [[LedgerSchema]]). Reading with it plans the
    * scan without a footer-inference job, which would otherwise run once
    * per trigger. The partitioned stores pass None and are inferred, so
    * their `batch_id`/cell partition columns are discovered from the
    * directory names. */
  private[streaming] def readStoreIfExists(spark: SparkSession, path: String,
                                schema: Option[StructType]): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(schema.fold(spark.read)(s => spark.read.schema(s)).parquet(path))
    else None
  }

  /** The near-dup signature store: one row per stored LSH bucket key,
    * as [[graft.operators.Dedup.bandedSigs]] produces it. */
  private[streaming] val SigStoreSchema = StructType.fromDDL("band INT, sig STRING")

  /** [[packStream]]'s ledger: one row per committed batch. */
  private val LedgerSchema =
    StructType.fromDDL("batch_id BIGINT, start_off BIGINT, end_off BIGINT")

  /** Band signatures of one micro-batch: (doc, band, sig), cached in
    * the trigger's scope (the survivor filter and the store append both
    * read them). The signatures are
    * [[graft.operators.Dedup.minhashSignatures]]' per-row projection, so
    * the cached relation is built without a shuffle; a batch's ids are
    * unique, as that projection's contract asks. Banding delegates to
    * [[graft.operators.Dedup.bandedSigs]], the ONE banding expression
    * (with its k/bands fail-fast), so stream and batch LSH schemes
    * cannot drift. */
  private def bandSignatures(batch: DataFrame, idCol: String, textCol: String,
                             k: Int, bands: Int): DataFrame =
    graft.PersistScope.cache(graft.operators.Dedup.bandedSigs(
      graft.operators.Dedup.minhashSignatures(
        batch.select(col(idCol), col(textCol)), idCol, textCol, k),
      k, bands))

  /** Continuous NEAR-dup filtering for an ingestion stream: per
    * micro-batch, compute MinHash LSH band signatures, anti-join against
    * the accumulated signature store, emit only docs no band of which has
    * been seen, then append the survivors' signatures to the store.
    *
    * The store is a parquet directory (at scale: bucketed by (band, sig)
    * so the per-batch anti-join is exchange-free on the store side); state
    * grows with the CORPUS, not the stream — this is deliberately heavier
    * than watermarked exact dedup ([[streamingDedup]]) because near-dup
    * identity never expires. foreachBatch is the right harness: each batch
    * is one deterministic batch-plan, and the store append commits after
    * the filtered output — at-least-once on replay errs toward dropping
    * re-seen docs, never emitting a dup twice.
    *
    * Both drop reasons come from ONE (band, sig)-partitioned pass over
    * the banded rows: a window `min(doc)` per bucket (the min doc id of a
    * bucket wins inside the batch) and a left join to the store, which
    * shares that partitioning. A doc is dropped when any of its buckets
    * is a store hit or has a smaller doc of this batch; the drop set
    * only feeds an anti join, so repeated store keys are harmless.
    *
    * The micro-batch is cached once per trigger: the banding, the survivor
    * set and the emit all read it, and its lineage is the upstream gates
    * (e.g. [[curationStream]]'s), which would otherwise run once per read.
    *
    * Returns the writeStream-ready transformer: caller supplies the sink
    * for surviving docs inside `emit`. */
  def nearDupFilterBatch(storePath: String, idCol: String, textCol: String,
                         k: Int = 16, bands: Int = 4,
                         emit: DataFrame => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      graft.PersistScope.within {
        val docs = graft.PersistScope.cache(batch)
        val banded = bandSignatures(docs, idCol, textCol, k, bands)
        // a doc survives iff NONE of its bands is already in the store.
        // No distinct: the store holds each key once except after a
        // replay, and a repeated key only repeats a drop — a distinct
        // would cost one more shuffle of the store per trigger
        val store = readStoreIfExists(spark, storePath, Some(SigStoreSchema))
        val hubbed = banded.withColumn("__hub", min(col("doc")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")))
        val dropped = store.fold(hubbed.where(col("doc") =!= col("__hub"))) { keys =>
          hubbed.join(keys.withColumn("__hit", lit(true)), Seq("band", "sig"), "left")
            .where(col("__hit").isNotNull || col("doc") =!= col("__hub"))
        }.select("doc")
        // base the survivor set on ALL batch docs, not just docs that
        // produced signatures: a token-less document has no bands, is
        // trivially not a near-dup, and must pass through. survivors'
        // lineage holds the STORE scan, and both the emit and the store
        // append consume it: cache it or every trigger pays the
        // O(corpus) store read twice
        val survivors = graft.PersistScope.cache(
          docs.select(col(idCol).as("doc")).join(dropped, Seq("doc"), "left_anti"))
        emit(docs.join(survivors, docs(idCol) === survivors("doc"), "left_semi"))
        // commit survivors' signatures AFTER the emit so replays re-filter
        banded.join(survivors, Seq("doc"), "left_semi").select("band", "sig")
          .write.mode("append").parquet(storePath)
      }
  }

  /** Streaming SEMANTIC near-dup gate — the embedding-space twin of
    * [[nearDupFilterBatch]] and the stream face of
    * `Similarity.cellCosinePairs` / q_semantic_dedup_keep (the SemDeDup
    * shape): each micro-batch of (id, vector) rows is assigned to its
    * IVF cell against the trained broadcast centroids, exact-cosine
    * checked against the accumulated store RESTRICTED to the batch's
    * own cells (the store is cell-partitioned parquet, so the per-batch
    * read prunes to those partitions — a batch never scans the full
    * vector history), deduped within the batch (min id per near-pair
    * wins), and survivors append into the store. Same commit order as
    * the lexical gate: store append AFTER emit, so an at-least-once
    * replay re-filters and errs toward dropping, never double-emits. */
  def semanticGateBatch(storePath: String, idCol: String, vecCol: String,
                        centroids: Array[(Int, Array[Double])], tau: Double,
                        emit: DataFrame => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      import graft.operators.Similarity
      val cents = centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
        .toDF("centroid_id", "c")
      val assigned = graft.operators.IvfIndex
        .assign(batch, idCol, vecCol, cents)
        .select(col("vid"), col("centroid_id").as("cell"), col("v"))
        .withColumn("nv", Similarity.norm(col("v")))
        .localCheckpoint() // assignment reused 3x below; never re-derive
      try {
        val cells = assigned.select("cell").distinct().as[Int].collect().toSeq
        val store = readStoreIfExists(spark, storePath, None)
          .map(_.where(col("cell").isin(cells: _*))) // partition-pruned
          .getOrElse(Seq.empty[(Long, Int, Seq[Double], Double)]
            .toDF("vid", "cell", "v", "nv"))
        def cosHit(a: DataFrame, b: DataFrame, strict: Column): DataFrame =
          a.join(b, Seq("cell"))
            .where(strict &&
              // NULL (not NaN) on zero norms: a zero vector must not
              // near-dup-match its whole cell — see Similarity.cosine
              Similarity.dot(col("va"), col("vb")) /
                nullif(col("na") * col("nb"), lit(0.0)) >= tau)
            .select(col("vid_a").as("vid")).distinct()
        val l = assigned.select(col("cell"), col("vid").as("vid_a"),
          col("v").as("va"), col("nv").as("na"))
        val storeHits = cosHit(l,
          store.select(col("cell"), col("vid").as("vid_b"),
            col("v").as("vb"), col("nv").as("nb")), lit(true))
        val intraHits = cosHit(l,
          assigned.select(col("cell"), col("vid").as("vid_b"),
            col("v").as("vb"), col("nv").as("nb")),
          col("vid_a") > col("vid_b")) // earlier (min) id wins
        val survivors = assigned.select(col("vid"))
          .join(storeHits, Seq("vid"), "left_anti")
          .join(intraHits, Seq("vid"), "left_anti")
        emit(batch.join(survivors, batch(idCol) === survivors("vid"), "left_semi"))
        assigned.join(survivors, Seq("vid"), "left_semi")
          .withColumn("batch_id", lit(batchId))
          .write
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .partitionBy("batch_id", "cell") // replay overwrites its own dirs
          .parquet(storePath)
      } finally {
        // Dataset.unpersist() is a NO-OP for a localCheckpoint'ed frame
        // (its blocks are internal RDD persistence, not a CacheManager
        // entry, and would otherwise be freed only by driver GC — one
        // dead block set per trigger): release the checkpointed RDD
        // itself
        assigned.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(false); ()
          case _ => assigned.unpersist(); ()
        }
      }
  }

  /** Streaming ANN index ingest — the IVF/PQ family's foreachBatch twin
    * (every other §2.4 family already has one). Each micro-batch of new
    * vectors is (1) assigned to its IVF cell against the trained
    * centroids, (2) PQ-encoded with the trained codebooks — both
    * broadcast-sized models riding along as literals, the same 100 TB
    * split as the curation gates — and (3) appended into the
    * cell-partitioned materialized index ([[graft.operators.IvfIndex
    * .buildIndex]]'s layout plus the code columns), so
    * `IvfIndex.searchIndexed` over `spark.read.parquet(indexPath)`
    * serves queries against everything ingested so far with partition
    * pruning intact.
    *
    * Exactly-once without a transaction log: the layout is partitioned
    * `batch_id / centroid_id` and written with DYNAMIC partition
    * overwrite, so a replayed micro-batch overwrites exactly its own
    * batch's partitions — idempotent, never duplicated. `centroid_id`
    * pruning still skips unprobed cells inside every batch directory; a
    * periodic compaction can fold old batch dirs into one (the usual
    * small-file maintenance, orthogonal to correctness). */
  def annIngestBatch(indexPath: String, idCol: String, vecCol: String,
                     centroids: Array[(Int, Array[Double])],
                     books: Array[Array[Array[Double]]]): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val cents = centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
        .toDF("centroid_id", "c")
      // encode over the ASSIGNED rows, carrying centroid_id through
      // keepCols: one scan of the micro-batch and no recombination join
      // (assign already returns (vid, centroid_id, v))
      val assigned = graft.operators.IvfIndex
        .assign(batch, idCol, vecCol, cents)
      graft.operators.PqIndex
        .encode(assigned, "vid", "v", books, keepCols = Seq("centroid_id"))
        .withColumn("batch_id", lit(batchId))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("batch_id", "centroid_id")
        .parquet(indexPath)
  }

  /** Maintenance compaction for the [[semanticGateBatch]] vector store:
    * folds every per-trigger `batch_id=K` directory into ONE new
    * batch-id partition, resetting the store's small-file count and
    * directory-listing growth (it otherwise accretes one batch dir per
    * trigger FOREVER). Gate decisions are
    * preserved EXACTLY: the gate consumes the store only through
    * cell-restricted cosine hit sets (semi/anti joins), which are
    * invariant under row relocation and FULL-row deduplication —
    * pinned in EventStreamSpec by running the same gate over compacted
    * vs uncompacted stores.
    *
    * Writer contract (like vacuum's): run BETWEEN triggers, no gate
    * writing concurrently. The fold lands under a NEGATIVE batch id
    * (one below the lowest existing fold) — trigger ids are >= 0, so a
    * compacted dir can never collide with the stream's next trigger or
    * a replayed old one. Crash-safety: the fold is staged in a
    * dot-prefixed tmp dir (invisible to parquet readers), renamed into
    * place, and only THEN are the old dirs deleted — any crash leaves
    * either the store untouched or duplicates, never losses; duplicates
    * do not change hit sets, and re-running converges (the fold dedups
    * byte-identical rows). */
  def compactSemanticStore(spark: SparkSession, storePath: String): Unit =
    compactBatchStore(spark, storePath, "cell")

  /** The same fold for the [[annIngestBatch]] materialized index
    * (`batch_id / centroid_id` layout): old batch dirs collapse into one,
    * `centroid_id` pruning is untouched (it stays a partition column),
    * and `IvfIndex.searchIndexed` results are unchanged modulo the
    * searchIndexed's per-vid rerank dedup (a replayed trigger after a
    * fold can duplicate a vid; rerank takes each vid's best cosine, so
    * a duplicate never crowds distinct neighbors out of the top-k). */
  def compactAnnIndex(spark: SparkSession, indexPath: String): Unit =
    compactBatchStore(spark, indexPath, "centroid_id")

  private def compactBatchStore(spark: SparkSession, path: String,
                                cellCol: String): Unit = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(p, ".compact-tmp")
    fs.delete(tmp, true) // litter from a crashed prior run (invisible to
    // readers — dot-prefixed — but in the way of this run's rename)
    readStoreIfExists(spark, path, None).foreach { df =>
      val ids = df.select(col("batch_id").cast("long")).distinct()
        .as[Long].collect().sorted.toSeq // bounded: one id per trigger epoch
      if (ids.length > 1) {
        // trigger ids are >= 0; folds count down from -1, so a fold id
        // can never collide with a future trigger or a replayed old one
        val foldId = math.min(-1L, ids.min - 1L)
        df.drop("batch_id")
          // dedup FULL rows only (replay/crash copies are byte-identical):
          // keying on (vid, cell) alone would nondeterministically drop
          // one of two DIFFERENT vectors a re-submitted vid legitimately
          // holds, changing later gate decisions (review-found)
          .dropDuplicates()
          .withColumn("batch_id", lit(foldId))
          // one write task per cell: files land sized by cell content,
          // not by (incoming tasks x cells)
          .repartition(col(cellCol))
          .write
          .mode("overwrite")
          .partitionBy("batch_id", cellCol)
          .parquet(tmp.toString)
        // publish, THEN delete the folded dirs: a crash anywhere leaves
        // the store complete (at worst with duplicate rows)
        if (!fs.rename(new org.apache.hadoop.fs.Path(tmp, s"batch_id=$foldId"),
            new org.apache.hadoop.fs.Path(p, s"batch_id=$foldId")))
          sys.error(s"compactBatchStore: could not publish batch_id=$foldId " +
            s"under $path")
        ids.foreach { k =>
          fs.delete(new org.apache.hadoop.fs.Path(p, s"batch_id=$k"), true)
        }
        fs.delete(tmp, true)
      }
    }
  }

  /** foreachBatch CDC upsert into a [[graft.sinks.SnapshotTable]] — the
    * stream face of `SnapshotTable.merge` and the closing arc of the CDC
    * loop (readChanges consumes incrementally, this produces
    * incrementally): each micro-batch is reduced to its LAST change per
    * key (`row_number` over `orderCol` descending, partitioned by the
    * keys — batch-bounded and key-partitioned, never a global window)
    * and copy-on-write merged, so the table always holds current-state
    * rows while every pre-batch version still time-travels.
    *
    * Replay-safe by the merge contract: re-running a delivered batch
    * merges identical rows onto identical keys — same table content —
    * so at-least-once foreachBatch delivery needs no dedup ledger here.
    * That contract requires the per-key winner itself to be
    * deterministic, so orderCol ties break on every remaining
    * ORDERABLE non-key column (descending; keys are constant within
    * the partition, and map-typed columns cannot be sort keys): two
    * changes sharing a key AND orderCol value pick the same winner on
    * replay regardless of shuffle arrival order. Rows identical on
    * every orderable column make the choice moot unless they differ
    * ONLY in an unorderable column — that residual tie is the
    * caller's to resolve upstream. Cross-batch ordering
    * is the stream's own (a later batch's change for a key overwrites
    * an earlier batch's — event-time regressions across batches need
    * an upstream watermark policy, not this sink). */
  def upsertBatch(root: String, keys: Seq[String],
                  orderCol: Column): (DataFrame, Long) => Unit = {
    (batch: DataFrame, _: Long) =>
      import org.apache.spark.sql.catalyst.expressions.RowOrdering
      // idle triggers deliver empty batches: skip them, or each one runs
      // a full merge commit (claim + schema-only data file + manifest
      // rewrite carrying every previous file) and an idle night burns
      // thousands of table versions
      if (!batch.isEmpty) {
        val lowerKeys = keys.map(_.toLowerCase).toSet
        val tieBreak = batch.schema.fields.toSeq
          .filter(f => RowOrdering.isOrderable(f.dataType) &&
            !lowerKeys.contains(f.name.toLowerCase))
          .map(f => col(s"`${f.name}`").desc) // backticks: dotted names
        val latest = graft.operators.Relational.distinctOn(
          batch, keys, orderCol.desc +: tieBreak)
        graft.sinks.SnapshotTable.merge(latest, root, keys)
      }
      ()
  }

  /** Production state-store configuration: RocksDB-backed keyed state with
    * changelog checkpointing instead of the default on-heap HashMap
    * provider. At 100 TB-scale keyed state (dedup horizon, live sessions)
    * the HashMap provider OOMs the executor heap and full-snapshot
    * checkpoints dominate batch time; RocksDB spills to local SSD and
    * checkpoints only the per-batch changelog. Session-scoped: affects
    * queries started after the call. */
  def configureRocksDbState(spark: SparkSession,
                            changelogCheckpointing: Boolean = true): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      changelogCheckpointing.toString)
  }

  /** Batch-run a streaming query over a bounded source for testing: the
    * same plan Structured Streaming runs incrementally. `mode` defaults
    * to Append; pass Update for the mapGroupsWithState twins
    * (kmvDistinctStream, cmsStream), which Append rejects at start. */
  def runOnce(spark: SparkSession, streamed: DataFrame, sinkTable: String,
              mode: OutputMode = OutputMode.Append()): Unit = {
    val q = streamed.writeStream
      .format("memory")
      .queryName(sinkTable)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
