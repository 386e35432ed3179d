package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Event row for the streaming surface (events-table shaped). */
final case class StreamEvent(user_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)

/** A document arriving at the streaming packer: pre-bucketed, pre-counted. */
final case class DocArrival(doc_id: Long, bucket: Long, toks: Long)

/** A packed-shard assignment — identical columns (and values, for the same
  * arrival order) to a batch q_pack_shards row. */
final case class ShardAssignment(doc_id: Long, bucket: Long, shard: Long,
    toks: Long, cum_tokens: Long)

/** Streaming sequence packer: one running token counter per bucket in a
  * named ValueState on the state store. Shard ids are the SAME offset
  * binning as the batch query — a doc's shard is decided by the cumulative
  * token count where it starts — so for identical per-bucket arrival order
  * the stream reproduces the batch assignment bit-for-bit, across any
  * micro-batch boundaries (the counter survives in state). Within one
  * micro-batch a bucket's rows fold in doc_id order (the batch packer's
  * order); ACROSS batches order is the source's contract, as with any
  * streaming operator. */
private[streaming] class PackProcessor(budget: Long, shardStride: Long)
    extends StatefulProcessor[Long, DocArrival, ShardAssignment] {
  @transient private var cum: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    cum = getHandle.getValueState[Long]("cum_tokens",
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(bucket: Long, rows: Iterator[DocArrival],
      timers: TimerValues): Iterator[ShardAssignment] = {
    var c = if (cum.exists()) cum.get() else 0L
    val out = rows.toSeq.sortBy(_.doc_id).map { d =>
      val start = c
      c += d.toks
      ShardAssignment(d.doc_id, bucket,
        bucket * shardStride + start / budget, d.toks, c)
    }
    cum.update(c)
    out.iterator
  }
}

/** A document arriving at the streaming source cap. */
final case class CapArrival(doc_id: Long, source: String)

/** An admitted document with its per-source admission rank (1-based). */
final case class CapAdmission(doc_id: Long, source: String, rnk: Long)

/** Streaming per-source cap: one admission counter per source in a named
  * ValueState — admit a document while its source's count is below the
  * cap, drop the rest, forever (the counter survives micro-batch
  * boundaries in the state store). The streaming twin of q_source_cap:
  * on an unbounded stream "first N in arrival order" replaces the batch
  * operator's content-hash order, which needs the whole corpus. Within a
  * micro-batch rows fold in doc_id order, so replaying the same batches
  * reproduces the same admissions. State is ONE Long per source —
  * bounded by source cardinality at any stream length. */
private[streaming] class CapProcessor(cap: Long)
    extends StatefulProcessor[String, CapArrival, CapAdmission] {
  @transient private var admitted: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    admitted = getHandle.getValueState[Long]("admitted",
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(source: String, rows: Iterator[CapArrival],
      timers: TimerValues): Iterator[CapAdmission] = {
    var c = if (admitted.exists()) admitted.get() else 0L
    val out = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
      if (c < cap) { c += 1; Some(CapAdmission(d.doc_id, source, c)) }
      else None
    }
    admitted.update(c)
    out.iterator
  }
}

/** Funnel progress carried across micro-batches: the stage reached so far
  * and the event-time anchor the next stage must strictly follow. */
final case class FunnelState(stage: Long, anchorMicros: Long)

/** A stage transition emitted by the streaming funnel. */
final case class FunnelTransition(user_id: Long, stage: Long,
    ts: java.sql.Timestamp)

/** Event row for the streaming transition extractor (batch:
  * q_event_transitions). */
final case class TransEvent(event_id: Long, user_id: Long,
    ts: java.sql.Timestamp, event_type: String)

/** One (prev -> next) transition in a user's timeline. */
final case class Transition(user_id: Long, prev: String, next: String,
    ts: java.sql.Timestamp)

/** Last event type seen per user — the entire transition state. */
final case class LastEvent(event_type: String)

/** Streaming TRANSITION extraction: the incremental twin of
  * q_event_transitions' lag window. State is ONE string per user (the
  * last event type), so for in-order per-user arrival the emitted
  * (prev, next) pairs aggregate to exactly the batch transition counts
  * across any micro-batch split (StreamingSpec proves it); the ppm
  * probabilities are a downstream read over the accumulated pairs, the
  * same registers-then-estimate split the sketch twins use. */
private[streaming] class TransitionProcessor
    extends StatefulProcessor[Long, TransEvent, Transition] {
  @transient private var last: ValueState[LastEvent] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    last = getHandle.getValueState[LastEvent]("last",
      Encoders.product[LastEvent], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[TransEvent],
      timers: TimerValues): Iterator[Transition] = {
    var prev = if (last.exists()) last.get().event_type else null
    val out = Seq.newBuilder[Transition]
    rows.toSeq.sortBy(e => (Streams.micros(e.ts), e.event_id)).foreach { e =>
      if (prev != null) out += Transition(user, prev, e.event_type, e.ts)
      prev = e.event_type
    }
    last.update(LastEvent(prev))
    out.result().iterator
  }
}

/** One user's lifetime summary from the streaming maintainer (batch:
  * q_survival_km's user-grain aggregation): acquisition cohort = the
  * FIRST event's type, plus the activity-day extremes. `revision` rises
  * per emission; the latest revision per user is the current state. */
final case class UserLifetime(user_id: Long, cohort: String,
    first_day: java.sql.Date, last_day: java.sql.Date, revision: Long)

/** Per-user survival state: the first event's (micros, id, type) — the
  * (ts, event_id) tiebreak is the batch cohort rule — and epoch-day
  * extremes. Five fields per user, constant size. */
final case class SurvState(firstUs: Long, firstId: Long, cohort: String,
    minDay: Long, maxDay: Long, rev: Long)

/** Streaming USER-LIFETIME maintenance: the incremental twin of the
  * user-grain aggregation under q_survival_km (first/last activity day +
  * first-event cohort). Order-insensitive by construction — min/max folds
  * and a (ts, event_id)-minimal pick commute with any arrival order, so
  * the latest state bit-matches the batch aggregate across ANY micro-batch
  * split, including out-of-order cross-batch arrival (StreamingSpec). The
  * survival curve itself is a calendar-grid-sized batch read over this
  * state table — the data-sized half is what streams. */
private[streaming] class LifetimeProcessor
    extends StatefulProcessor[Long, TransEvent, UserLifetime] {
  @transient private var st: ValueState[SurvState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SurvState]("life",
      Encoders.product[SurvState], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[TransEvent],
      timers: TimerValues): Iterator[UserLifetime] = {
    var s = if (st.exists()) st.get() else null
    rows.foreach { e =>
      val us = Streams.micros(e.ts)
      val day = Math.floorDiv(us, 86400000000L) // UTC epoch day
      s =
        if (s == null) SurvState(us, e.event_id, e.event_type, day, day, 0L)
        else {
          val keep = us < s.firstUs ||
            (us == s.firstUs && e.event_id < s.firstId)
          SurvState(
            if (keep) us else s.firstUs,
            if (keep) e.event_id else s.firstId,
            if (keep) e.event_type else s.cohort,
            math.min(s.minDay, day), math.max(s.maxDay, day), s.rev)
        }
    }
    val out = s.copy(rev = s.rev + 1)
    st.update(out)
    Iterator(UserLifetime(user, out.cohort, toDate(out.minDay),
      toDate(out.maxDay), out.rev))
  }

  private def toDate(epochDay: Long): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(epochDay))
}

/** Event row for the streaming anomaly detector (batch: q_anomaly_zscore). */
final case class AnomEvent(event_id: Long, user_id: Long,
    ts: java.sql.Timestamp, value: Double)

/** A flagged anomaly — identical columns (and values) to a batch
  * q_anomaly_zscore row for the same per-user arrival order. */
final case class AnomalyFlag(event_id: Long, user_id: Long, value: Double,
    n_prev: Long, dev2_scaled: Long, thresh_scaled: Long)

/** Ring buffer of the user's previous (at most 8) scaled readings. */
final case class AnomState(xs: Seq[Long])

/** Streaming ANOMALY detector: the incremental twin of q_anomaly_zscore's
  * trailing-window 2-sigma test. State is a ring buffer of at most 8
  * scaled longs per user — the exact window frame the batch query reads
  * (`ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING`), so for in-order per-user
  * arrival the streamed flags bit-match the batch rows across any
  * micro-batch split (StreamingSpec proves it). The integer inequality is
  * the same libm-free form: (n*x - s1)^2 > 4*(n*s2 - s1^2). Scaling uses
  * HALF_UP BigDecimal rounding — the same rule as Spark's `round()` — so
  * stream and batch quantize identically. */
private[streaming] class AnomalyProcessor
    extends StatefulProcessor[Long, AnomEvent, AnomalyFlag] {
  @transient private var ring: ValueState[AnomState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    ring = getHandle.getValueState[AnomState]("ring",
      Encoders.product[AnomState], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[AnomEvent],
      timers: TimerValues): Iterator[AnomalyFlag] = {
    var xs = if (ring.exists()) ring.get().xs else Seq.empty[Long]
    val out = Seq.newBuilder[AnomalyFlag]
    rows.toSeq.sortBy(e => (Streams.micros(e.ts), e.event_id)).foreach { e =>
      val x = BigDecimal(e.value * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val n = xs.length.toLong
      if (n >= 4) {
        val s1 = xs.sum
        val s2 = xs.map(v => v * v).sum
        val dev = n * x - s1
        val dev2 = dev * dev
        val thresh = 4L * (n * s2 - s1 * s1)
        if (dev2 > thresh)
          out += AnomalyFlag(e.event_id, user, e.value, n, dev2, thresh)
      }
      xs = (xs :+ x).takeRight(8)
    }
    ring.update(AnomState(xs))
    out.result().iterator
  }
}

/** Minimal event for the streak maintainer: just (user, event time). */
final case class DayEvent(user_id: Long, ts: java.sql.Timestamp)

/** Streak counters for one user: the CLOSED-FORM state of
  * q_streak_islands — last active day (epoch days), current run length,
  * and the three reported aggregates. */
final case class StreakState(lastDay: Long, curLen: Long, nStreaks: Long,
    bestLen: Long, activeDays: Long)

/** One per-user streak summary row; `active_days` strictly increases
  * between a user's emissions, so the row with the max is the final one. */
final case class StreakUpdate(user_id: Long, n_streaks: Long,
    longest_streak: Long, active_days: Long, last_day: Long)

/** Streaming STREAK maintainer: the incremental twin of
  * q_streak_islands. State is FIVE longs per user — the gaps-and-islands
  * aggregates have a closed incremental form (a new day either extends
  * the current run, opens a new one, or repeats the last day), so the
  * stream never stores the day set the batch query groups over. For
  * in-order per-user arrival the final per-user summary bit-matches the
  * batch rows across any micro-batch split (StreamingSpec proves it);
  * a row older than the user's last seen day is absorbed as a no-op (the
  * in-order assumption, stated — the batch query would have counted that
  * day, so late data needs the batch path, as with any streaming
  * aggregation without retraction). Emits one updated summary per user
  * per micro-batch that changed its state. */
private[streaming] class StreakProcessor
    extends StatefulProcessor[Long, DayEvent, StreakUpdate] {
  @transient private var st: ValueState[StreakState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[StreakState]("streak",
      Encoders.product[StreakState], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[DayEvent],
      timers: TimerValues): Iterator[StreakUpdate] = {
    var s = if (st.exists()) st.get()
      else StreakState(Long.MinValue, 0L, 0L, 0L, 0L)
    val before = s
    // floorDiv, not /: pre-epoch micros must floor (match batch date_trunc)
    rows.toSeq.map(e => Math.floorDiv(Streams.micros(e.ts), 86400000000L))
      .sorted.foreach { d =>
      if (s.activeDays == 0L)
        s = StreakState(d, 1L, 1L, 1L, 1L)
      else if (d == s.lastDay + 1L)
        s = StreakState(d, s.curLen + 1L, s.nStreaks,
          math.max(s.bestLen, s.curLen + 1L), s.activeDays + 1L)
      else if (d > s.lastDay)
        s = StreakState(d, 1L, s.nStreaks + 1L, s.bestLen, s.activeDays + 1L)
      // d <= lastDay: same day repeat or out-of-order — no-op (see scaladoc)
    }
    if (s == before) Iterator.empty
    else {
      st.update(s)
      Iterator.single(
        StreakUpdate(user, s.nStreaks, s.bestLen, s.activeDays, s.lastDay))
    }
  }
}

/** Event for the streaming concurrency counter: (user, ts), plus the
  * event_id that makes in-batch order total; `event_id < 0` marks a FLUSH
  * control row — it closes the user's open session without opening a new
  * one (the end-of-log signal a batch query gets for free by seeing the
  * whole log; a real deployment emits it from a session-timeout timer). */
final case class ConcInput(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long)

/** One overlapped hour bucket (epoch micros of the hour start) emitted
  * when a session CLOSES — the unit the downstream chained aggregation
  * counts into q_session_concurrency's per-hour totals. */
final case class HourDelta(wstart_us: Long)

/** The user's open session: [startUs, lastUs + gap) once closed. */
private final case class ConcState(startUs: Long, lastUs: Long)

/** Streaming SESSION-CONCURRENCY stage 1: the per-user half of
  * q_session_concurrency's interval-overlap aggregation. Maintains the
  * same half-open gap sessions as [[SessionProcessor]] (ONE small state
  * object per user), and when a session closes — a new event at gap
  * distance, or a flush row — emits the hour buckets
  * [date_trunc(h, start), date_trunc(h, end - 1us)] the closed interval
  * overlaps (bounded by session DURATION, never by corpus size — the
  * batch query's `sequence` expansion, incrementalized). Stage 2 is a
  * plain streaming aggregation counting deltas per hour: chained
  * stateful operators, session -> tumble ([[Streams.sessionConcurrency]]).
  * In-order per-user arrival gives bit-equality with the batch query
  * (StreamingSpec proves it across a micro-batch split); late rows need
  * the batch path, as with any aggregation without retraction. */
private[streaming] class ConcurrencySessionProcessor(gapUs: Long)
    extends StatefulProcessor[Long, ConcInput, HourDelta] {
  private val HourUs = 3600L * 1000 * 1000
  @transient private var st: ValueState[ConcState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[ConcState]("conc",
      Encoders.product[ConcState], TTLConfig.NONE)

  /** Hour starts overlapped by [startUs, endUs): floor semantics hold for
    * pre-epoch times via floorDiv (the StreakProcessor lesson). */
  private def hours(startUs: Long, endUs: Long): Seq[HourDelta] = {
    val first = Math.floorDiv(startUs, HourUs)
    val last = Math.floorDiv(endUs - 1, HourUs)
    (first to last).map(h => HourDelta(h * HourUs))
  }

  override def handleInputRows(user: Long, rows: Iterator[ConcInput],
      timers: TimerValues): Iterator[HourDelta] = {
    val out = Seq.newBuilder[HourDelta]
    var s = if (st.exists()) st.get() else null
    // total in-batch order (ts, event_id) — the batch window's sort key
    rows.toSeq.sortBy(r => (Streams.micros(r.ts), r.event_id)).foreach { r =>
      val tUs = Streams.micros(r.ts)
      val flush = r.event_id < 0
      if (s == null) {
        if (!flush) s = ConcState(tUs, tUs)
      } else if (flush || tUs - s.lastUs >= gapUs) {
        out ++= hours(s.startUs, s.lastUs + gapUs)
        s = if (flush) null else ConcState(tUs, tUs)
      } else if (tUs > s.lastUs) {
        s = ConcState(s.startUs, tUs)
      } // tUs <= lastUs: a same-instant repeat, or a CROSS-BATCH
        // out-of-order event (in-batch rows are sorted, so only a prior
        // batch can produce tUs < lastUs) — intentionally ignored, per the
        // documented in-order input requirement of the batch path.
    }
    if (s != null) st.update(s) else st.clear()
    out.result().iterator
  }
}

/** A CDC change row arriving at the streaming SCD2 maintainer — op is
  * already mapped (upsert/delete), exactly q_scd2_build's change stream. */
final case class Scd2Input(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, value: Double, op: String)

/** One SCD Type 2 version row — q_scd2_build's columns in epoch-micros
  * form. A version is emitted OPEN (valid_to None, is_current true) when
  * it becomes current and again CLOSED when superseded; per (user,
  * version) the closed emission is final, so the table's last word per
  * version bit-matches the batch LEAD window ([[Streams.scd2Apply]]). */
final case class Scd2Version(user_id: Long, version: Long, op: String,
    value: Double, valid_from_us: Long, valid_to_us: Option[Long],
    is_current: Boolean)

/** The key's current open version — four fields of state per key. */
private final case class Scd2State(version: Long, tsUs: Long, op: String,
    value: Double)

/** Streaming SCD TYPE 2 APPLY: the write side of the versioned-dimension
  * story — q_scd2_build derives the full version history from a complete
  * change log; this maintains the SAME table incrementally as changes
  * arrive (the upsert path a lakehouse MERGE runs on each micro-batch),
  * with [[PitProcessor]] as the matching read side. State is ONE open
  * version per key; each arriving change closes it (emitting the final,
  * immutable closed row — valid_to = the successor's ts, exactly the
  * batch LEAD) and opens the next. The open version is (re-)emitted once
  * per batch it changes in, so the sink always holds the current row too.
  * In-order per-user arrival gives bit-equality with q_scd2_build across
  * any micro-batch split (StreamingSpec); out-of-order changes need the
  * batch rebuild, as with any SCD2 maintainer without retraction. */
private[streaming] class Scd2Processor
    extends StatefulProcessor[Long, Scd2Input, Scd2Version] {
  @transient private var st: ValueState[Scd2State] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[Scd2State]("scd2",
      Encoders.product[Scd2State], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[Scd2Input],
      timers: TimerValues): Iterator[Scd2Version] = {
    val out = Seq.newBuilder[Scd2Version]
    var s = if (st.exists()) st.get() else null
    var changed = false
    rows.toSeq.sortBy(r => (Streams.micros(r.ts), r.event_id)).foreach { r =>
      val tUs = Streams.micros(r.ts)
      if (s != null)
        out += Scd2Version(user, s.version, s.op, s.value, s.tsUs,
          Some(tUs), is_current = false)
      s = Scd2State(if (s == null) 1L else s.version + 1L, tUs, r.op, r.value)
      changed = true
    }
    if (changed) {
      st.update(s)
      out += Scd2Version(user, s.version, s.op, s.value, s.tsUs, None,
        is_current = true)
    }
    out.result().iterator
  }
}

/** Mixed change/probe event for the streaming PIT lookup (events-table
  * shaped; signup/purchase = upsert, error = delete, view = probe). */
final case class PitInput(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long, event_type: String, value: Double)

/** The one dimension version a user currently has (micros + op + value). */
final case class PitState(vtsUs: Long, vop: String, vval: Double)

/** One probe's point-in-time join result — identical fields (and values,
  * for in-order arrival) to a batch q_pit_join row. */
final case class PitLookup(probe_event_id: Long, user_id: Long,
    probe_ts: java.sql.Timestamp, version_ts: Option[java.sql.Timestamp],
    state_op: Option[String], state_value: Option[Double], has_state: Boolean)

/** Streaming POINT-IN-TIME lookup: the incremental twin of q_pit_join —
  * the online half of the feature-store story (the batch query builds
  * leakage-safe training rows; this serves the SAME state rule at inference
  * time, so offline and online features agree by construction). State is
  * ONE PitState per user — the running last(ignoreNulls) the batch window
  * computes. Within a micro-batch rows fold in the batch's exact total
  * order (ts, change-before-probe, event_id), so a change at a probe's own
  * timestamp is visible to it; ACROSS batches in-order arrival is assumed
  * (a late change would need the batch path, as any streaming join without
  * retraction). For in-order arrival the emitted rows bit-match the batch
  * query across any micro-batch split (StreamingSpec proves it). */
private[streaming] class PitProcessor
    extends StatefulProcessor[Long, PitInput, PitLookup] {
  @transient private var st: ValueState[PitState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[PitState]("pit",
      Encoders.product[PitState], TTLConfig.NONE)

  private def kindOf(t: String): Int = t match {
    case "signup" | "purchase" | "error" => 0
    case _ => 1
  }

  /** Micros-since-epoch -> Timestamp, full microsecond fidelity (setNanos
    * carries the complete fractional second). */
  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  override def handleInputRows(user: Long, rows: Iterator[PitInput],
      timers: TimerValues): Iterator[PitLookup] = {
    var s = if (st.exists()) Option(st.get()) else None
    val out = Seq.newBuilder[PitLookup]
    rows.toSeq
      .sortBy(e => (Streams.micros(e.ts), kindOf(e.event_type), e.event_id))
      .foreach { e =>
        e.event_type match {
          case "signup" | "purchase" =>
            s = Some(PitState(Streams.micros(e.ts), "upsert", e.value))
          case "error" =>
            s = Some(PitState(Streams.micros(e.ts), "delete", e.value))
          case "view" =>
            out += PitLookup(e.event_id, user, e.ts,
              s.map(v => toTs(v.vtsUs)), s.map(_.vop),
              s.filter(_.vop != "delete").map(_.vval),
              s.exists(_.vop != "delete"))
          case _ => () // click etc.: neither change nor probe
        }
      }
    s.foreach(st.update)
    out.result().iterator
  }
}

/** Streaming FUNNEL state machine: per-user progression through the
  * view -> click -> purchase sequence with strict event-time ordering —
  * the incremental twin of q_event_funnel. State is ONE (stage, anchor)
  * pair per user; a transition fires when the next stage's event type
  * arrives with ts strictly after the anchor, exactly the batch
  * operator's min-after-anchor rule (for in-event-time-order arrival the
  * stream reproduces the batch stages — proven in StreamingSpec). Within
  * a micro-batch rows fold in microsecond-precision ts order — the same
  * precision the anchor comparison uses, so two events inside one
  * millisecond cannot fold out of order. */
private[streaming] class FunnelProcessor(steps: Seq[String])
    extends StatefulProcessor[Long, StreamEvent, FunnelTransition] {
  @transient private var progress: ValueState[FunnelState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    progress = getHandle.getValueState[FunnelState]("progress",
      Encoders.product[FunnelState], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[StreamEvent],
      timers: TimerValues): Iterator[FunnelTransition] = {
    var st = if (progress.exists()) progress.get() else FunnelState(0L, Long.MinValue)
    val out = Seq.newBuilder[FunnelTransition]
    rows.toSeq.sortBy(e => (Streams.micros(e.ts), e.event_type)).foreach { e =>
      if (st.stage < steps.length && e.event_type == steps(st.stage.toInt) &&
          (st.stage == 0L || Streams.micros(e.ts) > st.anchorMicros)) {
        st = FunnelState(st.stage + 1, Streams.micros(e.ts))
        out += FunnelTransition(user, st.stage, e.ts)
      }
    }
    progress.update(st)
    out.result().iterator
  }
}

/** Closed (or force-flushed) session emitted by the custom state machine. */
final case class UserSession(user_id: Long, start_ms: Long, end_ms: Long,
    n_events: Long, total: Double)

private final case class SessionState(start_ms: Long, last_ms: Long,
    n: Long, total: Double)

/** An event arriving at the streaming trajectory assembler: carries the
  * event_id so in-session order is total, exactly as the batch query's
  * (ts, event_id) struct sort. */
final case class TrajEvent(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long, event_type: String)

/** Closed session trajectory emitted by the streaming assembler —
  * matches q_session_trajectories rows (start_us = unix_micros of the
  * batch query's session_start). */
final case class UserTrajectory(user_id: Long, start_us: Long,
    n_events: Long, trajectory: String)

private final case class TrajState(start_us: Long, last_us: Long,
    items: Seq[(Long, Long, String)])

/** Spark 4 `transformWithState` form of the session machine ([[Streams
  * .sessionizeTws]], folding with [[Streams.foldSession]]): state lives in
  * a NAMED, individually-evolvable `ValueState` variable on the RocksDB
  * state store (the API's requirement), rather than a single opaque
  * GroupState blob. At scale this is the shape that unlocks per-variable
  * TTL, state-schema evolution, and the state data source for
  * inspection. */
private[streaming] class SessionProcessor(gapMs: Long)
    extends StatefulProcessor[Long, StreamEvent, UserSession] {
  @transient private var session: ValueState[SessionState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    session = getHandle.getValueState[SessionState]("session",
      Encoders.product[SessionState], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[StreamEvent],
      timers: TimerValues): Iterator[UserSession] = {
    val prev = if (session.exists()) session.get() else null
    val (cur, closed) = Streams.foldSession(user, gapMs, prev, rows)
    if (cur != null) session.update(cur) else session.clear()
    closed.iterator
  }
}

/** One customer record arriving at the streaming linkage pipeline
  * (customer-table shaped). */
final case class CustArrival(c_custkey: Long, c_name: String,
    c_nationkey: Long, c_mktsegment: String, c_acctbal: Double)

/** One golden record at block revision `rev` — identical entity fields
  * (and values, at the final revision) to a batch q_entity_resolve row.
  * `entity_id = -1` is the tombstone a block over the 256-member df-cut
  * emits (the batch drops such blocks; the tombstone tells a consumer the
  * block's earlier revisions are void). */
final case class GoldenRecord(blk_nation: Long, blk_segment: String,
    blk_band: Long, rev: Long, entity_id: Long, n_records: Long,
    custkey_kept: Long, name_kept: String, nation_kept: Long,
    cents_kept: Long, needs_review: Boolean)

/** Per-block linkage state: every member seen so far + revision counter. */
private final case class ErState(rev: Long,
    keys: Seq[Long], names: Seq[String], cents: Seq[Long])

/** Streaming ENTITY-RESOLUTION golden records ([[Streams.goldenRecords]]):
  * maintains q_entity_resolve's output incrementally as customer records
  * arrive. The group key is the BLOCKING key (nation × segment × $2000
  * band), so one state instance holds one block — complete by
  * construction, because accepted links exist only within a block and the
  * closure can never cross blocks. Each batch that touches a block appends
  * the arrivals to the member state and RECOMPUTES the block's golden set
  * with the exact batch rule (Fellegi-Sunter scoring over in-block pairs,
  * score ≥ 20 accepted, union-find closure, keep-richest survivorship,
  * min-link clerical-review flag), emitting the full set at a bumped
  * revision — the latest revision per block IS the current golden table,
  * and at the final revision it bit-matches the batch query
  * (StreamingSpec). Blocks beyond the 256-member df-cut emit a tombstone,
  * mirroring the batch's drop. Per-block work is O(n²) pairs with n ≤ 256
  * — the same bounded pair space as the batch's blocked self-join. */
private[streaming] class GoldenProcessor
    extends StatefulProcessor[(Long, String, Long), CustArrival, GoldenRecord] {
  @transient private var st: ValueState[ErState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[ErState]("er",
      Encoders.product[ErState], TTLConfig.NONE)

  override def handleInputRows(block: (Long, String, Long),
      rows: Iterator[CustArrival],
      timers: TimerValues): Iterator[GoldenRecord] = {
    val arrivals = rows.toSeq
    if (arrivals.isEmpty) return Iterator.empty
    val prev = if (st.exists()) st.get() else ErState(0L, Nil, Nil, Nil)
    val keys = prev.keys ++ arrivals.map(_.c_custkey)
    val names = prev.names ++ arrivals.map(_.c_name)
    val cents = prev.cents ++ arrivals.map(c => Streams.balCents(c.c_acctbal))
    val rev = prev.rev + 1
    st.update(ErState(rev, keys, names, cents))
    val (nat, seg, band) = block
    if (keys.size > 256)
      return Iterator.single(GoldenRecord(nat, seg, band, rev,
        entity_id = -1L, n_records = keys.size.toLong, custkey_kept = -1L,
        name_kept = "", nation_kept = -1L, cents_kept = 0L,
        needs_review = false))
    // the batch rule, in-block: score pairs, accept >= 20, close, survive
    val ms = keys.indices.map(i => (keys(i), names(i), cents(i))).sortBy(_._1)
    val links = for {
      i <- ms.indices
      j <- (i + 1) until ms.size
      nd = graft.expressions.MyersLev.distance(
        org.apache.spark.unsafe.types.UTF8String.fromString(ms(i)._2),
        org.apache.spark.unsafe.types.UTF8String.fromString(ms(j)._2))
      bd = math.abs(ms(i)._3 - ms(j)._3)
      if nd <= 2 || bd <= 1000
      score = (if (nd <= 2) 24L else -8L) + (if (bd <= 1000) 16L else -4L)
      if score >= 20L
    } yield (ms(i)._1, ms(j)._1, score)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    links.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byCluster = ms.filter(m => parent.contains(m._1) ||
        links.exists(l => l._1 == m._1 || l._2 == m._1))
      .groupBy(m => find(m._1))
    val minLink = links.groupBy(l => find(l._1))
      .map { case (c, ls) => c -> ls.map(_._3).min }
    byCluster.toSeq.sortBy(_._1).iterator.map { case (cluster, mem) =>
      // keep-richest survivorship: cents DESC, key ASC (the batch's
      // max(struct(cents, -key, ...)) ordering)
      val kept = mem.maxBy(m => (m._3, -m._1))
      GoldenRecord(nat, seg, band, rev, cluster, mem.size.toLong,
        kept._1, kept._2, nat, kept._3,
        needs_review = minLink(cluster) < 40L)
    }
  }
}

/** Structured Streaming surface (north-star extension — the reference is
  * batch-only, SURVEY §2.9). The transforms are written against plain
  * DataFrames/Datasets so the SAME code runs in batch (`spark.read`) and
  * incremental (`spark.readStream`) mode — Spark's unified model; only the
  * source/sink differ. See StreamingSpec for the MemoryStream harness.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late rows beyond it are dropped and their state evicted); the custom
  * session state machine keeps ONE small state object per active key, and
  * every key's state lives in the state store partition that owns the key —
  * state scales out with shuffle partitions.
  */
object Streams {

  /** Microsecond-precision event time — the ONE ordering key every stateful
    * processor in this file folds micro-batches by (funnel and session
    * alike), so two events inside the same millisecond can never fold in
    * different orders in different operators. */
  private[streaming] def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Streaming OHLC bars — the incremental twin of q_ohlc_bars: 15-minute
    * watermarked tumbling windows per event_type with open/close as
    * min_by/max_by VALUE PICKS on the unique event_id (deterministic
    * whatever order micro-batches deliver rows in — the aggregate is
    * order-free, unlike a first/last-in-arrival-order bar). A closed
    * window's row is bit-identical to the batch query's row for the same
    * events (StreamingSpec proves it); state is one bar per open
    * (window, type). The `total` column here is a plain double sum —
    * streaming partial aggregation order is nondeterministic, so the
    * batch query's Det decimal contract applies only where an oracle
    * hash-compares; the OHLC fields themselves are exact picks. */
  def ohlcBars(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"))
      .select(col("w.start").as("wstart"), col("event_type"),
        col("n_events"), col("open"), col("high"), col("low"), col("close"))

  /** Streaming MATERIALIZED-VIEW state — the online half of
    * q_incremental_agg: per-(event_type, day) count/sum/min/max over
    * integer cents, maintained incrementally under Update/Complete
    * output. Each micro-batch's partial folds into standing state by the
    * SAME monoid algebra the batch query's union+re-aggregate uses
    * (counts add, sums add, mins/maxes fold — all order-free), so after
    * any micro-batch split the state table is bit-identical to the batch
    * MV over the same rows (StreamingSpec proves it across a mid-day
    * split). One slim row of state per touched (type, day); a production
    * deployment adds a watermark to evict closed days. */
  def dailyMvState(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        min(round(col("value") * 100).cast("long")).as("min_cents"),
        max(round(col("value") * 100).cast("long")).as("max_cents"))
      .select(col("event_type"), to_date(col("w.start")).as("day"),
        col("n"), col("sum_cents"), col("min_cents"), col("max_cents"))

  /** Streaming HLL register maintenance — the incremental form of
    * q_hll_distinct's register bank for a continuously-arriving key
    * stream: `groupBy(bucket).max(rank)` under Update/Complete output
    * keeps EXACTLY [[graft.functions.Sketch.HllBuckets]] rows of state
    * regardless of stream length (max is monotone, so late data can only
    * raise a register — no watermark needed, state is bounded BY THE
    * SKETCH, the whole point of sketching an unbounded stream). The
    * estimate is read off the register table at any instant with
    * [[Streams.hllEstimateOf]]; single-sourced column logic
    * (functions.Sketch) keeps stream registers bit-equal to the batch
    * query's. */
  def hllRegisters(keyed: DataFrame, keyCol: String): DataFrame = {
    import graft.functions.Sketch
    keyed
      .select(Sketch.hllHash(col(keyCol)).as("hv"))
      .select(Sketch.hllBucket(col("hv")).as("bucket"),
        Sketch.hllRank(col("hv")).as("r"))
      .groupBy("bucket").agg(max(col("r")).as("m"))
  }

  /** Streaming PER-GROUP HLL register maintenance — the incremental form
    * of q_hll_by_group's register table: `groupBy(g, bucket).max(rank)`
    * keeps at most [[graft.functions.Sketch.HllBuckets]] rows of state PER
    * GROUP regardless of stream length (max is monotone — no watermark
    * needed, state bounded BY THE SKETCH times group cardinality). Each
    * group's estimate reads off its register slice with
    * [[Streams.hllEstimateOf]]; registers also merge ACROSS groups with a
    * plain max (the rollup property SketchSpec pins on the batch side).
    * Single-sourced column logic (functions.Sketch) keeps stream registers
    * bit-equal to the batch query's. */
  def hllGroupRegisters(keyed: DataFrame, groupCol: String,
      keyCol: String): DataFrame = {
    import graft.functions.Sketch
    keyed
      .select(col(groupCol).as("g"), Sketch.hllHash(col(keyCol)).as("hv"))
      .select(col("g"), Sketch.hllBucket(col("hv")).as("bucket"),
        Sketch.hllRank(col("hv")).as("r"))
      .groupBy("g", "bucket").agg(max(col("r")).as("m"))
  }

  /** Fold a (bucket, m) register table — streamed or batch — into the raw
    * AND small-range-corrected HLL estimates, with the same exact-dyadic
    * and ln-table arithmetic as the batch oracle query. */
  def hllEstimateOf(regs: DataFrame): DataFrame = {
    import graft.functions.Sketch
    regs.agg(count(lit(1)).as("n_buckets"),
        sum(Sketch.hllInv(col("m"))).as("s"))
      .select(
        Sketch.hllEstimate(col("s"), col("n_buckets")).as("hll_estimate"),
        Sketch.hllCorrected(
          Sketch.hllEstimate(col("s"), col("n_buckets")),
          lit(Sketch.HllBuckets) - col("n_buckets")).as("hll_corrected"))
  }

  /** Streaming histogram-sketch register maintenance — the incremental
    * form of q_quantile_sketch's bucket table for a continuously-arriving
    * (group, value) stream: `groupBy(g, bucket).count()` under Complete
    * output keeps at most 976 rows of state PER GROUP regardless of
    * stream length (the bucket domain is fixed by the sketch geometry —
    * state bounded BY THE SKETCH, like the HLL registers and Bloom
    * words). Quantiles are read off at any instant with
    * [[Streams.histQuantilesOf]]; single-sourced column logic
    * (functions.Sketch) keeps stream registers bit-equal to the batch
    * query's. */
  def histRegisters(keyed: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import graft.functions.Sketch
    keyed
      .select(col(groupCol).as("g"),
        Sketch.histBucket(col(valueCol).cast("long")).as("bucket"))
      .groupBy("g", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Fold a (g, bucket, cnt) register table — streamed or batch — into
    * approx p50/p90/p99, with the same integer-rank arithmetic as the
    * batch oracle query (ceil(n*p/100) by integer division against the
    * running bucket-count sum; bucket upper bound as the estimate). The
    * window runs over <= 976 rows per group, bounded by the sketch. */
  def histQuantilesOf(regs: DataFrame): DataFrame = {
    import graft.functions.Sketch
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy("bucket")
    // group total via an unordered window over the same <= 976 rows — a
    // groupBy + self-join here trips conflicting-reference resolution on
    // a streaming memory-sink view, and the window is strictly cheaper
    val wAll = Window.partitionBy("g")
    def tgt(p: Int) = expr(s"(n * $p + 99) DIV 100")
    regs.withColumn("hi", Sketch.histHi(col("bucket")))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy("g")
      .agg(min(when(col("cum") >= tgt(50), col("hi"))).as("p50_approx"),
        min(when(col("cum") >= tgt(90), col("hi"))).as("p90_approx"),
        min(when(col("cum") >= tgt(99), col("hi"))).as("p99_approx"))
  }

  /** Streaming KS-DRIFT register maintenance — the incremental form of
    * q_ks_drift's (type, bucket, epoch) counts for a LIVE drift monitor:
    * the epoch boundary is a FROZEN parameter (`loPlusHiUs` — the batch
    * query derives it from the data's time range; a deployed monitor
    * freezes a reference window and compares live traffic against it),
    * values quantize to the same 256 buckets, and
    * `groupBy(type, bucket, epoch).count()` under Complete output keeps at
    * most types x 256 x 2 rows of state regardless of stream length
    * (counts only grow — state bounded BY THE SKETCH geometry, no
    * watermark). The statistic reads off at any instant with [[ksOf]] and
    * is bit-equal to the batch query at every micro-batch boundary
    * (StreamingSpec). */
  def ksRegisters(events: DataFrame, loPlusHiUs: Long): DataFrame =
    events
      .select(col("event_type"), ksBucket.as("bucket"),
        when(unix_micros(col("ts")) * 2 < lit(loPlusHiUs), 0L).otherwise(1L)
          .as("epoch"))
      .groupBy("event_type", "bucket", "epoch").agg(count(lit(1)).as("cnt"))

  /** q_ks_drift's value bucket, shared with [[ksRegisters]]: 2.0-wide
    * bins of the cent-rounded `value`, clamped on BOTH sides to [0, 255],
    * so a value of -2.0 or less lands in bucket 0 streamed and batch
    * alike. */
  def ksBucket: Column =
    least(expr("GREATEST(CAST(ROUND(value * 100) AS BIGINT), 0) DIV 200"),
      lit(255L))

  /** Fold a (event_type, bucket, epoch, cnt) register table into
    * q_ks_drift's output columns with [[ksFold]], the batch query's own
    * fold. */
  def ksOf(regs: DataFrame): DataFrame =
    ksFold(regs.groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("epoch") === 0, col("cnt")).otherwise(0L)).as("c1"),
        sum(when(col("epoch") === 1, col("cnt")).otherwise(0L)).as("c2")))
      .orderBy("event_type")

  /** Fold per-(event_type, bucket) epoch counts `c1`, `c2` into
    * q_ks_drift's output columns with one integer tree: ppm CDF gap max
    * over a per-type window of <= 256 bucket rows, the classical 5%
    * critical value, and the drift verdict. The CDF divisors are
    * `GREATEST(n, 1)`, as in the oracle: a type with no rows in one epoch
    * gets an explicit ks_ppm against that epoch's empty CDF (its
    * threshold and verdict divide by zero and read NULL, in DuckDB too). */
  def ksFold(c: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = c.groupBy(col("event_type").as("ntype"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val gaps = c.join(broadcast(n), col("event_type") === col("ntype"))
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .select(col("event_type"), col("n1"), col("n2"),
        abs(expr("cum1 * 1000000 DIV GREATEST(n1, 1)") -
            expr("cum2 * 1000000 DIV GREATEST(n2, 1)")).as("gap_ppm"))
    val thresh = lit(1358000.0) *
      sqrt((min(col("n1")) + min(col("n2"))).cast("double") /
        (min(col("n1")).cast("double") * min(col("n2")).cast("double")))
    gaps.groupBy(col("event_type"))
      .agg(min(col("n1")).as("n1"), min(col("n2")).as("n2"),
        max(col("gap_ppm")).cast("long").as("ks_ppm"),
        thresh.as("thresh_ppm"),
        (max(col("gap_ppm")).cast("double") > thresh).as("drifted"))
  }

  /** Streaming Bloom-filter word maintenance — the incremental build side
    * of q_bloom_prune: `groupBy(word_idx).bit_or(mask)` under Complete
    * output keeps at most 32 rows of state regardless of how many keys
    * stream in (bit_or is monotone, like the HLL register max — state
    * bounded BY THE SKETCH, no watermark). The word table broadcast
    * against a probe side is the pruning join the batch query grades. */
  /** Streaming BITMAP register maintenance: the incremental build of
    * q_bitmap_overlap's per-segment word table — each (segment, word_idx)
    * row holds the BIT_OR of its members' bit masks, the exact audience
    * bitmap an analytics store keeps per segment. BIT_OR is idempotent
    * and commutative, so the complete-mode register table equals the
    * batch words whatever the arrival order, batch split, or RE-DELIVERY
    * (no upstream distinct needed — the property an exactly-once-free
    * audience index needs; the sketch twins share it because max/min are
    * idempotent too). Overlap queries then join the register table on
    * word_idx exactly as the batch query does — the 64x-compressed join
    * is what makes billion-user intersections cheap. */
  def bitmapRegisters(keyed: DataFrame, segCol: String, keyCol: String): DataFrame = {
    import graft.functions.Sketch
    keyed
      .groupBy(col(segCol).as("seg"), expr(s"$keyCol DIV 64").as("word_idx"))
      .agg(bit_or(Sketch.bloomMask(col(keyCol))).as("w"))
  }

  def bloomWords(keyed: DataFrame, keyCol: String): DataFrame = {
    import graft.functions.Sketch
    keyed
      .select(Sketch.bloomBits(col(keyCol)).as("bit"))
      .select(Sketch.bloomWordIdx(col("bit")).as("word_idx"),
        Sketch.bloomMask(col("bit")).as("m"))
      .groupBy("word_idx").agg(bit_or(col("m")).as("w"))
  }

  /** Streaming count-min register maintenance — the incremental form of
    * q_cms_heavy's counter bank for a continuously-arriving key stream:
    * `groupBy(r, cell).count()` under Complete output keeps at most
    * 4 x 512 = 2048 rows of state regardless of stream length (counts only
    * grow — state bounded BY THE SKETCH, like the HLL registers and Bloom
    * words; no watermark). Per-event counting sums to exactly the batch
    * query's per-key-pre-aggregated cells, so the register bank bit-matches
    * the batch build side at any micro-batch boundary. */
  def cmsRegisters(keyed: DataFrame, keyCol: String): DataFrame = {
    import graft.functions.Sketch
    keyed
      .select(Sketch.cmsCells(col(keyCol)).as("p"))
      .select(col("p.r").as("r"), col("p.cell").as("cell"))
      .groupBy("r", "cell").agg(count(lit(1)).as("cs"))
  }

  /** Probe a (r, cell, cs) register bank — streamed or batch — for the
    * frequency estimates of a key set: each key joins its 4 cells against
    * the (broadcast-sized) bank and takes the long MIN, the same integer
    * arithmetic as the batch oracle query. */
  def cmsEstimateOf(regs: DataFrame, keys: DataFrame, keyCol: String): DataFrame = {
    import graft.functions.Sketch
    keys
      .select(col(keyCol).as("k"), Sketch.cmsCells(col(keyCol)).as("p"))
      .select(col("k"), col("p.r").as("r"), col("p.cell").as("cell"))
      .join(broadcast(regs), Seq("r", "cell"))
      .groupBy("k").agg(min(col("cs")).as("cms_estimate"))
  }

  /** Incremental SEMANTIC (embedding-space) decontamination: each arriving
    * vector (`vec_id`, `v` double[]) scored against the bounded benchmark
    * embedding set (`bid`, `qv` double[], broadcast) through the SAME
    * scoring columns as batch q_semantic_decontaminate
    * ([[graft.engine.Similarity.benchCosineScores]] — single-sourced, so
    * stream and batch produce bit-identical cosines); emits (vec_id, bid,
    * cos) HIT rows for cos >= threshold. Stateless stream-static join — no
    * watermark or state store — and the per-vector argmax/verdict is a
    * downstream aggregation: a streaming group-by vec_id would hold
    * unbounded state for a max that is final as soon as the vector's
    * |bench| rows have passed. */
  def semanticHits(vecs: DataFrame, bench: DataFrame,
      threshold: Double = 0.9): DataFrame =
    graft.engine.Similarity.benchCosineScores(vecs, bench)
      .filter(col("cos") >= threshold)

  /** Streaming CURATION GATE: the in-row quality gates of the batch
    * report (length, repetition, blocklist — single-sourced via
    * [[graft.functions.Text.curationGate]], so stream and batch verdicts
    * agree bit-for-bit) applied to each arriving document. Stateless
    * per-row projection — no watermark, no state store — because every
    * gate is decidable from the document's own row. */
  def curationGate(docs: DataFrame,
      blocklist: Seq[String] = graft.queries.CurationQueries.Blocklist): DataFrame = {
    val tk = split(col("text"), " ")
    docs
      .select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        graft.functions.Text.distinctTokenFrac(col("tk")).as("distinct_frac"),
        graft.functions.Text.blocklistHitFrac(col("tk"), blocklist).as("hit_frac"))
      .withColumn("verdict", graft.functions.Text.curationGate(
        col("n_tokens"), col("distinct_frac"), col("hit_frac")))
  }

  /** Stateless streaming context-window chunker — the streaming twin of
    * q_chunk_docs, single-sourced through
    * [[graft.functions.Text.chunkStarts]] /
    * [[graft.functions.Text.chunkColumns]] so stream and batch chunks
    * agree bit-for-bit. Pure in-row sequence/explode — no watermark, no
    * state store — a document chunks the moment it arrives, which is what
    * makes chunking safe to run at ingest in a 100-TB pipeline (fan-out
    * ~ tokens/stride per row, no cross-row coordination). */
  def chunkDocs(docs: DataFrame): DataFrame = {
    val tk = split(col("text"), " ")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), tk.as("tk"))
      .withColumn("st", explode(graft.functions.Text.chunkStarts(col("tk"))))
      .select(col("doc_id") +:
        graft.functions.Text.chunkColumns(col("tk"), col("st")): _*)
  }

  /** Stateless streaming PII scrub — the streaming twin of q_pii_scrub
    * minus its deterministic plants (a live stream scrubs what actually
    * arrives), single-sourced through
    * [[graft.queries.CurationQueries.piiColumns]] so patterns and
    * redaction layout cannot drift from the oracle-checked batch form.
    * Pure per-row regex — no watermark, no state store — so PII never has
    * to land unredacted downstream of ingest. */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +:
      graft.queries.CurationQueries.piiColumns(col("text")): _*)

  /** Stateless streaming winnowing fingerprinter — the streaming twin of
    * q_winnow_fingerprint, single-sourced through
    * [[graft.engine.Similarity.winnowFingerprints]] so stream and batch
    * profiles agree bit-for-bit. Pure in-row HOFs — no watermark, no
    * state store — so an ingest pipeline can fingerprint documents the
    * moment they arrive and match them against an existing fingerprint
    * index downstream (the plagiarism / partial-overlap screen at the
    * door, like [[piiScrub]] is the privacy screen). */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    graft.engine.Similarity.winnowFingerprints(docs, "doc_id", "text")

  /** THE session state machine of [[SessionProcessor]]: applies a batch of
    * events to the (possibly null) open session, returning the new open
    * session (null = none) and the sessions closed along the way. A
    * session closes when a later event arrives >= `gapMs` after the last
    * one. The fold sorts at MICROSECOND precision ([[micros]]) — the same
    * key FunnelProcessor uses — so same-millisecond events order
    * identically across every stateful operator; the session fields
    * themselves stay millisecond (the gap comparison is ms and the
    * aggregates are commutative, so the finer sort can only pin, never
    * change, a result). */
  private[streaming] def foldSession(user: Long, gapMs: Long,
      prev: SessionState, batch: Iterator[StreamEvent]): (SessionState, Seq[UserSession]) = {
    val sorted = batch.toSeq.sortBy(e => micros(e.ts))
    var cur = prev
    val closed = Seq.newBuilder[UserSession]
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case null =>
          cur = SessionState(t, t, 1L, e.value)
        case s if t - s.last_ms >= gapMs =>
          closed += UserSession(user, s.start_ms, s.last_ms + gapMs, s.n, s.total)
          cur = SessionState(t, t, 1L, e.value)
        case s =>
          cur = s.copy(start_ms = math.min(s.start_ms, t),
            last_ms = math.max(s.last_ms, t), n = s.n + 1,
            total = s.total + e.value)
      }
    }
    (cur, closed.result())
  }

  /** Trajectory fold: the session machine of [[foldSession]], but carrying
    * the ordered (us, event_id, event_type) items so a CLOSED session emits
    * its full event-type sequence — the streaming twin of
    * q_session_trajectories. Gap compare and session_start are both at
    * MICROSECOND precision (the batch query's session_window sees raw
    * micros), so closed trajectories bit-match the batch rows — PROVIDED
    * no event arrives in a later micro-batch predating a gap the fold has
    * already split on (the merge takes min/max of the open session's
    * bounds, so a late event inside the open span is absorbed correctly,
    * but a session already CLOSED on a gap is never reopened — the
    * standard streaming-sessionization tradeoff; batch reassembles any
    * order). State per user is one open session's items — bounded by
    * session length (a 10-minute gap closes it), never by stream
    * length. */
  private[streaming] def foldTrajectory(user: Long, gapMs: Long,
      prev: TrajState, batch: Iterator[TrajEvent]): (TrajState, Seq[UserTrajectory]) = {
    val gapUs = gapMs * 1000L
    val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    var cur = prev
    val closed = Seq.newBuilder[UserTrajectory]
    def emit(s: TrajState): UserTrajectory =
      UserTrajectory(user, s.start_us, s.items.size.toLong,
        s.items.sortBy(i => (i._1, i._2)).map(_._3).mkString(" "))
    sorted.foreach { e =>
      val t = micros(e.ts)
      val item = (t, e.event_id, e.event_type)
      cur match {
        case null =>
          cur = TrajState(t, t, Vector(item))
        case s if t - s.last_us >= gapUs =>
          closed += emit(s)
          cur = TrajState(t, t, Vector(item))
        case s =>
          cur = TrajState(math.min(s.start_us, t), math.max(s.last_us, t),
            s.items :+ item)
      }
    }
    (cur, closed.result())
  }

  /** Streaming session-trajectory assembly ([[foldTrajectory]] in
    * GroupState): closed sessions stream out as one ordered event-type
    * sequence each, the still-open session's items stay in state — the
    * stateful twin of q_session_trajectories, for the pipeline that
    * constructs behavioral training sequences as the log arrives. */
  def sessionTrajectories(events: Dataset[TrajEvent],
      gapMs: Long): Dataset[UserTrajectory] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TrajState, UserTrajectory](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[TrajEvent], state: GroupState[TrajState]) =>
          val (cur, closed) = foldTrajectory(user, gapMs, state.getOption.orNull, batch)
          if (cur != null) state.update(cur) else state.remove()
          closed.iterator
      }
  }

  /** Streaming sequence packing (see [[PackProcessor]]): the incremental
    * form of q_pack_shards for a continuously-arriving corpus — shard
    * assignments stream out as docs arrive, with one Long of state per
    * bucket. Bucket/budget/namespace constants are single-sourced from
    * [[graft.functions.Text]] so batch and stream agree bit-for-bit.
    * Requires the RocksDB state store provider ([[graft.Session]] sets it). */
  def packShards(docs: DataFrame): Dataset[ShardAssignment] = {
    import docs.sparkSession.implicits._
    import graft.functions.Text
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        Text.packBucket(col("doc_id")).as("bucket"),
        Text.tokenCount(col("text")).cast("long").as("toks"))
      .as[DocArrival]
      .groupByKey(_.bucket)
      .transformWithState(
        new PackProcessor(Text.PackBudget, Text.PackShardStride),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming funnel (see [[FunnelProcessor]]): stage transitions stream
    * out as each user crosses view -> click -> purchase in strict
    * event-time order, with one (stage, anchor) pair of state per user.
    * Requires the RocksDB state store provider ([[graft.Session]] sets it). */
  def funnelStages(events: Dataset[StreamEvent],
      steps: Seq[String] = Seq("view", "click", "purchase")): Dataset[FunnelTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(steps),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming transition extraction (see [[TransitionProcessor]]): one
    * string of state per user. Requires the RocksDB state store provider
    * ([[graft.Session]] sets it). */
  def eventTransitions(events: Dataset[TransEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TransitionProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming user-lifetime maintenance (see [[LifetimeProcessor]]):
    * the incremental twin of q_survival_km's user-grain aggregation —
    * five fields of state per user, order-insensitive folds. Requires
    * the RocksDB state store provider ([[graft.Session]] sets it). */
  def userLifetimes(events: Dataset[TransEvent]): Dataset[UserLifetime] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new LifetimeProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming anomaly detection (see [[AnomalyProcessor]]): 2-sigma
    * trailing-window flags stream out per user with a ring buffer of at
    * most 8 longs of state per key — the incremental twin of
    * q_anomaly_zscore. Requires the RocksDB state store provider
    * ([[graft.Session]] sets it). */
  def anomalyFlags(events: Dataset[AnomEvent]): Dataset[AnomalyFlag] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new AnomalyProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming activity-streak maintainer (see [[StreakProcessor]]): the
    * incremental form of q_streak_islands with five longs of state per
    * user. Requires the RocksDB state store provider
    * ([[graft.Session]] sets it). */
  def activityStreaks(events: Dataset[DayEvent]): Dataset[StreakUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new StreakProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming SESSION CONCURRENCY: q_session_concurrency as CHAINED
    * stateful operators — stage 1 closes per-user gap sessions and
    * expands each closed interval into the hour buckets it overlaps
    * ([[ConcurrencySessionProcessor]], transformWithState); stage 2 is a
    * plain streaming aggregation counting buckets per hour. Run in
    * `update` output mode: each hour's count rises as sessions close into
    * it, and the last update per hour equals the batch answer once every
    * session is closed (flush rows, event_id < 0, close the stragglers).
    * Requires the RocksDB state store provider ([[graft.Session]] sets it). */
  def sessionConcurrency(events: Dataset[ConcInput],
      gapMs: Long = 10L * 60 * 1000): DataFrame = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ConcurrencySessionProcessor(gapMs * 1000L),
        TimeMode.None(), OutputMode.Append())
      .groupBy(col("wstart_us"))
      .agg(count(lit(1)).as("n_concurrent"))
  }

  /** Streaming SCD2 APPLY (see [[Scd2Processor]]): maintains
    * q_scd2_build's versioned dimension incrementally — closed version
    * rows are final; the open row per key is re-emitted as it changes.
    * Requires the RocksDB state store provider ([[graft.Session]] sets it). */
  def scd2Apply(changes: Dataset[Scd2Input]): Dataset[Scd2Version] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.user_id)
      .transformWithState(new Scd2Processor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming point-in-time lookup (see [[PitProcessor]]): the online
    * serving form of q_pit_join with one PitState of state per user.
    * Requires the RocksDB state store provider ([[graft.Session]] sets it). */
  def pitLookup(events: Dataset[PitInput]): Dataset[PitLookup] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new PitProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming per-source document cap (see [[CapProcessor]]): the
    * incremental form of q_source_cap for a continuously-arriving corpus —
    * admissions stream out while a source is under its cap, with one Long
    * of state per source. Requires the RocksDB state store provider
    * ([[graft.Session]] sets it). */
  def sourceCap(docs: DataFrame, cap: Long): Dataset[CapAdmission] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("source"))
      .as[CapArrival]
      .groupByKey(_.source)
      .transformWithState(new CapProcessor(cap),
        TimeMode.None(), OutputMode.Append())
  }

  /** Custom sessionization, the stateful twin of q_window_session's batch
    * gaps-and-islands, on the Spark 4 `transformWithState` API (see
    * [[SessionProcessor]]): the still-open session stays in state across
    * batches. Requires the RocksDB state store provider, which
    * [[graft.Session]] sets. */
  def sessionizeTws(events: Dataset[StreamEvent], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming ENTITY RESOLUTION (see [[GoldenProcessor]]): incremental
    * golden-record maintenance over arriving customer records — the
    * online twin of q_entity_resolve. Keyed by the BLOCKING key, which is
    * what makes the closure shardable: linkage candidates meet only
    * through the blocking key, so the accepted-link graph is a disjoint
    * union of per-block graphs and transitive closure can never cross
    * blocks — per-block state is complete state. Requires the RocksDB
    * state store provider ([[graft.Session]] sets it). */
  def goldenRecords(customers: Dataset[CustArrival]): Dataset[GoldenRecord] = {
    import customers.sparkSession.implicits._
    customers.groupByKey(c => {
        val cents = Streams.balCents(c.c_acctbal)
        (c.c_nationkey, c.c_mktsegment, math.max(cents, 0L) / 200000L)
      })
      .transformWithState(new GoldenProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Spark's `round(x * 100)` (HALF_UP on the IEEE product), the exact
    * cents rule of q_entity_match's `b` CTE. */
  private[streaming] def balCents(acctbal: Double): Long =
    java.math.BigDecimal.valueOf(acctbal * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
}
