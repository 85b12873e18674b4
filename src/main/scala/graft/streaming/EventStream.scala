package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming operators beyond the reference's operational
  * loops: watermarked windowed aggregation and a stateful streaming EWMA —
  * the streaming counterparts of the batch P17/A4 and W1 operators, built
  * on Structured Streaming so the same engine serves both modes.
  */
object EventStream {

  /** 5-minute windowed sum/count with a watermark for late data.
    * Input needs (ts: timestamp, event_type: string, value: double). */
  def windowedAgg(events: DataFrame, watermark: String = "10 minutes",
      window5: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window5).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup on an id column with a watermark bounding the
    * dedup state (late duplicates beyond the watermark are not caught —
    * the standard trade; the batch `Dedup.exactDedup` is the unbounded
    * form). */
  def dedupStream(events: DataFrame, idCol: String,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Watermarked stream-stream interval join — the attribution shape: an
    * effect event joins its cause iff it arrives within `maxDelay` of it.
    * Both sides carry watermarks and the join condition bounds event time
    * in both directions, so Spark can expire join state (without the
    * bound, stream-stream inner join state grows forever). Expects
    * `cause(cause_id, cause_ts, …)` and `effect(effect_cause_id,
    * effect_ts, …)`; returns matched pairs with all columns. */
  def attributionJoin(cause: DataFrame, effect: DataFrame,
      maxDelay: String = "15 minutes"): DataFrame =
    cause.withWatermark("cause_ts", maxDelay)
      .join(effect.withWatermark("effect_ts", maxDelay),
        expr(s"""cause_id = effect_cause_id
                 AND effect_ts >= cause_ts
                 AND effect_ts <= cause_ts + INTERVAL $maxDelay"""))

  final case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  final case class SessOut(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      session_n: Long)
  final case class SessState(lastTsMicros: Long, sessionN: Long)

  /** Streaming gap-based sessionization — the stateful-streaming form of
    * [[graft.operators.TimeSeries.sessionize]]: per-key state is just
    * (last event time, session counter), so in-order arrivals get the
    * identical numbering the batch operator assigns. Within a micro-batch
    * rows fold in (ts, event_id) order; cross-batch out-of-order arrivals
    * are the standard streaming trade (bound them with a watermark
    * upstream).
    *
    * State lifecycle: without `idleTimeout`, per-key state lives for the
    * job lifetime — fine for tests and bounded key populations, unbounded
    * growth over an unbounded user population. Set `idleTimeout` (a
    * duration string, e.g. "30 minutes") to expire state for keys idle
    * that long in PROCESSING time; choose it ≥ the session gap, so
    * expiry only ever forgets the session COUNTER (an event after a
    * ≥-gap silence starts a new session regardless) — a returning key
    * then restarts numbering at 1 instead of continuing, the standard
    * monitoring trade for a bounded state store. Such a query does not
    * terminate under `Trigger.AvailableNow`: the registered timeout
    * keeps it planning no-data timeout batches, so stop it explicitly.
    *
    * Memory note: each key's rows within one micro-batch are buffered and
    * sorted in memory before folding (`rows.toSeq.sortBy`) — per-key
    * batch volume must fit an executor, which gap sessionization data
    * does by construction at sane trigger intervals. */
  def streamingSessionize(events: Dataset[Ev], gapSeconds: Long,
      idleTimeout: Option[String] = None): Dataset[SessOut] =
    sessionFold(events, gapSeconds,
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()) { (state, _) =>
      idleTimeout.foreach(state.setTimeoutDuration)
    }

  /** The per-key gap fold of [[streamingSessionize]] and
    * [[streamingSessionizeEventTime]]: a timed-out key drops its state;
    * otherwise the key's rows fold in (ts, event_id) order against the
    * stored (last event µs, session counter), the state is updated, and
    * `expire` arms the state's timeout from the new last event time. */
  private def sessionFold(events: Dataset[Ev], gapSeconds: Long,
      timeoutConf: GroupStateTimeout)(
      expire: (GroupState[SessState], Long) => Unit): Dataset[SessOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append(), timeoutConf) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var (lastTs, n) = state.getOption
              .map(s => (s.lastTsMicros, s.sessionN)).getOrElse((Long.MinValue, 0L))
            // full µs precision (getTime alone truncates to ms, which would
            // misnumber sub-ms gaps relative to the batch operator's
            // unix_micros arithmetic)
            def micros(t: java.sql.Timestamp): Long =
              Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
            val out = rows.toSeq.sortBy(r => (micros(r.ts), r.event_id)).map { r =>
              val tsMicros = micros(r.ts)
              if (lastTs == Long.MinValue || tsMicros - lastTs > gapSeconds * 1000000L)
                n += 1
              // max, never assignment: an accepted late or cross-batch
              // out-of-order row (older than the state's latest event)
              // joins the open session (negative delta above) without
              // REWINDING the session clock — otherwise a subsequent event
              // within gap of the true latest would be misnumbered into a
              // spurious new session, and an event-time timeout would
              // shrink so state could expire before trueLast + gap;
              // identity for in-order input
              lastTs = math.max(lastTs, tsMicros)
              SessOut(uid, r.event_id, r.ts, n)
            }
            state.update(SessState(lastTs, n))
            expire(state, lastTs)
            out.iterator
          }
      }
  }

  /** EVENT-TIME watermarked sessionization — the late-data-bounded form
    * of [[streamingSessionize]]: the input carries
    * `withWatermark("ts", lateness)`, the state uses EventTimeTimeout,
    * and Spark's stateful operator then FILTERS input rows older than
    * the current watermark (late beyond `lateness` → dropped, never
    * misnumbered into a closed session) and expires per-key state once
    * the watermark passes `lastTs + gap` — state lifetime is bounded by
    * EVENT time, the semantically right clock for sessions (a processing
    * -time timeout [[streamingSessionize]] uses can evict keys of a
    * paused-but-replaying source mid-session; an event-time timeout
    * cannot). An event arriving after its key's state expired starts a
    * new session numbered from that key's last counter only if the state
    * survived — after expiry it restarts at 1, which is exactly the
    * gap-semantics answer (the watermark passing lastTs + gap PROVES the
    * session closed).
    *
    * The watermark also makes the drop deterministic and testable: late
    * rows within `lateness` are accepted and fold by event-time order
    * within their micro-batch; rows older than the watermark established
    * by PRIOR batches never reach the fold (StreamingSpec asserts both
    * sides). */
  def streamingSessionizeEventTime(events: Dataset[Ev], gapSeconds: Long,
      lateness: String): Dataset[SessOut] =
    sessionFold(events.withWatermark("ts", lateness), gapSeconds,
      GroupStateTimeout.EventTimeTimeout()) { (state, lastTs) =>
      // expire once the watermark proves the gap elapsed — event-time
      // state bound; ms precision is what the timeout API offers
      state.setTimeoutTimestamp(lastTs / 1000L + gapSeconds * 1000L)
    }

  final case class BufEv(micros: Long, eventId: Long)
  final case class SessBufState(pending: Seq[BufEv], lastTsMicros: Long, sessionN: Long)

  /** BUFFERED event-time sessionization — the exact-ordering sibling of
    * [[streamingSessionizeEventTime]]. That form folds accepted-late rows
    * into the open session immediately (max-guard, never rewinding the
    * clock), which preserves session MEMBERSHIP but emits rows in arrival
    * order. This form buffers every row in state until the watermark
    * passes its event time; only then is the row numbered and emitted —
    * so the output sequence per key is in TRUE event-time order and the
    * session numbering is exactly what the batch operator
    * ([[graft.operators.TimeSeries.sessionize]]) would assign over the
    * same accepted rows. The price is latency (nothing emits until the
    * watermark passes it) and state (pending rows ride the store instead
    * of a scalar pair) — the standard buffer-until-watermark trade for
    * consumers that need replayable, ordered session logs.
    *
    * Correctness argument: a row at event time t is FINAL once the
    * watermark W > t, because the stateful operator admits no future row
    * with ts < W. So each tick emits the pending rows with t < W in
    * (t, event_id) order, and the fold across ticks is monotone in t —
    * emitted rows always precede every still-pending or future row in
    * event time, so plain assignment (no max-guard) is exact. State
    * expires via EventTimeTimeout once W passes `maxKnown + gap`: at
    * that point the buffer has fully drained (all pending < W) and the
    * gap provably closed, so the state is flushed and removed; a later
    * event restarts numbering at 1 — the gap-semantics answer.
    *
    * Scale: state per key is O(pending rows within the lateness
    * horizon), bounded by `lateness × per-key arrival rate` — the same
    * envelope Spark's own streaming dropDuplicates/session-window
    * operators carry. */
  def streamingSessionizeBuffered(events: Dataset[Ev], gapSeconds: Long,
      lateness: String): Dataset[SessOut] = {
    import events.sparkSession.implicits._
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    val gapMicros = gapSeconds * 1000000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBufState, SessOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[SessBufState]) =>
          val st = state.getOption.getOrElse(SessBufState(Vector.empty, Long.MinValue, 0L))
          var (lastTs, n) = (st.lastTsMicros, st.sessionN)
          def fold(evs: Seq[BufEv]): Seq[SessOut] =
            evs.sortBy(b => (b.micros, b.eventId)).map { b =>
              if (lastTs == Long.MinValue || b.micros - lastTs > gapMicros) n += 1
              lastTs = b.micros // monotone across ticks — see scaladoc
              SessOut(uid, b.eventId, toTs(b.micros), n)
            }
          if (state.hasTimedOut) {
            // W > maxKnown + gap: every pending row is final and the
            // session provably closed — flush ordered, drop the state
            val out = fold(st.pending)
            state.remove()
            out.iterator
          } else {
            val wmMicros = state.getCurrentWatermarkMs() * 1000L
            val all = st.pending ++ rows.map(r => BufEv(micros(r.ts), r.event_id))
            val (ripe, hold) = all.partition(_.micros < wmMicros)
            val out = fold(ripe)
            val maxKnown = (hold.map(_.micros) :+ lastTs).max
            if (hold.isEmpty &&
                (lastTs == Long.MinValue || lastTs + gapMicros < wmMicros)) {
              // nothing pending and the gap already elapsed behind the
              // watermark: the session is closed NOW, no timeout needed
              state.remove()
            } else {
              state.update(SessBufState(hold, lastTs, n))
              // flush-and-expire once the watermark proves the gap passed
              // the latest known event (ms precision is the timeout API's)
              state.setTimeoutTimestamp(
                Math.floorDiv(maxKnown, 1000L) + gapSeconds * 1000L + 1L)
            }
            out.iterator
          }
      }
  }

  final case class Point(key: String, ts: java.sql.Timestamp, value: Double)
  final case class EwmaOut(key: String, ts: java.sql.Timestamp, ewma: Double)
  final case class EwmaState(ewma: Double)

  /** Streaming EWMA per key via flatMapGroupsWithState — the micro-batch
    * form of [[graft.operators.Ewma]]: state is one double per key.
    * Within a micro-batch, rows are folded in event-time order. A fresh
    * key seeds state at 0.0 — the batch operator's convention
    * (`Ewma.withEwma` resets state to 0.0 on group change), so the first
    * emitted value for any key is α·v in both modes (parity asserted in
    * StreamingSpec).
    *
    * State lifecycle (same optional-timeout pattern as
    * [[streamingSessionize]]): without `idleTimeout`, one double per key
    * lives for the job lifetime — tiny per key, unbounded over an
    * unbounded key population. Set `idleTimeout` (a duration string) to
    * evict keys idle that long in PROCESSING time; a key arriving after
    * eviction re-seeds from 0.0, the documented cold-start convention —
    * i.e. expiry forgets smoothing history, exactly what an EWMA of a
    * long-silent series should do. As with [[streamingSessionize]], such
    * a query does not terminate under `Trigger.AvailableNow`. */
  def streamingEwma(points: Dataset[Point], alpha: Double,
      idleTimeout: Option[String] = None): Dataset[EwmaOut] = {
    import points.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), timeoutConf)(ewmaTick(alpha, idleTimeout))
  }

  /** EVENT-TIME watermarked EWMA — the late-data-bounded form of
    * [[streamingEwma]] (same pattern as [[streamingSessionizeEventTime]]):
    * `withWatermark` + EventTimeTimeout makes the stateful operator drop
    * rows older than the watermark (a late point can no longer rewrite a
    * smoothed history that downstream already consumed) and expires a
    * key's state once the watermark passes `lastTs + horizonSeconds` —
    * the smoothing memory of a series silent that long SHOULD reset
    * (cold-start re-seeds from 0.0, the documented convention). */
  def streamingEwmaEventTime(points: Dataset[Point], alpha: Double,
      lateness: String, horizonSeconds: Long): Dataset[EwmaOut] = {
    import points.sparkSession.implicits._
    points
      .withWatermark("ts", lateness)
      .groupByKey(_.key)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[Point], state: GroupState[EwmaState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var cur = state.getOption.map(_.ewma).getOrElse(0.0)
            var lastMs = Long.MinValue
            val out = rows.toSeq.sortBy(_.ts.getTime).map { p =>
              cur = (1.0 - alpha) * cur + alpha * p.value
              lastMs = math.max(lastMs, p.ts.getTime)
              EwmaOut(key, p.ts, cur)
            }
            state.update(EwmaState(cur))
            if (lastMs != Long.MinValue)
              state.setTimeoutTimestamp(lastMs + horizonSeconds * 1000L)
            out.iterator
          }
      }
  }

  /** The per-group fold behind [[streamingEwma]], exposed so the
    * timeout/eviction contract is unit-testable with `TestGroupState`
    * (a registered processing-time timeout keeps scheduling timeout-check
    * batches after the data drains, which wedges processAllAvailable-
    * style synchronization — the same constraint the sessionize spec
    * documents — so cross-batch eviction can't be driven deterministically
    * through the engine in a test). */
  private[streaming] def ewmaTick(alpha: Double, idleTimeout: Option[String])(
      key: String, rows: Iterator[Point], state: GroupState[EwmaState]): Iterator[EwmaOut] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      var cur = state.getOption.map(_.ewma).getOrElse(0.0)
      val out = rows.toSeq.sortBy(_.ts.getTime).map { p =>
        cur = (1.0 - alpha) * cur + alpha * p.value
        EwmaOut(key, p.ts, cur)
      }
      state.update(EwmaState(cur))
      idleTimeout.foreach(state.setTimeoutDuration)
      out.iterator
    }
}
