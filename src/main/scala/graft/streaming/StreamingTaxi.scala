package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** §2.12 — the streaming twin of the W5 taxi trip segmentation
  * (pipelines/Taxi.segmentPoints, TaxiDataHelper.py:195-320), the second
  * "naturally streamable" reference input after sessionization: GPS pings
  * arrive per vehicle in event-time order and trip breaks must be decided
  * online.
  *
  * Why custom state instead of windows: the backward stationary time at
  * point p sums the stationary stretch AFTER p — a suffix quantity. A
  * point can therefore only be finalized once its trailing stretch
  * resolves (a fast/zero-gap point arrives, or the stream flushes), which
  * is exactly a buffer-and-replay `flatMapGroupsWithState`:
  *
  *  - state per vehicle = the last finalized point (forward context: its
  *    coordinates/status for the next delta, its forward stationary
  *    accumulator, the trip counter) + the raw buffer of not-yet-final
  *    points (the open stationary tail — bounded by the longest stop, the
  *    same window the reference's backward iterrows pass needs);
  *  - each micro-batch replays the SEQUENTIAL reference recurrence over
  *    buffer + new points (sorted by (ts, tie)) and emits every point
  *    whose backward value is exactly resolved;
  *  - an event-time timeout (`flushHorizonMs` past the last ping) flushes
  *    the buffer with end-of-stream semantics and keeps the forward
  *    context, so a vehicle resuming later still gets exact deltas; a
  *    second idle horizon garbage-collects the context.
  *
  * The recurrence is Taxi.segmentPoints' own [[graft.pipelines.Taxi.Scan]]
  * (fwd: reset-to-zero-else-accumulate; bwd: bwd(i) = 0 if next point is
  * fast/missing else seconds(i+1) + bwd(i+1)), resumed from the state's
  * forward context; only the seconds arithmetic differs (epoch
  * milliseconds here, Spark's timestamp-to-double cast in batch).
  * StreamingTaxiSpec proves row-level batch/stream parity on a fixture
  * exercising all 5 break predicates. Late data behind the last
  * finalized point is dropped (the batch path is the replay story
  * there).
  */
object StreamingTaxi {

  final case class Pt(cab: String, ts: Timestamp, tie: Long,
      x: Double, y: Double, status: Long)

  final case class SegOut(cab: String, ts: Timestamp, tie: Long,
      seconds: Option[Double], feet: Option[Double], speed: Option[Double],
      fwd_stationary: Double, bwd_stationary: Double,
      is_break: Int, trip_id: Long)

  /** Raw buffered point (tsMs, tie, x, y, status). */
  final case class Raw(tsMs: Long, tie: Long, x: Double, y: Double, status: Long)

  final case class TaxiState(
      prev: Option[Raw], fwdSt: Double, tripCount: Long, buffer: Vector[Raw])

  import graft.pipelines.Taxi
  import graft.pipelines.Taxi.{SpeedThresholdMph, StationarySeconds,
    MaxSecondsBetween, MaxFeetBetween}

  /** One replay pass: returns (emitted, next state). */
  def process(st: TaxiState, incoming: Vector[Raw], endOfStream: Boolean)
      : (Vector[SegOut], TaxiState) = {
    val cutoff = st.prev.map(p => (p.tsMs, p.tie))
    // NO .distinct here: exact duplicate pings (at-least-once producers)
    // are real rows the batch path keeps (second one emits seconds = 0),
    // and buffer/incoming never overlap by construction (the cutoff
    // filter owns the emitted boundary) — a dedup here broke row-level
    // batch/stream parity on duplicated input
    val pts = (st.buffer ++ incoming
        .filterNot(p => cutoff.exists { case (t, k) =>
          p.tsMs < t || (p.tsMs == t && p.tie <= k) }))
      .sortBy(p => (p.tsMs, p.tie))
    if (pts.isEmpty) return (Vector.empty, st)

    // the batch recurrence, resumed from the last finalized point: a
    // point is emitted once a later point (or end-of-stream) resolves its
    // backward stationary time; the rest stay buffered
    val scan = new Taxi.Scan[Raw](SpeedThresholdMph, StationarySeconds,
      MaxSecondsBetween, MaxFeetBetween, st.fwdSt, st.tripCount)
    val out = Vector.newBuilder[SegOut]
    var last: Option[(Raw, Double)] = None
    val emit: (Raw, Taxi.Seg) => Unit = (p, s) => {
      out += SegOut("", new Timestamp(p.tsMs), p.tie, s.step.seconds,
        s.step.feet, s.speed, s.fwd, s.bwd,
        if (s.isBreak.contains(true)) 1 else 0, s.tripId)
      last = Some((p, s.fwd))
    }
    var prev = st.prev
    pts.foreach { p =>
      scan.push(p, Taxi.Step(prev.map(q => (p.tsMs - q.tsMs) / 1000.0),
        prev.map(q => Taxi.feet(q.x, q.y, p.x, p.y)),
        Some(prev.exists(_.status != p.status))))(emit)
      prev = Some(p)
    }
    if (endOfStream) scan.finish(emit)
    (out.result(), TaxiState(last.map(_._1).orElse(st.prev),
      last.fold(st.fwdSt)(_._2), scan.tripCount, scan.pending.toVector))
  }

  def update(flushHorizonMs: Long)(
      key: String, events: Iterator[Pt], state: GroupState[TaxiState])
      : Iterator[SegOut] = {
    val st = state.getOption.getOrElse(TaxiState(None, 0.0, 0L, Vector.empty))
    // a timeout candidate may already sit behind the advancing watermark
    // (that is exactly what fired the flush) — clamp forward or Spark
    // rejects it
    def armTimeout(candidateMs: Long): Unit =
      state.setTimeoutTimestamp(
        math.max(candidateMs, state.getCurrentWatermarkMs() + 1))
    if (state.hasTimedOut) {
      if (st.buffer.isEmpty) { state.remove(); Iterator.empty }
      else {
        val (outs, next) = process(st, Vector.empty, endOfStream = true)
        state.update(next)
        // context kept for exact deltas if the vehicle resumes; a second
        // idle horizon GCs it (buffer now empty -> remove branch above).
        // The horizon must be measured from NOW (the watermark): the
        // last point's own timestamp is already >= one horizon behind
        // the watermark — that's what fired this flush — so arming from
        // it would clamp to watermark+1 and GC the kept context on the
        // very next tick instead of after a second idle horizon.
        next.prev.foreach(_ =>
          armTimeout(state.getCurrentWatermarkMs() + flushHorizonMs))
        outs.iterator.map(_.copy(cab = key))
      }
    } else {
      val pts = events.map(p => Raw(p.ts.getTime, p.tie, p.x, p.y, p.status)).toVector
      val (outs, next) = process(st, pts, endOfStream = false)
      state.update(next)
      next.buffer.lastOption match {
        case Some(last) => armTimeout(last.tsMs + flushHorizonMs)
        case None if outs.nonEmpty =>
          // everything buffered got finalized and emitted this batch:
          // prev IS the last emitted point — a fresh timestamp, so the
          // horizon measured from it is the normal idle contract
          armTimeout(next.prev.get.tsMs + flushHorizonMs)
        case None if next.prev.isEmpty =>
          // nothing buffered, nothing emitted, nothing ever kept (every
          // input was late): no reason for this state to exist
          state.remove()
        case None =>
          // post-flush kept context and a no-op batch (late/duplicate
          // pings only): LEAVE the GC timer from the flush in place.
          // Re-arming from prev.tsMs would clamp to watermark+1 — prev
          // is already a horizon behind the watermark — and destroy the
          // kept context on the next tick.
          ()
      }
      outs.iterator.map(_.copy(cab = key))
    }
  }

  /** Wire over a (watermarked, streaming) Dataset[Pt]. */
  def segment(ds: Dataset[Pt], flushHorizonMinutes: Double): Dataset[SegOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.cab)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        update((flushHorizonMinutes * 60000).toLong))
  }
}
