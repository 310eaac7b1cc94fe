package graft.dedup

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** One LSH bucket's bounded-horizon store — the stateful stage of the
  * streaming near-dup operators ([[StreamingNearDup]] over minhash
  * signatures, [[StreamingEmbedDedup]] over quantized vectors). Per
  * micro-batch and bucket:
  *   1. load the bucket's MapState entries (one row per stored id) and
  *      purge those past the horizon inline (cheaper than waiting for
  *      the timer when the bucket is already being touched),
  *   2. fold the arrivals in (event time, id) order — a replayed id is
  *      skipped (exact-dedup's job); a new one is offered to every
  *      stored entry through the pair rule, then stored unless the
  *      bucket already holds `capacity` entries (an over-capacity
  *      arrival still pairs, but a bucket that hot is boilerplate the
  *      batch layer dedups wholesale),
  *   3. re-arm the bucket's single event-time timer at the earliest
  *      entry expiry; the timer purges a bucket no arrival touches.
  *
  * The subclass supplies the stored entry and the pair rule; the state
  * name and value encoder are its checkpoint layout.
  */
abstract class HorizonBucket[In, E <: HorizonBucket.Entry, Out](
    stateName: String, entryEncoder: Encoder[E], horizonMs: Long,
    capacity: Int)
    extends StatefulProcessor[String, In, Out] {

  @transient private var store: MapState[Long, E] = _

  /** The arrival's id. */
  protected def id(r: In): Long
  /** The arrival's event time in ms. */
  protected def tsMs(r: In): Long
  /** The entry stored for an arrival. */
  protected def entry(r: In): E
  /** The pair rule: the output, if any, for the stored entry `e` (id
    * `sid`) and arrival `r`. */
  protected def pair(sid: Long, e: E, r: In): Option[Out]

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    store = getHandle.getMapState[Long, E](
      stateName, Encoders.scalaLong, entryEncoder, TTLConfig.NONE)

  /** Re-arm the single per-bucket timer at the earliest entry expiry
    * (clamped one ms past the watermark — at-or-below never fires). */
  private def rearm(entries: Iterable[Long], timers: TimerValues): Unit = {
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    if (entries.nonEmpty)
      getHandle.registerTimer(math.max(entries.min + horizonMs,
        timers.getCurrentWatermarkInMs() + 1L))
  }

  /** Drop stored entries past the horizon; the live ones, by id. */
  private def purge(timers: TimerValues): scala.collection.mutable.Map[Long, E] = {
    val wm = timers.getCurrentWatermarkInMs()
    val live = scala.collection.mutable.Map.empty[Long, E]
    store.iterator().foreach { case (id, e) =>
      if (e.tsMs + horizonMs > wm) live(id) = e
      else store.removeKey(id)
    }
    live
  }

  override def handleInputRows(
      bk: String,
      rows: Iterator[In],
      timers: TimerValues): Iterator[Out] = {
    val m = purge(timers)
    val out = List.newBuilder[Out]
    // deterministic fold order within the batch
    rows.toSeq.sortBy(r => (tsMs(r), id(r))).foreach { r =>
      if (!m.contains(id(r))) { // replayed id = exact-dedup's job
        m.foreach { case (sid, e) => out ++= pair(sid, e, r) }
        if (m.size < capacity) {
          m(id(r)) = entry(r)
          store.updateValue(id(r), m(id(r)))
        }
      }
    }
    rearm(m.values.map(_.tsMs), timers)
    out.result().iterator
  }

  override def handleExpiredTimer(
      bk: String,
      timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[Out] = {
    rearm(purge(timers).values.map(_.tsMs), timers)
    Iterator.empty
  }
}

object HorizonBucket {
  /** A stored entry: its arrival's event time in ms. */
  trait Entry { def tsMs: Long }
}
