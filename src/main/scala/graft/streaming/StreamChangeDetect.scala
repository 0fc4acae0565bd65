package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import TsMicros.micros

/** Stateful streaming change detection — the streaming counterpart of
  * `graft.operators.ChangeDetect`. The reference re-reads a lag buffer each
  * incremental run (models/intermediate/int_status_changes.sql, statuses_buffer
  * CTE); here per-key last-status lives in the state store and each
  * micro-batch emits only genuine transitions.
  */
object StreamChangeDetect {

  /** `event_id` is the intra-timestamp tie-break (default 0 where the
    * source has no stable id): two same-key events sharing a microsecond
    * timestamp are applied in event_id order, matching a batch
    * `lag() OVER (ORDER BY ts, event_id)` formulation deterministically. */
  case class StatusEvent(
      key: Long, ts: java.sql.Timestamp, status: String, event_id: Long = 0L)
  case class StatusChange(
      key: Long, ts: java.sql.Timestamp, status: String, previous_status: Option[String])
  case class LastStatus(status: String, tsMicros: Long)

  /** Emit one row per status transition (first observation counts as a
    * transition from None). Events inside a micro-batch are ordered by ts
    * before applying state — the iterator order is not guaranteed. Events
    * older than the already-applied state (late arrivals from a previous
    * batch) are dropped rather than emitted as inverted transitions; bound
    * lateness upstream with a watermark if late data must be captured.
    */
  def changes(ds: Dataset[StatusEvent]): Dataset[StatusChange] = {
    implicit val changeEnc = Encoders.product[StatusChange]
    implicit val stateEnc = Encoders.product[LastStatus]
    implicit val keyEnc = Encoders.scalaLong
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: Long, events: Iterator[StatusEvent], state: GroupState[LastStatus]) => {
          val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[StatusChange]
          var last = state.getOption
          sorted.foreach { e =>
            val isLate = last.exists(_.tsMicros > micros(e.ts))
            if (!isLate && !last.exists(_.status == e.status)) {
              out += StatusChange(key, e.ts, e.status, last.map(_.status))
              last = Some(LastStatus(e.status, micros(e.ts)))
            }
          }
          last.foreach(state.update)
          out.iterator
        })
  }
}
