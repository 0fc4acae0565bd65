package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import TsMicros.micros

/** Streaming last-touch attribution — the live twin of
  * `graft.operators.Attribution.lastTouch`: conversions are credited as
  * they arrive instead of re-deriving the whole frame per batch run.
  *
  * Per-key state carries only the touches inside the lookback window
  * (pruned as event time advances — O(touches-per-user-per-window), the
  * bound a soak can pin), never the conversions and never history.
  * Append-mode contract: one attribution row per conversion, emitted in
  * the micro-batch the conversion arrives in. Over an event-time-ordered
  * replay the emission set equals the batch operator exactly — the same
  * (ts, id) row-order semantics: a same-instant touch with a smaller id
  * is attributable (it precedes the conversion in row order) but never
  * counted in the window (the range frame ends at conv−1 µs).
  */
object StreamAttribution {

  case class TouchStreamEvent(
      key: Long,
      ts: java.sql.Timestamp,
      event_id: Long,
      etype: String,
      is_touch: Boolean,
      is_conv: Boolean)

  case class Touch(ts_us: Long, id: Long, etype: String)

  case class TouchWindow(touches: List[Touch])

  case class AttributedConv(
      conversion_id: Long,
      key: Long,
      conv_ts_us: Long,
      touch_id: Option[Long],
      touch_ts_us: Option[Long],
      touch_type: Option[String],
      age_us: Option[Long],
      n_touches_window: Long)

  def attributed(
      ds: Dataset[TouchStreamEvent],
      lookbackUs: Long): Dataset[AttributedConv] = {
    implicit val outEnc = Encoders.product[AttributedConv]
    implicit val stateEnc = Encoders.product[TouchWindow]
    implicit val keyEnc = Encoders.scalaLong
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: Long, events: Iterator[TouchStreamEvent], state: GroupState[TouchWindow]) => {
          val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          // oldest-first so "latest touch" is the last element
          var touches = state.getOption.map(_.touches).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributedConv]
          sorted.foreach { e =>
            val em = micros(e.ts)
            // event time only moves forward here, so pruning against the
            // current row keeps every touch any LATER conversion could use
            touches = touches.filter(_.ts_us >= em - lookbackUs)
            if (e.is_conv) {
              val carry = touches.lastOption // latest (ts, id) before this row
              val n = touches.count(_.ts_us < em)
              out += AttributedConv(e.event_id, key, em,
                carry.map(_.id), carry.map(_.ts_us), carry.map(_.etype),
                carry.map(em - _.ts_us), n.toLong)
            }
            if (e.is_touch) touches = touches :+ Touch(em, e.event_id, e.etype)
          }
          if (touches.isEmpty) state.remove() else state.update(TouchWindow(touches))
          out.iterator
        })
  }
}
