package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import TsMicros.{micros, tsFromMicros}

/** Streaming type-2 slowly-changing dimension — the live twin of
  * `graft.operators.ChangeDetect.scd2`: dimension history maintained as
  * events arrive, instead of rebuilt from scratch each batch run.
  *
  * Per-key state carries only the CURRENT open version (status,
  * valid_from, version ordinal) — O(keys), not O(history); history lives
  * in the emitted rows. Append-mode contract: a version row is emitted
  * when it OPENS (valid_to null, is_current true) and re-emitted when it
  * CLOSES (valid_to = successor's ts, is_current false) — the standard
  * stream-to-dim-merge feed, where the sink upserts on (key, version) and
  * the closed emission supersedes the open one. Collapsing emissions that
  * way reproduces the batch SCD2 table exactly (gate-pinned).
  */
object StreamScd2 {

  import StreamChangeDetect.StatusEvent

  case class Scd2Version(
      key: Long,
      status: String,
      valid_from: java.sql.Timestamp,
      valid_to: Option[java.sql.Timestamp],
      version: Long,
      is_current: Boolean)

  case class CurrentVersion(status: String, validFromMicros: Long, version: Long)

  /** Open/close version emissions per the contract above. Events inside a
    * micro-batch are ordered by (ts, event_id) before applying state;
    * same-status events extend the open version silently; events older
    * than the open version's valid_from are dropped as late (bound
    * lateness upstream if they must count).
    */
  def versions(ds: Dataset[StatusEvent]): Dataset[Scd2Version] = {
    implicit val outEnc = Encoders.product[Scd2Version]
    implicit val stateEnc = Encoders.product[CurrentVersion]
    implicit val keyEnc = Encoders.scalaLong
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: Long, events: Iterator[StatusEvent], state: GroupState[CurrentVersion]) => {
          val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Version]
          var cur = state.getOption
          sorted.foreach { e =>
            val em = micros(e.ts)
            val isLate = cur.exists(_.validFromMicros > em)
            if (!isLate) cur match {
              case None =>
                cur = Some(CurrentVersion(e.status, em, 1L))
                out += Scd2Version(key, e.status, e.ts, None, 1L, is_current = true)
              case Some(c) if c.status != e.status =>
                out += Scd2Version(key, c.status, tsFromMicros(c.validFromMicros),
                  Some(e.ts), c.version, is_current = false)
                cur = Some(CurrentVersion(e.status, em, c.version + 1L))
                out += Scd2Version(key, e.status, e.ts, None, c.version + 1L,
                  is_current = true)
              case _ => () // same status: the open version absorbs it
            }
          }
          cur.foreach(state.update)
          out.iterator
        })
  }
}
