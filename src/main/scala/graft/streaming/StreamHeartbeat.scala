package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import TsMicros.{micros, tsFromMicros}

/** Streaming heartbeat-gap (offline outage) detection — the streaming
  * counterpart of `graft.operators.Intervals.heartbeatGaps` and of the
  * reference's incremental int_offline_outages
  * (models/intermediate/outages/int_offline_outages.sql: each run re-reads
  * a buffer and merges boundary-touching outages). Here per-entity
  * last-heartbeat state lives in the state store:
  *
  *  - a heartbeat arriving more than `thresholdSeconds` after the previous
  *    one emits a CLOSED gap ending at the new heartbeat immediately;
  *  - an entity that stops emitting entirely is caught by an event-time
  *    timeout: when the watermark passes last_ts + threshold, an ONGOING
  *    gap up to the watermark is emitted (`closed = false`), and extended
  *    by further increments on later timeouts — a dead charger surfaces
  *    without waiting for its next message, the case a batch lag() can
  *    never see.
  *
  * Emitted rows are NON-OVERLAPPING INCREMENTS of outage time: an ongoing
  * outage appears as a chain of touching [from, to] rows (the closed row
  * that ends it starts where the last increment stopped). That makes the
  * output both delta-summable (daily downtime = sum of allocated increment
  * minutes — see [[StreamUptime]]) and reconstructable
  * ([[mergeIncrements]] re-merges touching increments into whole outages,
  * exactly how the reference's incremental merge re-reads its boundary
  * buffer).
  *
  * All event-time arithmetic is MICROSECOND-exact: heartbeats carry Spark
  * microsecond timestamps, state stores epoch micros, and closed-gap
  * endpoints reproduce the input timestamps bit-for-bit — which is what
  * lets the q_stream_outages gate hash-compare the emitted outage set
  * against the batch formulation. (Only the watermark — the `to` edge of
  * an ONGOING increment — is millisecond-grain, because that is the grain
  * Spark exposes; a consumer bounding outages at a monitoring-window edge
  * clips that edge anyway.)
  *
  * State is one (tsMicros, emittedOpenUntil) pair per entity — O(entities),
  * independent of event volume; scales with the RocksDB state store.
  */
object StreamHeartbeat {

  case class Heartbeat(key: Long, ts: java.sql.Timestamp)
  case class Gap(
      key: Long, from_ts: java.sql.Timestamp, to_ts: java.sql.Timestamp, closed: Boolean)
  case class LastSeen(tsMicros: Long, emittedOpenUntil: Long)

  /** @param watermark max event lateness (e.g. "1 minute") — drives the
    *                   event-time timeouts that surface silent entities.
    *                   A delay longer than the stream's whole horizon
    *                   disables timeouts: only CLOSED inter-heartbeat gaps
    *                   are emitted (the mode [[StreamUptime]]'s gate uses).
    */
  def gaps(
      ds: Dataset[Heartbeat],
      thresholdSeconds: Long,
      watermark: String = "0 seconds"): Dataset[Gap] = {
    implicit val gapEnc = Encoders.product[Gap]
    implicit val stateEnc = Encoders.product[LastSeen]
    implicit val keyEnc = Encoders.scalaLong
    val thresholdUs = thresholdSeconds * 1000000L
    ds.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (key: Long, events: Iterator[Heartbeat], state: GroupState[LastSeen]) => {
          val out = scala.collection.mutable.ArrayBuffer.empty[Gap]
          if (!events.hasNext) {
            // timeout fired: watermark passed last_ts + threshold with no
            // new heartbeat → the entity is silent RIGHT NOW; emit the
            // not-yet-reported increment of the ongoing outage
            state.getOption.foreach { s =>
              val wmUs = state.getCurrentWatermarkMs() * 1000L
              val from = math.max(s.tsMicros, s.emittedOpenUntil)
              if (wmUs > s.tsMicros + thresholdUs && wmUs > from) {
                out += Gap(key, tsFromMicros(from), tsFromMicros(wmUs), closed = false)
                state.update(LastSeen(s.tsMicros, wmUs))
                // ceiling to ms so the next timeout never fires a hair early
                state.setTimeoutTimestamp(Math.floorDiv(wmUs + thresholdUs + 999L, 1000L))
              }
            }
          } else {
            val sorted = events.toSeq.sortBy(e => micros(e.ts))
            var last = state.getOption
            sorted.foreach { e =>
              val t = micros(e.ts)
              last match {
                case Some(s) if t > s.tsMicros =>
                  // start the closed increment where open increments stopped;
                  // if t == from the closed row is ZERO-LENGTH — emitted
                  // anyway, because [[mergeIncrements]]' chain-break between
                  // two adjacent outages sharing this boundary heartbeat
                  // depends on it. (Unreachable through the real stream
                  // path today: emittedOpenUntil only holds PAST watermark
                  // values and Spark's late filter drops ts <= wm, so a
                  // surviving heartbeat has t > from — spec-pinned; this is
                  // defense in depth should those semantics ever change.)
                  val from = math.max(s.tsMicros, s.emittedOpenUntil)
                  if (t - s.tsMicros > thresholdUs && t >= from)
                    out += Gap(key, tsFromMicros(from), tsFromMicros(t), closed = true)
                  last = Some(LastSeen(t, 0L))
                case None => last = Some(LastSeen(t, 0L))
                case _ => // late/duplicate heartbeat — state already newer
              }
            }
            last.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(Math.floorDiv(s.tsMicros + thresholdUs + 999L, 1000L))
            }
          }
          out.iterator
        })
  }

  /** Reconstruct whole outages from a dump of [[gaps]] increments: a row
    * CONTINUES the current chain when the previous row (per key, in from_ts
    * order) was an OPEN increment ending exactly where this row starts —
    * open increments stamp `emittedOpenUntil` into state, and the follow-up
    * increment (open extension or the closed row that ends the outage)
    * starts at precisely that microsecond. Two genuinely ADJACENT outages
    * (both above threshold, sharing one boundary heartbeat) are NOT merged:
    * the earlier one ends with a closed row, which breaks the chain.
    * `closed` on the merged row says whether the outage was ultimately
    * ended by a real heartbeat or was still open at the last increment.
    */
  def mergeIncrements(gapRows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("from_ts"), col("to_ts"))
    gapRows
      .withColumn("_prev_closed", lag(col("closed"), 1).over(w))
      .withColumn("_prev_to", lag(col("to_ts"), 1).over(w))
      .withColumn("_break",
        when(col("_prev_closed") === false && col("_prev_to") === col("from_ts"), 0L)
          .otherwise(1L))
      .withColumn("_chain",
        sum(col("_break")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("key"), col("_chain"))
      .agg(
        min(col("from_ts")).as("from_ts"),
        max(col("to_ts")).as("to_ts"),
        // a chain is open increments optionally ENDED by one closed row
        max(col("closed")).as("closed"))
      .select(col("key"), col("from_ts"), col("to_ts"), col("closed"))
  }
}
