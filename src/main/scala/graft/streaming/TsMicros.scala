package graft.streaming

/** Timestamp ↔ epoch-microsecond conversion for the stateful stream
  * operators, whose state and ordering keys are full-µs epochs.
  */
private[streaming] object TsMicros {

  /** Full microsecond epoch — `Timestamp.getTime` is millis and would
    * collapse sub-millisecond event ordering (Spark timestamps carry µs). */
  def micros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Inverse of [[micros]]: a Timestamp carrying the full µs fraction. */
  def tsFromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
