package perfbench

import scala.collection.mutable
import graft.streaming.{FileReplay, StreamChangeDetect, StreamSessionize}
import graft.sources.Tables
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Status changes and gap sessions computed incrementally: the event log is
  * replayed as event-time-ordered files, one file per micro-batch under
  * `Trigger.AvailableNow`, through two append-mode streaming queries.
  */
object Stream {
  private val SessionGapUs = 1800L * 1000000L

  /** Write the two replays under `work`: `files` ordered files each, plus
    * two far-future sentinel files after the sessions replay. The first
    * sentinel moves the watermark past every real session's close; the
    * second makes a batch run with that watermark, so every real session is
    * emitted. */
  def prepare(spark: SparkSession, in: String, work: String, files: Int): Unit = {
    val ev = Tables.events(spark, in)
    FileReplay.writeOrdered(
      ev.select(col("user_id").as("key"), col("ts"), col("event_type").as("status"),
        col("event_id")),
      Seq("ts", "event_id"), files, s"$work/replay_changes")
    FileReplay.writeOrdered(ev.select("user_id", "ts"), Seq("ts"), files,
      s"$work/replay_sessions")
    val endUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0) + 7200L * 1000000L
    Seq(endUs, endUs + 7200L * 1000000L).foreach { t =>
      FileReplay.appendFile(spark.range(1).select(lit(-1L).as("user_id"),
        timestamp_micros(lit(t)).as("ts")), s"$work/replay_sessions")
    }
  }

  /** One pass: both queries from fresh checkpoints, the results of the
    * previous pass dropped first. Returns each query's `triggerExecution`
    * time per micro-batch, in ms. */
  def run(spark: SparkSession, work: String, pass: Int, step: StepRunner): Map[String, Seq[Double]] = {
    dropResults(spark)
    val batchMs = mutable.LinkedHashMap.empty[String, Seq[Double]]
    def drain(name: String, q: StreamingQuery): Unit =
      try {
        q.awaitTermination()
        batchMs(name) = q.recentProgress.toSeq.map(_.durationMs.get("triggerExecution").doubleValue)
      } finally q.stop()

    step("stream_changes") {
      val dir = s"$work/replay_changes"
      val events = FileReplay.stream(spark, dir, spark.read.parquet(dir).schema)
        .as(Encoders.product[StreamChangeDetect.StatusEvent])
      drain("stream_changes", StreamChangeDetect.changes(events).writeStream
        .format("memory").queryName(s"stream_changes_$pass").outputMode("append")
        .option("checkpointLocation", s"$work/ckpt/changes_$pass")
        .trigger(Trigger.AvailableNow()).start())
    }

    step("stream_sessions") {
      val dir = s"$work/replay_sessions"
      val sessions = StreamSessionize.sessions(
        FileReplay.stream(spark, dir, spark.read.parquet(dir).schema),
        Seq("user_id"), "ts", gap = "30 minutes", watermark = "0 seconds")
      drain("stream_sessions", sessions.writeStream
        .format("memory").queryName(s"stream_sessions_$pass").outputMode("append")
        .option("checkpointLocation", s"$work/ckpt/sessions_$pass")
        .trigger(Trigger.AvailableNow()).start())
    }
    batchMs.toMap
  }

  /** Write pass `pass`'s final outputs in the shape of the oracles. */
  def saveOutputs(spark: SparkSession, out: String, pass: Int): Unit = {
    spark.table(s"stream_changes_$pass").select(
        col("key").as("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("status"), col("previous_status"))
      .write.mode("overwrite").parquet(s"$out/stream_changes.parquet")
    spark.table(s"stream_sessions_$pass").filter(col("user_id") =!= -1L).select(
        col("user_id"),
        unix_micros(col("session_start_ts")).as("session_start_us"),
        (unix_micros(col("session_end_ts")) - SessionGapUs).as("session_end_us"),
        col("n_events"))
      .write.mode("overwrite").parquet(s"$out/stream_sessions.parquet")
  }

  private def dropResults(spark: SparkSession): Unit =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
}
