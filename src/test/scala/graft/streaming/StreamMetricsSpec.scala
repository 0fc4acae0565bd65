package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The metric layer is frame-agnostic: the SAME SemanticModel declarations
  * that drive the batch q_metric_layer instantiate over a watermarked
  * streaming window — "define the metric once" extends to live dashboards.
  * (The reference's semantic layer is batch-only; this is the Spark-native
  * upgrade Structured Streaming gives for free, because measures are all
  * map-side-combinable streaming aggregates.)
  */
class StreamMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("the batch semantic-model declarations instantiate over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val model = graft.gates.KwwhatGates.visitSemanticModel
    val metricNames = Seq("total_visits", "total_charge_attempts",
      "first_attempt_success_rate", "failed_rate")

    val rows = Seq(
      // window 10:00: 3 visits — two single-attempt successes, one failure
      (1L, 1L, true, sqlTs("2024-01-01 10:05:00")),
      (2L, 1L, true, sqlTs("2024-01-01 10:20:00")),
      (3L, 2L, false, sqlTs("2024-01-01 10:40:00")),
      // window 11:00: 1 troubled success
      (4L, 3L, true, sqlTs("2024-01-01 11:10:00")))

    val input = MemoryStream[(Long, Long, Boolean, java.sql.Timestamp)]
    val df = input.toDF().toDF("session_seq", "n_events", "is_successful", "ts")
    val out = model.query(
      df.withWatermark("ts", "10 minutes"),
      Seq(window($"ts", "1 hour")), metricNames)
    val query = out.writeStream.format("memory").queryName("metric_stream")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      input.addData((9L, 1L, true, sqlTs("2024-01-02 00:00:00"))) // advance watermark
      query.processAllAvailable()

      val streamed = spark.table("metric_stream")
        .select($"window.start".cast("string").as("w") +:
          metricNames.map(col): _*)
        .where($"w" < "2024-01-02")
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap

      val batch = model.query(
          rows.toDF("session_seq", "n_events", "is_successful", "ts"),
          Seq(window($"ts", "1 hour")), metricNames)
        .select($"window.start".cast("string").as("w") +:
          metricNames.map(col): _*)
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap

      assert(streamed == batch,
        s"streaming metrics must equal batch metrics:\n$streamed\nvs\n$batch")
      assert(batch("2024-01-01 10:00:00") == Seq(3L, 4L, 2.0 / 3.0, 1.0 / 3.0))
      assert(batch("2024-01-01 11:00:00") == Seq(1L, 3L, 0.0, 0.0))
    } finally query.stop()
  }
}
