package graft.streaming

import graft.operators.Intervals
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming daily-downtime pipeline — the streaming counterpart of
  * fact_downtime_daily / fact_uptime (models/marts/fact_downtime_daily.sql):
  * [[StreamHeartbeat]] outage increments → interval→day allocation → per
  * (entity, day) downtime minutes.
  *
  * Because [[StreamHeartbeat.gaps]] emits NON-OVERLAPPING increments, daily
  * downtime is a pure delta-sum: each micro-batch appends its allocated
  * increment minutes (`foreachBatch` — the blessed pattern for a stateful
  * stream feeding a second aggregation) and the daily table is the sum of
  * deltas per (key, date_id). Append-only writes, no upsert needed, safe
  * to re-aggregate under any partitioning — the same shape an exactly-once
  * sink (Delta/Iceberg MERGE) would consume at production scale.
  */
object StreamUptime {

  /** Start the pipeline: allocated per-day downtime deltas are written to
    * `deltaDir/batch_id=N` as parquet, OVERWRITING that batch's directory —
    * foreachBatch is at-least-once, so a replayed micro-batch after a crash
    * rewrites the same path instead of double-appending its deltas. Read
    * the current daily table with [[readDailyDowntime]].
    */
  def run(
      gaps: Dataset[StreamHeartbeat.Gap],
      deltaDir: String,
      checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None): StreamingQuery =
    trigger.foldLeft(
      gaps.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpointDir))(_ trigger _)
      .foreachBatch { (batch: Dataset[StreamHeartbeat.Gap], batchId: Long) =>
        // deltas are INTEGER microseconds: long sums are exact under any
        // batch boundary or partition order, so the read-side re-aggregation
        // is bit-stable (a double minutes column summed twice — per batch,
        // then across batches — would depend on summation order)
        Intervals.allocateToDays(batch.toDF(), "from_ts", "to_ts")
          .groupBy(col("key"), col("date_id"))
          .agg(sum(col("overlap_us")).as("downtime_us"))
          .write.mode("overwrite").parquet(s"$deltaDir/batch_id=$batchId")
        ()
      }
      .start()

  /** Current daily downtime: sum of the per-batch deltas per (key, day).
    * `deltaDir` itself is read: partition discovery finds its
    * `batch_id=N` directories. Before any micro-batch has committed there
    * are none yet — return an empty daily table instead of letting the
    * read fail to infer a schema.
    */
  def readDailyDowntime(spark: org.apache.spark.sql.SparkSession, deltaDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(deltaDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasBatches = fs.exists(root) &&
      fs.listStatus(root).exists(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
    if (!hasBatches) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "key bigint, date_id date, downtime_minutes double"))
    } else {
      spark.read.parquet(deltaDir)
        .groupBy(col("key"), col("date_id"))
        .agg((sum(col("downtime_us")) / lit(60000000.0)).as("downtime_minutes"))
    }
  }
}
