package graft.gates

import graft.SparkSpec

/** The stream-gate harness's guards: a replay that runs too few micro-batches
  * fails the gate, and every failure path deletes the replay dir and restores
  * the session's shuffle partitions.
  */
class StreamGateSpec extends SparkSpec {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  private def replayDirs(gate: String): Seq[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith(s"graft-replay-$gate-")).toSeq

  private def events = spark.range(40).selectExpr("id", "timestamp_micros(id) AS ts")

  test("a one-file replay fails the >=5 micro-batch guard, leaving no replay dir") {
    val prior = spark.conf.get(ShufflePartitions)
    val e = intercept[IllegalArgumentException] {
      StreamingGates.memoryGate(spark, "q_spec_one_file", events, Seq("ts"), "append",
        chunks = 1)(stream => stream)
    }
    assert(e.getMessage.contains("expected >=5 micro-batches"), e.getMessage)
    assert(replayDirs("q_spec_one_file").isEmpty)
    assert(spark.conf.get(ShufflePartitions) == prior)
  }

  test("a query that fails to start leaves no replay dir") {
    val prior = spark.conf.get(ShufflePartitions)
    val e = intercept[IllegalStateException] {
      StreamingGates.replayGate(spark, "q_spec_bad_start", events, Seq("ts")) { (_, _) =>
        throw new IllegalStateException("start failed")
      }
    }
    assert(e.getMessage == "start failed")
    assert(replayDirs("q_spec_bad_start").isEmpty)
    assert(spark.conf.get(ShufflePartitions) == prior)
  }

  test("a six-file replay passes the guard and returns the sink table") {
    val out = StreamingGates.memoryGate(spark, "q_spec_six_files", events, Seq("ts"),
      "append")(stream => stream)
    assert(out.count() == 40)
    assert(replayDirs("q_spec_six_files").isEmpty)
  }
}
