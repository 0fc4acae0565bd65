package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate-name argument of `Bench` and `Verify`: every name resolves
  * through `SparkEntry.gate` before a session starts, so a misspelled name
  * fails loudly instead of silently dropping a gate from the run.
  */
class GateSelectionSpec extends AnyFunSuite {

  test("selected resolves names, sorted, and defaults to every gate") {
    assert(SparkEntry.selected(None).map(_.name) == SparkEntry.gates.map(_.name).sorted)
    assert(SparkEntry.selected(Some("q_sessionize,q1_pricing,q_sessionize")).map(_.name) ==
      Seq("q1_pricing", "q_sessionize"))
  }

  test("Bench and Verify reject an unknown gate name before starting Spark") {
    val bench = intercept[NoSuchElementException](
      Bench.main(Array("q1_pricing,q_no_such_gate")))
    assert(bench.getMessage.contains("q_no_such_gate"))
    val out = java.nio.file.Files.createTempDirectory("graft_verify").resolve("out").toFile
    val verify = intercept[NoSuchElementException](
      Verify.main(Array(SparkEntry.SmokeDir, out.toString, "q_sessionise")))
    assert(verify.getMessage.contains("q_sessionise"))
    assert(!out.exists(), "Verify wrote output for a rejected gate list")
  }
}
