package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s last stdout line: a few fixed fields whatever the gate count,
  * so a reader that keeps only the tail of the output still parses it. */
class BenchTotalLineSpec extends AnyFunSuite {

  private val names = SparkEntry.gates.map(_.name)

  test("total line stays under 150 bytes with every gate, worst-case values") {
    // every gate slow, then every gate failed: the widest value and count
    for (v <- Seq(99999.999, -1.0)) {
      val line = Bench.totalLine(names.map(_ -> v), cpus = 1024)
      assert(line.getBytes("UTF-8").length < 150, line)
      assert(!line.contains("\n"))
    }
  }

  test("total line carries metric, value, unit, n, failed and cpus") {
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 50 == 0) -1.0 else 0.5)
    }
    val failed = results.count(_._2 < 0)
    val json = new ObjectMapper().readTree(Bench.totalLine(results, cpus = 4))
    import scala.jdk.CollectionConverters._
    assert(json.fieldNames().asScala.toSeq ==
      Seq("metric", "value", "unit", "n", "failed", "cpus"))
    assert(json.get("metric").asText == "total")
    assert(json.get("unit").asText == "sec")
    assert(json.get("n").asInt == names.size)
    assert(json.get("failed").asInt == failed && failed > 0)
    assert(json.get("cpus").asInt == 4)
    // a failed query adds nothing to the total; it shows in `failed`
    assert(math.abs(json.get("value").asDouble - 0.5 * (names.size - failed)) < 1e-9)
  }
}
