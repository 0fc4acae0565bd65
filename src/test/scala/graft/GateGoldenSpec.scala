package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every gate's oracle text: the SHA-256 of each `Gate.oracle` must
  * equal its row in `src/test/resources/gate_golden.tsv` (see
  * [[GateGolden]] for how to regenerate it after an intended change). */
class GateGoldenSpec extends AnyFunSuite {

  test("every gate's oracle hash matches the golden file") {
    val golden = GateGolden.read()
    val current = GateGolden.current
    val missing = (current.keySet -- golden.keySet).toSeq.sorted
    val extra = (golden.keySet -- current.keySet).toSeq.sorted
    val changed = current.keySet.intersect(golden.keySet).toSeq.sorted
      .filter(g => golden(g) != current(g))
    assert(missing.isEmpty, s"gates missing from ${GateGolden.Path}: ${missing.mkString(", ")}")
    assert(extra.isEmpty, s"gates in ${GateGolden.Path} but not shipped: ${extra.mkString(", ")}")
    assert(changed.isEmpty, s"oracle text changed: ${changed.mkString(", ")}")
  }

  test("the golden file is sorted, one row per gate under its header") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(GateGolden.Path)), java.nio.charset.StandardCharsets.UTF_8)
    assert(text == GateGolden.render(GateGolden.read()))
  }

  test("two builds of SparkEntry.gates give equal oracle strings") {
    val again = GateGolden.isolatedOracles()
    val here = SparkEntry.gates.map(g => g.name -> g.oracle).toMap
    assert(again.keySet == here.keySet)
    val differ = here.keySet.toSeq.sorted.filter(g => again(g) != here(g))
    assert(differ.isEmpty, s"oracle text differs between two builds: ${differ.mkString(", ")}")
  }
}
