package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SURVEY §2 operator inventory is the coverage contract — an operator
  * shipped in `SparkEntry.gates` but absent from the checklist is invisible
  * coverage, and a checklist row with no query is a false claim. This spec
  * pins the two to exact equality so the checklist can never drift again
  * (it once did: five shipped queries had no §2 row).
  */
class SurveyDriftSpec extends AnyFunSuite {

  private def section2: String = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val start = text.indexOf("## §2")
    val end = text.indexOf("## §3")
    assert(start >= 0 && end > start, "SURVEY.md must contain §2 and §3 headers")
    text.substring(start, end)
  }

  // a §2 row declares its query as | `q_name` | in the second column
  // (q1_pricing breaks the q_ prefix pattern, hence the digit class)
  private val RowKey = raw"\|\s*`(q[0-9]*_[a-z0-9_]+)`\s*\|".r

  test("SURVEY §2 declares exactly the queries SparkEntry ships") {
    val declared = RowKey.findAllMatchIn(section2).map(_.group(1)).toSet
    val shipped = SparkEntry.gates.map(_.name).toSet
    val undeclared = shipped -- declared
    val phantom = declared -- shipped
    assert(undeclared.isEmpty,
      s"shipped but missing from SURVEY §2 (add a checklist row): ${undeclared.toSeq.sorted.mkString(", ")}")
    assert(phantom.isEmpty,
      s"declared in SURVEY §2 but not shipped in SparkEntry.gates: ${phantom.toSeq.sorted.mkString(", ")}")
  }

  test("gate names are unique: a repeated name fails the registry") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.distinct.size == names.size)
    val g = SparkEntry.gate("q_stg_cast")
    val e = intercept[IllegalArgumentException](SparkEntry.uniqueNames(Seq(g, g)))
    assert(e.getMessage.contains("duplicate gate names: q_stg_cast"))
  }

  test("an unknown gate name throws") {
    intercept[NoSuchElementException](SparkEntry.gate("q_no_such_gate"))
  }
}
