package graft

import org.apache.spark.sql.functions._

/** Semantics + plan pin for q_grouping_sets (multi-grain aggregation in one
  * pass). GROUPING SETS must plan as ONE Expand feeding ONE partial
  * aggregation — each input row fans out to its grains before the map-side
  * combine, so the exchange carries one partial row per (grain, key), never
  * a per-grain rescan of the fact table (three separate groupBys would scan
  * the corpus three times at 100 TB).
  */
class GroupingSetsSpec extends SparkSpec {
  import spark.implicits._

  test("grouping sets: grand total == per-flag totals == leaf totals; one Expand, one scan") {
    val df = SparkEntry.gate("q_grouping_sets").run(spark, SparkEntry.SmokeDir)
    val rows = df.select("sum_qty", "n_rows", "g_flag", "g_status")
      .as[(Double, Long, Long, Long)].collect()

    val leaves = rows.filter(r => r._3 == 0 && r._4 == 0)
    val flags = rows.filter(r => r._3 == 0 && r._4 == 1)
    val grand = rows.filter(r => r._3 == 1 && r._4 == 1)
    assert(grand.length == 1, "exactly one grand-total row")
    assert(leaves.nonEmpty && flags.nonEmpty)
    assert(leaves.map(_._2).sum == grand.head._2, "row counts roll up to the grand total")
    assert(flags.map(_._2).sum == grand.head._2, "per-flag counts roll up to the grand total")
    // decimal sums are exact, so the rollup identity holds to the cent
    assert(math.abs(leaves.map(_._1).sum - grand.head._1) < 1e-6)

    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("Expand"), s"grouping sets must plan via Expand:\n$phys")
    assert("Expand".r.findAllIn(phys).size == 1, s"exactly one Expand:\n$phys")
    val scans = "Scan parquet".r.findAllIn(phys).size
    assert(scans == 1, s"one fact scan for all grains, got $scans:\n$phys")
  }
}
