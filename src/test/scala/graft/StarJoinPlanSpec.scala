package graft

/** Plan-shape pin for the star-join rollup (q_multi_join_agg). The r5
  * rewrite pushed a partial revenue aggregation below the orders join —
  * shrinking the shuffled fact side ~4:1 and collapsing the
  * countDistinct(orderkey) Expand into count(1). This spec keeps that
  * shape from silently regressing:
  *   - the optimized plan aggregates lineitem on l_orderkey BELOW the
  *     first join (partial agg feeds the join, not the other way around);
  *   - nation/region arrive via BroadcastHashJoin;
  *   - no Expand node (the count-distinct double-shuffle is gone).
  */
class StarJoinPlanSpec extends SparkSpec {

  test("q_multi_join_agg: partial agg below the join, dims broadcast, no Expand") {
    val df = SparkEntry.gate("q_multi_join_agg").run(spark, SparkEntry.SmokeDir)
    val opt = df.queryExecution.optimizedPlan.toString
    val aggIdx = opt.indexOf("Aggregate [l_orderkey")
    val joinIdx = opt.indexOf("Join ")
    assert(aggIdx >= 0, s"per-orderkey partial aggregate missing:\n$opt")
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"partial aggregate must sit BELOW the join (agg@$aggIdx, join@$joinIdx):\n$opt")

    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"nation/region must broadcast:\n$phys")
    assert(!phys.contains("Expand"),
      s"countDistinct Expand resurfaced (should be count(1) after pre-agg):\n$phys")
  }
}
