package graft

/** Plan-shape pin for the composed curation pipeline (q_curation_pipeline):
  * lang-id, quality and fingerprint are scan-side expressions fused onto
  * their input, so the whole chain plans exactly TWO exchanges — the block
  * re-assembly aggregation on doc_id (extraction explodes to block grain
  * and aggregates kept blocks back) and the dedup window's hash partition
  * on fingerprint — and never joins an intermediate. If a refactor
  * materializes a stage (an extra shuffle, a join), this catches it.
  */
class CurationPipelinePlanSpec extends SparkSpec {

  test("q_curation_pipeline: two exchanges (block re-assembly + dedup window), no joins") {
    val df = SparkEntry.gate("q_curation_pipeline").run(spark, SparkEntry.SmokeDir)
    val phys = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(phys).length
    assert(exchanges == 2,
      s"expected the doc_id re-assembly + fingerprint window exchanges, got $exchanges:\n$phys")
    assert(phys.contains("Exchange hashpartitioning(fingerprint"),
      s"dedup window must partition on fingerprint:\n$phys")
    assert(!phys.contains("SortMergeJoin") && !phys.contains("BroadcastHashJoin"),
      s"the pipeline must not join intermediates:\n$phys")
  }
}
