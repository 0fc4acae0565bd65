package perfbench

/** Flattens a traced pass into named per-layer metrics. */
object Metrics {
  /** Linear-interpolated quantile, 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val k = (s.size - 1) * q
      val lo = k.toInt
      val hi = (lo + 1).min(s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (k - lo)
    }

  /** `aroundS`: wall times of the untraced passes just before and just
    * after the traced one, the baseline of `trace_overhead_frac`.
    * `batchMs`: each streaming query's micro-batch times in the untraced
    * timed passes, reported as p50/p90 with their sample count. */
  def perLayer(trace: Trace, tracedS: Double, aroundS: Seq[Double], gcS: Double,
      batchMs: Seq[(String, Seq[Double])]): Seq[(String, Double)] = {
    val steps = trace.steps.toSeq.flatMap { case (name, r) =>
      val base = Seq(
        s"$name.self_s" -> r.selfS,
        s"$name.cpu_s" -> r.cpuNs / 1e9,
        s"$name.jobs" -> r.jobs.toDouble,
        s"$name.shuffle_write_bytes" -> r.shuffleWriteBytes.toDouble,
        s"$name.spill_bytes" -> r.spillBytes.toDouble,
        s"$name.exchanges" -> r.exchanges.toDouble,
        s"$name.sorts" -> r.sorts.toDouble,
        s"$name.codegen_fallbacks" -> r.codegenFallbacks.toDouble)
      val stream = if (r.progress.isEmpty) Nil else {
        val ps = r.progress.map(_.progress).toSeq
        def dur(k: String) =
          quantile(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)), 0.5)
        Seq(
          s"$name.addBatch_ms_p50" -> dur("addBatch"),
          s"$name.walCommit_ms_p50" -> dur("walCommit"),
          s"$name.commitOffsets_ms_p50" -> dur("commitOffsets"),
          s"$name.state_commit_ms_p50" ->
            quantile(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble), 0.5),
          s"$name.state_rows" -> ps.last.stateOperators.map(_.numRowsTotal).sum.toDouble,
          s"$name.state_mem_bytes" -> ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max.toDouble)
      }
      base ++ stream
    }
    val batches = batchMs.flatMap { case (q, ms) => Seq(
      s"$q.microbatch_ms_p50" -> quantile(ms, 0.5),
      s"$q.microbatch_ms_p90" -> quantile(ms, 0.9),
      s"$q.micro_batches" -> ms.size.toDouble)
    }
    val recs = trace.steps.values
    steps ++ batches ++ Seq(
      "spill_bytes" -> recs.map(_.spillBytes).sum.toDouble,
      "gc_s" -> gcS,
      "task_retries" -> recs.map(_.taskRetries).sum.toDouble,
      "trace_overhead_frac" -> (tracedS / quantile(aroundS, 0.5) - 1.0),
      "traced_pass_s" -> tracedS,
      "untraced_pass_s_around" -> quantile(aroundS, 0.5),
      "unattributed_s" -> (tracedS - recs.map(_.selfS).sum))
  }
}
