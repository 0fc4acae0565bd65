package graft
import graft.gates.Gate
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated query names for fast iteration (the
    // driver passes none and benches everything), resolved before the
    // session starts so a misspelled name fails instead of being dropped.
    // Sorted by name, so adding a gate never reorders the others (an
    // unstable order made round-over-round per-query deltas pure noise:
    // cold cache lands on whichever query happens to run first)
    val queryOrder = SparkEntry.selected(args.headOption)
    val cpus = Sessions.cpus.toInt
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (parquet footers, codegen, JIT) so per-query numbers
    // reflect steady-state cost, then time each query with a noop write —
    // count() would let column pruning skip projection-only query bodies.
    // Warm one query per major input table: sorted execution order puts
    // q1_pricing first, and it should not absorb the lineitem cold-read
    // cost for everyone else
    Seq("q_stg_cast", "q1_pricing", "q_sessionize", "q_text_stats",
      "q_knn_brute").map(SparkEntry.gate).foreach { g =>
      try g.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
    }
    // a failed query records -1 (never its elapsed time) so a regression
    // that breaks a query cannot masquerade as a speedup
    // median of 3 full passes: single-run per-query numbers wobble ±8%+
    // at this scale (two rounds chased phantom regressions), and a medianed
    // number is what a round-over-round delta can actually be judged on
    def runPass(keys: Set[String]): Map[String, Double] =
      queryOrder.filter(g => keys(g.name)).map { case Gate(name, run, _) =>
        val t0 = System.nanoTime()
        val elapsed =
          try { run(spark, sfDir).write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0 }
        name -> elapsed
      }.toMap
    val allKeys = queryOrder.map(_.name).toSet
    // the q_stream_* rows are the board's noise floor (each is Spark's
    // per-trigger machinery over ≥5-9 asserted micro-batches — the r15
    // streamfloor adjudication) and their median-of-3 has flip-flopped the
    // round-over-round geomean ±5% three rounds running with no structural
    // change underneath; batch rows are stable at 3. So: 3 full passes for
    // batch keys, 5 for stream keys — INTERLEAVED (full, stream, full,
    // stream, full) so every stream sample runs in the same ambient
    // environment as the full passes (r16 ran the two stream-only passes
    // back-to-back at the end, which the r16 advisor flagged: samples 4-5
    // saw a warmer, batch-free session than samples 1-3).
    val streamKeys = allKeys.filter(_.startsWith("q_stream_"))
    val passes = Seq(allKeys, streamKeys, allKeys, streamKeys, allKeys)
      .map(runPass)
    val results = queryOrder.map(_.name).map { name =>
      val ok = passes.flatMap(_.get(name)).filter(_ >= 0).sorted
      // median of the successful runs (3 batch / 5 stream samples); a key
      // is reported only if at least two samples succeeded. Lower middle
      // on an even count: with 2 survivors, ok(size/2) would report the
      // MAX — a phantom regression for any query that drops one pass
      name -> (if (ok.size < 2) -1.0 else ok((ok.size - 1) / 2))
    }
    // the full record (per-query seconds, rounded to ms — far below the
    // board's ±8% run-to-run noise) goes to BENCH_LOCAL.json and stdout;
    // the short total line is printed LAST (after spark.stop(), past the
    // shutdown log noise) so a reader keeping only the output's tail
    // still parses the total
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${r3(total(results))},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    println(totalLine(results, cpus))
  }

  private def r3(v: Double): String = f"$v%.3f"

  /** Seconds summed over the queries that ran; a failed query (−1) adds 0. */
  private def total(results: Seq[(String, Double)]): Double =
    results.map(_._2).filter(_ >= 0).sum

  /** The short total line: a fixed set of fields whatever the gate count.
    * `failed` counts the queries recorded as −1, so a query that broke
    * cannot hide inside a smaller total. */
  def totalLine(results: Seq[(String, Double)], cpus: Int): String =
    s"""{"metric":"total","value":${r3(total(results))},"unit":"sec",""" +
      s""""n":${results.size},"failed":${results.count(_._2 < 0)},"cpus":$cpus}"""
}
