package graft
import graft.gates.Gate
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate's result → parquet, plus
  * oracle_sql.json (the attempted gates' oracles, sorted by name), for the
  * driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query names for fast iteration;
    // an unknown name throws here, before the session starts
    val attempted = SparkEntry.selected(args.drop(2).headOption)
    // SPARK_GRAFT_MASTER=local-cluster[2,2,2048] runs the whole gate across
    // REAL executor JVMs (closure serialization, broadcast transport, kryo —
    // everything single-JVM local mode hides); SPARK_GRAFT_JARS must then
    // point at the packaged application jar for the executor classpath
    val builder = Sessions.builder()
    sys.env.get("SPARK_GRAFT_MASTER").foreach(builder.master)
    sys.env.get("SPARK_GRAFT_JARS").foreach(builder.config("spark.jars", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    attempted.foreach { case Gate(name, run, _) =>
      // a result left by an earlier run must not pass for a gate that now throws
      graft.streaming.FileReplay.deleteRecursively(new java.io.File(s"$outDir/$name"))
      // repartition(1), NOT coalesce(1): coalesce propagates up to the last
      // shuffle boundary, so a query whose final operator is a join/filter
      // (no aggregate) would run its whole heavy stage in ONE task
      // (measured 204 s vs 8.5 s for q_containment at sf2); repartition
      // inserts an exchange and keeps upstream parallelism. The gate sorts
      // rows before hashing, so the changed row order is irrelevant.
      try run(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = attempted
      .map(g => s"${q(g.name)}: ${q(g.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
