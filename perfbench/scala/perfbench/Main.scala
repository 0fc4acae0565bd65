package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Runs each pipeline step, counting the executions and those that threw. */
final class StepRunner(trace: Option[Trace]) {
  val failures = mutable.LinkedHashMap.empty[String, String]
  val stepS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0

  def apply(name: String)(body: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try trace match {
      case Some(t) => t.step(name)(body)
      case None => body
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    stepS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
  }
}

/** One benchmark run in a fresh JVM: generate the seeded inputs, run the
  * untimed warm passes, then timed passes until `seconds` have elapsed (at
  * least two), and with `trace` one traced pass followed by one more
  * untraced pass. Writes every timing and count to `result`; the caller
  * checks the step outputs.
  *
  * CPU times leave out the JIT compiler threads (see `cpuS`).
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <result.json>
  */
object Main {
  final case class Size(events: Long, users: Long, replayFiles: Int, docs: Long, warmPasses: Int)

  // Without the JIT compiler threads, the first pass after one warm pass
  // still took ~5 % more CPU than later ones on kwwhat and ~20 % more on
  // curation, whose passes are half as long; a second kwwhat warm pass
  // does not fit the time budget of a full evaluation (4 + 22 runs per
  // workload within 3420 s)
  val Sizes: Map[String, Size] = Map(
    "kwwhat" -> Size(events = 12000L, users = 180L, replayFiles = 3, docs = 0L, warmPasses = 1),
    "curation" -> Size(events = 0L, users = 0L, replayFiles = 0, docs = 4000L, warmPasses = 2))

  val MinPasses = 2

  def main(args: Array[String]): Unit =
    try run(args) catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val started = cpuS()
    val Array(workload, seedS, secondsS, traceS, work, resultPath) = args
    val size = Sizes.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seconds = secondsS.toDouble
    val cpus = Runtime.getRuntime.availableProcessors()
    val in = s"$work/input"
    val out = s"$work/output"

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val json = new Json
    json.num("ready_epoch_ms", System.currentTimeMillis().toDouble)
    json.num("session_cpu_s", cpuS() - started)
    json.num("cpus", cpus)

    val gen = new Gen(seedS.toLong)
    val genT0 = System.nanoTime()
    val genC0 = cpuS()
    if (size.events > 0) {
      gen.write(gen.events(spark, size.events, size.users), in, "events", cpus)
      Gen.assertShape(spark, s"$in/events.parquet", size.events, "user_id",
        (size.users * 0.99).toLong, size.users)
      Stream.prepare(spark, in, work, size.replayFiles)
    }
    if (size.docs > 0) {
      gen.write(gen.documents(spark, size.docs), in, "documents", cpus)
      Gen.assertShape(spark, s"$in/documents.parquet", size.docs, "doc_id", size.docs, size.docs)
    }
    json.num("gen_cpu_s", cpuS() - genC0)
    json.num("gen_s", (System.nanoTime() - genT0) / 1e9)

    // micro-batch times of the timed passes, per streaming query
    val batchMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var pass = 0
    /** One pass; returns its wall, CPU and JIT compiler CPU seconds. */
    def runPass(r: StepRunner, timed: Boolean): (Double, Double, Double) = {
      pass += 1
      val t0 = System.nanoTime()
      val c0 = cpuS()
      val j0 = jitCpuS()
      if (workload == "kwwhat") {
        Kwwhat.run(spark, in, out, r)
        Stream.run(spark, work, pass, r).foreach { case (q, ms) =>
          if (timed) batchMs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) ++= ms
        }
      } else Curation.run(spark, in, out, r)
      ((System.nanoTime() - t0) / 1e9, cpuS() - c0, jitCpuS() - j0)
    }

    val warm = new StepRunner(None)
    val warmPasses = (1 to size.warmPasses).map(_ => runPass(warm, timed = false))
    json.nums("warm_s", warmPasses.map(_._1))
    json.nums("warm_cpu_s", warmPasses.map(_._2))
    val timed = new StepRunner(None)
    val passes = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += runPass(timed, timed = true)
    if (workload == "kwwhat") Stream.saveOutputs(spark, out, pass)
    json.nums("pass_s", passes.map(_._1).toSeq)
    json.nums("pass_cpu_s", passes.map(_._2).toSeq)
    json.nums("pass_jit_cpu_s", passes.map(_._3).toSeq)
    json.obj("step_s_p50", timed.stepS.toSeq.map { case (k, v) => k -> Metrics.quantile(v.toSeq, 0.5) })
    json.num("vmhwm_kb", vmHwmKb())

    val runners = mutable.ArrayBuffer(warm, timed)
    if (traceS == "1") {
      val trace = new Trace(spark)
      val gc0 = gcMs()
      trace.start()
      val tr = new StepRunner(Some(trace))
      runners += tr
      val tracedS = runPass(tr, timed = false)._1
      trace.stop()
      val gcS = (gcMs() - gc0) / 1000.0
      // the untraced passes on either side of the traced one, so that the
      // JIT warm-up between passes does not count as listener overhead
      val after = new StepRunner(None)
      runners += after
      val around = Seq(passes.last._1, runPass(after, timed = false)._1)
      json.obj("trace", Metrics.perLayer(trace, tracedS, around, gcS,
        batchMs.toSeq.map { case (q, ms) => q -> ms.toSeq }))
    }
    json.num("attempted", runners.map(_.attempted).sum)
    json.num("failed", runners.map(_.failed).sum)
    json.strs("failures",
      runners.flatMap(_.failures).distinctBy(_._1).map { case (k, v) => s"$k: $v" }.toSeq)
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(resultPath), json.render.getBytes("UTF-8"))
  }

  /** CPU seconds of this JVM without its JIT compiler threads: the work of
    * the program (tasks, planning, scheduling, GC), not of compiling it.
    * Compilation took more than half of a run's CPU, and kept on through
    * every pass. */
  private def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9 - jitCpuS()

  /** CPU seconds of the JIT compiler threads so far, from /proc (the JVM
    * runs with -XX:-UseDynamicNumberOfCompilerThreads, so none of them
    * exits and takes its time along). */
  private def jitCpuS(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(t, "stat").toPath), "UTF-8")
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0.0
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / ClockTicks // utime + stime
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum
  }

  /** USER_HZ, the unit of /proc/<pid>/stat times on Linux. */
  private val ClockTicks = 100.0

  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** Peak resident set size of this JVM, from /proc/self/status. */
  private def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}

/** Minimal JSON object writer for the result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def n(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(k: String, v: Double): Unit = fields += s"${q(k)}:${n(v)}"
  def nums(k: String, vs: Seq[Double]): Unit =
    fields += s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}"
  def strs(k: String, vs: Seq[String]): Unit =
    fields += s"${q(k)}:${vs.map(q).mkString("[", ",", "]")}"
  def obj(k: String, m: Seq[(String, Double)]): Unit =
    fields += s"${q(k)}:${m.map { case (a, b) => s"${q(a)}:${n(b)}" }.mkString("{", ",", "}")}"
  def render: String = fields.mkString("{", ",", "}")
}
