package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-step counters gathered by the traced run. */
final class StepRecord {
  var selfS = 0.0
  var cpuNs = 0L
  var jobs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var exchanges = 0L
  var sorts = 0L
  var codegenFallbacks = 0L
  var taskRetries = 0L
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
}

/** The traced run's three listeners. Jobs carry the running step's name as
  * a local property, so task metrics are grouped per step; plans and stream
  * progress arrive without it and are credited to the step that was running,
  * which is exact because steps run one at a time and the listener bus is
  * drained after each one. Everything stays in memory until the run ends.
  */
final class Trace(spark: SparkSession) {
  val steps = mutable.LinkedHashMap.empty[String, StepRecord]
  private val stageStep = mutable.HashMap.empty[Int, String]
  private val plans = mutable.ArrayBuffer.empty[SparkPlan]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def rec(step: String): StepRecord = steps.getOrElseUpdate(step, new StepRecord)

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Trace.StepKey))).foreach { s =>
        rec(s).jobs += 1
        e.stageIds.foreach(stageStep(_) = s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageStep.get(e.stageId).foreach { s =>
        val r = rec(s)
        if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) r.taskRetries += 1
        Option(e.taskMetrics).foreach { m =>
          r.cpuNs += m.executorCpuTime
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.synchronized { plans += qe.executedPlan }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(taskListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` as step `name`, timing it and crediting what it did. */
  def step(name: String)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.StepKey, name)
    val t0 = System.nanoTime()
    try body finally {
      val dt = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Trace.StepKey, null)
      org.apache.spark.PerfbenchBus.drain(sc)
      val r = synchronized(rec(name))
      r.selfS += dt
      plans.synchronized {
        plans.foreach { p =>
          val c = Trace.planCounts(p)
          r.exchanges += c._1; r.sorts += c._2; r.codegenFallbacks += c._3
        }
        plans.clear()
      }
      progress.synchronized { r.progress ++= progress; progress.clear() }
    }
  }
}

object Trace {
  val StepKey = "perfbench.step"

  /** (shuffle exchanges, sorts, codegen-fallback expressions) in an executed
    * plan, looking through adaptive plans and query stages. */
  def planCounts(plan: SparkPlan): (Long, Long, Long) = {
    var ex, so, fb = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case n =>
        n match {
          case _: ShuffleExchangeLike => ex += 1
          case _: SortExec => so += 1
          case _ =>
        }
        fb += n.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
        n.subqueries.foreach(walk)
        n.children.foreach(walk)
    }
    walk(plan)
    (ex, so, fb)
  }
}
