package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler-level counters the repository's `QueryMetricsListener`
  * does not keep: jobs, stages, tasks, executor run and CPU time, GC,
  * shuffle fetch wait, and per-stage task-time skew. */
final class StageListener extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs, fetchMs = new AtomicLong(0)
  private val taskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      fetchMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      val buf = taskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
      buf.synchronized { buf += m.executorRunTime }
    }
  }

  def reset(): Unit = {
    Seq(jobs, stages, tasks, runMs, cpuNs, gcMs, fetchMs).foreach(_.set(0))
    taskMs.clear()
  }

  /** Drains the listener bus first, so the last job's events are in. */
  def read(spark: SparkSession): Map[String, Double] = {
    ListenerDrain.waitUntilEmpty(spark.sparkContext, 10000L)
    val skew = taskMs.values.asScala.map { b =>
      val s = b.synchronized(b.sorted.toVector)
      val med = s(s.size / 2)
      if (s.size < 2 || med <= 0) 1.0 else s.last.toDouble / med
    }.foldLeft(1.0)(math.max)
    Map(
      "exec.jobs" -> jobs.get.toDouble, "exec.stages" -> stages.get.toDouble,
      "exec.tasks" -> tasks.get.toDouble, "exec.task_run_s" -> runMs.get / 1e3,
      "exec.task_cpu_s" -> cpuNs.get / 1e9, "exec.gc_s" -> gcMs.get / 1e3,
      "exec.fetch_wait_s" -> fetchMs.get / 1e3, "exec.stage_skew" -> skew)
  }
}

/** Planning phase times (`QueryPlanningTracker`) and exchange counts of
  * the final adaptive plan, summed over every action that reports to the
  * session's listener manager. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val analysis, optimization, planning = new DoubleAdder
  private val exchanges, single = new AtomicLong(0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def sec(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    analysis.add(sec("analysis"))
    optimization.add(sec("optimization"))
    planning.add(sec("planning"))
    val ex = collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }
    exchanges.addAndGet(ex.size)
    single.addAndGet(ex.count(_.outputPartitioning == SinglePartition))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def reset(): Unit = {
    Seq(analysis, optimization, planning).foreach(_.reset())
    exchanges.set(0); single.set(0)
  }

  def read(): Map[String, Double] = Map(
    "plan.analysis_s" -> analysis.sum, "plan.optimization_s" -> optimization.sum,
    "plan.planning_s" -> planning.sum, "plan.exchanges" -> exchanges.get.toDouble,
    "plan.single_partition_exchanges" -> single.get.toDouble)
}

/** Every `StreamingQueryProgress`, stamped with the wall clock at which
  * it arrived: the progress event follows the batch's commit. */
final class StreamListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(System.currentTimeMillis() -> e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)] =
    progress.asScala.toSeq
}
