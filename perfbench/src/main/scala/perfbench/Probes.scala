package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters read from outside the program: a SparkListener for
  * scheduling, shuffle and input volumes, a QueryExecutionListener for
  * Catalyst phase times and exchange counts, and the JVM's management
  * beans. Callers diff two [[snapshot]]s around a window. The listeners
  * only count while `on` is set, so a traced run can switch them off for
  * its untraced comparison passes.
  */
class Probes(spark: SparkSession) {
  @volatile var on: Boolean = false

  private val c = Seq("sched.jobs", "sched.stages", "sched.tasks",
    "sched.task_ms", "sched.single_task_stage_ms", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.spill_bytes", "sources.input_bytes",
    "shuffle.exchanges", "plans.analysis_ms", "plans.optimization_ms",
    "plans.planning_ms").map(_ -> new AtomicLong()).toMap

  private def add(k: String, v: Long): Unit = if (on) c(k).addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("sched.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("sched.stages", 1)
      if (i.numTasks == 1)
        for (s <- i.submissionTime; d <- i.completionTime)
          add("sched.single_task_stage_ms", d - s)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("sched.task_ms", m.executorRunTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("sources.input_bytes", m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      add("plans.analysis_ms", ms("analysis"))
      add("plans.optimization_ms", ms("optimization"))
      add("plans.planning_ms", ms("planning"))
      add("shuffle.exchanges", Probes.exchanges(qe.executedPlan))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def settle(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Map[String, Double] =
    c.map { case (k, v) => k -> v.get.toDouble } ++ Probes.jvm()
}

object Probes {
  /** Shuffle exchanges in an executed plan, looking through adaptive
    * plans, query stages and subqueries; a reused exchange runs no work
    * and is not counted.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case _ => (p.children ++ p.subqueries).map(exchanges).sum
  }

  private val jit = ManagementFactory.getCompilationMXBean

  /** Cumulative JVM counters: GC and JIT milliseconds, janino compiles. */
  def jvm(): Map[String, Double] = Map(
    "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum.toDouble,
    "jvm.jit_ms" -> (if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime.toDouble else 0.0),
    "jvm.janino_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount.toDouble)

  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** Peak heap in use right after a garbage collection, over the window
  * between `start` and `stop`: the live set plus whatever survived,
  * independent of how far the young generation filled before each
  * collection. Falls back to the heap in use at `stop` when no collection
  * ran in the window.
  */
class HeapPeak {
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val peak = new AtomicLong(0)
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
      peak.accumulateAndGet(used, math.max)
    }

  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    val p = peak.get
    (if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
}
