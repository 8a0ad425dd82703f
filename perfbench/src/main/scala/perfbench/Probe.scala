package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark task, in driver wall-clock milliseconds. */
final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, schedDelayMs: Long, fetchWaitMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, failed: Boolean)

/** Records what the Spark runtime did: every task, job and stage
  * (SparkListener), every query's planning time (QueryPlanningTracker
  * phases, via a QueryExecutionListener) and the codegen compile
  * counters. Everything lands in append-only buffers; a caller takes
  * a [[Probe.Mark]] before and after a region and reads the slice.
  */
final class Probe(spark: SparkSession) {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val planMs = ArrayBuffer.empty[Long]
  @volatile private var jobs = 0L
  @volatile private var stages = 0L
  @volatile private var stagesRetried = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      if (e.stageInfo.attemptNumber() > 0) stagesRetried += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, i.failed)
        else {
          val duration = i.finishTime - i.launchTime
          // the web UI's scheduler-delay formula
          val sched = math.max(0L, duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
          TaskRec(i.launchTime, i.finishTime, m.executorRunTime,
            m.executorCpuTime, m.jvmGCTime, sched,
            m.shuffleReadMetrics.fetchWaitTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.diskBytesSpilled + m.memoryBytesSpilled, i.failed)
        }
      tasks.synchronized(tasks += rec)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      planMs.synchronized(planMs += ms)
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def mark(): Probe.Mark = {
    drain()
    Probe.Mark(tasks.synchronized(tasks.length), planMs.synchronized(planMs.length),
      jobs, stages, stagesRetried, Probe.compileCount(), Probe.compileNs())
  }

  def tasksBetween(a: Probe.Mark, b: Probe.Mark): Seq[TaskRec] =
    tasks.synchronized(tasks.slice(a.tasks, b.tasks).toSeq)

  def planMsBetween(a: Probe.Mark, b: Probe.Mark): Long =
    planMs.synchronized(planMs.slice(a.plans, b.plans).sum)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }
}

object Probe {
  final case class Mark(tasks: Int, plans: Int, jobs: Long, stages: Long,
      stagesRetried: Long, compileN: Long, compileNs: Long)

  def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

/** Process and host counters: CPU time, GC time, heap in use, host
  * steal and load average.
  */
object Jvm {
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap in use right after a full collection: the live set. */
  def liveHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** 1-minute load average, -1 when unavailable. */
  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Host steal jiffies (/proc/stat cpu field 8, USER_HZ = 100). */
  def stealJiffies(): Long =
    try {
      val t = Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim.split("\\s+")
      if (t.length > 8) t(8).toLong else 0L
    } catch { case _: Exception => 0L }
}
