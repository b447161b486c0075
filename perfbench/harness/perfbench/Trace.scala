package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own accounting for one round, read through public listener
  * APIs: scheduler counts, executor task metrics, shuffle bytes and
  * Catalyst planning-phase time. Attached only for traced rounds.
  */
final class Tracer(spark: SparkSession) {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs, shRead, shWrite, spill, peakMem = 0L
  private var planMs = 0.0

  private val tasksL = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += 1
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shRead += m.shuffleReadMetrics.totalBytesRead
        shWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val queriesL = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      Tracer.this.synchronized { planMs += ms }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    synchronized {
      jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
      shRead = 0; shWrite = 0; spill = 0; peakMem = 0; planMs = 0.0
    }
    spark.sparkContext.addSparkListener(tasksL)
    spark.listenerManager.register(queriesL)
  }

  /** Detach and return this round's totals. `wallS` is the round's wall
    * time; `slots` the task slots, for the scheduling gap.
    */
  def stop(wallS: Double, slots: Int): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasksL)
    spark.listenerManager.unregister(queriesL)
    synchronized {
      Map(
        "catalyst.plan_ms" -> planMs,
        "scheduler.jobs" -> jobs.toDouble,
        "scheduler.stages" -> stages.toDouble,
        "scheduler.tasks" -> tasks.toDouble,
        "scheduler.gap_s" -> (wallS - runMs / 1e3 / slots),
        "executor.run_s" -> runMs / 1e3,
        "executor.cpu_s" -> cpuNs / 1e9,
        "executor.gc_s" -> gcMs / 1e3,
        "executor.peak_mem_bytes" -> peakMem.toDouble,
        "shuffle.read_bytes" -> shRead.toDouble,
        "shuffle.write_bytes" -> shWrite.toDouble,
        "shuffle.spill_bytes" -> spill.toDouble)
    }
  }
}

/** Whole-JVM heap and GC accounting from the platform MXBeans. */
object Jvm {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  @volatile private var peak = 0L

  /** Heap in use just before each collection: the heap's local peaks. */
  private val onGc = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageBeforeGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }

  private def heapUsed: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Start tracking the heap peak from now on. */
  def watchHeap(): Unit = {
    synchronized { peak = heapUsed }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ => ()
    }
  }

  def heapPeakMb: Double = {
    val used = heapUsed
    val p = synchronized { math.max(peak, used) }
    p / 1048576.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Total codegen compile time so far, in milliseconds. */
  def compileMs: Double = CodeGenerator.compileTime / 1e6
}
