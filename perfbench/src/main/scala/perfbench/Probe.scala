package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters. A measurement takes a snapshot before and
  * after the operation and reports the difference. */
final case class Counters(
    taskAttempts: Long = 0, taskSuccesses: Long = 0,
    recordsRead: Long = 0, recordsWritten: Long = 0,
    shuffleWriteBytes: Long = 0, spillDiskBytes: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, schedDelayMs: Long = 0,
    jobs: Long = 0, planMs: Long = 0,
    scanFiles: Long = 0, scanBytes: Long = 0, writeFiles: Long = 0, writeBytes: Long = 0) {

  def -(o: Counters): Counters = Counters(
    taskAttempts - o.taskAttempts, taskSuccesses - o.taskSuccesses,
    recordsRead - o.recordsRead, recordsWritten - o.recordsWritten,
    shuffleWriteBytes - o.shuffleWriteBytes, spillDiskBytes - o.spillDiskBytes,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs, schedDelayMs - o.schedDelayMs,
    jobs - o.jobs, planMs - o.planMs,
    scanFiles - o.scanFiles, scanBytes - o.scanBytes,
    writeFiles - o.writeFiles, writeBytes - o.writeBytes)
}

/** One listener on both buses the engine reports to:
  *
  *  - the scheduler bus (task metrics, job start/end), for executor work,
  *    attempts, shuffle, spill and the intervals in which any job ran;
  *  - the SQL execution-listener bus, for Catalyst planning phases
  *    (`QueryExecution.tracker`) and the scan and write nodes' SQLMetrics.
  *
  * Input bytes come from the scan nodes' `filesSize`/`numFiles` metrics,
  * never from `inputMetrics.bytesRead`, which under-reports local parquet
  * scans by orders of magnitude.
  */
final class Probe extends SparkListener with QueryExecutionListener {

  private var c = Counters()
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def snapshot(): Counters = synchronized(c)

  /** Milliseconds of `[t0, t1]` (epoch ms) during which at least one job
    * was running. */
  def busyMs(t0: Long, t1: Long): Long = synchronized {
    val clipped = jobSpans.iterator
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.toVector.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    var n = c.copy(
      taskAttempts = c.taskAttempts + 1,
      taskSuccesses = c.taskSuccesses + (if (i.successful) 1 else 0))
    if (m != null) {
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      n = n.copy(
        recordsRead = n.recordsRead + m.inputMetrics.recordsRead,
        recordsWritten = n.recordsWritten + m.outputMetrics.recordsWritten,
        shuffleWriteBytes = n.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillDiskBytes = n.spillDiskBytes + m.diskBytesSpilled,
        runMs = n.runMs + m.executorRunTime,
        cpuNs = n.cpuNs + m.executorCpuTime,
        gcMs = n.gcMs + m.jvmGCTime,
        schedDelayMs = n.schedDelayMs + delay)
    }
    c = n
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val plan = qe.tracker.phases.valuesIterator.map(_.durationMs).sum
    var scanFiles, scanBytes, writeFiles, writeBytes = 0L
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    Probe.nodes(qe.executedPlan).foreach {
      case w: DataWritingCommandExec =>
        writeFiles += metric(w, "numFiles")
        writeBytes += metric(w, "numOutputBytes")
      case p if p.children.isEmpty && p.metrics.contains("numFiles") =>
        scanFiles += metric(p, "numFiles")
        scanBytes += metric(p, "filesSize")
      case _ => ()
    }
    synchronized {
      c = c.copy(planMs = c.planMs + plan,
        scanFiles = c.scanFiles + scanFiles, scanBytes = c.scanBytes + scanBytes,
        writeFiles = c.writeFiles + writeFiles, writeBytes = c.writeBytes + writeBytes)
    }
  }
}

object Probe {
  /** Every node of a physical plan, descending through adaptive wrappers,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Heap occupancy seen by the garbage collector: the largest heap use left
  * after any collection since the last `reset`. Unlike the resident set it
  * does not depend on how far the collector chose to grow the heap. */
final class GcProbe {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
          val used = after.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
          peak.accumulateAndGet(used, math.max)
        }, null, null)
    case _ => ()
  }

  def reset(): Unit = peak.set(0L)
  def peakMb: Double = peak.get / 1e6

  /** Heap in use right after a full collection: the live set. */
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1e6
  }
}
