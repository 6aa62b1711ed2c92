package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall-clock microseconds, the clock Spark stamps job and task events with
  * (at millisecond resolution), so driver spans and Spark events share one
  * timeline. */
object Clock {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Cumulative GC time of this JVM (every collector), in ms. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after a full collection, in MB. The second collection
    * follows Spark's ContextCleaner, which frees the blocks of RDDs and
    * broadcasts the first one found unreachable. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Registered once by the benchmark. Always sums executor task CPU (the
  * `cpu_s` end-to-end metric); while `recording` is on it also keeps every
  * job and task event for the per-layer attribution. */
final class BenchListener extends SparkListener {
  val cpuNs     = new AtomicLong
  val recording = new AtomicBoolean(false)
  val jobs      = new ConcurrentLinkedQueue[Map[String, Any]]
  val jobEnds   = new ConcurrentLinkedQueue[Map[String, Any]]
  val tasks     = new ConcurrentLinkedQueue[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (recording.get)
      jobs.add(Map("id" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (recording.get)
      jobEnds.add(Map("id" -> e.jobId, "end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) cpuNs.addAndGet(m.executorCpuTime)
    if (recording.get && m != null)
      tasks.add(Map(
        "stage"       -> e.stageId,
        "launch_ms"   -> e.taskInfo.launchTime,
        "finish_ms"   -> e.taskInfo.finishTime,
        "cpu_ns"      -> m.executorCpuTime,
        "sr_bytes"    -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "sw_bytes"    -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "in_bytes"    -> m.inputMetrics.bytesRead,
        "out_bytes"   -> m.outputMetrics.bytesWritten))
  }

  /** Hands over and clears what was recorded since the last call. */
  def takeRecorded(): Map[String, Any] = {
    def take(q: ConcurrentLinkedQueue[Map[String, Any]]) =
      Iterator.continually(q.poll()).takeWhile(_ != null).toVector
    val ends = take(jobEnds).map(e => e("id") -> e).toMap
    Map(
      "jobs" -> take(jobs).map(j => j ++ ends.get(j("id")).map(_ - "id").getOrElse(Map.empty)),
      "tasks" -> take(tasks))
  }
}
