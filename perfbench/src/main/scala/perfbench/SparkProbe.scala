package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What one Spark job did, as the listener saw it. Times are epoch ms
  * (the listener bus clock).
  */
final class JobRec(val id: Int, val start: Long, val call: String,
    val description: String, val streamBatch: String) {
  @volatile var end: Long = -1L
  @volatile var stages: Int = 0
  @volatile var tasks: Int = 0
  @volatile var taskMs: Long = 0L
  @volatile var shuffleBytes: Long = 0L
  @volatile var spillBytes: Long = 0L
}

/** Per-job counts collected by a SparkListener that the benchmark
  * registers itself. A job is attributed to the call that started it
  * through the [[SparkProbe.CallKey]] local property, which the
  * benchmark sets on the calling thread (the program's own driver
  * pool copies local properties to its threads). Streaming jobs carry
  * Spark's micro-batch id property instead.
  */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): String = p.map(_.getProperty(k)).orNull
    val r = new JobRec(e.jobId, e.time, prop(SparkProbe.CallKey),
      prop("spark.job.description"), prop("streaming.sql.batchId"))
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized {
      r.stages += 1
    })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val m = Option(e.taskMetrics)
      r.synchronized {
        r.tasks += 1
        m.foreach { tm =>
          r.taskMs += tm.executorRunTime
          r.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
          r.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
    }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[JobRec] = { drain(); jobs.values().asScala.toSeq }

  def forCall(call: String): Seq[JobRec] = all.filter(_.call == call)

  def inWindow(fromMs: Long, toMs: Long): Seq[JobRec] =
    all.filter(j => j.start >= fromMs && j.start < toMs)
}

object SparkProbe {
  val CallKey = "perfbench.call"

  /** Sums over a set of jobs, with the driver time of a call that
    * spanned `[fromMs, toMs)`.
    */
  final case class Totals(jobs: Int, stages: Int, tasks: Int, taskS: Double,
      driverS: Double, shuffleBytes: Long, spillBytes: Long) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskS + o.taskS, driverS + o.driverS,
      shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  }

  def totals(js: Seq[JobRec], fromMs: Long, toMs: Long): Totals = Totals(
    js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
    js.map(_.taskMs).sum / 1000.0,
    Stats.driverTime(fromMs, toMs,
      js.map(j => (j.start, if (j.end < 0) toMs else j.end))) / 1000.0,
    js.map(_.shuffleBytes).sum, js.map(_.spillBytes).sum)
}

/** JVM counters: GC time and the heap's peak since the last reset. */
object Jvm {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of each heap pool's peak use since the last reset, in MB. */
  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
}
