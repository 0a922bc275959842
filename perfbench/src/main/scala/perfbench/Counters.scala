package perfbench

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Running totals of what the scheduler reports, taken at one instant. */
case class Snapshot(cpuNs: Long, gcMs: Long, tasks: Long, jobs: Long,
                    stages: Long, shuffleBytes: Long, spillBytes: Long) {
  def -(o: Snapshot): Snapshot = Snapshot(cpuNs - o.cpuNs, gcMs - o.gcMs,
    tasks - o.tasks, jobs - o.jobs, stages - o.stages,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  def +(o: Snapshot): Snapshot = Snapshot(cpuNs + o.cpuNs, gcMs + o.gcMs,
    tasks + o.tasks, jobs + o.jobs, stages + o.stages,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def cpuS: Double = cpuNs / 1e9
  def gcS: Double = gcMs / 1e3
  def shuffleMb: Double = shuffleBytes / 1e6
  def spillMb: Double = spillBytes / 1e6
}

object Snapshot {
  val zero: Snapshot = Snapshot(0, 0, 0, 0, 0, 0, 0)
}

/** The benchmark's own SparkListener: it observes graft from outside.
  * Totals are always kept. With `intervals` on (traced runs only) it also
  * keeps every task's launch and finish time, for driver idle time and task
  * skew. Shuffle is counted as bytes written; spill as bytes spilled to disk. */
class Counters extends SparkListener {
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val tasks = new AtomicLong
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val shuffle = new AtomicLong
  private val spill = new AtomicLong
  @volatile var intervals = false
  private val spans = ArrayBuffer.empty[(Long, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
    if (intervals && e.taskInfo != null)
      spans.synchronized { spans += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  def snapshot: Snapshot = Snapshot(cpuNs.get, gcMs.get, tasks.get, jobs.get,
    stages.get, shuffle.get, spill.get)

  /** Task (launch, finish) times in ms recorded since the last call. */
  def takeIntervals(): Seq[(Long, Long)] = spans.synchronized {
    val out = spans.toList; spans.clear(); out
  }
}

object Counters {
  /** Milliseconds of [from, to] covered by at least one task. */
  def busyMs(tasks: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var busy = 0L
    var end = from
    tasks.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
    busy
  }

  /** Max over median task duration. */
  def skew(tasks: Seq[(Long, Long)]): Double = {
    val d = tasks.map { case (a, b) => (b - a).toDouble }.sorted
    if (d.isEmpty) 0.0
    else {
      val med = if (d.size % 2 == 1) d(d.size / 2) else (d(d.size / 2 - 1) + d(d.size / 2)) / 2
      d.last / math.max(med, 1.0)
    }
  }
}
