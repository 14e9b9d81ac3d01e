package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` numbers the op
  * execution the span belongs to (-1 outside any op).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, alloc: Long)

/** Span recorder for the traced run. Spans nest on the calling thread;
  * all of them stay in memory until the run ends.
  */
final class Spans(sc: => SparkContext) {
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  var op: Int = -1

  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long =
    mx.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** Time `body` as span `name`. Jobs submitted inside it carry the
    * span's name and op id as local properties, so the listener can
    * attribute them exactly.
    */
  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    sc.setLocalProperty(Tap.LayerKey, name)
    sc.setLocalProperty(Tap.OpKey, op.toString)
    val a0 = allocated()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      done += Span(id, name, parent, op, t0, t1, allocated() - a0)
      stack = stack.tail
      sc.setLocalProperty(Tap.LayerKey, stack.headOption.map(_._2).orNull)
      if (stack.isEmpty) sc.setLocalProperty(Tap.OpKey, null)
    }
  }
}

/** Per-job totals, summed from the job's tasks. */
final class JobStats(val jobId: Int, val op: Int, val layer: String,
    val stages: Int) {
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
}

/** SparkListener that attributes every job, and every task of its
  * stages, to the op and span that submitted it.
  */
final class Tap extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, JobStats]
  @volatile var sentinelSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(k)))
    if (prop(Tap.LayerKey).contains(Tap.Sentinel)) return
    val js = new JobStats(e.jobId,
      prop(Tap.OpKey).map(_.toInt).getOrElse(-1),
      prop(Tap.LayerKey).getOrElse("none"), e.stageIds.size)
    jobs(e.jobId) = js
    e.stageIds.foreach(s => stageJob(s) = js)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (!jobs.contains(e.jobId)) sentinelSeen = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { js =>
      js.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) js.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        js.cpuNs += m.executorCpuTime
        js.runMs += m.executorRunTime
        js.gcMs += m.jvmGCTime
        js.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        js.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        js.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        js.recordsWritten += m.outputMetrics.recordsWritten
        js.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Block until every event posted before this call has reached the
    * listener: a marker job's end arrives after all earlier events on
    * this listener's queue.
    */
  def drain(sc: SparkContext): Unit = {
    sentinelSeen = false
    sc.setLocalProperty(Tap.LayerKey, Tap.Sentinel)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Tap.LayerKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Tap {
  val LayerKey = "perfbench.layer"
  val OpKey = "perfbench.op"
  val Sentinel = "perfbench.sentinel"
}
