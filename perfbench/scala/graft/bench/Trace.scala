package graft.bench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it, with its counters summed over
  * the tasks of its stages. Times are epoch milliseconds (listener clock).
  */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputRecords = 0L
  var outputBytes = 0L
  var runMs = 0L
}

/** Counts every job the session runs. Registered by the benchmark itself
  * (traced runs only); the engine is not instrumented.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.inputRecords += m.inputMetrics.recordsRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputRecords += m.outputMetrics.recordsWritten
        j.outputBytes += m.outputMetrics.bytesWritten
        j.runMs += m.executorRunTime
      }
    }
  }

  def snapshot(): Vector[JobRec] = synchronized(jobs.values.toVector)
}

/** A timed region: a call into one layer, or a whole op. `op` is the id
  * of the benchmark op it belongs to (-1 outside ops).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the single client thread. While
  * `enabled` is false a span is just the call, so untraced runs pay nothing.
  */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  /** nanoTime → epoch-ns offset, to place listener job times among spans. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  def epochMs(ns: Long): Double = (ns + epochOffsetNs) / 1e6
}

object Intervals {
  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
