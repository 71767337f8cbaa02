package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Interval arithmetic for driver gap. Times are epoch milliseconds,
  * the clock Spark stamps its listener events with. */
object Intervals {

  /** Length of the union of `intervals`, each clipped to [lo, hi].
    * Overlapping intervals count once: two concurrent jobs of 4 s that
    * overlap by 3 s cover 5 s, not 8. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var runStart = 0L
    var runEnd = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > runEnd) {
        if (runEnd != Long.MinValue) total += runEnd - runStart
        runStart = s
        runEnd = e
      } else runEnd = math.max(runEnd, e)
    }
    if (runEnd != Long.MinValue) total += runEnd - runStart
    total
  }

  /** Driver gap of one span entry: its wall minus the time covered by at
    * least one of its jobs. */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs, start, end)
}

/** Roll-up of one named span over every entry into it. */
final case class SpanStats(
    wallS: Double,
    jobs: Int,
    tasks: Long,
    shuffleMb: Double,
    spillMb: Double,
    driverGapS: Double)

/** Listener that attributes Spark work to the span active on the
  * submitting thread. A job carries its span in the local property
  * [[SpanListener.Key]], which threads spawned inside the span inherit,
  * so jobs of a concurrent exporter pool count toward the span that
  * started the pool. Stages and tasks follow their job.
  *
  * Always tracks the peak execution memory of any task, which the
  * untraced run reports too; span bookkeeping costs nothing while no
  * span is set. */
final class SpanListener extends SparkListener {
  import SpanListener._

  private final class Acc {
    var jobs = 0
    var tasks = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  private val acc = mutable.Map[String, Acc]()
  private val jobSpan = mutable.Map[Int, (String, Long)]()
  private val stageSpan = mutable.Map[Int, String]()
  private var peakTaskMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { span =>
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(stageSpan(_) = span)
      acc.getOrElseUpdate(span, new Acc).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      acc(span).jobIntervals += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
      stageSpan.get(e.stageId).foreach { span =>
        val a = acc.getOrElseUpdate(span, new Acc)
        a.tasks += 1
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def peakTaskMemBytes: Long = synchronized(peakTaskMem)
  def resetPeak(): Unit = synchronized { peakTaskMem = 0L }

  /** Roll up `span` given its entries (start, end) in epoch millis and
    * the summed wall of those entries in seconds. */
  def rollup(span: String, entries: Seq[(Long, Long)], wallS: Double): SpanStats =
    synchronized {
      val a = acc.getOrElse(span, new Acc)
      val gapMs = entries.map { case (s, e) =>
        Intervals.driverGap(s, e, a.jobIntervals.toSeq) }.sum
      SpanStats(wallS, a.jobs, a.tasks, a.shuffleBytes / MiB, a.spillBytes / MiB,
        gapMs / 1000.0)
    }
}

object SpanListener {
  val Key = "perfbench.span"
  val MiB = 1024.0 * 1024.0
}

/** Opens spans around calls into the engine and reads their roll-ups
  * once the listener bus has drained. */
final class Tracer(sc: SparkContext, val listener: SpanListener) {
  private val entries = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val walls = mutable.Map[String, Double]().withDefaultValue(0.0)

  def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty(SpanListener.Key, name)
    sc.setJobDescription(name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      walls(name) += (System.nanoTime() - n0) / 1e9
      entries.getOrElseUpdate(name, mutable.ArrayBuffer()) +=
        ((t0, System.currentTimeMillis()))
      sc.setLocalProperty(SpanListener.Key, null)
      sc.setJobDescription(null)
    }
  }

  def spans: Seq[String] = entries.keys.toSeq

  def stats(name: String): SpanStats = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    listener.rollup(name, entries.getOrElse(name, Nil).toSeq, walls(name))
  }
}
