package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Executor totals for the end-to-end metrics: CPU, shuffle write and
  * spill summed over every task the session runs. */
final class Totals extends SparkListener {
  val cpuNs = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snapshot: (Long, Long, Long) = (cpuNs.sum, shuffleBytes.sum, spillBytes.sum)
}

/** Largest old-generation occupancy seen after any GC since [[reset]]. */
final class OldGenPeak extends NotificationListener {
  @volatile private var peak = 0L
  private val oldPoolBeans = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured")).toSeq
  private val oldPools = oldPoolBeans.map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }
  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == "com.sun.management.gc.notification") {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (k, u) if oldPools(k) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }
  def reset(): Unit = synchronized { peak = 0L }
  /** The peak, or the current occupancy when no GC ran since [[reset]]. */
  def peakOrCurrent: Long =
    if (peak > 0) peak else oldPoolBeans.map(_.getUsage.getUsed).sum
}

/** One Spark job as the listener saw it. */
final case class JobRec(span: String, sniff: Boolean, startMs: Long, var endMs: Long) {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Credits every job to the span named in the local property its calling
  * thread carried when the job started. Threads inherit local properties
  * when they are created, so pools started inside a layer call (the
  * exporter's writer pool, the mapper's table-open pool) are covered. */
final class JobTrace extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(JobTrace.SpanKey))).getOrElse("")
    val sniff = e.stageInfos.exists(s => s.details.contains("GraphExporter$.sampleRow"))
    jobs.put(e.jobId, JobRec(span, sniff, e.time, -1L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.endMs = e.time })
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(t.stageId)).flatMap(id => Option(jobs.get(id)))
    j.foreach { r =>
      r.synchronized {
        r.tasks += 1
        r.taskMs += t.taskInfo.duration
        val m = t.taskMetrics
        if (m != null) {
          r.cpuNs += m.executorCpuTime
          r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          r.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  def take(): Seq[JobRec] = {
    val all = jobs.values.asScala.toSeq.sortBy(_.startMs)
    jobs.clear(); stageJob.clear()
    all
  }
}

object JobTrace {
  val SpanKey = "graft.perfbench.span"
}

/** A timed interval on the driver clock (epoch ms, sub-ms resolution). */
final case class Interval(start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

object Intervals {
  /** Total length in seconds of the union of `xs`, clipped to `within`. */
  def unionSeconds(xs: Seq[Interval], within: Interval): Double = {
    val clipped = xs.map(i => Interval(math.max(i.start, within.start), math.min(i.end, within.end)))
      .filter(i => i.end > i.start).sortBy(_.start)
    var total = 0.0
    var cur: Option[Interval] = None
    clipped.foreach { i =>
      cur match {
        case Some(c) if i.start <= c.end => cur = Some(Interval(c.start, math.max(c.end, i.end)))
        case Some(c) => total += c.seconds; cur = Some(i)
        case None => cur = Some(i)
      }
    }
    total + cur.map(_.seconds).getOrElse(0.0)
  }
}

/** Spans recorded around the benchmark's calls into graft's layers. With
  * tracing off, [[apply]] only runs the body. */
final class Spans(sc: SparkContext, val enabled: Boolean) {
  val recorded = mutable.ArrayBuffer.empty[(String, Interval)]

  def now: Double = System.nanoTime() / 1e6 - Spans.nanoOffsetMs

  /** Runs `body` as span `name`: its jobs are credited to it and its
    * interval is recorded. */
  def apply[A](name: String)(body: => A): A = {
    val t0 = now
    try tagged(name)(body) finally add(name, Interval(t0, now))
  }

  /** Credits the jobs `body` starts to `name` without recording an
    * interval; the caller adds the intervals itself. */
  def tagged[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(JobTrace.SpanKey)
      sc.setLocalProperty(JobTrace.SpanKey, name)
      try body finally sc.setLocalProperty(JobTrace.SpanKey, prev)
    }

  def add(name: String, i: Interval): Unit = if (enabled) recorded += name -> i
  def clear(): Unit = recorded.clear()
}

object Spans {
  /** Maps System.nanoTime onto the epoch-ms clock the listener events use. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
}
