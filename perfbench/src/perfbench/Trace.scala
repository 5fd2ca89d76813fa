package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced interval around a call into a layer. Times are wall-clock
  * milliseconds (the clock Spark stamps its job events with) plus a
  * nanosecond duration for the span itself. The Spark counters are filled
  * by [[SpanListener]] for jobs submitted while this span was the open one
  * on the driver. */
final class Span(val id: Int, val parent: Int, val trace: String, val name: String,
    val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = startMs
  @volatile var endNs: Long = startNs
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var inputRows = 0L
  var bytesWritten = 0L
  var jobs = 0
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are opened and closed on the driver
  * thread that calls into the program; nothing is written until [[write]].
  * When disabled every call is a plain pass-through, so the timed runs
  * carry no tracing cost. */
object Trace {
  val SpanProperty = "perfbench.span"

  @volatile private var enabled = false
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var open: List[Span] = Nil
  private var traceId = "setup"
  private var listener: SpanListener = _

  def enable(context: SparkContext): Unit = {
    sc = context
    listener = new SpanListener
    sc.addSparkListener(listener)
    enabled = true
  }

  /** Start a new trace: root spans opened from here on share `id`. */
  def newTrace(id: String): Unit = traceId = id

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = open.headOption
      val s = new Span(spans.size, parent.fold(-1)(_.id), traceId, name,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      byId.put(s.id, s)
      open = s :: open
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProperty, parent.map(_.id.toString).orNull)
      }
    }

  private[perfbench] def lookup(id: Int): Option[Span] = Option(byId.get(id))

  /** Block until the listener bus has delivered every event posted so far:
    * a marker job's end event arrives after all earlier events. */
  def drain(): Unit = if (enabled) {
    val latch = listener.expectMarker()
    sc.setLocalProperty(SpanProperty, SpanListener.Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
    require(latch.await(60, TimeUnit.SECONDS), "Spark listener bus did not drain")
  }

  def all: Seq[Span] = spans.toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s).map(c => (c.startNs, c.endNs))
    val covered = unionLength(kids, s.startNs, s.endNs)
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Counters of a span and everything below it. */
  final case class Totals(taskCpuS: Double, shuffleMb: Double, inputRows: Long,
      bytesWritten: Long, jobs: Int, driverGapS: Double)

  def totals(s: Span): Totals = {
    val all = subtree(s)
    val jobMs = unionLength(all.flatMap(_.jobIntervals), s.startMs, s.endMs)
    Totals(
      all.map(_.taskCpuNs).sum / 1e9,
      all.map(_.shuffleWriteBytes).sum / 1048576.0,
      all.map(_.inputRows).sum,
      all.map(_.bytesWritten).sum,
      all.map(_.jobs).sum,
      math.max(0.0, s.seconds - jobMs / 1000.0))
  }

  /** One JSON object per span, in start order. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val t = totals(s)
      import graft.pipeline.Json._
      JObj.of(
        "id" -> JInt(s.id), "parent" -> JInt(s.parent), "trace" -> JStr(s.trace),
        "name" -> JStr(s.name), "start_ms" -> JInt(s.startMs), "end_ms" -> JInt(s.endMs),
        "dur_s" -> Stats.num(s.seconds), "self_s" -> Stats.num(selfSeconds(s)),
        "task_cpu_s" -> Stats.num(t.taskCpuS), "shuffle_mb" -> Stats.num(t.shuffleMb),
        "input_rows" -> JInt(t.inputRows), "bytes_written" -> JInt(t.bytesWritten),
        "jobs" -> JInt(t.jobs), "driver_gap_s" -> Stats.num(t.driverGapS)).render
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object SpanListener {
  val Marker = "marker"
}

/** Attributes task CPU, shuffle, input rows, output bytes and job
  * intervals to the span that was open on the driver when each job was
  * submitted (the span id rides the job's local properties). */
final class SpanListener extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var latch = new CountDownLatch(0)

  def expectMarker(): CountDownLatch = { latch = new CountDownLatch(1); latch }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
    prop match {
      case Some(SpanListener.Marker) => markerJobs.add(e.jobId)
      case Some(id) => id.toIntOption.flatMap(Trace.lookup).foreach { s =>
        jobSpan.put(e.jobId, (s, e.time))
        e.stageIds.foreach(st => stageSpan.put(st, s))
        s.synchronized(s.jobs += 1)
      }
      case None =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (markerJobs.remove(e.jobId)) latch.countDown()
    Option(jobSpan.remove(e.jobId)).foreach { case (s, start) =>
      s.synchronized(s.jobIntervals += ((start, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageSpan.get(e.stageId)).foreach { s =>
      s.synchronized {
        s.taskCpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.inputRows += m.inputMetrics.recordsRead
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}
