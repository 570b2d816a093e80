package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to one span: everything its jobs, stages and
  * tasks did, plus the intervals during which at least one job ran.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    executorRunMs += o.executorRunMs; executorCpuNs += o.executorCpuNs
    gcMs += o.gcMs
    jobIntervals ++= o.jobIntervals
  }
}

/** One traced layer call. Times are epoch milliseconds with a nanosecond
  * fraction, so they line up with the listener's event times.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Double, end: Double)

/** Collects Spark metrics per span. Jobs are attributed through a local
  * property the tracer sets on the calling thread; micro-batch jobs, which
  * run on the stream's own thread, through the batch id Spark stamps on
  * them. Streaming progress is kept per batch id. Every read drains the
  * listener bus first, so job and stage counts repeat exactly.
  */
final class Collector(sc: SparkContext) extends SparkListener {
  val SpanKey = "perfbench.span"
  private val BatchKey = "streaming.sql.batchId"

  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  /** stream batch id -> span id, registered before the batch is fed */
  val batchSpan = new ConcurrentHashMap[Long, Int]()
  /** stream batch id -> durationMs of its progress report */
  val progress = new ConcurrentHashMap[Long, Map[String, Long]]()

  private def counters(span: Int): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  private def spanOf(props: java.util.Properties): Int = {
    if (props == null) return -1
    val batch = Option(props.getProperty(BatchKey))
      .flatMap(b => Option(batchSpan.get(b.toLong)))
    batch.map(_.intValue).getOrElse(
      Option(props.getProperty(SpanKey)).map(_.toInt).getOrElse(-1))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    jobSpan.put(e.jobId, (span, e.time))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val c = counters(span)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (span, t0) =>
      val c = counters(span)
      c.synchronized { c.jobIntervals += ((t0, e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, spanOf(e.properties))
    val c = counters(span)
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, -1)
    val c = counters(span)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.executorCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.put(p.batchId,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(sc)

  /** Counters of one span alone (not its children); drains first. */
  def of(span: Int): Counters = { drain(); Option(bySpan.get(span)).getOrElse(new Counters) }
}

/** Span recorder. Spans live in memory and are written when the run
  * ends. A disabled tracer runs the body and records nothing.
  */
final class Tracer(sc: SparkContext, val collector: Option[Collector], run: String) {
  val enabled: Boolean = collector.isDefined
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Open a span without running a body (for stream batches, whose jobs
    * run on another thread); returns its id. */
  def open(name: String): Int = {
    if (!enabled) return -1
    val id = nextId
    nextId += 1
    spans += Span(id, name, stack.headOption.getOrElse(-1), run, nowMs, Double.NaN)
    id
  }

  def close(id: Int): Unit = if (id >= 0) {
    val i = spans.lastIndexWhere(_.id == id)
    spans(i) = spans(i).copy(end = nowMs)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = open(name)
    val prev = sc.getLocalProperty(collector.get.SpanKey)
    stack = id :: stack
    sc.setLocalProperty(collector.get.SpanKey, id.toString)
    try body
    finally {
      close(id)
      stack = stack.tail
      sc.setLocalProperty(collector.get.SpanKey, prev)
    }
  }

  /** Run bookkeeping work (counts for the layer metrics) outside any
    * span, so it is never attributed to a layer. */
  def untracked[T](body: => T): T = {
    if (!enabled) return body
    val prev = sc.getLocalProperty(collector.get.SpanKey)
    sc.setLocalProperty(collector.get.SpanKey, "-2")
    try body finally sc.setLocalProperty(collector.get.SpanKey, prev)
  }

  def all: Seq[Span] = spans.toSeq
  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def durS(s: Span): Double = (s.end - s.start) / 1000.0

  /** Span duration minus the part its children cover. */
  def selfS(s: Span): Double = durS(s) - children(s.id).map(durS).sum

  /** Counters of a span and all its descendants. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    def walk(x: Span): Unit = {
      c.add(collector.get.of(x.id))
      children(x.id).foreach(walk)
    }
    walk(s)
    c
  }

  /** Wall time of `s` during which no job of it (or its children) ran. */
  def driverGapS(s: Span): Double = {
    val iv = inclusive(s).jobIntervals
      .map { case (a, b) => (math.max(a.toDouble, s.start), math.min(b.toDouble, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, (s.end - s.start - covered) / 1000.0)
  }

  /** One JSON object per span, with self time and attributed counters. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val c = collector.get.of(s.id)
    f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run": "${s.run}", """ +
      f""""start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f, "self_s": ${selfS(s)}%.6f, """ +
      s""""jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}}"""
  }
}

/** Spark-runtime metrics of one span and its descendants. */
object Spark {
  def metrics(tr: Tracer, s: Span): Map[String, Double] = {
    val c = tr.inclusive(s)
    val wall = tr.durS(s)
    val cores = Runtime.getRuntime.availableProcessors()
    Map("spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.executor_run_s" -> c.executorRunMs / 1000.0,
      "spark.executor_cpu_s" -> c.executorCpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1000.0,
      "spark.driver_gap_s" -> tr.driverGapS(s),
      "spark.busy_frac" -> c.executorRunMs / 1000.0 / (wall * cores))
  }
}
