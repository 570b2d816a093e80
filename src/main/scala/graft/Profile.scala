package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The engine's profiler: attributes Spark work — jobs (wall time, call
  * site), stages, tasks, shuffle and spill bytes, executor run time and
  * stream micro-batch phases — to the query name that [[within]] puts in
  * the local property [[Profile.Key]]. Work outside any [[within]] is not
  * recorded.
  *
  * Threads a body starts inherit its local properties, so a stream started
  * inside [[within]] carries the name into its micro-batch jobs, and its
  * progress reports follow by run id. Such a thread keeps the name for its
  * life: a body must not leave behind a pool that later runs other
  * queries' jobs (no registry query does). [[drained]] empties the
  * listener bus before it reads, so its counts are exact.
  */
final class Profile private (spark: SparkSession) extends SparkListener {
  import Profile._

  private val byName = new ConcurrentHashMap[String, Acc]()
  private val byJob = new ConcurrentHashMap[Int, Acc]()
  private val byStage = new ConcurrentHashMap[Int, Acc]()
  private val byRun = new ConcurrentHashMap[UUID, Acc]()

  private def acc(name: String): Acc =
    byName.computeIfAbsent(name, _ => new Acc)

  /** Run `body` with its Spark work attributed to `name`. */
  def within[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val a = acc(name)
      a.synchronized { a.scopes += ((t0, System.currentTimeMillis())) }
      sc.setLocalProperty(Key, prev)
    }
  }

  /** Every name's record, read after the listener bus is drained. */
  def drained(): Map[String, Query] = {
    BusDrain.drain(spark.sparkContext)
    byName.asScala.map { case (n, a) => n -> a.synchronized(a.query) }.toMap
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(acc)
      .foreach { a =>
        byJob.put(e.jobId, a)
        e.stageIds.foreach(byStage.put(_, a))
        // the name the UI shows: a set call site, else the result stage's
        val site = Option(e.properties.getProperty("callSite.short"))
          .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
        val sql = e.properties.getProperty("spark.sql.execution.id") != null
        a.synchronized { a.jobs(e.jobId) = Job(e.time, -1L, site, sql) }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.remove(e.jobId)).foreach { a =>
      a.synchronized { a.jobs(e.jobId) = a.jobs(e.jobId).copy(end = e.time) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(byStage.get(e.stageInfo.stageId)).foreach(a => a.synchronized(a.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { a =>
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.executorRunMs += m.executorRunTime
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  private val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // posted synchronously on the stream's own thread, which inherited
    // the starting body's local properties
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Option(spark.sparkContext.getLocalProperty(Key))
        .foreach(n => byRun.put(e.runId, acc(n)))
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      Option(byRun.get(p.runId)).foreach(a => a.synchronized {
        a.batches += ((p.runId, p.batchId))
        p.durationMs.asScala.foreach { case (k, v) =>
          a.phases(k) = a.phases.getOrElse(k, 0L) + v.longValue
        }
      })
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
}

object Profile {

  /** The local property naming the query that Spark work belongs to. */
  val Key = "graft.profile.query"

  def install(spark: SparkSession): Profile = {
    val p = new Profile(spark)
    spark.sparkContext.addSparkListener(p)
    spark.streams.addListener(p.streams)
    p
  }

  /** One Spark job: listener-bus epoch millis (`end` is -1 while running),
    * the user code that started it, and whether it ran inside a SQL
    * execution (an action, checkpoint or micro-batch) rather than during
    * analysis (a parquet schema read runs a job of its own).
    */
  final case class Job(start: Long, end: Long, callSite: String,
      sqlExecution: Boolean)

  /** What one name's bodies ran. `driverGapMs` is the wall time of those
    * bodies during which none of their jobs ran; `batches` counts distinct
    * stream micro-batches and `phases` sums their `durationMs` by key.
    */
  final case class Query(jobs: Seq[Job], stages: Long, tasks: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      executorRunMs: Long, driverGapMs: Long, batches: Int,
      phases: Map[String, Long]) {
    def json: String = {
      val jobList = jobs.map(j => s"[${j.end - j.start},${Json.str(j.callSite)}]")
      val stream = if (batches == 0) "" else
        s""","stream":{"batches":$batches,"phases":""" + phases.toSeq.sorted
          .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}}")
      s"""{"stages":$stages,"tasks":$tasks,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""executor_run_s":${executorRunMs / 1e3},"driver_gap_s":${driverGapMs / 1e3},""" +
        s""""jobs":${jobList.mkString("[", ",", "]")}$stream}"""
    }
  }

  private final class Acc {
    val jobs = mutable.TreeMap.empty[Int, Job]
    var stages, tasks, executorRunMs = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    val scopes = mutable.ArrayBuffer.empty[(Long, Long)]
    val batches = mutable.Set.empty[(UUID, Long)]
    val phases = mutable.Map.empty[String, Long]

    /** Scope wall time minus the union of job intervals inside it. */
    private def driverGapMs: Long = scopes.map { case (s, e) =>
      var reach = s
      val covered = jobs.values.filter(_.end >= 0).toSeq.sortBy(_.start).map { j =>
        val (a, b) = (math.max(j.start, reach), math.min(j.end, e))
        reach = math.max(reach, b)
        math.max(0L, b - a)
      }.sum
      (e - s) - covered
    }.sum

    def query: Query = Query(jobs.values.toSeq, stages, tasks,
      shuffleReadBytes, shuffleWriteBytes, spillBytes, executorRunMs,
      driverGapMs, batches.size, phases.toMap)
  }
}
