package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withProfile(body: Profile => Unit): Unit = {
    val p = Profile.install(spark)
    try body(p) finally p.close()
  }

  /** Two actions, one of them with a shuffle. */
  private def twoActions(): Unit = {
    spark.range(1000).groupBy(col("id") % 7).count().collect()
    spark.range(100).count()
  }

  test("a body with two actions, run twice under one name, records the " +
    "same jobs and stages both times, each job with a call site") {
    withProfile { p =>
      p.within("two")(twoActions())
      val first = p.drained()("two")
      p.within("two")(twoActions())
      val both = p.drained()("two")
      assert(first.jobs.size >= 2 && first.stages >= first.jobs.size)
      assert(both.jobs.size == 2 * first.jobs.size)
      assert(both.stages == 2 * first.stages)
      assert(both.tasks == 2 * first.tasks)
      assert(both.jobs.drop(first.jobs.size).map(_.callSite) ==
        first.jobs.map(_.callSite))
      assert(first.jobs.forall(j => j.callSite.nonEmpty && j.end >= j.start),
        first.jobs)
      assert(first.shuffleWriteBytes > 0 && first.shuffleReadBytes > 0)
      assert(first.batches == 0)
    }
  }

  test("an action outside within is not attributed") {
    withProfile { p =>
      p.within("inside")(spark.range(10).count())
      val before = p.drained()
      spark.range(10).count()
      val after = p.drained()
      assert(after.keySet == Set("inside"))
      assert(after("inside") == before("inside"))
    }
  }

  test("a registry streaming gate gets its micro-batch jobs and one " +
    "stream batch per micro-batch it ran") {
    // an independent record: every job the session starts, flagged when
    // it is a micro-batch job, and every progress report of the gate
    val jobs = new ConcurrentLinkedQueue[Boolean]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .exists(_.getProperty("sql.streaming.queryId") != null))
    }
    val batches = new ConcurrentLinkedQueue[(java.util.UUID, Long)]()
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "graft_stream_join")
          batches.add((e.progress.runId, e.progress.batchId))
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    withProfile { p =>
      BusDrain.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(jobListener)
      spark.streams.addListener(progressListener)
      try {
        p.within("q_stream_join") {
          SparkEntry.queries("q_stream_join")(spark, "/root/testdata/sf0.01")
            .write.format("noop").mode("overwrite").save()
        }
        val q = p.drained()("q_stream_join")
        val seen = jobs.asScala.toSeq
        assert(seen.count(identity) > 0, "the gate ran no micro-batch job")
        assert(q.jobs.size == seen.size,
          s"${q.jobs.size} jobs attributed of ${seen.size} run")
        assert(q.jobs.forall(_.callSite.nonEmpty))
        val fed = batches.asScala.toSet.size
        assert(fed > 0 && q.batches == fed)
        assert(q.phases.get("addBatch").exists(_ > 0), q.phases)
      } finally {
        spark.sparkContext.removeSparkListener(jobListener)
        spark.streams.removeListener(progressListener)
      }
    }
  }
}
