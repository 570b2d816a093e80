package graft.fetch

import java.nio.file.{Files, Paths}

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.EntryOps
import graft.queries.ParseQueries
import graft.sources.RestReader

/** Attempt counter shared across local-mode tasks (single test JVM);
  * top-level so the fetch closure references the object rather than
  * capturing (and copying) a counter through closure serialization.
  */
object FetchAttempts extends Serializable {
  val n = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Request counter for the fetch-once specs; top-level for the same
  * reason as [[FetchAttempts]].
  */
object FetchRequests extends Serializable {
  val n = new java.util.concurrent.atomic.AtomicInteger(0)
  def counting(fetch: Fetcher.FetchFn): Fetcher.FetchFn = { url =>
    n.incrementAndGet()
    fetch(url)
  }
}

class FetchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rate limiter: measured rate stays at or under the limit " +
    "(tests/test_client.py:178-195 analog)") {
    for (rate <- Seq(20.0, 50.0)) {
      val limiter = new RateLimiter(rate)
      val n = (rate * 2).toInt // ~2 seconds of requests
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => limiter.acquire())
      val elapsed = (System.nanoTime() - t0) / 1e9
      val achieved = (n - rate) / elapsed // burst capacity excluded
      assert(achieved <= rate * 1.1,
        s"achieved $achieved req/s exceeds limit $rate")
    }
  }

  test("fetchAll: local fetch + per-URL error quarantine (client.py:154-177)") {
    val dir = Files.createTempDirectory("fetch").toFile
    val ok = new java.io.File(dir, "a.txt")
    Files.write(ok.toPath, "hello".getBytes)
    val work = Seq(("k1", ok.getAbsolutePath), ("k2", "/nonexistent/b.txt"))
      .toDF("key", "url")
    val got = Fetcher.fetchAll(work, Fetcher.local, globalRate = 1000.0)
      .orderBy("key").collect()
    assert(new String(got(0).getAs[Array[Byte]]("content")) == "hello")
    assert(got(0).getAs[String]("error") == null)
    assert(got(1).getAs[Array[Byte]]("content") == null)
    assert(got(1).getAs[String]("error").contains("not found"))
    // classified structurally at the source, not by message text
    assert(!got(0).getAs[Boolean]("not_found"))
    assert(got(1).getAs[Boolean]("not_found"))
  }

  test("not-found is deterministic: fetched once, never retried, flagged " +
    "(404 is the pagination terminator, not a transient failure)") {
    FetchAttempts.n.set(0)
    val gone: Fetcher.FetchFn = url => {
      FetchAttempts.n.incrementAndGet()
      throw new Fetcher.NotFoundException(s"HTTP 404 for $url")
    }
    val work = Seq(("k", "u")).toDF("key", "url").coalesce(1)
    val got = Fetcher.fetchAll(work, gone, globalRate = 1000.0, retries = 3)
      .head()
    assert(FetchAttempts.n.get() == 1) // no retry budget burned on a 404
    assert(got.getAs[Boolean]("not_found"))
    assert(got.getAs[String]("error").contains("404"))
  }

  test("a transient error whose MESSAGE mentions FileNotFoundException is " +
    "still a hard error, not a not-found") {
    val spoof: Fetcher.FetchFn = _ => throw new RuntimeException(
      "wrapper: caused by java.io.FileNotFoundException deep in the chain")
    val work = Seq(("k", "u")).toDF("key", "url").coalesce(1)
    val got = Fetcher.fetchAll(work, spoof, globalRate = 1000.0, retries = 0)
      .head()
    assert(!got.getAs[Boolean]("not_found"))
    assert(got.getAs[String]("error").contains("FileNotFoundException"))
  }

  test("fetchAll retries transient failures") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky: Fetcher.FetchFn = _ => {
      if (attempts.incrementAndGet() < 3) throw new RuntimeException("transient")
      "recovered".getBytes
    }
    // single partition, single JVM (local mode) so the counter is shared
    val work = Seq(("k", "u")).toDF("key", "url").coalesce(1)
    val got = Fetcher.fetchAll(work, flaky, globalRate = 1000.0, retries = 3)
      .head()
    assert(new String(got.getAs[Array[Byte]]("content")) == "recovered")
  }

  /** Requests made building `result` and running three separate actions
    * on it: a count, a collect and a filtered count.
    */
  private def requestsAcrossThreeActions(result: => DataFrame): Int = {
    FetchRequests.n.set(0)
    val df = result
    df.count()
    df.collect()
    df.filter(col(df.columns.head).isNotNull).count()
    FetchRequests.n.get()
  }

  test("fetchAll requests each work row once, however many actions read " +
    "the result; a missing file is one request and one not_found row") {
    val dir = Files.createTempDirectory("fetch-once").toFile
    val ok = new java.io.File(dir, "a.txt")
    Files.write(ok.toPath, "hello".getBytes)
    val work = Seq(("k1", ok.getAbsolutePath), ("k2", s"$dir/missing.txt"))
      .toDF("key", "url")
    FetchRequests.n.set(0)
    val got = Fetcher.fetchAll(work, FetchRequests.counting(Fetcher.local),
      globalRate = 1000.0)
    assert(got.count() == 2)
    assert(got.collect().map(_.getAs[String]("key")).sorted.toSeq ==
      Seq("k1", "k2"))
    assert(got.filter(col("not_found")).count() == 1)
    assert(FetchRequests.n.get() == 2)
  }

  test("submissionsAll fetches each continuation file once") {
    val raw = Seq(ParseQueries.submissionsFilesJson).toDF("value")
    val fetch = FetchRequests.counting(ParseQueries.memFetch(Map(
      "mem://submissions/CIK0001000045-submissions-001.json" ->
        ParseQueries.submissionsContJson)))
    // one continuation file named in filings.files[]
    assert(requestsAcrossThreeActions(RestReader.submissionsAll(raw, fetch,
      name => s"mem://submissions/$name", globalRate = 1e6)) == 1)
  }

  test("resolveCiksWithFallback fetches each unresolved lookup's page once") {
    val page = new String(Files.readAllBytes(
      Paths.get(TestSpark.resource("single_cik_search_result.html"))))
    val cikMap = Seq(("320193", "AAPL", "APPLE INC."))
      .toDF("cik", "ticker", "title")
    val lookups = Seq("AAPL", "Apple Computer").toDF("lookup")
    val fetch = FetchRequests.counting(
      ParseQueries.memFetch(Map("mem://cik/Apple Computer" -> page)))
    // AAPL resolves from the map; only "Apple Computer" is fetched
    assert(requestsAcrossThreeActions(EntryOps.resolveCiksWithFallback(
      lookups, cikMap, fetch, l => s"mem://cik/$l", globalRate = 1e6)) == 1)
  }

  test("CompanyQuery.entries requests each page once: three actions on " +
    "the result read the materialized rows, not the pages") {
    val root = CompanyMirror.fresh()
    val df = graft.api.Filings.CompanyQuery(
      lookups = Seq("0001000045", "0001000120", "0001000200"),
      filingType = Some("10-Q"), count = Some(3),
      startDate = None, endDate = None, batchSize = 2).entries(spark, root)
    // the returned plan is rooted at the materialized blocks: no scan
    // left in it to re-run
    assert(!df.queryExecution.executedPlan.toString.contains("EdgarCompanyScan"),
      df.queryExecution.executedPlan.toString)
    // and with the pages gone, every action still reads the same rows
    scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    assert(df.count() == 3)
    assert(df.collect().map(_.getAs[String]("cik")).sorted.toSeq ==
      Seq("0001000045", "0001000045", "0001000120"))
    assert(df.filter(col("type") === "10-Q").count() == 3)
  }

  test("fetchAll plans its work list once: it runs the jobs of one " +
    "materialization of the work list") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      BusDrain.drain(spark.sparkContext)
      val before = jobs.get()
      body
      BusDrain.drain(spark.sparkContext)
      jobs.get() - before
    }
    // edgar ingest's work-list shape: a shuffled distinct, broadcast into
    // a semi-join
    val ciks = Seq("1", "2", "1").toDF("cik")
    val work = (1 to 8).map(i => (s"${i % 3}", s"k$i", s"u$i"))
      .toDF("cik", "key", "url")
      .join(broadcast(ciks.distinct()), Seq("cik"), "left_semi")
    spark.sparkContext.addSparkListener(listener)
    try {
      // under AQE, building a plan's RDD already runs its query stages
      assert(jobsOf(work.select("key", "url").rdd.getNumPartitions) > 0)
      val once = jobsOf(work.localCheckpoint(true).count())
      val fetched = jobsOf(Fetcher.fetchAll(work, _ => Array[Byte](1),
        globalRate = 1e6).count())
      assert(fetched == once)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
