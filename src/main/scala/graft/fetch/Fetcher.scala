package graft.fetch

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Materialize

/** The engine's only network-touching layer (SURVEY.md §7 module 7),
  * replacing the reference's `NetworkClient` (`client.py:221-277`).
  *
  * Design for a cluster:
  *   - the work-list is a DataFrame of (key, url, dest); the fan-out runs
  *     in `mapPartitions`, one [[RateLimiter]] per task;
  *   - SEC's hard ceiling is ~10 req/s PER CLIENT IP (`client.py:30-35`),
  *     so the global budget is divided by the number of concurrent fetch
  *     tasks: `perTaskRate = rateLimit / numPartitions`. Callers control
  *     concurrency with `repartition(n)` on the work-list — `n = 1`
  *     reproduces the reference's single-client behavior exactly;
  *   - retry with backoff per request (`client.py:196-205`), then Spark's
  *     own task retries on top;
  *   - fetch once: [[Fetcher.fetchAll]] is eager — it runs the fan-out as
  *     one job at call time and returns a frame rooted at the
  *     materialized results, so each work row is requested once per call
  *     however many actions read the result (the reference downloads each
  *     filing once); only a Spark task retry can repeat a request;
  *   - zero-egress test tier: `file://`/local paths go through
  *     [[Fetcher.local]]; HTTP through [[Fetcher.http]] — same interface.
  */
object Fetcher {

  type FetchFn = String => Array[Byte]

  /** Local-filesystem fetcher (test tier; also the mirrored-archive tier).
    * A missing file is the local analog of HTTP 404 and throws the same
    * structured [[NotFoundException]] so downstream classification never
    * has to pattern-match exception messages.
    */
  def local: FetchFn = url => {
    val p = Paths.get(url.stripPrefix("file://"))
    try Files.readAllBytes(p)
    catch {
      case e @ (_: java.nio.file.NoSuchFileException |
                _: java.io.FileNotFoundException) =>
        throw new NotFoundException(s"not found: $p", e)
    }
  }

  /** Raw transport: `(url, userAgent) → (status, body)`. The default is
    * the real `java.net.http` client; a record/replay harness swaps in a
    * canned session via [[httpTransport]].
    */
  type HttpTransport = (String, String) => (Int, Array[Byte])

  /** Record/replay seam for the http tier: when set, [[http]] routes
    * requests through this transport instead of the network but still
    * runs the REAL response-validation branches (429 ban / 404
    * terminator / ≥400 quarantine), so a spec can drive the full
    * `http(s)://` path — pagination, rate limiting, User-Agent
    * propagation — with zero egress (the sandbox never sees a live SEC
    * server; the replay is the permanent adjudication of that gap).
    * Production code never sets this. Single-JVM scope: executors in
    * `local[*]` share it; on a real cluster it stays None everywhere.
    */
  @volatile var httpTransport: Option[HttpTransport] = None

  /** HTTP fetcher via `java.net.http` with the SEC-required User-Agent
    * (`client.py` mandates one; SEC fair-access policy).
    */
  def http(userAgent: String, timeoutSec: Int = 30): FetchFn = {
    url =>
      val (status, body) = httpTransport match {
        case Some(t) => t(url, userAgent)
        case None =>
          val client = HttpHolder.client
          val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
            .header("User-Agent", userAgent)
            .timeout(java.time.Duration.ofSeconds(timeoutSec))
            .build()
          val resp = client.send(req,
            java.net.http.HttpResponse.BodyHandlers.ofByteArray())
          (resp.statusCode(), resp.body())
      }
      // response validation (`client.py:154-177`): 429 means the SEC has
      // rate-banned this IP for ~10 minutes
      if (status == 429)
        throw new RateBannedException(
          "Request rate exceeded SEC limit; IP banned ~10 minutes")
      if (status == 404)
        throw new NotFoundException(s"HTTP 404 for $url")
      if (status >= 400)
        throw new FetchException(s"HTTP $status for $url", status)
      body
  }

  /** One HttpClient per executor JVM (connection reuse across tasks). */
  private object HttpHolder {
    lazy val client: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
        .build()
  }

  final class FetchException(msg: String, val status: Int = -1)
    extends RuntimeException(msg)
  final class RateBannedException(msg: String) extends RuntimeException(msg)
  /** The resource deterministically does not exist (HTTP 404 / missing
    * local file). Not retried — 404 is the pagination terminator
    * (`company.py:292-293`), and retrying it only burns rate budget.
    */
  final class NotFoundException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  val resultSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("url", StringType),
    StructField("content", BinaryType),
    StructField("error", StringType),
    StructField("not_found", BooleanType)))

  /** Per-request retry defaults (`client.py:24-29`): [[fetchAll]]'s and
    * the `edgar-company` page loop's.
    */
  val DefaultRetries: Int = 3
  val DefaultBackoffSec: Double = 0.0

  /** One request under the per-request retry policy (`client.py:196-205`),
    * each attempt gated by `limiter`. A [[NotFoundException]] is rethrown
    * at once: not-found is deterministic, so retrying it only burns rate
    * budget. Any other exception is retried `retries` times with
    * urllib3-style backoff, `backoffSec * 2^attempt`, then rethrown.
    */
  @scala.annotation.tailrec
  def fetchWithRetries(fetch: FetchFn, url: String, limiter: RateLimiter,
      retries: Int = DefaultRetries, backoffSec: Double = DefaultBackoffSec,
      attempt: Int = 0): Array[Byte] = {
    limiter.acquire()
    val got =
      try Some(fetch(url))
      catch {
        case e: NotFoundException => throw e
        case _: Exception if attempt < retries => None
      }
    got match {
      case Some(bytes) => bytes
      case None =>
        Thread.sleep((backoffSec * math.pow(2, attempt) * 1000).toLong)
        fetchWithRetries(fetch, url, limiter, retries, backoffSec, attempt + 1)
    }
  }

  /** Rate-limited distributed fan-out: `workList(key, url)` → rows of
    * (key, url, content, error, not_found). Each request runs under
    * [[fetchWithRetries]]; a URL that still fails is quarantined into the
    * `error` column instead of failing the job (`client.py:154-177`'s
    * validation as data, not exceptions). The structured `not_found` flag
    * classifies the error AT THE SOURCE (a [[NotFoundException]] from the
    * fetcher) rather than by message pattern, so a transient failure
    * whose text happens to mention "FileNotFoundException" can never
    * masquerade as end-of-pages.
    *
    * Eager: the call runs the fan-out as one job and returns the
    * [[graft.operators.Materialize.eager]] frame over its results, so
    * each work row is requested once per call, however many downstream
    * actions read the result; only a Spark task retry repeats a
    * request. A fetch too large for executor blocks is promoted to the
    * reliable tier like the engine's other corpus-scale frames.
    *
    * @param globalRate total requests/second budget across ALL partitions.
    * @param retries    per-request retry count (`client.py:24-29`).
    * @param backoffSec backoff factor between retries.
    */
  def fetchAll(workList: DataFrame, fetch: FetchFn, globalRate: Double = 10.0,
      retries: Int = DefaultRetries,
      backoffSec: Double = DefaultBackoffSec): DataFrame = {
    // one plan for the work list: the RDD the fan-out maps over also
    // sizes the rate split (planning it twice under AQE runs its query
    // stages twice)
    val work = workList
      .select(col("key").cast(StringType), col("url").cast(StringType)).rdd
    val perTaskRate = globalRate / math.max(work.getNumPartitions, 1)
    val fetched = work.mapPartitions { rows =>
      val limiter = new RateLimiter(perTaskRate)
      rows.map { r =>
        val (key, url) = (r.getString(0), r.getString(1))
        try Row(key, url,
          fetchWithRetries(fetch, url, limiter, retries, backoffSec), null, false)
        catch {
          case e: NotFoundException => Row(key, url, null, e.toString, true)
          case e: Exception => Row(key, url, null, e.toString, false)
        }
      }
    }
    Materialize.eager(workList.sparkSession.createDataFrame(fetched, resultSchema))
  }
}
