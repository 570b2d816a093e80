package graft.sources.dsv2

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fetch.Fetcher
import graft.queries.ParseQueries

/** Record/replay gate for the `http(s)://` tier of the DSv2 company
  * source — the one reference behavior (`client.py:221-277` live
  * pagination + rate limiting) the sandbox can never exercise against a
  * real server. A canned browse-edgar session (the same page fixtures
  * the mirror tier serves) registers as [[Fetcher.httpTransport]]; the
  * reader then runs its REAL http path end-to-end: `pageUrl` request
  * construction, User-Agent propagation, 404-as-terminator, response
  * validation, and the per-partition rate limiter (assertions mirrored
  * from the reference's `test_client.py:178-195`).
  */
class CompanyReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Base = "https://replay.invalid/cgi-bin/browse-edgar"
  private val UA = "graft-test test@example.com"
  private val Ciks = Seq("0001000045", "0001000120", "0001000200")

  /** The mirror fixture pages re-keyed by the REAL request URLs the
    * http tier builds (same builder, so the mapping can never drift).
    */
  private def replayPages: Map[String, Array[Byte]] =
    ParseQueries.paginatedPages.map { case (k, xml) =>
      val Array(cik, st) = k.stripPrefix("mem://").split("/")
      val start = st.stripPrefix("start_").toInt
      CikPageReader.pageUrl(Base, cik, None, start, 2) ->
        xml.getBytes("UTF-8")
    }

  /** @param failOnce a URL whose first request answers HTTP 500. */
  private final class Replay(pages: Map[String, Array[Byte]],
      failOnce: Option[String] = None) {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, Long)]()
    private val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val transport: Fetcher.HttpTransport = (url, ua) => {
      log.add((url, ua, System.nanoTime()))
      if (failOnce.contains(url) && failed.compareAndSet(false, true))
        (500, Array.empty[Byte])
      else pages.get(url) match {
        case Some(b) => (200, b)
        case None => (404, Array.empty[Byte])
      }
    }
    def requests: Seq[(String, String, Long)] = log.asScala.toSeq
  }

  private val Cols = Seq("cik_key", "page_start", "cik", "company_name",
    "type", "filinghref", "date_filed", "formname", "txt_url")

  private def withReplay[A](rp: Replay)(f: => A): A = {
    Fetcher.httpTransport = Some(rp.transport)
    try f finally Fetcher.httpTransport = None
  }

  private def readHttp(rate: String): DataFrame =
    spark.read.format("edgar-company")
      .option("root", Base)
      .option("ciks", Ciks.mkString(","))
      .option("batchSize", "2").option("rate", rate)
      .option("userAgent", UA)
      .load()

  private def mirrorRows: Set[Seq[Any]] =
    spark.read.format("edgar-company")
      .option("root", ParseQueries.companyMirrorDir)
      .option("ciks", Ciks.mkString(","))
      .option("batchSize", "2").option("rate", "1000000")
      .load()
      .select(Cols.head, Cols.tail: _*).collect().map(_.toSeq).toSet

  test("http tier over replay is row-identical to the mirror tier, " +
    "sends the User-Agent on every request, and stops at the 404 " +
    "terminator") {
    val rp = new Replay(replayPages)
    val viaHttp = withReplay(rp) {
      readHttp(rate = "1000000")
        .select(Cols.head, Cols.tail: _*).collect().map(_.toSeq).toSet
    }
    assert(viaHttp == mirrorRows)
    assert(viaHttp.nonEmpty)
    val reqs = rp.requests
    assert(reqs.nonEmpty && reqs.forall(_._2 == UA),
      "User-Agent must ride every request")
    // per-cik request sequence: ascending starts, exactly one PAST the
    // last existing page (the 404 terminator), none after it; an empty
    // page (cik 0001000200 start_0, zero filings) also terminates
    def starts(cik: String): Seq[Int] = reqs.map(_._1)
      .filter(_.contains(s"CIK=$cik"))
      .map(u => u.split("start=")(1).split("&")(0).toInt)
    assert(starts("0001000045") == Seq(0, 2, 4, 6)) // 3 pages + 404
    assert(starts("0001000120") == Seq(0, 2))       // 1 page + 404
    assert(starts("0001000200") == Seq(0))          // empty page stops
  }

  test("rate limit holds across the paginated session " +
    "(test_client.py:178-195 mirrored: requests/ceil(elapsed) <= rate)") {
    val rp = new Replay(replayPages)
    val rate = 3.0 // total budget; 3 ciks -> ~1 req/s per partition
    withReplay(rp) {
      readHttp(rate = rate.toString).count()
    }
    val ts = rp.requests.map(_._3)
    assert(ts.size == 7, s"expected 7 requests, got ${ts.size}")
    val elapsedSec = (ts.max - ts.min) / 1e9
    val cei = math.ceil(elapsedSec).max(1.0)
    assert(ts.size / cei <= rate,
      s"observed ${ts.size} requests in ${elapsedSec}s — rate above $rate")
    // the longest per-cik chain (4 requests at ~1/s) bounds the session
    assert(elapsedSec >= 2.0,
      s"4-request chain at ~1 req/s finished in ${elapsedSec}s — " +
        "limiter not engaged on the http path")
  }

  test("a transient 5xx is retried like fetchAll: a page that answers 500 " +
    "once, then 200, still yields the mirror tier's rows") {
    val flaky = CikPageReader.pageUrl(Base, "0001000045", None, 2, 2)
    val rp = new Replay(replayPages, failOnce = Some(flaky))
    val viaHttp = withReplay(rp) {
      readHttp(rate = "1000000")
        .select(Cols.head, Cols.tail: _*).collect().map(_.toSeq).toSet
    }
    assert(viaHttp == mirrorRows)
    assert(rp.requests.count(_._1 == flaky) == 2)
  }
}
