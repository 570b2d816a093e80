package graft.fetch

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.api.Filings
import graft.queries.ParseQueries
import graft.sources.dsv2.CikPageReader

/** A fresh filesystem copy of [[ParseQueries.paginatedPages]] in the
  * `$root/browse-edgar/<cik>/start_<n>.xml` mirror layout, for specs that
  * change or delete the mirror under a query.
  */
object CompanyMirror {
  def fresh(): String = {
    val root = java.nio.file.Files.createTempDirectory("edgar").toString
    ParseQueries.paginatedPages.foreach { case (url, xml) =>
      // mem://<cik>/start_<n> → $root/browse-edgar/<cik>/start_<n>.xml
      val Array(cik, page) = url.stripPrefix("mem://").split("/")
      val p = java.nio.file.Paths.get(root, "browse-edgar", cik, page + ".xml")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, xml.getBytes("UTF-8"))
    }
    root
  }
}

/** The company page loop's semantics per `core/company.py:269-303` and
  * `tests/core/test_company.py:113+` (count truncation, pagination
  * exhaustion), pinned on the `edgar-company` scan and on
  * [[Filings.CompanyQuery.entries]], which reads through it. Request
  * sequences come from the scan's http tier over a canned session
  * ([[Fetcher.httpTransport]]) that serves the same fixture pages.
  */
class CompanyPaginatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Base = "https://replay.invalid/cgi-bin/browse-edgar"

  /** The fixture page a request names by its CIK and start params. */
  private def fixture(url: String): (Int, Array[Byte]) = {
    val params = url.split('?')(1).split('&')
      .map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    ParseQueries.paginatedPages
      .get(s"mem://${params("CIK")}/start_${params("start")}")
      .fold((404, Array.empty[Byte]))(xml => (200, xml.getBytes("UTF-8")))
  }

  /** Runs `body` with the http tier answering through `answer`; returns
    * its result and the URLs requested, in order.
    */
  private def replaying[A](answer: String => (Int, Array[Byte]))(
      body: => A): (A, Seq[String]) = {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Fetcher.httpTransport = Some { (url, _) => log.add(url); answer(url) }
    try { val a = body; (a, log.asScala.toSeq) }
    finally Fetcher.httpTransport = None
  }

  private def httpScan(ciks: String, options: (String, String)*): DataFrame =
    options.foldLeft(spark.read.format("edgar-company")
      .option("root", Base).option("ciks", ciks)
      .option("batchSize", "2").option("rate", "1000000")
      .option("userAgent", "graft-test test@example.com")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  private def starts(urls: Seq[String], cik: String): Seq[Int] =
    urls.filter(_.contains(s"CIK=$cik"))
      .map(_.split("start=")(1).split("&")(0).toInt)

  /** The [[CikPageReader.PageFetchException]] a failed scan raised. */
  private def pageFetchFailure(e: Throwable): CikPageReader.PageFetchException =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case p: CikPageReader.PageFetchException => p
    }.getOrElse(fail("no PageFetchException in the cause chain", e))

  test("early exit: page past count is never requested; missing and empty " +
    "pages stop pagination (company.py:287-293)") {
    val (rows, urls) = replaying(fixture) {
      httpScan("0001000045,0001000120,0001000200",
        "type" -> "10-Q", "count" -> "3")
        .select("cik_key", "page_start").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
    }
    assert(rows == Set(("0001000045", 0), ("0001000045", 2),
      ("0001000120", 0)))
    // count reached for A at start_2 → start_4 never requested, even
    // though the fixture has it
    assert(starts(urls, "0001000045") == Seq(0, 2))
    // B's missing page WAS requested (that's how exhaustion is detected)
    assert(starts(urls, "0001000120") == Seq(0, 2))
    // C stopped after its single empty page
    assert(starts(urls, "0001000200") == Seq(0))
  }

  test("count=None exhausts pagination instead of early-exiting") {
    val (pages, urls) = replaying(fixture) {
      httpScan("0001000045", "type" -> "10-Q")
        .select("page_start").collect().map(_.getInt(0)).toSet
    }
    // start_4 has a 10-Q, start_6 is missing → all three pages read
    assert(pages == Set(0, 2, 4))
    assert(starts(urls, "0001000045") == Seq(0, 2, 4, 6))
  }

  test("CompanyQuery.entries: type filter, BAD_LINK drop, per-CIK " +
    "truncation") {
    val rows = Filings.CompanyQuery(
      lookups = Seq("0001000045", "0001000120", "0001000200"),
      filingType = Some("10-Q"), count = Some(1),
      startDate = None, endDate = None, batchSize = 2)
      .entries(spark, ParseQueries.companyMirrorDir)
      .select("cik", "txt_url").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // count=1 → newest valid 10-Q per company
    assert(rows == Set(
      ("0001000045",
        "https://www.sec.gov/Archives/edgar/data/1000045/0000912057-21-000601.txt"),
      ("0001000120",
        "https://www.sec.gov/Archives/edgar/data/1000120/0000912057-21-000201.txt")))
  }

  test("filingType=None counts every filing toward count and keeps all " +
    "usable links (company.py:262-266)") {
    // page start_0 already has 2 filings (10-Q + 10-K) → early exit
    val (_, urls) = replaying(fixture) {
      httpScan("0001000045", "count" -> "2").count()
    }
    assert(starts(urls, "0001000045") == Seq(0))
    val types = Filings.CompanyQuery(
      lookups = Seq("0001000045"), filingType = None, count = Some(2),
      startDate = None, endDate = None, batchSize = 2)
      .entries(spark, ParseQueries.companyMirrorDir)
      .select("type").collect().map(_.getString(0)).sorted.toSeq
    assert(types == Seq("10-K", "10-Q"))
  }

  test("CompanyQuery.entries end-to-end over a filesystem page mirror " +
    "(mirrorUrl layout + Fetcher.local)") {
    val q = Filings(cikLookup = Seq("0001000045", "0001000120", "0001000200"),
      filingType = Some("10-Q"), count = Some(3))
      .asInstanceOf[Filings.CompanyQuery].copy(batchSize = 2)
    val rows = q.entries(spark, CompanyMirror.fresh())
      .select("cik", "txt_url").collect().map(_.getString(0)).sorted.toSeq
    assert(rows == Seq("0001000045", "0001000045", "0001000120"))
  }

  test("a non-404 fetch error raises instead of silently ending pagination " +
    "(client.py:154-177 raises; only missing pages mean exhaustion)") {
    val e = intercept[Exception] {
      replaying { url =>
        if (url.contains("start=2&"))
          throw new RuntimeException("connection reset by peer")
        fixture(url)
      }(httpScan("0001000045", "type" -> "10-Q").collect())
    }
    val msg = pageFetchFailure(e).getMessage
    assert(msg.contains("connection reset"))
    assert(msg.contains("cik=0001000045"))
    assert(msg.contains("start=2"))
  }

  test("a transient error whose message embeds 'FileNotFoundException' " +
    "raises instead of being misread as end-of-pages") {
    val e = intercept[Exception] {
      replaying { url =>
        if (url.contains("start=2&"))
          throw new RuntimeException(
            "wrapped: caused by java.io.FileNotFoundException (transient mount)")
        fixture(url)
      }(httpScan("0001000045", "type" -> "10-Q").collect())
    }
    assert(pageFetchFailure(e).getMessage.contains("FileNotFoundException"))
  }

  test("CompanyQuery refuses a lookup containing ',' instead of splitting " +
    "it into two CIKs") {
    val e = intercept[IllegalArgumentException] {
      Filings.CompanyQuery(lookups = Seq("0001000045,0001000120"),
        filingType = None, count = None, startDate = None, endDate = None)
        .entries(spark, ParseQueries.companyMirrorDir)
    }
    assert(e.getMessage.contains("0001000045,0001000120"))
  }

  test("pageUrl builds the browse-edgar request (company.py:96-144)") {
    val u = CikPageReader.pageUrl(
      "https://www.sec.gov/cgi-bin/browse-edgar", "0000320193",
      Some("10-K"), 20, 10, dateb = Some("20211231"))
    assert(u == "https://www.sec.gov/cgi-bin/browse-edgar?" +
      "action=getcompany&CIK=0000320193&type=10-K&dateb=20211231" +
      "&ownership=include&count=10&start=20&output=atom")
  }
}
