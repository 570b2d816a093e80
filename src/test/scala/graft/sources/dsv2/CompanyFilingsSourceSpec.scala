package graft.sources.dsv2

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.api.Filings
import graft.queries.ParseQueries
import graft.sources.CompanyIndexReader

/** DSv2 company source: pushdown reaches the scan, the page loop early-
  * exits, and output matches the hand-derived golden rows on the same
  * mirror (`core/company.py:96-144,269-303` semantics).
  */
class CompanyFilingsSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def read(extra: (String, String)*): DataFrame = {
    val base = spark.read.format("edgar-company")
      .option("root", ParseQueries.companyMirrorDir)
      .option("ciks", "0001000045,0001000120,0001000200")
      .option("batchSize", "2").option("rate", "1000000")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  private def scanDesc(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("CompanyQuery.entries and the raw scan both return " +
    "q_company_paginate's hand-derived golden rows (type + count + " +
    "per-CIK truncation)") {
    // the oracle's golden rows (ParseQueries, q_company_paginate): A
    // reaches count=3 type-matches at start_2 (BAD_LINK counts, then is
    // dropped), B stops on its missing page, C's empty page yields nothing
    val golden = Set(
      ("0001000045", "ACME CORP", "10-Q", "2021-04-29",
        "https://www.sec.gov/Archives/edgar/data/1000045/0000912057-21-000303.txt"),
      ("0001000045", "ACME CORP", "10-Q", "2021-06-30",
        "https://www.sec.gov/Archives/edgar/data/1000045/0000912057-21-000601.txt"),
      ("0001000120", "BETA FUND", "10-Q", "2021-02-10",
        "https://www.sec.gov/Archives/edgar/data/1000120/0000912057-21-000201.txt"))
    def rows(df: DataFrame) =
      df.select("cik", "company_name", "type", "date_filed", "txt_url")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getDate(3).toString, r.getString(4))).toSet
    val viaQuery = Filings.CompanyQuery(
      lookups = Seq("0001000045", "0001000120", "0001000200"),
      filingType = Some("10-Q"), count = Some(3),
      startDate = None, endDate = None, batchSize = 2)
      .entries(spark, ParseQueries.companyMirrorDir)
    assert(rows(viaQuery) == golden)
    assert(rows(CompanyIndexReader.limitPerCompany(
      read("type" -> "10-Q", "count" -> "3"), 3)) == golden)
  }

  test("date and type WHERE clauses push into the scan and filter " +
    "correctly (datea/dateb/type request params, company.py:132-145)") {
    val df = read()
      .filter($"type" === "10-Q" &&
        $"date_filed" >= lit(java.sql.Date.valueOf("2021-03-01")) &&
        $"date_filed" <= lit(java.sql.Date.valueOf("2021-06-01")))
    val plan = scanDesc(df)
    assert(plan.contains("EdgarCompanyScan"), plan)
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("date_filed"), plan)
    assert(plan.contains("EqualTo(type,10-Q)"), plan)
    val got = df.select("cik", "date_filed").collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    // fixture 10-Qs in [2021-03-01, 2021-06-01]: A 000303 (2021-04-29)
    // and B 000201 (2021-02-10) is out of range
    assert(got.forall { case (_, d) => d >= "2021-03-01" && d <= "2021-06-01" })
    assert(got.nonEmpty)
    assert(got.map(_._1) == Set("0001000045"))
  }

  test("LIMIT pushes into the scan (partial) and stops the page loop") {
    val df = read("type" -> "10-Q").limit(1)
    assert(scanDesc(df).contains("PushedLimit: 1"), scanDesc(df))
    assert(df.count() == 1)
  }

  test("per-CIK count early-exits the page loop: a poison page past the " +
    "count point is never fetched (company.py:287)") {
    // CIK A reaches count=3 type-matches at start_2; start_4 exists in
    // the shared fixture — plant a poison mirror where start_4 holds a
    // unique href that must never appear in the output
    val root = java.nio.file.Files.createTempDirectory("dsv2_poison")
    val cikDir = root.resolve("browse-edgar/0001000045")
    java.nio.file.Files.createDirectories(cikDir)
    ParseQueries.paginatedPages.foreach { case (url, xml) =>
      if (url.startsWith("mem://0001000045/") && !url.endsWith("start_4")) {
        val name = url.stripPrefix("mem://0001000045/") + ".xml"
        java.nio.file.Files.write(cikDir.resolve(name), xml.getBytes("UTF-8"))
      }
    }
    val poison =
      "<companyfilings><companyinfo><cik>0001000045</cik><name>ACME CORP" +
        "</name><sic>1</sic></companyinfo><results><filing><type>10-Q</type>" +
        "<filinghref>https://x/POISON-0001-index.htm</filinghref>" +
        "<datefiled>2020-01-01</datefiled><formname>p</formname></filing>" +
        "</results></companyfilings>"
    java.nio.file.Files.write(cikDir.resolve("start_4.xml"),
      poison.getBytes("UTF-8"))
    val got = spark.read.format("edgar-company")
      .option("root", root.toString).option("ciks", "0001000045")
      .option("type", "10-Q").option("count", "3").option("batchSize", "2")
      .option("rate", "1000000").load()
      .select("filinghref").as[String].collect()
    assert(got.nonEmpty)
    assert(!got.exists(_.contains("POISON")))
    // without the count, the same mirror DOES reach the poison page —
    // proving the early exit (not a parse artifact) kept it out
    val unbounded = spark.read.format("edgar-company")
      .option("root", root.toString).option("ciks", "0001000045")
      .option("type", "10-Q").option("batchSize", "2")
      .option("rate", "1000000").load()
      .select("filinghref").as[String].collect()
    assert(unbounded.exists(_.contains("POISON")))
  }

  test("column pruning reaches the scan") {
    val df = read("type" -> "10-Q").select("cik")
    assert(scanDesc(df).contains("ReadSchema: cik"), scanDesc(df))
    assert(df.collect().forall(_.length == 1))
  }

  test("ownership and matchFormat options apply request-param semantics " +
    "(company.py:157-166,226-235)") {
    val base = Seq("ciks" -> "0001000300")
    val only = spark.read.format("edgar-company")
      .option("root", ParseQueries.companyMirrorDir)
      .option("ciks", "0001000300").option("batchSize", "2")
      .option("ownership", "only").option("rate", "1000000").load()
      .select("type").as[String].collect().toSet
    assert(only == Set("4", "4/A", "3", "5"))
    val exact = spark.read.format("edgar-company")
      .option("root", ParseQueries.companyMirrorDir)
      .option("ciks", "0001000300").option("batchSize", "2")
      .option("matchFormat", "AMEND").option("rate", "1000000").load()
      .select("type").as[String].collect().toSet
    assert(exact == Set("4/A", "10-K/A"))
  }

  test("a count-bounded scan reports its tiny size to the optimizer " +
    "(SupportsReportStatistics -> broadcastable in joins)") {
    val bounded = read("type" -> "10-Q", "count" -> "3")
    val stats = bounded.queryExecution.optimizedPlan.stats
    // 3 ciks x count 3 x ~256B — far under any broadcast threshold
    assert(stats.sizeInBytes <= BigInt(3 * 3 * 256),
      s"expected count-derived size, got ${stats.sizeInBytes}")
    // unbounded scans must NOT claim to be small
    val unbounded = read("type" -> "10-Q")
    assert(unbounded.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(1L << 20))
  }

  test("an http root without a userAgent is refused (SEC fair-access " +
    "policy, client.py mandates one)") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("edgar-company")
        .option("root", "https://www.sec.gov/cgi-bin/browse-edgar")
        .option("ciks", "0000320193").load().collect()
    }
    assert(e.getMessage.contains("userAgent"))
  }

  test("invalid filing type raises at table resolution, like CompanyQuery") {
    assertThrows[IllegalArgumentException] {
      read("type" -> "NOT-A-TYPE").collect()
    }
  }
}
