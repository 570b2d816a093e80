package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.CikMapReader
import graft.sources.dsv2.{CompanyPageXml, PageFilter}

class EntryOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CIK resolution precedence: digits > ticker > title; misses dropped " +
    "(cik_lookup.py:195-226)") {
    val cikMap = CikMapReader.read(spark, TestSpark.resource("company_tickers.json"))
    val lookups = Seq("320193", "aapl", "Apple Inc.", "No Such Company Ltd")
      .toDF("lookup")
    val resolved = EntryOps.resolveCiks(lookups, cikMap)
      .as[(String, String)].collect().toMap
    assert(resolved("320193") == "320193") // digit passthrough, verbatim
    assert(resolved("aapl") == "320193") // ticker, case-insensitive
    assert(resolved("Apple Inc.") == "320193") // title
    assert(!resolved.contains("No Such Company Ltd")) // dropped with warning
    // broadcast join: the map side must hash under the broadcast threshold
    val plan = EntryOps.resolveCiks(lookups, cikMap).queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin"))
  }

  test("groupByCik preserves idx order inside collected lists (_index.py:174-178)") {
    val entries = Seq(
      ("111", 3L, "c.txt"), ("111", 1L, "a.txt"), ("222", 2L, "b.txt"),
      ("111", 2L, "b2.txt")).toDF("cik", "line_no", "file_name")
    val grouped = EntryOps.groupByCik(entries, Seq("file_name"))
      .orderBy("cik").collect()
    val first = grouped(0).getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
    assert(first == Seq("a.txt", "b2.txt", "c.txt")) // line order, not insert order
  }

  test("per-key limit is a window top-k, not a global limit (company.py:287-303)") {
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2))
      .toDF("cik", "n")
    val limited = EntryOps.perKeyLimit(df, Seq("cik"), Seq(col("n").desc), 2)
    assert(limited.count() == 4) // 2 per key — a global limit(2) would give 2
    assert(limited.filter($"cik" === "a").as[(String, Int)].collect()
      .map(_._2).sorted.toSeq == Seq(2, 3))
  }

  test("assertNonEmpty raises NoFilingsError (core/_base.py:92-106)") {
    val empty = Seq.empty[(String, Int)].toDF("cik", "n")
    assertThrows[EntryOps.NoFilingsError](EntryOps.assertNonEmpty(empty))
    val ok = Seq(("a", 1)).toDF("cik", "n")
    assert(EntryOps.assertNonEmpty(ok).count() == 1)
  }

  test("company XML page: golden aapl fixture, BAD_LINK filtering " +
    "(company.py:253-266, tests/data/filings/aapl_10q_filings.xml)") {
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(TestSpark.resource("aapl_10q_filings.xml"))))
    // the edgar-company reader's page → rows step (full-schema rows:
    // type at 4, filinghref at 5, txt_url at 8)
    val all = PageFilter(filingType = None).rows("0000320193", 0, xml)
    assert(all.filings == 13) // 13 <filing> rows in the fixture
    val tenQ = PageFilter(filingType = Some("10-Q")).rows("0000320193", 0, xml)
    assert(tenQ.rows.nonEmpty)
    assert(tenQ.rows.forall(_(4).toString == "10-Q"))
    assert(tenQ.rows.forall { r =>
      val url = r(8).toString // trimmed: the fixture indents its hrefs
      url.startsWith("https://") && url.endsWith(".txt")
    })
    // fixture contains BAD_LINK rows (its three 10-Q/As): they count
    // toward `count` as type matches but are dropped from the rows
    val hrefs = CompanyPageXml.parse(xml).filings.map(_.filinghref)
    assert(hrefs.count(_ == "BAD_LINK") == 3)
    assert(!all.rows.exists(_(5).toString == "BAD_LINK"))
    val amends = PageFilter(filingType = Some("10-Q/A")).rows("0000320193", 0, xml)
    assert(amends.matched == 3 && amends.rows.isEmpty)
  }

  test("entry filters reach the parquet scan as PushedFilters " +
    "(Column predicates stay pushdown-eligible)") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .filter($"event_type" === "click")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(event_type), " +
      "EqualTo(event_type,click)]"), s"predicate not pushed:\n$scan")
  }
}
