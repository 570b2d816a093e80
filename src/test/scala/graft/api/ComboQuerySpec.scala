package graft.api

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}

import graft.TestSpark
import graft.sources.IndexReader

/** `ComboQuery.entries` over a constructed archive mirror: quarterly +
  * daily idx files read as one scan, end-edge daily-scan pruning, the
  * [start, end] residual clip, skipped daily gaps and loud quarterly
  * gaps (see `Filings.scala` ComboQuery notes).
  */
class ComboQuerySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def idx(rows: Seq[(String, String, String, String)]): String = {
    val header = Seq("Description: fixture", "",
      "CIK|Company Name|Form Type|Date Filed|Filename",
      "-" * 80).mkString("\n")
    header + "\n" + rows.map { case (cik, name, form, date) =>
      s"$cik|$name|$form|$date|edgar/data/$cik/000$cik-21-$date.txt"
    }.mkString("\n") + "\n"
  }

  private def writeMirror(): String = {
    val root = Files.createTempDirectory("mirror").toString
    def put(rel: String, content: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    // Q4 2003 quarterly index: days from Oct 1 to Nov 8 (incl. pre-start
    // days Oct 1-8 that the residual clip must drop)
    put("full-index/2003/QTR4/master.idx", idx(Seq(
      ("100", "PRESTART CO", "10-K", "2003-10-01"),
      ("101", "PRESTART CO2", "10-Q", "2003-10-08"),
      ("102", "INRANGE CO", "10-Q", "2003-10-09"),
      ("103", "INRANGE CO2", "8-K", "2003-10-20"),
      ("104", "ENDDAY CO", "10-K", "2003-11-08"))))
    // daily idx for the end day — the pruner must NOT scan it (the <= end
    // quarterly already covers it); a duplicate row here would double the
    // ENDDAY CO entry if the scan ran
    put("daily-index/2003/QTR4/master.20031108.idx", idx(Seq(
      ("104", "ENDDAY CO", "10-K", "2003-11-08"))))
    // Q3 2003 quarterly index: one pre-start row (ge_start residual must
    // drop it) and one in-range row
    put("full-index/2003/QTR3/master.idx", idx(Seq(
      ("99", "TOOEARLY CO", "10-K", "2003-07-15"),
      ("105", "Q3 CO", "10-Q", "2003-09-01"))))
    root
  }

  test("same-quarter range over the balancing point: quarterly scan " +
    "clipped to [start, end], end-day daily scan pruned (no duplicates)") {
    val root = writeMirror()
    val q = Filings.ComboQuery(
      LocalDate.of(2003, 10, 9), LocalDate.of(2003, 11, 8), None,
      balancingPoint = 8)
    val rows = q.entries(spark, root)
      .select("cik", "date_filed").collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).sorted.toSeq
    assert(rows == Seq(
      ("102", "2003-10-09"),
      ("103", "2003-10-20"),
      ("104", "2003-11-08"))) // exactly once, despite quarterly + daily overlap
  }

  test("multi-quarter range: ge_start quarterly (Q3) + le_end quarterly " +
    "(Q4), residuals drop out-of-range rows, end-day scan pruned") {
    val root = writeMirror()
    // bp=20 → Q3 gets a >= start quarterly (42 days till next quarter),
    // Q4 gets a <= end quarterly (38 days till end) + the pruned end-day
    // daily scan (combo.py:186-192 quirk)
    val q = Filings.ComboQuery(
      LocalDate.of(2003, 8, 20), LocalDate.of(2003, 11, 8), None,
      balancingPoint = 20)
    val rows = q.entries(spark, root).select("cik").collect().map(_.getString(0))
    // 99 (Jul 15) dropped by ge_start; everything in range exactly once
    assert(rows.sorted.toSeq ==
      Seq("100", "101", "102", "103", "104", "105"))
  }

  /** The base mirror plus Q2 2003 edge days: a daily idx for Monday
    * Jun 30 and none for the weekend of Jun 28-29.
    */
  private def writeEdgeMirror(): String = {
    val root = writeMirror()
    val june30 = Paths.get(root, "daily-index/2003/QTR2/master.20030630.idx")
    Files.createDirectories(june30.getParent)
    Files.write(june30, idx(Seq(("106", "JUNE CO", "8-K", "20030630"))).getBytes("UTF-8"))
    root
  }

  // bp=5 → Jun 28-30 as daily scans (3 days till Q3), Q3 and Q4 whole
  private def edgeRange = Filings.ComboQuery(
    LocalDate.of(2003, 6, 28), LocalDate.of(2003, 12, 31), None,
    balancingPoint = 5)

  test("two quarters plus edge days execute as exactly one file scan") {
    val root = writeEdgeMirror()
    val plan = edgeRange.entries(spark, root).queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected one file scan:\n$plan")
  }

  test("a weekend gap in the daily files is skipped") {
    val root = writeEdgeMirror()
    val days = edgeRange.entries(spark, root)
      .filter(col("date_filed") < lit(java.sql.Date.valueOf("2003-07-01")))
      .select("cik", "file").collect().map(r => (r.getString(0), r.getString(1)))
    assert(days.length == 1)
    assert(days.head._1 == "106")
    assert(days.head._2.endsWith("daily-index/2003/QTR2/master.20030630.idx"))
  }

  test("a missing quarterly idx raises EdgarQueryError naming the file") {
    val root = writeMirror()
    // Q2 2003 has no full-index/2003/QTR2/master.idx in the mirror
    val e = intercept[IndexReader.EdgarQueryError] {
      Filings.ComboQuery(LocalDate.of(2003, 4, 1), LocalDate.of(2003, 9, 30), None)
        .entries(spark, root)
    }
    assert(e.getMessage.contains(s"$root/full-index/2003/QTR2/master.idx"))
    val q = intercept[IndexReader.EdgarQueryError] {
      Filings.QuarterlyQuery(2003, 2, None).entries(spark, root)
    }
    assert(q.getMessage.contains("full-index/2003/QTR2/master.idx"))
    val d = intercept[IndexReader.EdgarQueryError] {
      Filings.DailyQuery(LocalDate.of(2003, 6, 28), None).entries(spark, root)
    }
    assert(d.getMessage.contains("daily-index/2003/QTR2/master.20030628.idx"))
  }

  test("edge-day range rows equal the hand-listed expected set") {
    val root = writeEdgeMirror()
    val rows = edgeRange.entries(spark, root)
      .select("cik", "company_name", "form_type", "date_filed").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDate(3).toString))
      .sorted.toSeq
    assert(rows == Seq(
      ("100", "PRESTART CO", "10-K", "2003-10-01"),
      ("101", "PRESTART CO2", "10-Q", "2003-10-08"),
      ("102", "INRANGE CO", "10-Q", "2003-10-09"),
      ("103", "INRANGE CO2", "8-K", "2003-10-20"),
      ("104", "ENDDAY CO", "10-K", "2003-11-08"), // Q4 whole: no daily scan
      ("105", "Q3 CO", "10-Q", "2003-09-01"),
      ("106", "JUNE CO", "8-K", "2003-06-30"),
      ("99", "TOOEARLY CO", "10-K", "2003-07-15")))
  }
}
