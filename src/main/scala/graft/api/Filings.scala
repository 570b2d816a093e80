package graft.api

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.EdgarFunctions
import graft.operators.Materialize
import graft.ops.ComboPlanner
import graft.sources.{CompanyIndexReader, IndexReader}

/** The user-facing dispatcher mirroring `secedgar.core.filings.filings`
  * (`core/filings.py:12-193`): argument shape picks the query class.
  *
  *   - cik_lookup given            → [[CompanyQuery]]
  *   - start == end (one day)      → [[DailyQuery]]
  *   - exact quarter boundaries    → [[QuarterlyQuery]]
  *   - general date range          → [[ComboQuery]]
  *
  * Validation errors match the reference (`filings.py:164-193`): missing
  * everything, end without start, and invalid types raise.
  *
  * Each query compiles to a DataFrame over a mirrored EDGAR archive root
  * (local/HDFS/object store), so the analytics tier is identical across
  * strategies; only index-file selection differs. Once saved with the
  * analytic layout ([[graft.sink.PatternSink.writeAnalytic]]), `year`/
  * `quarter` predicates prune partitions: later scans need no planner.
  */
object Filings {

  sealed trait FilingsQuery {
    /** Entries DataFrame over the mirrored archive. */
    def entries(spark: SparkSession, archiveRoot: String): DataFrame
  }

  final case class DailyQuery(date: LocalDate, filter: Option[Column])
      extends FilingsQuery {
    def entries(spark: SparkSession, root: String): DataFrame = {
      val df = IndexReader.readStrict(spark, dailyIdx(root, date))
      filter.map(df.filter).getOrElse(df)
    }
  }

  final case class QuarterlyQuery(year: Int, quarter: Int, filter: Option[Column])
      extends FilingsQuery {
    require(year >= 1993, s"Given year must be greater than 1993, given $year")
    require(quarter >= 1 && quarter <= 4, s"Quarter must be between 1 and 4, given $quarter")
    def entries(spark: SparkSession, root: String): DataFrame = {
      val df = IndexReader.readStrict(spark, quarterlyIdx(root, year, quarter))
      filter.map(df.filter).getOrElse(df)
    }
  }

  /** A date range as ONE multi-path scan over the decomposition's
    * quarterly `master.idx` files and uncovered-day daily files, clipped to
    * [start, end] — which implies every quarterly `OnOrAfter`/`OnOrBefore`
    * residual, and is the reference's documented contract (`combo.py:110-112`)
    * that its lambda path leaks for a shared start/end quarter
    * (`combo.py:186-192`). A missing daily idx is a day without filings
    * (`combo.py:234-237`); a missing quarterly idx raises `EdgarQueryError`.
    */
  final case class ComboQuery(start: LocalDate, end: LocalDate,
      filter: Option[Column], balancingPoint: Int = 30) extends FilingsQuery {
    def entries(spark: SparkSession, root: String): DataFrame = {
      val d = ComboPlanner.decompose(start, end, balancingPoint)
      val days = ComboPlanner.uncoveredDays(d).map(dailyIdx(root, _))
        .filter(IndexReader.idxExists(spark, _))
      val scanned = IndexReader.readStrict(spark,
        d.quarters.map(q => quarterlyIdx(root, q.year, q.quarter)) ++ days: _*)
        .filter(col("date_filed").between(
          lit(java.sql.Date.valueOf(start)), lit(java.sql.Date.valueOf(end))))
      filter.map(scanned.filter).getOrElse(scanned)
    }
  }

  final case class CompanyQuery(lookups: Seq[String], filingType: Option[String],
      count: Option[Int], startDate: Option[LocalDate], endDate: Option[LocalDate],
      ownership: String = "include", matchFormat: String = "ALL",
      batchSize: Int = 10) extends FilingsQuery {
    require(Seq("include", "exclude", "only").contains(ownership),
      s"Ownership must be 'include', 'exclude' or 'only'. Given $ownership")
    require(Seq("EXACT", "AMEND", "ALL").contains(matchFormat),
      "match_format must be 'EXACT', 'AMEND', or 'ALL'")
    filingType.foreach { ft =>
      if (!graft.model.FilingType.isValid(ft))
        throw new IllegalArgumentException(s"Filing type $ft is not valid")
    }

    /** Company filings from the `edgar-company` scan over `root` (a
      * mirrored page tree `$root/browse-edgar/<cik>/start_<n>.xml`): the
      * scan runs the per-CIK page loop with the request params as
      * options and the date bounds as pushed `date_filed` WHERE clauses,
      * then the per-CIK `count` truncation (`company.py:253-303`). Eager:
      * each page is requested once per call, however many actions read
      * the result. A lookup containing ',' cannot travel in the scan's
      * comma-separated `ciks` option, so it is refused.
      */
    def entries(spark: SparkSession, root: String): DataFrame = {
      lookups.find(_.contains(",")).foreach { l =>
        throw new IllegalArgumentException(
          s"CIK lookup '$l' contains ',', which the edgar-company scan's " +
            "'ciks' option cannot carry")
      }
      val options = Map("root" -> root, "ciks" -> lookups.mkString(","),
        "batchSize" -> batchSize.toString, "ownership" -> ownership,
        "matchFormat" -> matchFormat) ++
        filingType.map("type" -> _) ++ count.map("count" -> _.toString)
      val scan = spark.read.format("edgar-company").options(options).load()
      val bounded = Seq(
        startDate.map(d => col("date_filed") >= lit(java.sql.Date.valueOf(d))),
        endDate.map(d => col("date_filed") <= lit(java.sql.Date.valueOf(d))))
        .flatten.foldLeft(scan)(_ filter _)
      Materialize.eager(
        count.map(CompanyIndexReader.limitPerCompany(bounded, _)).getOrElse(bounded))
    }
  }

  /** `filings(...)` dispatch (`core/filings.py:135-193`). */
  def apply(
      cikLookup: Seq[String] = Nil,
      filingType: Option[String] = None,
      startDate: Option[LocalDate] = None,
      endDate: Option[LocalDate] = None,
      count: Option[Int] = None,
      entryFilter: Option[Column] = None): FilingsQuery = {
    if (cikLookup.nonEmpty) {
      CompanyQuery(cikLookup, filingType, count, startDate, endDate)
    } else if (startDate.isDefined && endDate.isDefined) {
      val (s, e) = (startDate.get, endDate.get)
      if (s == e) DailyQuery(s, entryFilter)
      else if (isExactQuarterRange(s, e)) {
        // a single exact quarter → QuarterlyFilings (`filings.py:170-178`)
        QuarterlyQuery(s.getYear, ComboPlanner.quarterOf(s), entryFilter)
      } else ComboQuery(s, e, entryFilter)
    } else if (startDate.isDefined) {
      // start without end: through today (`filings.py:150-163` semantics)
      ComboQuery(startDate.get, LocalDate.now(), entryFilter)
    } else if (endDate.isDefined) {
      throw new IllegalArgumentException(
        "You must provide start_date if you provide end_date")
    } else {
      throw new IllegalArgumentException(
        "You must provide at least one of cik_lookup or date(s)")
    }
  }

  private def dailyIdx(root: String, date: LocalDate): String =
    s"$root/daily-index/${date.getYear}/QTR${ComboPlanner.quarterOf(date)}/" +
      s"master.${EdgarFunctions.eraIdxDateStr(date)}.idx"
  private def quarterlyIdx(root: String, year: Int, quarter: Int): String =
    s"$root/full-index/$year/QTR$quarter/master.idx"

  private def isExactQuarterRange(s: LocalDate, e: LocalDate): Boolean = {
    val q = ComboPlanner.quarterOf(s)
    val qStart = LocalDate.of(s.getYear, ComboPlanner.quarterStartMonth(q), 1)
    val qEnd = qStart.plusMonths(3).minusDays(1)
    s == qStart && e == qEnd
  }
}
