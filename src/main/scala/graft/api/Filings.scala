package graft.api

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.EdgarFunctions
import graft.operators.Materialize
import graft.ops.{ComboPlanner, EntryOps}
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
  * strategies; only index-file selection differs — and with the analytic
  * parquet layout ([[graft.sink.PatternSink.writeAnalytic]]) Catalyst's
  * partition pruning performs the planner's file selection automatically.
  */
object Filings {

  sealed trait FilingsQuery {
    /** Entries DataFrame over the mirrored archive. */
    def entries(spark: SparkSession, archiveRoot: String): DataFrame
  }

  final case class DailyQuery(date: LocalDate, filter: Option[Column])
      extends FilingsQuery {
    def entries(spark: SparkSession, root: String): DataFrame = {
      val path = s"$root/daily-index/${date.getYear}/QTR${ComboPlanner.quarterOf(date)}/" +
        s"master.${EdgarFunctions.eraIdxDateStr(date)}.idx"
      val df = IndexReader.read(spark, path)
      filter.map(df.filter).getOrElse(df)
    }
  }

  final case class QuarterlyQuery(year: Int, quarter: Int, filter: Option[Column])
      extends FilingsQuery {
    require(year >= 1993, s"Given year must be greater than 1993, given $year")
    require(quarter >= 1 && quarter <= 4, s"Quarter must be between 1 and 4, given $quarter")
    def entries(spark: SparkSession, root: String): DataFrame = {
      val path = s"$root/full-index/$year/QTR$quarter/master.idx"
      val df = IndexReader.read(spark, path)
      filter.map(df.filter).getOrElse(df)
    }
  }

  final case class ComboQuery(start: LocalDate, end: LocalDate,
      filter: Option[Column], balancingPoint: Int = 30) extends FilingsQuery {
    def entries(spark: SparkSession, root: String): DataFrame = {
      val d = ComboPlanner.decompose(start, end, balancingPoint)
      val parts: Seq[DataFrame] =
        d.quarters.map { q =>
          val base = QuarterlyQuery(q.year, q.quarter, None).entries(spark, root)
          q.filter match {
            case ComboPlanner.All => base
            case ComboPlanner.OnOrAfter(s) =>
              base.filter(col("date_filed") >= lit(java.sql.Date.valueOf(s)))
            case ComboPlanner.OnOrBefore(e) =>
              base.filter(col("date_filed") <= lit(java.sql.Date.valueOf(e)))
          }
        } ++ ComboPlanner.uncoveredDays(d).flatMap { day =>
          // redundant end-edge daily scan pruned (see uncoveredDays);
          // missing daily idx == no filings that day (`combo.py:234-237`)
          scala.util.Try(DailyQuery(day, None).entries(spark, root)).toOption
        }
      val unioned = EntryOps.unionByKey(parts)
        // the range bounds as a residual predicate: the reference's
        // documented contract ("date before which no filings fetched",
        // `combo.py:110-112`) — its lambda path leaks pre-start days of a
        // shared start/end quarter (`combo.py:186-192` has no >= start),
        // which only the filesystem sink masks
        .filter(col("date_filed").between(
          lit(java.sql.Date.valueOf(start)), lit(java.sql.Date.valueOf(end))))
      filter.map(unioned.filter).getOrElse(unioned)
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

  private def isExactQuarterRange(s: LocalDate, e: LocalDate): Boolean = {
    val q = ComboPlanner.quarterOf(s)
    val qStart = LocalDate.of(s.getYear, ComboPlanner.quarterStartMonth(q), 1)
    val qEnd = qStart.plusMonths(3).minusDays(1)
    s == qStart && e == qEnd
  }
}
