package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level ports of the reference's scalar / extraction logic
  * (SURVEY.md §2.2-2.3). Everything here composes Spark built-ins, so the
  * whole layer stays inside whole-stage codegen — no UDFs on the hot path.
  */
object EdgarFunctions {

  /** Idx row regex (`secedgar/core/_index.py:161-162`):
    * `CIK|Company Name|Form Type|Date Filed|File Name`. Header/rule lines
    * of master.idx fail the leading-digits requirement and drop out.
    */
  val IdxLineRegex = "^[0-9]+\\|.+\\|.+\\|[0-9-]+\\|.+$"

  /** Parse raw idx lines into the FilingEntry relational shape
    * (`_index.py:159-169`). Input must have a text column and a
    * line-number column (source order matters: `num_previously_valid` and
    * grouped-list order are defined by file order, `_index.py:160-178`).
    *
    * The running count is NOT assigned here — it counts *kept* rows, so it
    * must be computed after the caller applies its entry filter; see
    * [[graft.ops.EntryOps.withRunningCount]].
    */
  def parseIdxLines(
      lines: DataFrame,
      lineCol: String = "value",
      lineNoCol: String = "line_no"): DataFrame = {
    val c = col(lineCol)
    val parts = split(c, "\\|")
    lines
      .filter(c.rlike(IdxLineRegex))
      .select(
        trim(parts.getItem(0)).as("cik"),
        parts.getItem(1).as("company_name"),
        parts.getItem(2).as("form_type"),
        // quarterly idx carries yyyy-MM-dd, daily idx yyyyMMdd
        // (`tests/data/filings/daily/master.20181231.idx`); try both
        coalesce(try_to_date(parts.getItem(3), "yyyy-MM-dd"),
          try_to_date(parts.getItem(3), "yyyyMMdd")).as("date_filed"),
        // strip trailing CR like the reference's .strip() (`_index.py:165`)
        regexp_replace(parts.getItem(4), "\\r$", "").as("file_name"),
        col(lineNoCol).as("line_no"))
      .withColumn("path", concat(lit("Archives/"), col("file_name")))
  }

  /** `url.split("/")[-1]` (`core/_base.py:72-79`). */
  def accessionNumber(url: Column): Column = substring_index(url, "/", -1)

  /** `link[:link.rfind("-")] + ".txt"` (`core/company.py:295`): rewrite an
    * index-page href to the filing text URL.
    */
  def accessionToTxtUrl(link: Column): Column =
    concat(regexp_replace(link, "-[^-]*$", ""), lit(".txt"))

  /** Directory-name sanitizer (`core/_base.py:81-90`): keep `[0-9A-Za-z\s]`
    * then spaces to underscores.
    */
  def cleanDirectoryPath(c: Column): Column =
    regexp_replace(regexp_replace(c, "[^0-9A-Za-z \\t\\n]", ""), " ", "_")

  /** `(month-1)//3+1` (`utils.py:46-52`) — Spark's `quarter` built-in. */
  def quarterOf(d: Column): Column = quarter(d)

  /** Quarter start month `1+(q-1)*3` (`utils.py:55-66`). */
  def quarterStartMonth(q: Column): Column = (q - lit(1)) * lit(3) + lit(1)

  /** `add_quarter` (`utils.py:69-83`): next (year, quarter). */
  def nextYearOfQuarter(year: Column, q: Column): Column =
    when(q === 4, year + 1).otherwise(year)
  def nextQuarter(q: Column): Column =
    when(q === 4, lit(1)).otherwise(q + 1)

  /** First day of the *next* quarter for a date — the quarter-walk step of
    * the combo planner (`core/combo.py:151-152`).
    */
  def nextQuarterStart(d: Column): Column = add_months(trunc(d, "quarter"), 3)

  /** Era-dependent daily idx date format (`core/daily.py:118-132`):
    * MMddyy before 1995, yyMMdd before 1998-03-31, yyyyMMdd after.
    */
  def eraIdxDate(d: Column): Column =
    when(year(d) < 1995, date_format(d, "MMddyy"))
      .when(d < to_date(lit("1998-03-31")), date_format(d, "yyMMdd"))
      .otherwise(date_format(d, "yyyyMMdd"))

  /** Scala-side (path construction) variant of [[eraIdxDate]]. */
  def eraIdxDateStr(d: java.time.LocalDate): String = {
    val fmt =
      if (d.getYear < 1995) "MMddyy"
      else if (d.isBefore(java.time.LocalDate.of(1998, 3, 31))) "yyMMdd"
      else "yyyyMMdd"
    d.format(java.time.format.DateTimeFormatter.ofPattern(fmt))
  }

  /** `master.{date}.idx` daily index filename (`core/daily.py:104-107`). */
  def dailyIdxFilename(d: Column): Column =
    concat(lit("master."), eraIdxDate(d), lit(".idx"))

  /** Bulk-feed tar path (`core/_index.py:94-98`, `core/daily.py:108-116`). */
  def dailyTarUrl(d: Column): Column =
    format_string("Archives/edgar/Feed/%d/QTR%d/%s.nc.tar.gz",
      year(d), quarter(d), date_format(d, "yyyyMMdd"))

  /** CIK zero-fill to 10 digits (`core/rest.py:71,116,153`). */
  def cikZfill(cik: Column): Column = lpad(cik.cast(StringType), 10, "0")

  /** `isdigit` CIK detection (`cik_lookup.py:213-214`). */
  def isAllDigits(c: Column): Column = c.rlike("^[0-9]+$")

  /** `fill_days` (`core/combo.py:12-28`): dates strictly/inclusively
    * between start and end, as an array column (`sequence` + explode at the
    * call site keeps this fully codegen'd, no driver loop).
    */
  def fillDays(
      start: Column,
      end: Column,
      includeStart: Boolean = false,
      includeEnd: Boolean = false): Column = {
    val lo = if (includeStart) start else date_add(start, 1)
    val hi = if (includeEnd) end else date_add(end, -1)
    when(lo <= hi, sequence(lo, hi, expr("interval 1 day")))
      .otherwise(array().cast(ArrayType(DateType)))
  }

  /** Per-key limit as the reference means it (`core/company.py:287-303`):
    * top-k *per group*, not a global limit. `orderBy` must be total
    * (include a unique tiebreaker) for deterministic results.
    */
  def perKeyTopK(df: DataFrame, k: Int, partitionCols: Seq[String],
      orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }
}
