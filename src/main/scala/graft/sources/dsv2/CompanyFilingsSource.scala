package graft.sources.dsv2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.fetch.{Fetcher, RateLimiter}

/** DataSource V2 for the paginated company-filings source — the
  * engine-grade form of the reference's per-CIK page loop
  * (`core/company.py:269-303`) with its request params
  * (`core/company.py:96-144`: type, datea, dateb, count, ownership) as
  * real Spark pushdowns:
  *
  *   - `type = 'X'`, `date_filed >= d` / `date_filed <= d` WHERE clauses
  *     push into the scan ([[CompanyFilingsScanBuilder.pushFilters]]) and
  *     are applied inside the page loop — on the HTTP tier these are
  *     exactly the `type`/`datea`/`dateb` request params
  *     (`company.py:132-145`);
  *   - `LIMIT n` pushes ([[CompanyFilingsScanBuilder.pushLimit]]) and
  *     stops each partition's page loop after n emitted rows (partial
  *     push: Spark still applies the global limit);
  *   - the per-CIK `count` option reproduces the reference's early exit:
  *     page N+1 for a company is never fetched once its cumulative
  *     type-match count reaches `count` (`company.py:287`) or a page has
  *     no filings at all (`company.py:292-293`);
  *   - column pruning ([[CompanyFilingsScanBuilder.pruneColumns]]) drops
  *     unread fields before rows are built.
  *
  * Cluster shape: one [[InputPartition]] PER CIK. Page depth is
  * sequential within a partition — that is the pagination protocol, not
  * an implementation choice — while CIKs fan out across executors, so
  * wall-clock is O(max pages per CIK), not O(Σ pages). The SEC rate
  * budget (`client.py:30-35`) divides across partitions exactly like
  * [[graft.fetch.Fetcher.fetchAll]]: perTaskRate = rate / |ciks|.
  *
  * This is the engine's only company page loop:
  * [[graft.api.Filings.CompanyQuery]] reads through it too. Each page
  * request retries like [[graft.fetch.Fetcher.fetchAll]]
  * ([[graft.fetch.Fetcher.fetchWithRetries]], same count and backoff);
  * only a structured not-found ends a CIK's loop, and a page that still
  * fails raises [[CikPageReader.PageFetchException]] naming the CIK and
  * URL.
  *
  * Options: `root` (archive root — a mirrored page tree at
  * `$root/browse-edgar/<cik>/start_<n>.xml`, or an `http(s)://` base in
  * which case pages are requested live as
  * `$root?action=getcompany&CIK=...&start=...&output=atom` with the
  * pushed type/date bounds as request params and `userAgent` required,
  * per the SEC fair-access policy the reference client mandates),
  * `ciks` (comma-separated), `type`, `count`, `batchSize` (default 10),
  * `ownership` (include|exclude|only), `matchFormat` (EXACT|AMEND|ALL),
  * `rate` (global req/s, default 10), `maxPages` (default 10000),
  * `userAgent` (http tier only).
  */
class CompanyFilingsSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "edgar-company"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CompanyFilingsTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CompanyFilingsTable(new CaseInsensitiveStringMap(properties))
}

object CompanyFilingsTable {
  /** Output shape: provenance (`cik_key`, `page_start`) + parsed filing
    * + the `.txt` rewrite of `company.py:295`.
    */
  val schema: StructType = StructType(Seq(
    StructField("cik_key", StringType),
    StructField("page_start", IntegerType),
    StructField("cik", StringType),
    StructField("company_name", StringType),
    StructField("type", StringType),
    StructField("filinghref", StringType),
    StructField("date_filed", DateType),
    StructField("formname", StringType),
    StructField("txt_url", StringType)))

  /** Insider-ownership form family (`company.py:229-235`). */
  val ownershipForms: Set[String] = Set("3", "3/A", "4", "4/A", "5", "5/A")
}

class CompanyFilingsTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val conf = CompanyScanConfig.fromOptions(options)

  override def name(): String = s"edgar-company(${conf.ciks.mkString(",")})"
  override def schema(): StructType = CompanyFilingsTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new CompanyFilingsScanBuilder(conf)
}

/** Validated scan-time configuration (serialized to executors). */
final case class CompanyScanConfig(root: String, ciks: Seq[String],
    filingType: Option[String], count: Option[Int], batchSize: Int,
    ownership: String, matchFormat: String, rate: Double, maxPages: Int,
    userAgent: Option[String]) {
  def isHttp: Boolean = root.startsWith("http://") || root.startsWith("https://")
}

object CompanyScanConfig {
  def fromOptions(o: CaseInsensitiveStringMap): CompanyScanConfig = {
    require(o.containsKey("root"), "option 'root' (archive root) is required")
    require(o.containsKey("ciks"), "option 'ciks' (comma-separated) is required")
    val ft = Option(o.get("type"))
    // same validation as CompanyQuery (`company.py:188-196`)
    ft.foreach { t =>
      if (!graft.model.FilingType.isValid(t))
        throw new IllegalArgumentException(s"Filing type $t is not valid")
    }
    val ownership = o.getOrDefault("ownership", "include")
    require(Seq("include", "exclude", "only").contains(ownership),
      s"Ownership must be 'include', 'exclude' or 'only'. Given $ownership")
    val matchFormat = o.getOrDefault("matchFormat", "ALL")
    require(Seq("EXACT", "AMEND", "ALL").contains(matchFormat),
      "match_format must be 'EXACT', 'AMEND', or 'ALL'")
    val conf = CompanyScanConfig(
      root = o.get("root"),
      ciks = o.get("ciks").split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq,
      filingType = ft,
      count = Option(o.get("count")).map(_.toInt),
      batchSize = o.getInt("batchSize", 10),
      ownership = ownership,
      matchFormat = matchFormat,
      rate = o.getDouble("rate", 10.0),
      maxPages = o.getInt("maxPages", 10000),
      userAgent = Option(o.get("userAgent")))
    // the reference client refuses to run without a User-Agent
    // (`client.py` mandates one; SEC fair-access policy)
    require(!conf.isHttp || conf.userAgent.exists(_.nonEmpty),
      "option 'userAgent' is required for an http(s) root")
    conf
  }
}

class CompanyFilingsScanBuilder(conf: CompanyScanConfig) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var typeEq: Option[String] = None
  private var dateLo: Option[Int] = None // inclusive epoch-day bound
  private var dateHi: Option[Int] = None
  private var limit: Option[Int] = None
  private var required: StructType = CompanyFilingsTable.schema

  private def epochDay(v: Any): Option[Int] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toInt)
    case d: java.time.LocalDate => Some(d.toEpochDay.toInt)
    case s: String =>
      scala.util.Try(java.time.LocalDate.parse(s).toEpochDay.toInt).toOption
    case _ => None
  }

  /** `datea`/`dateb`/`type` request params (`company.py:132-145`) from
    * WHERE clauses. Anything else stays a Spark-side residual.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case EqualTo("type", _: String) => true
      case GreaterThanOrEqual("date_filed", v) => epochDay(v).isDefined
      case LessThanOrEqual("date_filed", v) => epochDay(v).isDefined
      case _ => false
    }
    accepted.foreach {
      case EqualTo("type", t: String) => typeEq = Some(t)
      case GreaterThanOrEqual("date_filed", v) =>
        dateLo = epochDay(v).map(d => dateLo.fold(d)(math.max(d, _)))
      case LessThanOrEqual("date_filed", v) =>
        dateHi = epochDay(v).map(d => dateHi.fold(d)(math.min(d, _)))
      case _ =>
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Partial limit push: each partition stops its PAGE LOOP once `limit`
    * rows were emitted; Spark still applies the global limit on top.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new CompanyFilingsScan(conf, pushed, typeEq,
    dateLo, dateHi, limit, required)
}

class CompanyFilingsScan(conf: CompanyScanConfig, pushed: Array[Filter],
    typeEq: Option[String], dateLo: Option[Int], dateHi: Option[Int],
    limit: Option[Int], required: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Row/size estimate from the source's own bounds: a per-CIK `count`
    * (or pushed limit) caps output at |ciks| × count, which is tiny —
    * reporting it lets Catalyst auto-broadcast company scans in joins
    * instead of assuming an unknown-size relation.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val perCik: Option[Long] =
      (conf.count.map(_.toLong), limit.map(_.toLong)) match {
        case (Some(c), Some(l)) => Some(math.min(c, l))
        case (c, l) => c.orElse(l)
      }
    private val rows: java.util.OptionalLong = perCik
      .map(c => java.util.OptionalLong.of(c * conf.ciks.size))
      .getOrElse(java.util.OptionalLong.empty())
    override def numRows(): java.util.OptionalLong = rows
    override def sizeInBytes(): java.util.OptionalLong =
      if (rows.isPresent)
        // ~256B/row: short strings + one date over the 9 columns
        java.util.OptionalLong.of(rows.getAsLong * 256L)
      else java.util.OptionalLong.empty()
  }

  /** Shown in `.explain` on the BatchScan node — the pushdown must be
    * visible in the plan, like a parquet scan's PushedFilters.
    */
  override def description(): String = {
    val f = pushed.map(_.toString).mkString(", ")
    s"EdgarCompanyScan ciks=${conf.ciks.size} " +
      s"PushedFilters: [$f], PushedLimit: ${limit.getOrElse(-1)}, " +
      s"ReadSchema: ${required.fieldNames.mkString(",")}"
  }

  override def planInputPartitions(): Array[InputPartition] =
    conf.ciks.map(c => CikInputPartition(c)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new CompanyFilingsReaderFactory(conf, typeEq, dateLo, dateHi, limit,
      required, conf.rate / math.max(conf.ciks.size, 1))
}

final case class CikInputPartition(cik: String) extends InputPartition

class CompanyFilingsReaderFactory(conf: CompanyScanConfig,
    typeEq: Option[String], dateLo: Option[Int], dateHi: Option[Int],
    limit: Option[Int], required: StructType, perTaskRate: Double)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new CikPageReader(conf, p.asInstanceOf[CikInputPartition].cik, typeEq,
      dateLo, dateHi, limit, required, perTaskRate)
}

/** Sequential page loop for one CIK (`company.py:269-303`), emitting
  * pruned, filtered rows. Early exits, in order of the reference:
  * missing page (structured not-found, the pagination terminator), page
  * with zero filings, cumulative type-match count reaching `count`
  * (matches are counted BEFORE the bad-link drop, like the reference
  * counts junk hrefs toward its total), pushed limit reached, maxPages.
  */
class CikPageReader(conf: CompanyScanConfig, cik: String,
    typeEq: Option[String], dateLo: Option[Int], dateHi: Option[Int],
    limit: Option[Int], required: StructType, perTaskRate: Double)
    extends PartitionReader[InternalRow] {
  import CikPageReader._

  private val limiter = new RateLimiter(perTaskRate)
  // http tier: the pushed bounds become the datea/dateb/type request
  // params the server filters by (`company.py:132-145`); the mirror tier
  // applies the same bounds residually in [[PageFilter]] — both
  // paths filter, the check is idempotent
  private val fetch: Fetcher.FetchFn =
    if (conf.isHttp) Fetcher.http(conf.userAgent.get) else Fetcher.local
  private val filter = PageFilter(conf.filingType, typeEq, dateLo, dateHi,
    conf.ownership, conf.matchFormat)
  private def yyyymmdd(epochDay: Int): String =
    java.time.LocalDate.ofEpochDay(epochDay)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
  private def urlAt(start: Int): String =
    if (conf.isHttp)
      pageUrl(conf.root, cik, conf.filingType.orElse(typeEq), start,
        conf.batchSize, conf.ownership, dateLo.map(yyyymmdd),
        dateHi.map(yyyymmdd))
    else s"${conf.root}/browse-edgar/$cik/start_$start.xml"

  private var start = 0
  private var pagesFetched = 0
  private var matched = 0L
  private var emitted = 0
  private var exhausted = false
  private var buffer: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  // positions of required columns in the full 9-column row
  private val proj: Array[Int] = required.fieldNames.map(
    CompanyFilingsTable.schema.fieldIndex)

  override def next(): Boolean = {
    while (!buffer.hasNext && !exhausted) fetchPage()
    if (buffer.hasNext) { current = buffer.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()

  private def fetchPage(): Unit = {
    if (pagesFetched >= conf.maxPages || limit.exists(emitted >= _)) {
      exhausted = true; return
    }
    val url = urlAt(start)
    val bytes =
      try Fetcher.fetchWithRetries(fetch, url, limiter)
      catch {
        case _: Fetcher.NotFoundException => exhausted = true; return
        case e: Exception => throw new PageFetchException(
          s"page fetch failed (not a missing page): cik=$cik url=$url: $e", e)
      }
    pagesFetched += 1
    val page = filter.rows(cik, start, new String(bytes, "UTF-8"))
    if (page.filings == 0) { exhausted = true; return }
    matched += page.matched
    val kept = limit.fold(page.rows)(l => page.rows.take(l - emitted))
    emitted += kept.size
    buffer = kept.iterator.map(full => new GenericInternalRow(proj.map(full)))
    if (conf.count.exists(matched >= _)) exhausted = true
    start += conf.batchSize
  }
}

object CikPageReader {
  /** A page request that failed past its retries with anything but a
    * not-found: raised, never read as end-of-pages (`client.py:154-177`).
    */
  final class PageFetchException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  /** `browse-edgar?action=getcompany` request URL (`company.py:96-144`
    * params: CIK, type, datea/dateb, ownership, count=batch, start).
    */
  def pageUrl(base: String, cik: String, filingType: Option[String],
      start: Int, batchSize: Int, ownership: String = "include",
      datea: Option[String] = None, dateb: Option[String] = None): String = {
    val params = Seq(
      Some("action" -> "getcompany"), Some("CIK" -> cik),
      filingType.map("type" -> _), datea.map("datea" -> _),
      dateb.map("dateb" -> _), Some("ownership" -> ownership),
      Some("count" -> batchSize.toString), Some("start" -> start.toString),
      Some("output" -> "atom")).flatten
    s"$base?" + params.map { case (k, v) => s"$k=$v" }.mkString("&")
  }
}

/** One page after the page → rows step: how many filings it held (zero
  * ends the loop), how many matched the `count` type, and the kept
  * filings as full-schema rows in Catalyst values.
  */
final case class PageRows(filings: Int, matched: Int, rows: Seq[Array[Any]])

/** The page → rows step of the company page loop: parse one page
  * ([[CompanyPageXml]]), tally its `filingType` matches for the `count`
  * early exit, and build the filings that pass the request-param filter
  * (`keep`) with the `.txt` rewrite (`company.py:253-266,295`). The
  * scan's reader runs it on every fetched page; a caller holding a page
  * string runs it directly.
  */
final case class PageFilter(filingType: Option[String],
    typeEq: Option[String] = None, dateLo: Option[Int] = None,
    dateHi: Option[Int] = None, ownership: String = "include",
    matchFormat: String = "ALL") {

  private def keep(typ: String, epochDay: Integer, href: String): Boolean = {
    // request-param semantics (`company.py:144,157-166,226-235,253-266`)
    filingType.forall(typ == _) &&
      typeEq.forall(typ == _) &&
      (epochDay != null && dateLo.forall(epochDay >= _) &&
        dateHi.forall(epochDay <= _) ||
        epochDay == null && dateLo.isEmpty && dateHi.isEmpty) &&
      (ownership match {
        case "exclude" => !CompanyFilingsTable.ownershipForms.contains(typ)
        case "only" => CompanyFilingsTable.ownershipForms.contains(typ)
        case _ => true
      }) &&
      (matchFormat match {
        case "EXACT" => !typ.endsWith("/A")
        case "AMEND" => typ.endsWith("/A")
        case _ => true
      }) &&
      href.contains("-") // bad links never survive the .txt rewrite
  }

  /** @param cik   the requested CIK (`cik_key`).
    * @param start the page's offset (`page_start`).
    */
  def rows(cik: String, start: Int, xml: String): PageRows = {
    val page = CompanyPageXml.parse(xml)
    // type matches count even when the row is dropped (bad link,
    // request-param filter), like the reference counts junk hrefs
    val matched = page.filings.count(f => filingType.forall(f.typ == _))
    val kept = page.filings.filter(f => keep(f.typ, f.epochDay, f.filinghref))
      .map { f =>
        val txt = f.filinghref.substring(0, f.filinghref.lastIndexOf('-')) + ".txt"
        Array[Any](
          UTF8String.fromString(cik), start,
          UTF8String.fromString(page.cik),
          UTF8String.fromString(page.name),
          UTF8String.fromString(f.typ),
          UTF8String.fromString(f.filinghref),
          f.epochDay,
          UTF8String.fromString(f.formname),
          UTF8String.fromString(txt))
      }
    PageRows(page.filings.size, matched, kept)
  }
}

/** Executor-side parser for `browse-edgar&output=xml` pages: the
  * engine's only company page parser.
  */
object CompanyPageXml {
  final case class PageFiling(typ: String, filinghref: String,
      epochDay: Integer, formname: String)
  final case class Page(cik: String, name: String, filings: Seq[PageFiling])

  private val envelope =
    java.util.regex.Pattern.compile("(?s)(<companyfilings>.*</companyfilings>)")

  def parse(xml: String): Page = {
    val m = envelope.matcher(xml)
    if (!m.find()) return Page(null, null, Nil)
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(m.group(1).getBytes("UTF-8")))
    // values are trimmed: real pages indent them (`<filinghref>` opens a
    // new line in `aapl_10q_filings.xml`)
    def text(parent: org.w3c.dom.Element, tag: String): String = {
      val ns = parent.getElementsByTagName(tag)
      if (ns.getLength == 0) null else ns.item(0).getTextContent.trim
    }
    val root = doc.getDocumentElement
    val infoNodes = root.getElementsByTagName("companyinfo")
    val (cik, name) =
      if (infoNodes.getLength == 0) (null, null)
      else {
        val e = infoNodes.item(0).asInstanceOf[org.w3c.dom.Element]
        (text(e, "cik"), text(e, "name"))
      }
    val filingNodes = root.getElementsByTagName("filing")
    val filings = (0 until filingNodes.getLength).map { i =>
      val e = filingNodes.item(i).asInstanceOf[org.w3c.dom.Element]
      val epochDay: Integer =
        try Integer.valueOf(
          java.time.LocalDate.parse(text(e, "datefiled")).toEpochDay.toInt)
        catch { case _: Exception => null }
      PageFiling(text(e, "type"), text(e, "filinghref"), epochDay,
        text(e, "formname"))
    }.filter(f => f.typ != null && f.filinghref != null)
    Page(cik, name, filings)
  }
}
