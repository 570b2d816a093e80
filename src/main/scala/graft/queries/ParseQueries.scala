package graft.queries

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.ComboPlanner
import graft.parse.{F4Parser, MetaParser}
import graft.queries.Q._
import graft.sources.{CikMapReader, CompanyIndexReader, RestReader}
import graft.sources.dsv2.{CompanyFilingsTable, PageFilter}

/** Oracle-checked queries for the SEC-specific parsing/source surface
  * (SURVEY.md §2.1-2.2): SEC-DOCUMENT splitting, header metadata state
  * machine, Form 4 extraction, company-XML pages, CIK map JSON, REST
  * submissions/concepts, and the combo planner.
  *
  * Inputs are inline fixture literals (shaped like the reference's golden
  * test data, values invented) shared verbatim between the Spark query and
  * the DuckDB oracle, so the hash compare exercises the identical bytes.
  */
object ParseQueries {

  private def sq(s: String): String = s"'${s.replace("'", "''")}'"

  // --- fixtures -----------------------------------------------------------

  /** Form 4 document (structure per `parser.py:10-25` patterns). */
  val form4Doc: String =
    """<TYPE>4
      |<SEQUENCE>1
      |<FILENAME>form4.xml
      |<TEXT>
      |<ownershipDocument>
      |<nonDerivativeTable>
      |<nonDerivativeTransaction>
      |<securityTitle><value>Common Stock</value></securityTitle>
      |<transactionDate><value>2021-03-01</value></transactionDate>
      |<transactionCoding><transactionFormType>4</transactionFormType><transactionCode>P</transactionCode><equitySwapInvolved>0</equitySwapInvolved></transactionCoding>
      |<transactionAmounts><transactionShares><value>100.0000</value></transactionShares><transactionPricePerShare><value>12.3400</value></transactionPricePerShare><transactionAcquiredDisposedCode><value>A</value></transactionAcquiredDisposedCode></transactionAmounts>
      |<postTransactionAmounts><sharesOwnedFollowingTransaction><value>500.0000</value></sharesOwnedFollowingTransaction></postTransactionAmounts>
      |<ownershipNature><directOrIndirectOwnership><value>D</value></directOrIndirectOwnership></ownershipNature>
      |</nonDerivativeTransaction>
      |<nonDerivativeTransaction>
      |<securityTitle><value>Class B Stock</value></securityTitle>
      |<transactionDate><value>2021-03-02</value></transactionDate>
      |<transactionCoding><transactionFormType>4</transactionFormType><transactionCode>S</transactionCode><equitySwapInvolved>0</equitySwapInvolved></transactionCoding>
      |<transactionAmounts><transactionShares><value>40.0000</value></transactionShares><transactionPricePerShare><value>15.0000</value></transactionPricePerShare><transactionAcquiredDisposedCode><value>D</value></transactionAcquiredDisposedCode></transactionAmounts>
      |<postTransactionAmounts><sharesOwnedFollowingTransaction><value>460.0000</value></sharesOwnedFollowingTransaction></postTransactionAmounts>
      |<ownershipNature><directOrIndirectOwnership><value>I</value></directOrIndirectOwnership></ownershipNature>
      |</nonDerivativeTransaction>
      |</nonDerivativeTable>
      |</ownershipDocument>
      |</TEXT>
      |""".stripMargin

  /** SEC-DOCUMENT container: 2 filings, 2 embedded documents each. */
  val containerDoc: String =
    "<SEC-DOCUMENT>0000912057-94-000001.txt : 19940103\n" +
      "<SEC-HEADER>0000912057-94-000001.hdr.sgml : 19940103\n" +
      "CONFORMED SUBMISSION TYPE:\t10-K\n" +
      "</SEC-HEADER>\n" +
      "<DOCUMENT>\n<TYPE>10-K\n<SEQUENCE>1\n<FILENAME>main.txt\n" +
      "<TEXT>\nAnnual report body one.\n</TEXT>\n</DOCUMENT>\n" +
      "<DOCUMENT>\n<TYPE>EX-10\n<SEQUENCE>2\n<FILENAME>ex10.txt\n" +
      "<TEXT>\nExhibit body.\n</TEXT>\n</DOCUMENT>\n" +
      "</SEC-DOCUMENT>\n" +
      "<SEC-DOCUMENT>0000912057-94-000002.txt : 19940104\n" +
      "<SEC-HEADER>0000912057-94-000002.hdr.sgml : 19940104\n" +
      "CONFORMED SUBMISSION TYPE:\t8-K\n" +
      "</SEC-HEADER>\n" +
      "<DOCUMENT>\n<TYPE>8-K\n<SEQUENCE>1\n<FILENAME>current.txt\n" +
      "<TEXT>\nCurrent report body.\n</TEXT>\n</DOCUMENT>\n" +
      "</SEC-DOCUMENT>\n"

  /** SEC-HEADER metadata block exercising every state-machine rule
    * (`parser.py:140-213`): special tags, flat KV, level-1/-2 headers and
    * data.
    */
  val headerFixture: String =
    "<ACCEPTANCE-DATETIME>20210301120000\n" +
      "<DESCRIPTION>Sample filing header\n" +
      "CONFORMED SUBMISSION TYPE:\t8-K\n" +
      "PUBLIC DOCUMENT COUNT:\t3\n" +
      "FILER:\n" +
      "\tCOMPANY DATA:\n" +
      "\t\tCOMPANY CONFORMED NAME:\tACME CORP\n" +
      "\t\tCENTRAL INDEX KEY:\t0001000045\n" +
      "\tFILING VALUES:\n" +
      "\t\tFORM TYPE:\t8-K\n" +
      "BUSINESS ADDRESS:\n" +
      "\tSTREET 1:\t100 MAIN ST\n" +
      "\tCITY:\tSPRINGFIELD\n"

  /** browse-edgar company XML page (shape per
    * `tests/data/filings/aapl_10q_filings.xml`, incl. a BAD_LINK row).
    */
  val companyXml: String =
    "<companyfilings><companyinfo><cik>0001000045</cik><name>ACME CORP</name>" +
      "<sic>3711</sic></companyinfo><results>" +
      "<filing><type>10-Q</type><filinghref>https://www.sec.gov/Archives/edgar/data/1000045/0000912057-21-000101-index.htm</filinghref><datefiled>2021-01-28</datefiled><formname>Quarterly report</formname></filing>" +
      "<filing><type>10-K</type><filinghref>https://www.sec.gov/Archives/edgar/data/1000045/0000912057-21-000202-index.htm</filinghref><datefiled>2021-02-26</datefiled><formname>Annual report</formname></filing>" +
      "<filing><type>10-Q</type><filinghref>BAD_LINK</filinghref><datefiled>2021-04-28</datefiled><formname>Quarterly report</formname></filing>" +
      "<filing><type>10-Q</type><filinghref>https://www.sec.gov/Archives/edgar/data/1000045/0000912057-21-000303-index.htm</filinghref><datefiled>2021-04-29</datefiled><formname>Quarterly report</formname></filing>" +
      "</results></companyfilings>"

  /** Multi-page browse-edgar mirror for the pagination pipeline
    * (`company.py:269-303` semantics): CIK A needs two pages to reach
    * `count` type-matches (page start_4 must never be requested), CIK B
    * exhausts pagination via a missing page, CIK C returns an empty
    * results page. batch_size = 2.
    */
  val paginatedPages: Map[String, String] = {
    def page(cik: String, name: String, filings: Seq[(String, String, String)]) =
      s"<companyfilings><companyinfo><cik>$cik</cik><name>$name</name>" +
        "<sic>3711</sic></companyinfo><results>" +
        filings.map { case (t, href, d) =>
          s"<filing><type>$t</type><filinghref>$href</filinghref>" +
            s"<datefiled>$d</datefiled><formname>x</formname></filing>"
        }.mkString + "</results></companyfilings>"
    def href(cik: String, acc: String) =
      s"https://www.sec.gov/Archives/edgar/data/$cik/0000912057-21-$acc-index.htm"
    Map(
      "mem://0001000045/start_0" -> page("0001000045", "ACME CORP", Seq(
        ("10-Q", href("1000045", "000601"), "2021-06-30"),
        ("10-K", href("1000045", "000502"), "2021-05-15"))),
      "mem://0001000045/start_2" -> page("0001000045", "ACME CORP", Seq(
        ("10-Q", "BAD_LINK", "2021-04-28"),
        ("10-Q", href("1000045", "000303"), "2021-04-29"))),
      // start_4 exists but MUST NOT be fetched: count reached at start_2
      "mem://0001000045/start_4" -> page("0001000045", "ACME CORP", Seq(
        ("10-Q", href("1000045", "000101"), "2021-01-28"))),
      "mem://0001000120/start_0" -> page("0001000120", "BETA FUND", Seq(
        ("10-K", href("1000120", "000401"), "2021-03-01"),
        ("10-Q", href("1000120", "000201"), "2021-02-10"))),
      // 0001000120/start_2 missing → pagination exhausted
      "mem://0001000200/start_0" -> page("0001000200", "GAMMA ENERGY",
        Seq.empty),
      // insider-ownership mix (forms 3/4/5 + amendments interleaved with
      // 10-Ks) for the ownership / match_format residual predicates
      // (`company.py:226-235,157-166`)
      "mem://0001000300/start_0" -> page("0001000300", "OWNER CO", Seq(
        ("4", href("1000300", "000701"), "2021-07-01"),
        ("10-K", href("1000300", "000602"), "2021-06-01"))),
      "mem://0001000300/start_2" -> page("0001000300", "OWNER CO", Seq(
        ("4/A", href("1000300", "000503"), "2021-05-01"),
        ("3", href("1000300", "000404"), "2021-04-01"))),
      "mem://0001000300/start_4" -> page("0001000300", "OWNER CO", Seq(
        ("10-K/A", href("1000300", "000305"), "2021-03-01"),
        ("5", href("1000300", "000206"), "2021-02-01"))))
      // 0001000300/start_6 missing → pagination exhausted
  }

  /** In-memory FetchFn over a url → content map (missing key →
    * structured not-found, the local-mirror analog of an absent page).
    */
  def memFetch(pages: Map[String, String]): graft.fetch.Fetcher.FetchFn =
    url => pages.get(url) match {
      case Some(x) => x.getBytes("UTF-8")
      case None => throw new graft.fetch.Fetcher.NotFoundException(url)
    }

  /** company_tickers.json shape (`cik_lookup.py:10-37`). */
  val cikMapJson: String =
    """{"0":{"cik_str":1000045,"ticker":"ACME","title":"Acme Corp"},""" +
      """"1":{"cik_str":1000120,"ticker":"BETA","title":"Beta Fund Trust"},""" +
      """"2":{"cik_str":1000200,"ticker":"GAMA","title":"Gamma Energy Inc"}}"""

  /** data.sec.gov submissions JSON (`rest.py:51-88` shape). */
  val submissionsJson: String =
    """{"cik":"0001000045","name":"ACME CORP","filings":{"recent":{""" +
      """"accessionNumber":["0000912057-21-000101","0000912057-21-000202","0000912057-21-000303"],""" +
      """"form":["10-Q","10-K","10-Q"],""" +
      """"filingDate":["2021-01-28","2021-02-26","2021-04-29"],""" +
      """"reportDate":["2020-12-26","2020-12-31","2021-03-27"],""" +
      """"primaryDocument":["acme-q1.htm","acme-10k.htm","acme-q2.htm"],""" +
      """"isXBRL":[1,1,1]},"files":[]}}"""

  /** data.sec.gov companyconcept JSON (`rest.py:91-123` shape). */
  val conceptJson: String =
    """{"cik":1000045,"taxonomy":"us-gaap","tag":"AccountsPayableCurrent","units":{""" +
      """"USD":[{"val":1250000.0,"accn":"0000912057-21-000101","fy":2021,"fp":"Q1","form":"10-Q","filed":"2021-01-28","start":"2020-10-01","end":"2020-12-26"},""" +
      """{"val":1375000.5,"accn":"0000912057-21-000303","fy":2021,"fp":"Q2","form":"10-Q","filed":"2021-04-29","start":"2021-01-01","end":"2021-03-27"}],""" +
      """"EUR":[{"val":990000.25,"accn":"0000912057-21-000404","fy":2021,"fp":"Q1","form":"10-Q","filed":"2021-01-28","start":"2020-10-01","end":"2020-12-26"}]}}"""

  /** Submissions document whose `filings.files[]` names one continuation
    * file (`rest.py:59-88` recent=False path).
    */
  val submissionsFilesJson: String =
    """{"cik":"0001000045","name":"ACME CORP","filings":{"recent":{""" +
      """"accessionNumber":["0000912057-21-000101","0000912057-21-000202"],""" +
      """"form":["10-Q","10-K"],""" +
      """"filingDate":["2021-01-28","2021-02-26"],""" +
      """"reportDate":["2020-12-26","2020-12-31"],""" +
      """"primaryDocument":["acme-q1.htm","acme-10k.htm"],""" +
      """"isXBRL":[1,1]},""" +
      """"files":[{"name":"CIK0001000045-submissions-001.json","filingCount":2}]}}"""

  /** Continuation document: a bare recent-shaped object (`rest.py:82-84`). */
  val submissionsContJson: String =
    """{"accessionNumber":["0000912057-19-000777","0000912057-18-000888"],""" +
      """"form":["8-K","10-K"],""" +
      """"filingDate":["2019-06-01","2018-02-20"],""" +
      """"reportDate":["2019-05-28","2017-12-31"],""" +
      """"primaryDocument":["acme-8k.htm","acme-10k17.htm"],""" +
      """"isXBRL":[1,0]}"""

  /** data.sec.gov companyfacts JSON (`rest.py:126-156` shape): two
    * taxonomies, tags with multi-unit facts.
    */
  val factsJson: String =
    """{"cik":1000045,"entityName":"ACME CORP","facts":{""" +
      """"dei":{"EntityCommonStockSharesOutstanding":{"label":"Entity Common Stock, Shares Outstanding","units":{""" +
      """"shares":[{"val":16000000.0,"accn":"0000912057-21-000101","fy":2021,"fp":"Q1","form":"10-Q","filed":"2021-01-28","start":null,"end":"2020-12-26"}]}}},""" +
      """"us-gaap":{"AccountsPayableCurrent":{"label":"Accounts Payable, Current","units":{""" +
      """"USD":[{"val":1250000.0,"accn":"0000912057-21-000101","fy":2021,"fp":"Q1","form":"10-Q","filed":"2021-01-28","start":"2020-10-01","end":"2020-12-26"},""" +
      """{"val":1375000.5,"accn":"0000912057-21-000303","fy":2021,"fp":"Q2","form":"10-Q","filed":"2021-04-29","start":"2021-01-01","end":"2021-03-27"}]}},""" +
      """"Revenues":{"label":"Revenues","units":{""" +
      """"USD":[{"val":9900000.25,"accn":"0000912057-21-000202","fy":2020,"fp":"FY","form":"10-K","filed":"2021-02-26","start":"2020-01-01","end":"2020-12-31"}]}}}}}"""

  /** data.sec.gov XBRL frames JSON (`rest.py:159-205` shape). */
  val framesJson: String =
    """{"taxonomy":"us-gaap","tag":"AccountsPayableCurrent","ccp":"CY2021Q1I","uom":"USD","pts":3,"data":[""" +
      """{"accn":"0000912057-21-000101","cik":1000045,"entityName":"ACME CORP","loc":"US-CA","start":"2021-01-01","end":"2021-03-31","val":1250000.0},""" +
      """{"accn":"0000912057-21-000555","cik":1000120,"entityName":"BETA FUND TRUST","loc":"US-NY","start":"2021-01-01","end":"2021-03-31","val":88000.5},""" +
      """{"accn":"0000912057-21-000666","cik":1000200,"entityName":"GAMMA ENERGY INC","loc":"US-TX","start":"2021-01-01","end":"2021-03-31","val":4200000.75}]}"""

  /** Deterministic in-memory `.nc.tar.gz` builder (fixture for the bulk
    * feed scan; entry mtimes pinned to epoch so bytes are reproducible).
    */
  def buildTarGz(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val bos = new java.io.ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(bos))
    members.foreach { case (name, bytes) =>
      val e = new TarArchiveEntry(name)
      e.setSize(bytes.length)
      e.setModTime(0L)
      tar.putArchiveEntry(e)
      tar.write(bytes)
      tar.closeArchiveEntry()
    }
    tar.close()
    bos.toByteArray
  }

  /** Feed-archive fixture (`_index.py:291-303` member-ending semantics):
    * one accession present as both `.nc` and `.corr01` (the `.nc` must
    * win), one as `.corr02` only, one stray non-feed member (dropped).
    */
  def feedTarMembers: Seq[(String, Array[Byte])] = Seq(
    "0000950131-94-000021.nc" ->
      "<SEC-DOCUMENT>doc A nc</SEC-DOCUMENT>".getBytes("UTF-8"),
    "0000950131-94-000021.corr01" ->
      "<SEC-DOCUMENT>doc A corr</SEC-DOCUMENT>".getBytes("UTF-8"),
    "0000912057-94-000123.corr02" ->
      "<SEC-DOCUMENT>doc B corr02</SEC-DOCUMENT>".getBytes("UTF-8"),
    "feed-manifest.json" -> "{}".getBytes("UTF-8"))

  /** Feed-archive fixture directory, materialized ONCE per JVM into a
    * fresh temp dir (lazy val = thread-safe single init; unique dir =
    * hermetic under concurrent runs). Harness mains (Verify/Bench) force
    * this during setup so the `q_tar_feed` registry entry itself has no
    * filesystem side effects at measurement time.
    */
  lazy val feedFixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_feed_fixture")
    // deleteOnExit runs LIFO and File.delete refuses non-empty dirs, so
    // register the dir FIRST, then every file inside it — otherwise each
    // JVM run leaks the dir plus the archive
    dir.toFile.deleteOnExit()
    val archive = dir.resolve("19940103.nc.tar.gz")
    archive.toFile.deleteOnExit()
    java.nio.file.Files.write(archive, buildTarGz(feedTarMembers))
    dir.toString
  }

  /** Mirrored browse-edgar page tree ([[paginatedPages]] in the
    * `$root/browse-edgar/<cik>/start_<n>.xml` layout), materialized ONCE
    * per JVM — the filesystem fixture behind the DSv2 company source.
    * Same hermeticity contract as [[feedFixtureDir]]: harness mains force
    * it during setup; deleteOnExit registered parents-first (LIFO).
    */
  lazy val companyMirrorDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_company_mirror")
    dir.toFile.deleteOnExit()
    val be = dir.resolve("browse-edgar")
    java.nio.file.Files.createDirectories(be)
    be.toFile.deleteOnExit()
    paginatedPages.foreach { case (url, xml) =>
      val rel = url.stripPrefix("mem://").split("/")
      val cikDir = be.resolve(rel(0))
      java.nio.file.Files.createDirectories(cikDir)
      cikDir.toFile.deleteOnExit()
      val f = cikDir.resolve(rel(1) + ".xml")
      f.toFile.deleteOnExit()
      java.nio.file.Files.write(f, xml.getBytes("UTF-8"))
    }
    dir.toString
  }

  // --- queries -------------------------------------------------------------

  val queries: Map[String, QueryFn] = Map(
    // Form 4 parity parser: 10 regex streams, positional zip.
    "q_form4_parse" -> ((s, _) => {
      import s.implicits._
      s.createDataset(Seq(form4Doc))
        .flatMap(d => F4Parser.process(d).zipWithIndex)
        .select(
          asLong(col("_2") + 1).as("idx"),
          col("_1.securityTitle").as("security_title"),
          col("_1.transactionDate").as("transaction_date"),
          col("_1.transactionFormType").as("transaction_form_type"),
          col("_1.transactionCode").as("transaction_code"),
          col("_1.equitySwapInvolved").as("equity_swap_involved"),
          col("_1.transactionShares").as("transaction_shares"),
          col("_1.transactionPricePerShare").as("transaction_price_per_share"),
          col("_1.transactionAcquiredDisposedCode").as("transaction_acquired_disposed_code"),
          col("_1.sharesOwnedFollowingTransaction").as("shares_owned_following_transaction"),
          col("_1.directOrIndirectOwnership").as("direct_or_indirect_ownership"))
        .orderBy("idx")
    }),

    // SEC-DOCUMENT splitter: container → (filing, embedded doc) rows.
    "q_sec_doc_split" -> ((s, _) => {
      import s.implicits._
      s.createDataset(Seq(("fixture.txt", containerDoc)))
        .toDF("path", "content")
        .transform(MetaParser.explodeContainers(_).toDF())
        .select(asLong(col("secDocNum")).as("sec_doc_num"),
          posexplode(col("documents")).as(Seq("doc_idx", "d")))
        .select(col("sec_doc_num"), asLong(col("doc_idx")).as("doc_idx"),
          col("d.docType").as("doc_type"), col("d.sequence").as("sequence"),
          col("d.filename").as("filename"), col("d.text").as("text"))
        .orderBy("sec_doc_num", "doc_idx")
    }),

    // header metadata state machine → (section, subsection, key, value).
    "q_meta_kv" -> ((s, _) => {
      import s.implicits._
      s.createDataset(Seq(headerFixture))
        .flatMap { h =>
          val (flat, nested, nested2) = MetaParser.processMetadata(h)
          flat.toSeq.map { case (k, v) => (null: String, null: String, k, v) } ++
            nested.toSeq.flatMap { case (sec, kvs) =>
              kvs.toSeq.map { case (k, v) => (sec, null: String, k, v) } } ++
            nested2.toSeq.flatMap { case (sec, subs) =>
              subs.toSeq.flatMap { case (sub, kvs) =>
                kvs.toSeq.map { case (k, v) => (sec, sub, k, v) } } }
        }
        .toDF("section", "subsection", "key", "value")
        .orderBy(coalesce(col("section"), lit("")),
          coalesce(col("subsection"), lit("")), col("key"))
    }),

    // company XML page through the edgar-company reader's page → rows
    // step: parse → type filter → bad-link drop → href rewrite.
    "q_company_xml" -> ((s, _) => {
      val toRow = CatalystTypeConverters.createToScalaConverter(
        CompanyFilingsTable.schema)
      val rows = PageFilter(filingType = Some("10-Q"))
        .rows("0001000045", 0, companyXml).rows
        .map(r => toRow(new GenericInternalRow(r)).asInstanceOf[Row])
      s.createDataFrame(rows.asJava, CompanyFilingsTable.schema)
        .select(col("cik"), col("company_name"), col("type"),
          col("date_filed"), col("txt_url"))
        .orderBy("txt_url")
    }),

    // CIK map JSON → dimension rows.
    "q_cik_map_json" -> ((s, _) => {
      import s.implicits._
      CikMapReader.fromJsonStrings(s.createDataset(Seq(cikMapJson)).toDF("value"))
        .orderBy("cik")
    }),

    // REST submissions: parallel arrays zipped into rows.
    "q_rest_submissions" -> ((s, _) => {
      import s.implicits._
      RestReader.submissions(s.createDataset(Seq(submissionsJson)).toDF("value"))
        .select(col("cik"), col("name"), col("accession_number"), col("form"),
          col("filing_date"))
        .orderBy("accession_number")
    }),

    // REST company concept: units map exploded.
    "q_rest_concept" -> ((s, _) => {
      import s.implicits._
      RestReader.companyConcept(s.createDataset(Seq(conceptJson)).toDF("value"))
        .orderBy("unit", "accn")
    }),

    // bulk tar feed scan: binaryFile → streaming untar → member-ending
    // resolution (.nc over .corr01-04) → re-key to the {cik}/{accession}
    // tree via the day's entries.
    "q_tar_feed" -> ((s, _) => {
      import s.implicits._
      // fixture dir is materialized once per JVM (harness setup forces
      // it); directory load + pathGlobFilter instead of a glob-in-path,
      // which Hadoop's FileStreamSink probe would WARN-log on
      val members = graft.sources.TarFeedReader.readTarMembersDir(
        s, feedFixtureDir, "*.nc.tar.gz")
      val entries = Seq(
        ("29082", "edgar/data/29082/0000950131-94-000021.txt"),
        ("912057", "edgar/data/912057/0000912057-94-000123.txt"))
        .toDF("cik", "file_name")
      graft.sources.TarFeedReader.rekey(
        graft.sources.TarFeedReader.resolveMembers(members), entries)
        .select(col("cik"), col("accession_number"), col("ending"),
          col("content").cast(StringType).as("text"))
        .orderBy("accession_number")
    }),

    // REST continuation fan-out (recent=False): filings.files[] fetched,
    // parsed as bare recent-shaped docs, unioned with the recent block.
    "q_rest_continuation" -> ((s, _) => {
      import s.implicits._
      val raw = s.createDataset(Seq(submissionsFilesJson)).toDF("value")
      RestReader.submissionsAll(raw,
        memFetch(Map("mem://submissions/CIK0001000045-submissions-001.json" ->
          submissionsContJson)),
        name => s"mem://submissions/$name", globalRate = 1e6)
        .orderBy("accession_number")
    }),

    // XBRL frame period string CY{y}[Qq][I] (`rest.py:159-205`).
    "q_frame_period" -> ((s, _) => {
      import s.implicits._
      s.createDataset(Seq(
        (2021L, Some(1L), false), (2021L, Some(4L), true),
        (2020L, None, false), (1999L, Some(2L), false)))
        .toDF("year", "quarter", "inst")
        .select(col("year"), col("quarter"), col("inst"),
          RestReader.framePeriod(col("year"), col("quarter"), col("inst"))
            .as("ccp"))
        .orderBy("year", "quarter")
    }),

    // REST company facts: taxonomy map → tag map → unit facts, 3 explodes.
    "q_rest_facts" -> ((s, _) => {
      import s.implicits._
      RestReader.companyFacts(s.createDataset(Seq(factsJson)).toDF("value"))
        .orderBy("taxonomy", "tag", "accn")
    }),

    // REST XBRL frames: one row per (frame, entity).
    "q_rest_frames" -> ((s, _) => {
      import s.implicits._
      RestReader.frames(s.createDataset(Seq(framesJson)).toDF("value"))
        .orderBy("accn")
    }),

    // company-filings pagination end-to-end: page loop with per-CIK early
    // exit (count pushdown + exhaustion), then parse → type filter →
    // residual predicates → per-CIK count truncation.
    "q_company_paginate" -> ((s, _) => {
      // engine-grade path: the DSv2 source drives the page loop (one
      // partition per CIK, count early-exit inside the scan); the per-CIK
      // top-k truncation is the only residual the scan can't express
      val df = s.read.format("edgar-company")
        .option("root", companyMirrorDir)
        .option("ciks", "0001000045,0001000120,0001000200")
        .option("type", "10-Q").option("count", "3").option("batchSize", "2")
        .option("rate", "1000000")
        .load()
      CompanyIndexReader.limitPerCompany(df, 3)
        .select(col("cik"), col("company_name"), col("type"),
          col("date_filed"), col("txt_url"))
        .orderBy("cik", "txt_url")
    }),

    // DSv2 date/type pushdown end-to-end: WHERE clauses become the
    // datea/dateb/type request params inside the scan's page loop
    // (`company.py:132-145`), no count cap → pagination exhausts.
    "q_company_dsv2_dates" -> ((s, _) => {
      s.read.format("edgar-company")
        .option("root", companyMirrorDir)
        .option("ciks", "0001000045,0001000120,0001000200")
        .option("batchSize", "2").option("rate", "1000000")
        .load()
        .filter(col("type") === lit("10-Q") &&
          col("date_filed") >= lit(java.sql.Date.valueOf("2021-02-01")) &&
          col("date_filed") <= lit(java.sql.Date.valueOf("2021-05-31")))
        .select(col("cik"), col("type"), col("date_filed"), col("txt_url"))
        .orderBy("cik")
    }),

    // count-shortfall audit (`company.py:297-303`'s warning as data):
    // companies with fewer usable filings than requested, zero-found
    // companies included.
    "q_company_shortfall" -> ((s, _) => {
      import s.implicits._
      val cq = graft.api.Filings.CompanyQuery(
        lookups = Seq("0001000045", "0001000120", "0001000200"),
        filingType = Some("10-Q"), count = Some(3),
        startDate = None, endDate = None, batchSize = 2)
      CompanyIndexReader.countShortfalls(
        cq.entries(s, companyMirrorDir), cq.lookups.toDF("lookup"), 3)
        .orderBy("cik_key")
    }),

    // ownership option (`company.py:226-235`) as a request param of the
    // scan: 'exclude' drops insider-ownership forms (3/4/5 + amendments),
    // 'only' keeps nothing else.
    "q_company_ownership" -> ((s, _) => {
      val modes = Seq("exclude", "only").map { m =>
        graft.api.Filings.CompanyQuery(
          lookups = Seq("0001000300"), filingType = None, count = None,
          startDate = None, endDate = None, ownership = m, batchSize = 2)
          .entries(s, companyMirrorDir)
          .select(lit(m).as("mode"), col("cik"), col("type"),
            col("date_filed"), col("txt_url"))
      }
      modes.reduce(_ unionByName _).orderBy("mode", "txt_url")
    }),

    // match_format option (`company.py:157-166`): EXACT keeps originals,
    // AMEND keeps only /A amendments.
    "q_company_amend" -> ((s, _) => {
      val modes = Seq("EXACT", "AMEND").map { m =>
        graft.api.Filings.CompanyQuery(
          lookups = Seq("0001000300"), filingType = None, count = None,
          startDate = None, endDate = None, matchFormat = m, batchSize = 2)
          .entries(s, companyMirrorDir)
          .select(lit(m).as("mode"), col("cik"), col("type"),
            col("date_filed"), col("txt_url"))
      }
      modes.reduce(_ unionByName _).orderBy("mode", "txt_url")
    }),

    // combo planner decomposition (driver-side planning function; output
    // is O(quarters), the golden values follow `combo.py:137-199`).
    "q_combo_plan" -> ((s, _) => {
      import s.implicits._
      val d = ComboPlanner.decompose(
        LocalDate.of(2020, 1, 6), LocalDate.of(2020, 11, 5), 30)
      val qDf = s.createDataset(d.quarters.zipWithIndex.map { case (q, i) =>
        (i.toLong, "quarterly", q.year.toLong, q.quarter.toLong, q.filter match {
          case ComboPlanner.All => "all"
          case _: ComboPlanner.OnOrAfter => "ge_start"
          case _: ComboPlanner.OnOrBefore => "le_end"
        })
      }).toDF("seq", "kind", "year", "quarter", "filter_kind")
        .withColumn("day", lit(null).cast(StringType))
      val dDf = s.createDataset(d.days.zipWithIndex.map { case (day, i) =>
        ((d.quarters.size + i).toLong, "daily", day.toString)
      }).toDF("seq", "kind", "day")
        .withColumn("year", lit(null).cast(LongType))
        .withColumn("quarter", lit(null).cast(LongType))
        .withColumn("filter_kind", lit(null).cast(StringType))
        .select("seq", "kind", "year", "quarter", "filter_kind", "day")
      qDf.unionByName(dDf).orderBy("seq")
    })
  )

  // --- oracles -------------------------------------------------------------

  val oracles: Map[String, String] = Map(
    "q_form4_parse" -> {
      val d = sq(form4Doc)
      """WITH d(doc) AS (VALUES (%DOC%)),
        |l AS (SELECT
        |  regexp_extract_all(doc, '<securityTitle>.*?<value>(.*?)</value>.*?</securityTitle>', 1, 's') AS titles,
        |  regexp_extract_all(doc, '<transactionDate>.*?<value>(.*?)</value>.*?</transactionDate>', 1, 's') AS dates,
        |  regexp_extract_all(doc, '<transactionFormType>(.*?)</transactionFormType>', 1, 's') AS form_types,
        |  regexp_extract_all(doc, '<transactionCode>(.*?)</transactionCode>', 1, 's') AS codes,
        |  regexp_extract_all(doc, '<equitySwapInvolved>(.*?)</equitySwapInvolved>', 1, 's') AS swaps,
        |  regexp_extract_all(doc, '<transactionShares>.*?<value>(.*?)</value>.*?</transactionShares>', 1, 's') AS shares,
        |  regexp_extract_all(doc, '<transactionPricePerShare>.*?<value>(.*?)</value>.*?</transactionPricePerShare>', 1, 's') AS pps,
        |  regexp_extract_all(doc, '<transactionAcquiredDisposedCode>.*?<value>(.*?)</value>.*?</transactionAcquiredDisposedCode>', 1, 's') AS disp,
        |  regexp_extract_all(doc, '<sharesOwnedFollowingTransaction>.*?<value>(.*?)</value>.*?</sharesOwnedFollowingTransaction>', 1, 's') AS soft,
        |  regexp_extract_all(doc, '<directOrIndirectOwnership>.*?<value>(.*?)</value>.*?</directOrIndirectOwnership>', 1, 's') AS doio
        |FROM d)
        |SELECT i AS idx, titles[i] AS security_title, dates[i] AS transaction_date,
        |  form_types[i] AS transaction_form_type, codes[i] AS transaction_code,
        |  swaps[i] AS equity_swap_involved, shares[i] AS transaction_shares,
        |  pps[i] AS transaction_price_per_share,
        |  disp[i] AS transaction_acquired_disposed_code,
        |  soft[i] AS shares_owned_following_transaction,
        |  doio[i] AS direct_or_indirect_ownership
        |FROM l, unnest(generate_series(1, len(titles))) t(i)
        |ORDER BY idx""".stripMargin.replace("%DOC%", d)
    },

    "q_sec_doc_split" -> {
      val d = sq(containerDoc)
      """WITH c(doc) AS (VALUES (%DOC%)),
        |secs AS (SELECT regexp_extract_all(doc, '<SEC-DOCUMENT>(.*?)</SEC-DOCUMENT>', 1, 's') AS ss FROM c),
        |sec AS (SELECT i - 1 AS sec_doc_num, ss[i] AS s
        |  FROM secs, unnest(generate_series(1, len(ss))) t(i)),
        |docs AS (SELECT sec_doc_num,
        |  regexp_extract_all(s, '<DOCUMENT>(.*?)</DOCUMENT>', 1, 's') AS ds FROM sec),
        |d AS (SELECT sec_doc_num, j - 1 AS doc_idx, ds[j] AS b
        |  FROM docs, unnest(generate_series(1, len(ds))) t(j))
        |SELECT sec_doc_num, doc_idx,
        |  regexp_extract(b, '<TYPE>([^' || chr(10) || ']*)', 1) AS doc_type,
        |  regexp_extract(b, '<SEQUENCE>([^' || chr(10) || ']*)', 1) AS sequence,
        |  regexp_extract(b, '<FILENAME>([^' || chr(10) || ']*)', 1) AS filename,
        |  trim(regexp_extract(b, '<TEXT>(.*?)</TEXT>', 1, 's'),
        |       ' ' || chr(9) || chr(10) || chr(13)) AS text
        |FROM d ORDER BY sec_doc_num, doc_idx""".stripMargin.replace("%DOC%", d)
    },

    "q_meta_kv" -> {
      val lines = headerFixture.split("\n").zipWithIndex
        .map { case (l, i) => s"(${i + 1}, ${sq(l)})" }.mkString(", ")
      """WITH lines(i, l) AS (VALUES %LINES%),
        |h1 AS (SELECT i, replace(regexp_extract(l, '^([^\t].*):\t*$', 1), ' ', '_') AS h
        |  FROM lines WHERE regexp_matches(l, '^[^\t].*:\t*$')
        |    AND NOT regexp_matches(l, '<ACCEPTANCE-DATETIME>|<DESCRIPTION>')),
        |h2 AS (SELECT i, replace(regexp_extract(l, '^\t(.+):\t*$', 1), ' ', '_') AS h
        |  FROM lines WHERE regexp_matches(l, '^\t.+:\t*$')),
        |special AS (
        |  SELECT CAST(NULL AS VARCHAR) AS section, CAST(NULL AS VARCHAR) AS subsection,
        |    'acceptance-datetime' AS key, substr(l, 22) AS value
        |  FROM lines WHERE l LIKE '<ACCEPTANCE-DATETIME>%'
        |  UNION ALL
        |  SELECT NULL, NULL, 'description', substr(l, 14)
        |  FROM lines WHERE l LIKE '<DESCRIPTION>%'),
        |kv AS (
        |  SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |    replace(regexp_extract(l, '^(\w.*):\t*([^\t]+)$', 1), ' ', '_'),
        |    regexp_extract(l, '^(\w.*):\t*([^\t]+)$', 2)
        |  FROM lines
        |  WHERE regexp_matches(l, '^\w.*:\t*[^\t]+$')
        |    AND NOT regexp_matches(l, '<ACCEPTANCE-DATETIME>|<DESCRIPTION>')),
        |d1 AS (
        |  SELECT (SELECT h FROM h1 WHERE h1.i < x.i ORDER BY h1.i DESC LIMIT 1),
        |    CAST(NULL AS VARCHAR),
        |    regexp_extract(l, '^\t([^\t].*):\t*(.+)$', 1),
        |    regexp_extract(l, '^\t([^\t].*):\t*(.+)$', 2)
        |  FROM lines x WHERE regexp_matches(l, '^\t[^\t].*:\t*.+$')),
        |d2 AS (
        |  SELECT (SELECT h FROM h1 WHERE h1.i < x.i ORDER BY h1.i DESC LIMIT 1),
        |    (SELECT h FROM h2 WHERE h2.i < x.i
        |       AND h2.i > coalesce((SELECT max(h1.i) FROM h1 WHERE h1.i < x.i), 0)
        |     ORDER BY h2.i DESC LIMIT 1),
        |    replace(regexp_extract(l, '^\t\t(.+):\t*(.+)$', 1), ' ', '_'),
        |    regexp_extract(l, '^\t\t(.+):\t*(.+)$', 2)
        |  FROM lines x WHERE regexp_matches(l, '^\t\t.+:\t*.+$'))
        |SELECT * FROM (
        |  SELECT * FROM special UNION ALL SELECT * FROM kv
        |  UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        |  t(section, subsection, key, value)
        |ORDER BY coalesce(section, ''), coalesce(subsection, ''), key"""
        .stripMargin.replace("%LINES%", lines)
    },

    "q_company_xml" -> {
      val x = sq(companyXml)
      """WITH p(x) AS (VALUES (%DOC%)),
        |f AS (SELECT regexp_extract(x, '<cik>(.*?)</cik>', 1) AS cik,
        |    regexp_extract(x, '<name>(.*?)</name>', 1) AS company_name,
        |    unnest(regexp_extract_all(x, '<filing>(.*?)</filing>', 1, 's')) AS b
        |  FROM p),
        |r AS (SELECT cik, company_name,
        |    regexp_extract(b, '<type>(.*?)</type>', 1, 's') AS type,
        |    regexp_extract(b, '<filinghref>(.*?)</filinghref>', 1, 's') AS href,
        |    CAST(regexp_extract(b, '<datefiled>(.*?)</datefiled>', 1, 's') AS DATE) AS date_filed
        |  FROM f)
        |SELECT cik, company_name, type, date_filed,
        |  regexp_replace(href, '-[^-]*$', '.txt') AS txt_url
        |FROM r WHERE type = '10-Q' AND href LIKE '%-%'
        |ORDER BY txt_url""".stripMargin.replace("%DOC%", x)
    },

    "q_cik_map_json" -> {
      val j = sq(cikMapJson)
      """WITH j(x) AS (VALUES (%DOC%)),
        |k AS (SELECT unnest(json_keys(x)) AS key, x FROM j)
        |SELECT json_extract_string(x, '$."' || key || '".cik_str') AS cik,
        |  upper(json_extract_string(x, '$."' || key || '".ticker')) AS ticker,
        |  upper(json_extract_string(x, '$."' || key || '".title')) AS title
        |FROM k ORDER BY cik""".stripMargin.replace("%DOC%", j)
    },

    "q_rest_submissions" -> {
      val j = sq(submissionsJson)
      """WITH j(x) AS (VALUES (%DOC%)),
        |l AS (SELECT
        |  json_extract_string(x, '$.cik') AS cik,
        |  json_extract_string(x, '$.name') AS name,
        |  CAST(json_extract(x, '$.filings.recent.accessionNumber') AS VARCHAR[]) AS accs,
        |  CAST(json_extract(x, '$.filings.recent.form') AS VARCHAR[]) AS forms,
        |  CAST(json_extract(x, '$.filings.recent.filingDate') AS VARCHAR[]) AS dates
        |FROM j)
        |SELECT cik, name, accs[i] AS accession_number, forms[i] AS form,
        |  CAST(dates[i] AS DATE) AS filing_date
        |FROM l, unnest(generate_series(1, len(accs))) t(i)
        |ORDER BY accession_number""".stripMargin.replace("%DOC%", j)
    },

    "q_rest_concept" -> {
      val j = sq(conceptJson)
      """WITH j(x) AS (VALUES (%DOC%)),
        |u AS (SELECT x, unnest(json_keys(x, '$.units')) AS unit FROM j),
        |f AS (SELECT
        |  json_extract_string(x, '$.cik') AS cik,
        |  json_extract_string(x, '$.taxonomy') AS taxonomy,
        |  json_extract_string(x, '$.tag') AS tag,
        |  unit,
        |  unnest(CAST(json_extract(x, '$.units.' || unit) AS STRUCT(
        |    val DOUBLE, accn VARCHAR, fy BIGINT, fp VARCHAR, form VARCHAR,
        |    filed VARCHAR, "start" VARCHAR, "end" VARCHAR)[])) AS r
        |FROM u)
        |SELECT cik, taxonomy, tag, unit, r.val AS val, r.accn AS accn,
        |  r.fy AS fy, r.fp AS fp, r.form AS form, r.filed AS filed,
        |  r."start" AS "start", r."end" AS "end"
        |FROM f ORDER BY unit, accn""".stripMargin.replace("%DOC%", j)
    },

    // golden member resolution per `_index.py:291-303`: `.nc` beats
    // `.corr01` for the same accession; stray non-feed members dropped.
    "q_tar_feed" ->
      """SELECT cik, accession_number, ending, text FROM (VALUES
        |  ('912057', '0000912057-94-000123.txt', 'corr02',
        |   '<SEC-DOCUMENT>doc B corr02</SEC-DOCUMENT>'),
        |  ('29082', '0000950131-94-000021.txt', 'nc',
        |   '<SEC-DOCUMENT>doc A nc</SEC-DOCUMENT>'))
        |t(cik, accession_number, ending, text)
        |ORDER BY accession_number""".stripMargin,

    "q_rest_continuation" -> {
      val m = sq(submissionsFilesJson)
      val c = sq(submissionsContJson)
      """WITH m(x) AS (VALUES (%MAIN%)), cf(y) AS (VALUES (%CONT%)),
        |r AS (
        |  SELECT json_extract_string(x, '$.cik') AS cik,
        |    json_extract_string(x, '$.name') AS name,
        |    CAST(json_extract(x, '$.filings.recent.accessionNumber') AS VARCHAR[]) AS accs,
        |    CAST(json_extract(x, '$.filings.recent.form') AS VARCHAR[]) AS forms,
        |    CAST(json_extract(x, '$.filings.recent.filingDate') AS VARCHAR[]) AS fdates,
        |    CAST(json_extract(x, '$.filings.recent.reportDate') AS VARCHAR[]) AS rdates,
        |    CAST(json_extract(x, '$.filings.recent.primaryDocument') AS VARCHAR[]) AS docs,
        |    CAST(json_extract(x, '$.filings.recent.isXBRL') AS BIGINT[]) AS xbrl
        |  FROM m
        |  UNION ALL
        |  SELECT (SELECT json_extract_string(x, '$.cik') FROM m),
        |    (SELECT json_extract_string(x, '$.name') FROM m),
        |    CAST(json_extract(y, '$.accessionNumber') AS VARCHAR[]),
        |    CAST(json_extract(y, '$.form') AS VARCHAR[]),
        |    CAST(json_extract(y, '$.filingDate') AS VARCHAR[]),
        |    CAST(json_extract(y, '$.reportDate') AS VARCHAR[]),
        |    CAST(json_extract(y, '$.primaryDocument') AS VARCHAR[]),
        |    CAST(json_extract(y, '$.isXBRL') AS BIGINT[])
        |  FROM cf)
        |SELECT cik, name, accs[i] AS accession_number, forms[i] AS form,
        |  CAST(fdates[i] AS DATE) AS filing_date, rdates[i] AS report_date,
        |  docs[i] AS primary_document, xbrl[i] AS is_xbrl
        |FROM r, unnest(generate_series(1, len(accs))) t(i)
        |ORDER BY accession_number""".stripMargin
        .replace("%MAIN%", m).replace("%CONT%", c)
    },

    "q_frame_period" ->
      """SELECT CAST(year AS BIGINT) AS year, CAST(quarter AS BIGINT) AS quarter,
        |  inst, ccp FROM (VALUES
        |  (1999, 2, false, 'CY1999Q2'),
        |  (2020, CAST(NULL AS BIGINT), false, 'CY2020'),
        |  (2021, 1, false, 'CY2021Q1'),
        |  (2021, 4, true, 'CY2021Q4I'))
        |t(year, quarter, inst, ccp)
        |ORDER BY year, quarter""".stripMargin,

    "q_rest_facts" -> {
      val j = sq(factsJson)
      """WITH j(x) AS (VALUES (%DOC%)),
        |tx AS (SELECT x, unnest(json_keys(x, '$.facts')) AS taxonomy FROM j),
        |tg AS (SELECT x, taxonomy,
        |  unnest(json_keys(x, '$.facts.' || taxonomy)) AS tag FROM tx),
        |un AS (SELECT x, taxonomy, tag,
        |  json_extract_string(x, '$.facts.' || taxonomy || '.' || tag || '.label') AS label,
        |  unnest(json_keys(x, '$.facts.' || taxonomy || '.' || tag || '.units')) AS unit
        |  FROM tg),
        |f AS (SELECT
        |  json_extract_string(x, '$.cik') AS cik,
        |  json_extract_string(x, '$.entityName') AS entity_name,
        |  taxonomy, tag, label, unit,
        |  unnest(CAST(json_extract(x, '$.facts.' || taxonomy || '.' || tag || '.units.' || unit)
        |    AS STRUCT(val DOUBLE, accn VARCHAR, fy BIGINT, fp VARCHAR,
        |      form VARCHAR, filed VARCHAR, "start" VARCHAR, "end" VARCHAR)[])) AS r
        |FROM un)
        |SELECT cik, entity_name, taxonomy, tag, label, unit, r.val AS val,
        |  r.accn AS accn, r.fy AS fy, r.fp AS fp, r.form AS form,
        |  r.filed AS filed, r."start" AS "start", r."end" AS "end"
        |FROM f ORDER BY taxonomy, tag, accn""".stripMargin.replace("%DOC%", j)
    },

    "q_rest_frames" -> {
      val j = sq(framesJson)
      """WITH j(x) AS (VALUES (%DOC%)),
        |f AS (SELECT
        |  json_extract_string(x, '$.taxonomy') AS taxonomy,
        |  json_extract_string(x, '$.tag') AS tag,
        |  json_extract_string(x, '$.ccp') AS ccp,
        |  json_extract_string(x, '$.uom') AS uom,
        |  unnest(CAST(json_extract(x, '$.data')
        |    AS STRUCT(accn VARCHAR, cik BIGINT, entityName VARCHAR,
        |      loc VARCHAR, "start" VARCHAR, "end" VARCHAR, val DOUBLE)[])) AS d
        |FROM j)
        |SELECT taxonomy, tag, ccp, uom, CAST(d.cik AS VARCHAR) AS cik,
        |  d.entityName AS entity_name, d.val AS val, d.accn AS accn,
        |  d."end" AS "end"
        |FROM f ORDER BY accn""".stripMargin.replace("%DOC%", j)
    },

    // golden rows hand-derived from the paginatedPages fixture by the
    // reference's loop semantics (`company.py:269-303`): CIK A reaches
    // count=3 type-matches after page start_2 (BAD_LINK counts toward the
    // early exit but is dropped from output), CIK B stops on the missing
    // page, CIK C's empty page yields nothing.
    "q_company_paginate" ->
      """SELECT cik, company_name, type, CAST(date_filed AS DATE) AS date_filed, txt_url
        |FROM (VALUES
        |  ('0001000045', 'ACME CORP', '10-Q', '2021-04-29',
        |   'https://www.sec.gov/Archives/edgar/data/1000045/0000912057-21-000303.txt'),
        |  ('0001000045', 'ACME CORP', '10-Q', '2021-06-30',
        |   'https://www.sec.gov/Archives/edgar/data/1000045/0000912057-21-000601.txt'),
        |  ('0001000120', 'BETA FUND', '10-Q', '2021-02-10',
        |   'https://www.sec.gov/Archives/edgar/data/1000120/0000912057-21-000201.txt'))
        |t(cik, company_name, type, date_filed, txt_url)
        |ORDER BY cik, txt_url""".stripMargin,

    // golden rows hand-derived from paginatedPages under the pushed
    // bounds: 10-Qs in [2021-02-01, 2021-05-31] with usable hrefs are
    // A's 000303 (2021-04-29; 000601 too late, 000101 too early,
    // BAD_LINK dropped) and B's 000201 (2021-02-10).
    "q_company_dsv2_dates" ->
      """SELECT cik, type, CAST(date_filed AS DATE) AS date_filed, txt_url
        |FROM (VALUES
        |  ('0001000045', '10-Q', '2021-04-29',
        |   'https://www.sec.gov/Archives/edgar/data/1000045/0000912057-21-000303.txt'),
        |  ('0001000120', '10-Q', '2021-02-10',
        |   'https://www.sec.gov/Archives/edgar/data/1000120/0000912057-21-000201.txt'))
        |t(cik, type, date_filed, txt_url)
        |ORDER BY cik""".stripMargin,

    // golden: A keeps 2 usable 10-Qs (BAD_LINK dropped), B keeps 1, C
    // keeps 0 — all short of count=3.
    "q_company_shortfall" ->
      """SELECT cik_key, CAST(n_found AS BIGINT) AS n_found,
        |  CAST(3 AS BIGINT) AS n_requested
        |FROM (VALUES ('0001000045', 2), ('0001000120', 1), ('0001000200', 0))
        |t(cik_key, n_found)
        |ORDER BY cik_key""".stripMargin,

    // golden rows hand-derived from the 0001000300 fixture: 'exclude'
    // drops forms 3/4/5 and their /A amendments, 'only' keeps nothing else
    // (`company.py:226-235` ownership param semantics on the mirror tier).
    "q_company_ownership" ->
      """SELECT mode, cik, type, CAST(date_filed AS DATE) AS date_filed, txt_url
        |FROM (VALUES
        |  ('exclude', '0001000300', '10-K/A', '2021-03-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000305.txt'),
        |  ('exclude', '0001000300', '10-K', '2021-06-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000602.txt'),
        |  ('only', '0001000300', '5', '2021-02-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000206.txt'),
        |  ('only', '0001000300', '3', '2021-04-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000404.txt'),
        |  ('only', '0001000300', '4/A', '2021-05-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000503.txt'),
        |  ('only', '0001000300', '4', '2021-07-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000701.txt'))
        |t(mode, cik, type, date_filed, txt_url)
        |ORDER BY mode, txt_url""".stripMargin,

    // golden: AMEND keeps only /A forms, EXACT only originals
    // (`company.py:157-166` match_format semantics).
    "q_company_amend" ->
      """SELECT mode, cik, type, CAST(date_filed AS DATE) AS date_filed, txt_url
        |FROM (VALUES
        |  ('AMEND', '0001000300', '10-K/A', '2021-03-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000305.txt'),
        |  ('AMEND', '0001000300', '4/A', '2021-05-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000503.txt'),
        |  ('EXACT', '0001000300', '5', '2021-02-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000206.txt'),
        |  ('EXACT', '0001000300', '3', '2021-04-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000404.txt'),
        |  ('EXACT', '0001000300', '10-K', '2021-06-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000602.txt'),
        |  ('EXACT', '0001000300', '4', '2021-07-01',
        |   'https://www.sec.gov/Archives/edgar/data/1000300/0000912057-21-000701.txt'))
        |t(mode, cik, type, date_filed, txt_url)
        |ORDER BY mode, txt_url""".stripMargin,

    // golden decomposition verified against the reference algorithm
    // (`combo.py:137-199`) for 2020-01-06..2020-11-05, bp=30 — note the
    // end-edge quirk: a `le_end` quarterly AND a daily scan for the end day.
    "q_combo_plan" ->
      """SELECT CAST(seq AS BIGINT) AS seq, kind, CAST(year AS BIGINT) AS year,
        |  CAST(quarter AS BIGINT) AS quarter, filter_kind, day
        |FROM (VALUES
        |  (0, 'quarterly', 2020, 1, 'ge_start', CAST(NULL AS VARCHAR)),
        |  (1, 'quarterly', 2020, 2, 'all', NULL),
        |  (2, 'quarterly', 2020, 3, 'all', NULL),
        |  (3, 'quarterly', 2020, 4, 'le_end', NULL),
        |  (4, 'daily', NULL, NULL, NULL, '2020-11-05'))
        |t(seq, kind, year, quarter, filter_kind, day)
        |ORDER BY seq""".stripMargin
  )
}
