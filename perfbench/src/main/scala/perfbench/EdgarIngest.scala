package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Filings
import graft.fetch.Fetcher
import graft.ops.EntryOps
import graft.parse.{F4Parser, MetaParser}
import graft.sink.PatternSink
import graft.sources.CikMapReader

/** The reference dataflow over a seeded EDGAR mirror: combo index scan,
  * form and CIK filter, rate-limited fetch, SEC-DOCUMENT split and Form-4
  * parse, pattern sinks. Untraced, each sink call evaluates the lazy plan
  * it needs; traced, every layer boundary is materialized inside its span.
  * Each pass is checked against the generator's manifest.
  */
final class EdgarIngest(spark: SparkSession, dir: Path, cfg: Json.Obj) extends Workload {
  import spark.implicits._

  private val root = dir.resolve("inputs/mirror").toString
  private val ref = Json.readObject(dir.resolve("inputs/edgar_ref.json"))
  private val Seq(start, end) = ref.strs("range").map(java.time.LocalDate.parse)
  private val forms = ref.strs("keep_forms")
  private var passNo = 0

  def stage(): Unit = {
    // the mirror is on local disk; staging reads it once so every pass
    // starts from the same page-cache state
    Main.files(dir.resolve("inputs/mirror")).foreach(Files.readAllBytes)
  }

  def pass(tr: Tracer): PassResult = {
    val traced = tr.enabled
    passNo += 1
    val out = dir.resolve(s"out/pass$passNo")
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def boundary(df: DataFrame): DataFrame =
      if (traced) df.localCheckpoint(eager = true) else df
    val ((entries, kept, fetched, secDocs, txns), wall) = Main.timed(tr.span("edgar.pass") {
      val entries = tr.span("sources") {
        boundary(Filings.ComboQuery(start, end, None).entries(spark, root))
      }
      val kept = tr.span("ops") {
        val resolved = EntryOps.resolveCiks(ref.strs("lookups").toDF("lookup"),
          CikMapReader.read(spark, s"$root/company_tickers.json"))
        boundary(EntryOps.entryFilter(entries, col("form_type").isin(forms: _*))
          .join(broadcast(resolved.select("cik").distinct()), Seq("cik"), "left_semi"))
      }
      val fetched = tr.span("fetch") {
        boundary(Fetcher.fetchAll(
          kept.select(col("file_name").as("key"),
            concat(lit(root + "/"), col("path")).as("url")),
          Fetcher.local, globalRate = 1e9))
      }
      val ok = fetched.filter(col("error").isNull)
      val secDocs = tr.span("parse.split") {
        val d = MetaParser.explodeContainers(
          ok.select(col("url").as("path"), col("content").cast("string").as("content")))
        if (traced) d.localCheckpoint(eager = true) else d
      }
      val txns = tr.span("parse.form4") {
        boundary(F4Parser.transactionsFromXml(
          secDocs.select(explode(col("documents")).as("d"))
            .filter(col("d.docType") === "4").select(col("d.text").as("xml")), "xml"))
      }
      tr.span("sink") {
        PatternSink.writeExact(
          ok.select(regexp_extract(col("key"), "edgar/data/([0-9]+)/", 1).as("cik"),
            col("key").as("file_name"), col("content")),
          s"$out/exact", "{cik}", "{accession_number}")
        PatternSink.writeMetadataJson(secDocs, s"$out/meta")
        PatternSink.writeAnalytic(kept, s"$out/entries")
        txns.write.mode("overwrite").parquet(s"$out/form4")
      }
      (entries, kept, fetched, secDocs, txns)
    })
    val failures = check(out)
    val disk = Main.dirBytes(out)
    if (traced) tr.untracked {
      // the layers' counts, from the frames each boundary materialized
      val scanned = entries.count().toDouble
      val f = fetched.agg(count(lit(1)), coalesce(sum(length(col("content"))), lit(0L)),
        count(when(col("error").isNotNull && !col("not_found"), 1)),
        count(when(col("not_found"), 1))).head()
      layer ++= Seq("sources.idx_rows" -> scanned, "ops.keep_ratio" -> kept.count() / scanned,
        "fetch.requests" -> f.getLong(0).toDouble, "fetch.bytes" -> f.getLong(1).toDouble,
        "fetch.errors" -> f.getLong(2).toDouble, "fetch.not_found" -> f.getLong(3).toDouble,
        "parse.sec_docs" -> secDocs.count().toDouble,
        "parse.embedded_docs" -> secDocs.select(coalesce(sum(size(col("documents"))), lit(0L)))
          .head().getLong(0).toDouble,
        "parse.form4_txns" -> txns.count().toDouble)
      val root0 = tr.byName("edgar.pass").last
      val span = tr.children(root0.id)
      def s(n: String) = span.find(_.name == n).map(tr.durS).getOrElse(0.0)
      layer ++= Seq("sources.scan_s" -> s("sources"), "ops.filter_s" -> s("ops"),
        "fetch.fetch_s" -> s("fetch"), "parse.split_s" -> s("parse.split"),
        "parse.form4_s" -> s("parse.form4"), "sink.write_s" -> s("sink"),
        "sink.files" -> Main.files(out).size.toDouble,
        "sink.bytes" -> disk.toDouble)
      layer ++= Spark.metrics(tr, root0)
    }
    Main.deleteTree(out)
    PassResult(wall, ref.long("kept"), Seq(wall), failures, disk, ref.long("input_bytes"),
      layer.toMap)
  }

  /** Compare the sinks' output with the manifest. */
  private def check(out: Path): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    val files = ref.obj("files")
    val expect = files.fields.map { case (k, v) => k -> v.asText() }.toMap
    val exact = out.resolve("exact")
    val seen = Main.files(exact)
      .filterNot(_.getFileName.toString.startsWith(".")).map { p =>
        val rel = exact.relativize(p).toString
        val h = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        rel -> h.map("%02x".format(_)).mkString
      }.toMap
    if (seen.size != expect.size)
      errs += s"exact sink wrote ${seen.size} files, expected ${expect.size}"
    val bad = expect.count { case (k, h) => !seen.get(k).contains(h) }
    if (bad > 0) errs += s"exact sink: $bad files missing or with wrong bytes"

    val meta = Main.files(out.resolve("meta"))
      .filter(_.getFileName.toString.endsWith(".metadata.json"))
    if (meta.size != ref.long("meta_files"))
      errs += s"metadata sink wrote ${meta.size} files, expected ${ref.long("meta_files")}"
    val keys = meta.map(p => Json.keyCount(Json.parse(Files.readString(p)))).sum
    if (keys != ref.long("meta_keys"))
      errs += s"metadata keys $keys, expected ${ref.long("meta_keys")}"

    val entries = spark.read.parquet(s"$out/entries")
    val byForm = entries.groupBy("form_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expForms = ref.obj("form_counts").fields.map { case (k, v) => k -> v.asLong() }.toMap
    if (byForm != expForms) errs += s"entries per form $byForm, expected $expForms"
    val accs = entries.select(col("file_name")).as[String].collect()
      .map(_.split('/').last.stripSuffix(".txt")).sorted.mkString("\n")
    val accSha = MessageDigest.getInstance("SHA-256").digest(accs.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (accSha != ref.str("kept_accessions_sha256")) errs += "kept accessions differ"
    val nTx = spark.read.parquet(s"$out/form4").count()
    if (nTx != ref.long("form4_txns"))
      errs += s"form4 transactions $nTx, expected ${ref.long("form4_txns")}"
    errs.toSeq
  }
}
