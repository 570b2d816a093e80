package graft.parse

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EmbeddedDocument, SecDocument}

/** Spark-native port of the reference's `MetaParser`
  * (`secedgar/parser.py:28-242`): split `<SEC-DOCUMENT>` text containers
  * into embedded documents + structured metadata.
  *
  * Shape: the reference walks files single-threaded and writes per-document
  * files (`parser.py:44-138`). Here the splitter is a typed `flatMap` over
  * `(path, content)` rows — 1 input row → N SecDocument rows — which is
  * UDTF/Generator-shaped and embarrassingly parallel: no shuffle, scales
  * with input splits. Containers arrive via `spark.read.format("binaryFile")`
  * or a parquet mirror with a `content` column (100 TB tier).
  */
object MetaParser {

  // Regexes 1:1 with `parser.py:39-42` (DOTALL).
  private val reSecDoc: Regex = "(?s)<SEC-DOCUMENT>(.*?)</SEC-DOCUMENT>".r
  private val reDoc: Regex = "(?s)<DOCUMENT>(.*?)</DOCUMENT>".r
  private val reText: Regex = "(?s)<TEXT>(.*?)</TEXT>".r
  private val reSecHeader: Regex = "(?s)<SEC-HEADER>.*?\n(.*?)</SEC-HEADER>".r

  // Metadata state-machine regexes (`parser.py:168-206`). The reference
  // uses a `(?!\t)` lookahead; `[^\t]` is the equivalent without lookahead
  // (also keeps the grammar portable to RE2-based engines).
  private val reKv: Regex = "^(\\w.*):\t*([^\t]+)$".r
  private val reHeader1: Regex = "^([^\t].*):\t*$".r
  private val reHeader2: Regex = "^\t(.+):\t*$".r
  private val reData1: Regex = "^\t([^\t].*):\t*(.+)$".r
  private val reData2: Regex = "^\t\t(.+):\t*(.+)$".r

  /** Port of `process_metadata` (`parser.py:140-213`). The reference builds
    * one dict with mixed str/dict values; Spark needs uniform column types,
    * so the same information splits into three maps (flat / level-1 / level-2)
    * — see [[graft.model.SecDocument]].
    */
  def processMetadata(headerText: String): (Map[String, String],
      Map[String, Map[String, String]],
      Map[String, Map[String, Map[String, String]]]) = {
    val flat = mutable.LinkedHashMap.empty[String, String]
    val nested = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, String]]
    val nested2 = mutable.LinkedHashMap
      .empty[String, mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, String]]]
    var level0: String = null
    var level1: String = null

    for (line <- headerText.split("\n", -1)) {
      if (line.contains("<ACCEPTANCE-DATETIME>")) {
        flat("acceptance-datetime") =
          line.substring("<ACCEPTANCE-DATETIME>".length)
      } else if (line.contains("<DESCRIPTION>")) {
        flat("description") = line.substring("<DESCRIPTION>".length)
      } else line match {
        case reKv(k, v) => // `parser.py:168-171`
          flat(k.replace(" ", "_")) = v
        case reHeader1(h) => // `parser.py:176-184`
          level0 = h.replace(" ", "_")
          level1 = null
          nested.getOrElseUpdate(level0, mutable.LinkedHashMap.empty)
        case reHeader2(h) if level0 != null => // `parser.py:188-195`
          level1 = h.replace(" ", "_")
          nested2.getOrElseUpdate(level0, mutable.LinkedHashMap.empty)
            .getOrElseUpdate(level1, mutable.LinkedHashMap.empty)
        case reData1(k, v) if level0 != null => // `parser.py:198-203`
          nested.getOrElseUpdate(level0, mutable.LinkedHashMap.empty)(k) = v
        case reData2(k, v) if level0 != null && level1 != null => // `parser.py:206-211`
          nested2(level0)(level1)(k.replace(" ", "_")) = v
        case _ => ()
      }
    }
    (flat.toMap, nested.map { case (k, v) => k -> v.toMap }.toMap,
      nested2.map { case (k, v) =>
        k -> v.map { case (k2, v2) => k2 -> v2.toMap }.toMap
      }.toMap)
  }

  /** Port of `process_document_metadata` (`parser.py:215-242`). */
  def processDocumentMetadata(doc: String): (String, String, String) = {
    def first(tag: String): String =
      s"(?s)<$tag>(.*?)\n".r.findFirstMatchIn(doc).map(_.group(1)).orNull
    (first("TYPE"), first("SEQUENCE"), first("FILENAME"))
  }

  /** Split one container into SecDocument rows (`parser.py:74-109`). */
  def splitContainer(path: String, content: String): Seq[SecDocument] =
    reSecDoc.findAllMatchIn(content).zipWithIndex.map { case (m, i) =>
      val secDoc = m.group(1)
      val headerMatch = reSecHeader.findFirstMatchIn(secDoc)
      val (flat, nested, nested2) = headerMatch match {
        case Some(h) => processMetadata(h.group(1))
        case None => (Map.empty[String, String],
          Map.empty[String, Map[String, String]],
          Map.empty[String, Map[String, Map[String, String]]])
      }
      val rest = headerMatch.map(h => secDoc.substring(h.end)).getOrElse(secDoc)
      val docs = reDoc.findAllMatchIn(rest.trim).map { dm =>
        val doc = dm.group(1)
        val (t, s, f) = processDocumentMetadata(doc)
        val text = reText.findFirstMatchIn(doc).map(_.group(1).trim).getOrElse("")
        EmbeddedDocument(t, s, f, text)
      }.toSeq
      SecDocument(path, i, flat, nested, nested2, docs)
    }.toSeq

  /** The Generator-shaped entry point: `(path, content)` → exploded
    * SecDocument rows. Input column names: `path`, `content`.
    */
  def explodeContainers(containers: DataFrame): Dataset[SecDocument] = {
    val spark = containers.sparkSession
    import spark.implicits._
    containers.select(col("path"), col("content"))
      .as[(String, String)]
      .flatMap { case (p, c) => splitContainer(p, c) }
  }

  /** uu-encoded payload detection (`parser.py:117`). */
  def isUuencoded(text: org.apache.spark.sql.Column) =
    text.contains("begin 644 ")

  /** uu-decode (`parser.py:119-125`, stdlib `uu` codec): classic unix
    * uuencoding — 45-byte groups, 3 bytes per 4 chars, space=0x20 offset.
    * Registered as a UDF (no Spark built-in exists); BinaryType output.
    */
  def uudecode(text: String): Array[Byte] = {
    val out = mutable.ArrayBuilder.make[Byte]
    var in = false
    for (line <- text.split("\n")) {
      val l = line.stripLineEnd
      if (l.startsWith("begin ")) in = true
      else if (l.startsWith("end")) in = false
      else if (in && l.nonEmpty) {
        val n = (l.charAt(0) - 0x20) & 0x3f // declared byte count
        val chars = l.drop(1)
        var produced = 0
        var i = 0
        while (produced < n && i + 3 < chars.length + 4) {
          def c(j: Int): Int =
            if (j < chars.length) (chars.charAt(j) - 0x20) & 0x3f else 0
          val b0 = (c(i) << 2) | (c(i + 1) >> 4)
          val b1 = ((c(i + 1) & 0xf) << 4) | (c(i + 2) >> 2)
          val b2 = ((c(i + 2) & 0x3) << 6) | c(i + 3)
          if (produced < n) { out += b0.toByte; produced += 1 }
          if (produced < n) { out += b1.toByte; produced += 1 }
          if (produced < n) { out += b2.toByte; produced += 1 }
          i += 4
        }
      }
    }
    out.result()
  }

  /** Register the uudecode UDF on a session. */
  def registerUdfs(spark: SparkSession): Unit = {
    spark.udf.register("uudecode", (s: String) => uudecode(s))
    ()
  }
}
