package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.EdgarFunctions

/** Pattern-templated sinks (`core/_index.py:306-348`, `core/daily.py:134-166`,
  * `core/quarterly.py:101-134`): the reference saves each filing under
  * `{dir_pattern}/{file_pattern}` with options {cik}, {date}, {year},
  * QTR{quarter}, {accession_number}, {type}.
  *
  * Two tiers:
  *   - [[writeAnalytic]]: the 100 TB path — parquet in quarter directories
  *     sorted by `cik`; partition pruning serves date predicates (the combo
  *     planner's work, done by the storage layout), statistics serve cik;
  *   - [[writeExact]]: byte-exact file-tree layout via `foreachPartition`,
  *     for drop-in parity with the reference's output directory shape.
  */
object PatternSink {

  /** Expand a reference-style pattern ("{cik}", "{year}/QTR{quarter}/{cik}",
    * "{accession_number}") into a Column over the row's fields.
    */
  def patternColumn(pattern: String, dateFormat: String = "yyyyMMdd"): Column = {
    val token = "\\{(cik|date|year|quarter|accession_number|type)\\}".r
    val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
    var idx = 0
    for (m <- token.findAllMatchIn(pattern)) {
      if (m.start > idx) parts += lit(pattern.substring(idx, m.start))
      parts += (m.group(1) match {
        case "cik" => col("cik")
        case "date" => date_format(col("date_filed"), dateFormat)
        case "year" => year(col("date_filed")).cast("string")
        case "quarter" => quarter(col("date_filed")).cast("string")
        case "accession_number" => EdgarFunctions.accessionNumber(col("file_name"))
        case "type" => col("form_type")
      })
      idx = m.end
    }
    if (idx < pattern.length) parts += lit(pattern.substring(idx))
    if (parts.isEmpty) lit("") else concat(parts.toSeq: _*)
  }

  /** Analytic tier: parquet partitioned by (year, quarter), files sorted
    * by `cik` (a local sort, no shuffle) so row-group statistics serve
    * `cik` predicates. Files follow tasks × quarters, not CIKs, and `cik`
    * stays a string (a `cik=` directory reads back as an unpadded int).
    */
  def writeAnalytic(entries: DataFrame, directory: String): Unit =
    entries
      .withColumn("year", year(col("date_filed")))
      .withColumn("quarter", quarter(col("date_filed")))
      .sortWithinPartitions("year", "quarter", "cik")
      .write.mode("overwrite")
      .partitionBy("year", "quarter")
      .parquet(directory)

  /** Exact tier: reproduce the reference's file tree. Input must carry the
    * entry columns plus a `content` column (string or binary). Runs fully
    * parallel — each task writes its partition's files; directory creation
    * is idempotent.
    */
  def writeExact(entries: DataFrame, directory: String,
      dirPattern: String = "{cik}", filePattern: String = "{accession_number}",
      dateFormat: String = "yyyyMMdd"): Unit = {
    // NOTE: clean_directory_path applies to name-derived *components*
    // (company.py uses it on company names), never the whole pattern —
    // callers sanitize their own columns before templating.
    val planned = entries.withColumn("__dir", patternColumn(dirPattern, dateFormat))
      .withColumn("__file", patternColumn(filePattern, dateFormat))
      .select(col("__dir"), col("__file"), col("content"))
    planned.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      rows.foreach { r =>
        val dir = Paths.get(directory, r.getString(0))
        Files.createDirectories(dir)
        val bytes = r.get(2) match {
          case b: Array[Byte] => b
          case s: String => s.getBytes(StandardCharsets.UTF_8)
          case null => Array.emptyByteArray
        }
        Files.write(dir.resolve(r.getString(1)), bytes)
      }
    }
  }

  /** Bucketed-table sink: persist a fact table hash-bucketed (and
    * sorted) by its join key so repeated big-to-big joins on that key are
    * CO-LOCATED — both sides read pre-bucketed files and the join plans
    * with zero Exchange. This is the storage-layout half of the
    * shuffle-minimization story (the analytic partitionBy tier covers
    * pruning; bucketing covers join/agg locality). Requires a session
    * with a warehouse dir (`saveAsTable`), as bucket metadata lives in
    * the catalog.
    */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Metadata-JSON sink (`parser.py:66-72,131-135`): one
    * `{base}_{num}.metadata.json` per SEC-DOCUMENT (or
    * `{base}/{num}.metadata.json` with `createSubdir`), bytes matching the
    * reference's `json.dumps(metadata_dict, indent=2, sort_keys=True,
    * ensure_ascii=False)` — the flat/nested/nested2 metadata keys merged
    * into one object plus the `documents` list of per-document scalars.
    * Runs fully parallel via `foreachPartition`, like [[writeExact]].
    */
  def writeMetadataJson(secDocs: org.apache.spark.sql.Dataset[graft.model.SecDocument],
      directory: String, createSubdir: Boolean = false): Unit =
    secDocs.foreachPartition { (rows: Iterator[graft.model.SecDocument]) =>
      rows.foreach { d =>
        val base = Paths.get(d.path).getFileName.toString.split("\\.txt")(0)
        val (outDir, name) =
          if (createSubdir) (Paths.get(directory, base), s"${d.secDocNum}.metadata.json")
          else (Paths.get(directory), s"${base}_${d.secDocNum}.metadata.json")
        Files.createDirectories(outDir)
        Files.write(outDir.resolve(name),
          metadataJson(d).getBytes(StandardCharsets.UTF_8))
      }
    }

  /** Python-`json.dumps(indent=2, sort_keys=True, ensure_ascii=False)`
    * rendering of a [[graft.model.SecDocument]]'s metadata dict.
    */
  def metadataJson(d: graft.model.SecDocument): String = {
    val merged: Map[String, Any] =
      d.flat ++ d.nested ++ d.nested2 ++ Map("documents" -> d.documents.map(e =>
        Map("type" -> e.docType, "sequence" -> e.sequence,
          "filename" -> e.filename)))
    renderJson(merged, 0)
  }

  /** Minimal python-compatible JSON renderer: sorted keys, 2-space indent,
    * `", "`/`": "` separators, non-ASCII passed through (ensure_ascii=False).
    */
  private def renderJson(v: Any, depth: Int): String = {
    val pad = "  " * (depth + 1)
    val close = "  " * depth
    v match {
      case m: Map[_, _] if m.isEmpty => "{}"
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
          .map { case (k, x) => s"$pad${graft.Json.str(k)}: ${renderJson(x, depth + 1)}" }
          .mkString("{\n", ",\n", s"\n$close}")
      case s: Seq[_] if s.isEmpty => "[]"
      case s: Seq[_] =>
        s.map(x => pad + renderJson(x, depth + 1))
          .mkString("[\n", ",\n", s"\n$close]")
      case null => "null"
      case s: String => graft.Json.str(s)
      case other => other.toString
    }
  }
}
