package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.EdgarFunctions

/** Reader for EDGAR master index files (quarterly `master.idx`,
  * `core/quarterly.py:53-57` + daily `master.<date>.idx`,
  * `core/daily.py:69-78`), mirrored to a local/remote filesystem.
  *
  * The HTTP fetch of the reference (`core/_index.py:117-143`) is a
  * fetch-layer concern ([[graft.fetch.Fetcher]]); analytics always read the
  * mirrored files. Files are the parallelism unit: each file is read whole
  * and split to (file, line_no, value) rows, so per-file line numbers —
  * which define `num_previously_valid` and grouped order
  * (`_index.py:160-178`) — are exact and the scan needs no global sort.
  */
object IndexReader {

  /** Raw idx lines with provenance: (file, line_no, value). */
  def readLines(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("wholetext", "true").text(paths: _*)
      .select(input_file_name().as("file"), col("value"))
      .select(col("file"),
        posexplode(split(col("value"), "\n")).as(Seq("line_no", "value")))

  /** Parsed FilingEntry rows (without the running count — that is
    * filter-dependent, see [[graft.ops.EntryOps.withRunningCount]]); any
    * number of idx files read as one relation.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    EdgarFunctions.parseIdxLines(readLines(spark, paths: _*))
      .withColumn("file", input_file_name())

  final class EdgarQueryError(msg: String) extends RuntimeException(msg)

  /** Existence probe replacing the listings-directory HTML check
    * (`_index.py:100-115,133-143`): in a filesystem mirror the directory
    * listing IS the filesystem.
    */
  def idxExists(spark: SparkSession, path: String): Boolean = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hadoopPath)
  }

  /** Strict variant: `EDGARQueryError` naming an absent idx (`_index.py:140-142`). */
  def readStrict(spark: SparkSession, paths: String*): DataFrame = {
    paths.find(!idxExists(spark, _)).foreach { path =>
      throw new EdgarQueryError(
        s"File $path not found. There may be no filings for the given day/quarter.")
    }
    read(spark, paths: _*)
  }
}
