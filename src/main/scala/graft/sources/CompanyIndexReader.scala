package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.EdgarFunctions

/** The relational residuals of the company-filings query
  * (`core/company.py:198-213,287-303`) over the rows the `edgar-company`
  * scan ([[graft.sources.dsv2.CompanyFilingsSource]]) emits: the scan runs
  * the page loop, parses each page and applies the request params; what
  * it cannot express per partition — the per-company `count` truncation
  * and the count-shortfall report — lives here.
  */
object CompanyIndexReader {

  /** Per-company `count` truncation (`company.py:198-213,287-303`):
    * newest-first top-k per CIK, deterministic via accession tiebreaker.
    */
  def limitPerCompany(filings: DataFrame, count: Int): DataFrame =
    EdgarFunctions.perKeyTopK(filings, count, Seq("cik"),
      Seq(col("date_filed").desc, col("filinghref").desc))

  /** The reference's count-shortfall warning (`company.py:297-303`:
    * "Only {num} of {count} filings were found for {cik}") as data: one
    * row per requested company with fewer than `count` usable filings.
    * `lookups` pins the expected companies so zero-found ones surface
    * too. (Divergence note: the reference counts junk hrefs toward the
    * total; here the count reflects usable `.txt` URLs, since bad links
    * are dropped eagerly.)
    */
  def countShortfalls(filings: DataFrame, lookups: DataFrame,
      count: Int): DataFrame =
    lookups.select(col("lookup").as("cik_key"))
      .join(filings.groupBy("cik_key")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_found")),
        Seq("cik_key"), "left")
      .withColumn("n_found", coalesce(col("n_found"), lit(0L)))
      .filter(col("n_found") < count)
      .withColumn("n_requested", lit(count.toLong))
}
