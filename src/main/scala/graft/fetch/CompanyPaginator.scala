package graft.fetch

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.sources.CompanyIndexReader

/** Paginated company-filings fetch, the engine's analog of the reference's
  * per-CIK page loop (`core/company.py:269-303`):
  *
  * {{{
  *   start = 0
  *   while count is None or len(links) < count:
  *     page = get(path, params);  links += type-matched hrefs
  *     start += batch_size
  *     if page has no <filinghref> at all: break
  * }}}
  *
  * Re-expressed for a cluster: page DEPTH stays sequential (page N+1 cannot
  * be requested before page N proves non-empty / count unmet — that is the
  * protocol, not an implementation detail), but each round fans out over
  * ALL still-active CIKs in one rate-limited [[Fetcher.fetchAll]] pass. The
  * reference serializes CIK × page; here wall-clock is
  * O(max pages per CIK), not O(Σ pages).
  *
  * Early-exit bookkeeping (the limit pushdown): after each round, one small
  * aggregation — (cik, hrefs on page, type-matched on page) — decides which
  * CIKs continue. A CIK leaves the work-list when its page had no filings
  * (`company.py:292-293`) or its cumulative type-match count reached
  * `count` (`company.py:287`), so deeper pages for finished companies are
  * never requested.
  *
  * Each round's pages are counted and accumulated straight off
  * [[Fetcher.fetchAll]]'s result, which is already materialized (each page
  * is requested once per call), so downstream re-evaluation replays
  * blocks, never re-fetches.
  */
object CompanyPaginator {

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

  /** Mirrored-archive page path: `$root/browse-edgar/<cik>/start_<n>.xml`.
    * The local tier reads a page tree laid out by a prior fetch run; a
    * missing page file behaves exactly like an empty page (pagination
    * exhausted).
    */
  def mirrorUrl(root: String)(cik: String, start: Int): String =
    s"$root/browse-edgar/$cik/start_$start.xml"

  final class PageFetchException(msg: String) extends RuntimeException(msg)

  /** Drive the page loop; returns raw pages (cik_key, page_start, value).
    *
    * @param urlFor        (cik, start) → URL for that page.
    * @param batchSize     filings per page (`client.py:67`, default 10).
    * @param count         per-CIK cap on type-matched filings; None = exhaust.
    * @param filingType    the type whose matches count toward `count`
    *                      (`company.py:278-287`); None counts every filing.
    * @param collapseEvery re-checkpoint the accumulated pages every this
    *                      many rounds so a 10k-page crawl doesn't build a
    *                      10k-way union tree (plan depth stays O(collapseEvery)).
    */
  def paginate(spark: SparkSession, ciks: Seq[String],
      urlFor: (String, Int) => String, fetch: Fetcher.FetchFn,
      batchSize: Int = 10, count: Option[Int] = None,
      filingType: Option[String] = None, globalRate: Double = 10.0,
      maxPages: Int = 10000, collapseEvery: Int = 32): DataFrame = {
    import spark.implicits._
    require(collapseEvery >= 1, "collapseEvery must be >= 1")
    var acc: DataFrame = Seq.empty[(String, Int, String)]
      .toDF("cik_key", "page_start", "value")
    var active: Seq[String] = ciks.distinct
    val matchedSoFar = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var start = 0
    var rounds = 0
    while (active.nonEmpty && rounds < maxPages) {
      val work = active.map(c => (c, urlFor(c, start))).toDF("key", "url")
      val fetchedAll = Fetcher.fetchAll(work, fetch, globalRate)
      // raise on real fetch failures (already past Fetcher's per-request
      // retries); only a structured not-found — classified at the fetch
      // source, never by message text — ends pagination for a CIK,
      // matching the reference's empty-page break (`company.py:292-293`)
      val hardErrs = fetchedAll
        .filter(col("error").isNotNull && !col("not_found"))
        .select("key", "url", "error").limit(5).collect()
      if (hardErrs.nonEmpty)
        throw new PageFetchException(
          "page fetch failed (not a missing page): " + hardErrs.map(r =>
            s"cik=${r.getString(0)} url=${r.getString(1)}: ${r.getString(2)}")
            .mkString("; "))
      val fetched = fetchedAll
        .filter(col("error").isNull)
        .select(col("key").as("cik_key"), lit(start).as("page_start"),
          col("content").cast(StringType).as("value"))
      val typeMatch = filingType
        .map(ft => col("type") === lit(ft)).getOrElse(lit(true))
      // one row per active CIK — the only driver-side state is this
      // counts map, O(|ciks|), never page content
      val stats = CompanyIndexReader.parsePages(fetched)
        .groupBy("cik_key")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_hrefs"),
          sum(typeMatch.cast("long")).as("n_match"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      acc = acc.unionByName(fetched)
      active = active.filter { c =>
        val (hrefs, m) = stats.getOrElse(c, (0L, 0L))
        matchedSoFar(c) += m
        hrefs > 0 && count.forall(matchedSoFar(c) < _)
      }
      start += batchSize
      rounds += 1
      // collapse the union tree: each round's pages are already
      // block-materialized, so this checkpoint only truncates lineage
      // (plan size), never refetches
      if (rounds % collapseEvery == 0) acc = acc.localCheckpoint(true)
    }
    acc
  }
}
