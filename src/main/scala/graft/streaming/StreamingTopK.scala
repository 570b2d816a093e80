package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CountMinSketch, MisraGriesAggregator, SegmentStore}

/** Streaming top-k store — running heavy-hitter estimates with CERTIFIED
  * two-sided bounds over an unbounded stream, composing the two
  * frequency summaries the way production systems do:
  *
  *   - per micro-batch, a Misra-Gries summary DISCOVERS candidates
  *     (an O(m) bounded-memory pass; a CMS alone cannot enumerate keys);
  *   - a standing Count-Min store REFINES counts (per-cell-additive
  *     merge, so the cross-batch estimate is exact-to-the-sketch).
  *
  * For every reported token: `mg_lower ≤ true count ≤ cms_est` — the MG
  * side sums per-batch undercounts (each ≤ true by that batch's n/m),
  * the CMS side can only overcount. And any token whose TRUE total
  * exceeds the emitted `miss_bound` (Σ per-batch n/m) is guaranteed
  * present: by pigeonhole it beat n_i/m in some batch, so that batch's
  * summary kept it. Both bounds ride the output so callers can act on
  * certainties, not vibes.
  *
  * EXACTLY-ONCE: per-batch MG rows and CMS cells are [[SegmentStore]]
  * segments keyed by `ingest_batch`; replays overwrite their own
  * segment; reads partition-prune the in-flight batch. State grows by
  * ≤ mgCapacity + d×m rows per batch; [[compact]] folds the CMS
  * losslessly and the MG summaries with the Agarwal et al. (PODS 2012)
  * cut rule — the candidate set shrinks back to mgCapacity and the
  * (recorded) miss bound grows by the cut, exactly as the
  * mergeable-summaries analysis prices it.
  */
object StreamingTopK {

  private def mgSummary(batch: DataFrame, valueCol: String,
      mgCapacity: Int): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col(valueCol).cast("string")).as[String]
      .select(new MisraGriesAggregator(mgCapacity).toColumn)
      .toDF("hh", "n_total")
      // CEILING of n/m: the presence guarantee needs Σ bounds ≥ Σ n_i/m
      // exactly — a floor would undercut it by up to one per batch
      .select(explode(col("hh")).as("e"),
        expr(s"(n_total + ${mgCapacity - 1}L) DIV ${mgCapacity}L")
          .as("err_bound"))
      .select(col("e._1").as("tok"), col("e._2").as("min_count"),
        col("err_bound"))
  }

  /** One-time bootstrap: summarize the standing corpus
    * (`ingest_batch = -1`).
    */
  def initStore(corpus: DataFrame, valueCol: String, path: String,
      mgCapacity: Int = 64, d: Int = 4, m: Int = 1024): Unit = {
    SegmentStore.writeSegment(mgSummary(corpus, valueCol, mgCapacity), -1L,
      s"$path/mg")
    SegmentStore.writeSegment(CountMinSketch.cmsState(corpus, valueCol, d,
      m), -1L, s"$path/cms")
  }

  /** The foreachBatch body: returns the running top-k INCLUDING this
    * batch (eager), then appends the batch's summaries idempotently.
    */
  def processBatch(batch: DataFrame, batchId: Long, valueCol: String,
      path: String, k: Int, mgCapacity: Int = 64, d: Int = 4,
      m: Int = 1024): DataFrame = {
    val spark = batch.sparkSession
    val batchMg = mgSummary(batch, valueCol, mgCapacity)
      .localCheckpoint(true) // consumed by the top-k AND the append
    val batchCms = CountMinSketch.cmsState(batch, valueCol, d, m)
      .localCheckpoint(true)
    val standingMg = SegmentStore.read(spark, s"$path/mg", Some(batchId))
    val standingCms = SegmentStore.read(spark, s"$path/cms", Some(batchId))
      .select(col("row_id"), col("bucket"), col("cnt"))
    val out = resolveTopK(
      standingMg.unionByName(
        batchMg.withColumn("ingest_batch", lit(batchId))),
      CountMinSketch.cmsMergeState(standingCms.unionByName(batchCms)),
      k, d, m)
      .localCheckpoint(true) // eager: resolve before this batch lands
    SegmentStore.writeSegment(batchMg, batchId, s"$path/mg", dynamic = true)
    SegmentStore.writeSegment(batchCms, batchId, s"$path/cms",
      dynamic = true)
    out
  }

  /** The store's current top-k (all standing batches). */
  def topk(spark: SparkSession, path: String, k: Int, d: Int = 4,
      m: Int = 1024): DataFrame =
    resolveTopK(
      SegmentStore.read(spark, s"$path/mg"),
      CountMinSketch.cmsMergeState(SegmentStore.read(spark, s"$path/cms")
        .select(col("row_id"), col("bucket"), col("cnt"))),
      k, d, m)

  /** Candidates = the UNION of standing summaries (bounded by batches ×
    * mgCapacity; compact when that grows stale) — `mg_lower` sums the
    * per-batch undercounts, `miss_bound` sums the per-batch error
    * ceilings, `cms_est` refines from the merged sketch. Top-k by the
    * refined estimate, token-tiebroken.
    */
  private def resolveTopK(mgRows: DataFrame, cmsState: DataFrame, k: Int,
      d: Int, m: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val cands = mgRows.groupBy(col("tok"))
      .agg(sum(col("min_count")).as("mg_lower"))
    val miss = mgRows.groupBy(col("ingest_batch"))
      .agg(max(col("err_bound")).as("eb"))
      .agg(coalesce(sum(col("eb")), lit(0L)).as("miss_bound"))
    CountMinSketch.cmsEstimate(cmsState, cands, "tok", d, m)
      .withColumnRenamed("probe", "tok")
      .join(cands, Seq("tok"))
      .crossJoin(broadcast(miss))
      .select(col("tok"), col("mg_lower"), col("est").as("cms_est"),
        col("miss_bound"))
      .orderBy(col("cms_est").desc, col("tok"))
      .limit(k)
  }

  /** Fold the store back into `ingest_batch = -1`
    * ([[SegmentStore.foldPrefix]] with `upTo = Long.MaxValue`): the CMS
    * folds losslessly (per-cell sums); the MG union folds with the
    * PODS'12 cut — keep the mgCapacity largest summed counters,
    * subtract the (mgCapacity+1)-th, and RECORD the grown miss bound on
    * every row.
    */
  def compact(spark: SparkSession, path: String,
      mgCapacity: Int = 64): Unit = {
    val mgAll = SegmentStore.read(spark, s"$path/mg").localCheckpoint(true)
    val summed = mgAll.groupBy(col("tok"))
      .agg(sum(col("min_count")).as("c"))
      .orderBy(col("c").desc, col("tok"))
      .limit(mgCapacity + 1)
      .collect() // ≤ mgCapacity+1 rows — driver-bounded by construction
    val cut = if (summed.length > mgCapacity) summed.last.getLong(1) else 0L
    val missBound = mgAll.groupBy(col("ingest_batch"))
      .agg(max(col("err_bound")).as("eb"))
      .agg(coalesce(sum(col("eb")), lit(0L)).as("mb"))
      .collect().head.getLong(0) + cut
    // zero-count survivors stay (0 is a valid lower bound): each is
    // still a candidate that the top-k ranks by its CMS estimate, and
    // the summary's rows carry the recorded miss bound — an all-ties
    // cut that emptied it would drop the bound to 0
    val kept = summed.take(mgCapacity)
      .map(r => (r.getString(0), math.max(r.getLong(1) - cut, 0L)))
    import spark.implicits._
    SegmentStore.foldPrefix(spark, s"$path/mg", Long.MaxValue,
      kept.toSeq.toDF("tok", "min_count")
        .withColumn("err_bound", lit(missBound))
        .localCheckpoint(true))
    SegmentStore.foldPrefix(spark, s"$path/cms", Long.MaxValue,
      CountMinSketch.cmsMergeState(SegmentStore.read(spark, s"$path/cms")
          .select(col("row_id"), col("bucket"), col("cnt")))
        .localCheckpoint(true))
  }

  /** Wire a value stream to the store. */
  def attach(values: DataFrame, valueCol: String, path: String,
      checkpointDir: String, k: Int, mgCapacity: Int = 64, d: Int = 4,
      m: Int = 1024)(onTopK: DataFrame => Unit): StreamingQuery =
    values.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        onTopK(processBatch(b, batchId, valueCol, path, k, mgCapacity, d, m))
      }
      .start()
}
