package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CardinalitySketch, SegmentStore}

/** Streaming cardinality store — running distinct-count estimates over
  * an unbounded stream with BOUNDED state: each micro-batch appends its
  * own KMV and HLL sketch states (≤k hash rows + ≤2^p register rows per
  * batch), and the running estimate merges all standing states.
  *
  * Because both sketches are MERGEABLE — k-smallest of unioned KMV
  * states and per-bucket max of HLL registers are EXACTLY the sketches
  * of the concatenated corpus — the streaming estimate equals the
  * batch-mode estimate bit-for-bit, proven in StreamingDistinctSpec.
  * Nothing is lost to the micro-batch boundary, ever.
  *
  * EXACTLY-ONCE: state rows are [[SegmentStore]] segments keyed by
  * `ingest_batch` — a foreachBatch replay overwrites its own segment,
  * and the merge partition-prunes the current batch id out of the
  * standing read. Store growth is k + 2^p rows per batch; [[compact]]
  * folds history back to a single bootstrap segment whenever
  * convenient — by mergeability, compaction cannot change any future
  * estimate.
  */
object StreamingDistinct {

  /** One-time bootstrap: sketch the standing corpus (`ingest_batch = -1`). */
  def initStore(corpus: DataFrame, valueCol: String, path: String,
      k: Int = 256, p: Int = 8): Unit = {
    SegmentStore.writeSegment(CardinalitySketch.kmvState(corpus, valueCol,
      k), -1L, s"$path/kmv")
    SegmentStore.writeSegment(CardinalitySketch.hllState(corpus, valueCol,
      p), -1L, s"$path/hll")
  }

  /** The foreachBatch body: returns the running one-row estimate
    * `(kmv_n_state, kmv_kth_hash, kmv_dv, hll_n_seen_buckets,
    * hll_sum_terms, hll_dv)` INCLUDING this batch (eager), then appends
    * the batch's states idempotently.
    */
  def processBatch(batch: DataFrame, batchId: Long, valueCol: String,
      path: String, k: Int = 256, p: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    val batchKmv = CardinalitySketch.kmvState(batch, valueCol, k)
      .localCheckpoint(true) // consumed by the estimate AND the append
    val batchHll = CardinalitySketch.hllState(batch, valueCol, p)
      .localCheckpoint(true)
    val standingKmv = SegmentStore.read(spark, s"$path/kmv", Some(batchId))
      .select(col("h"))
    val standingHll = SegmentStore.read(spark, s"$path/hll", Some(batchId))
      .select(col("bucket"), col("max_rho"))
    val est = mergedEstimate(standingKmv.unionByName(batchKmv),
      standingHll.unionByName(batchHll), k, p)
      .localCheckpoint(true) // eager: estimate before this batch lands
    SegmentStore.writeSegment(batchKmv, batchId, s"$path/kmv",
      dynamic = true)
    SegmentStore.writeSegment(batchHll, batchId, s"$path/hll",
      dynamic = true)
    est
  }

  /** The store's current estimate (all standing batches merged). */
  def estimate(spark: SparkSession, path: String, k: Int = 256,
      p: Int = 8): DataFrame =
    mergedEstimate(
      SegmentStore.read(spark, s"$path/kmv").select(col("h")),
      SegmentStore.read(spark, s"$path/hll")
        .select(col("bucket"), col("max_rho")),
      k, p)

  private def mergedEstimate(kmvRows: DataFrame, hllRows: DataFrame,
      k: Int, p: Int): DataFrame = {
    val kmv = CardinalitySketch.kmvEstimateFromState(kmvRows, k)
      .select(col("n_state").as("kmv_n_state"),
        col("kth_hash").as("kmv_kth_hash"), col("dv_est").as("kmv_dv"))
    val hll = CardinalitySketch.hllEstimateFromState(
      hllRows.groupBy(col("bucket")).agg(max(col("max_rho")).as("max_rho")),
      p)
      .select(col("n_seen_buckets").as("hll_n_seen_buckets"),
        col("sum_terms").as("hll_sum_terms"), col("dv_raw").as("hll_dv"))
    kmv.crossJoin(hll)
  }

  /** Fold every standing segment back into `ingest_batch = -1`
    * ([[SegmentStore.foldPrefix]] with `upTo = Long.MaxValue`). By
    * sketch mergeability the collapsed store serves identical estimates;
    * only the row count shrinks (back to ≤ k + 2^p).
    */
  def compact(spark: SparkSession, path: String, k: Int = 256,
      p: Int = 8): Unit = {
    SegmentStore.foldPrefix(spark, s"$path/kmv", Long.MaxValue,
      CardinalitySketch.kmvCompactState(
        SegmentStore.read(spark, s"$path/kmv").select(col("h")), k)
        .localCheckpoint(true)) // read fully before the fold swaps it in
    SegmentStore.foldPrefix(spark, s"$path/hll", Long.MaxValue,
      SegmentStore.read(spark, s"$path/hll")
        .groupBy(col("bucket")).agg(max(col("max_rho")).as("max_rho"))
        .localCheckpoint(true))
  }

  /** Wire a value stream to the store. */
  def attach(values: DataFrame, valueCol: String, path: String,
      checkpointDir: String, k: Int = 256, p: Int = 8)(
      onEstimate: DataFrame => Unit): StreamingQuery =
    values.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        onEstimate(processBatch(b, batchId, valueCol, path, k, p))
      }
      .start()
}
