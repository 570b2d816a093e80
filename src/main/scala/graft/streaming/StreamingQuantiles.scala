package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{QuantileHistogram, SegmentStore}

/** Streaming quantile store — running percentile estimates over an
  * unbounded stream with BOUNDED state: each micro-batch appends its own
  * log-scale histogram state (≤ a few thousand `(bucket_id, cnt, v_min,
  * v_max)` cells), and any quantile resolves from the merged standing
  * state within the histogram's hard 2^−s relative bound.
  *
  * Histogram buckets merge by `(sum cnt, min v_min, max v_max)` — the
  * merged state IS the histogram of the concatenated corpus, so the
  * streaming quantile answer equals the batch-mode answer bit-for-bit
  * (StreamingQuantilesSpec). The fourth mergeable-sketch store beside
  * [[StreamingDistinct]] (KMV/HLL), [[StreamingFrequency]] (CMS), and
  * [[StreamingTopK]] (MG+CMS) — one recipe, four summaries.
  *
  * EXACTLY-ONCE: state rows are [[SegmentStore]] segments keyed by
  * `ingest_batch`; replays overwrite their own segment; reads
  * partition-prune the in-flight batch. [[compact]] folds history to
  * the bootstrap segment; by merge-exactness it cannot move any
  * quantile.
  */
object StreamingQuantiles {

  /** One-time bootstrap: histogram the standing corpus
    * (`ingest_batch = -1`).
    */
  def initStore(corpus: DataFrame, valueCol: String, path: String,
      s: Int = 6): Unit =
    SegmentStore.writeSegment(QuantileHistogram.histState(corpus, valueCol,
      s), -1L, s"$path/qhist")

  /** The foreachBatch body: returns the running quantile rows INCLUDING
    * this batch (eager), then appends the batch's state idempotently.
    */
  def processBatch(batch: DataFrame, batchId: Long, valueCol: String,
      qPpm: Seq[Long], path: String, s: Int = 6): DataFrame = {
    val spark = batch.sparkSession
    val batchState = QuantileHistogram.histState(batch, valueCol, s)
      .localCheckpoint(true) // consumed by the resolve AND the append
    val standing = SegmentStore.read(spark, s"$path/qhist", Some(batchId))
      .select(col("bucket_id"), col("cnt"), col("v_min"), col("v_max"))
    val out = QuantileHistogram.quantiles(
      QuantileHistogram.histMergeState(standing.unionByName(batchState)),
      qPpm)
      .localCheckpoint(true) // eager: resolve before this batch lands
    SegmentStore.writeSegment(batchState, batchId, s"$path/qhist",
      dynamic = true)
    out
  }

  /** The store's current quantiles (all standing batches merged). */
  def quantiles(spark: SparkSession, path: String,
      qPpm: Seq[Long]): DataFrame =
    QuantileHistogram.quantiles(
      QuantileHistogram.histMergeState(
        SegmentStore.read(spark, s"$path/qhist").select(col("bucket_id"),
          col("cnt"), col("v_min"), col("v_max"))),
      qPpm)

  /** Fold every standing segment back into `ingest_batch = -1`
    * ([[SegmentStore.foldPrefix]] with `upTo = Long.MaxValue`).
    */
  def compact(spark: SparkSession, path: String): Unit =
    SegmentStore.foldPrefix(spark, s"$path/qhist", Long.MaxValue,
      QuantileHistogram.histMergeState(
        SegmentStore.read(spark, s"$path/qhist").select(col("bucket_id"),
          col("cnt"), col("v_min"), col("v_max")))
        .localCheckpoint(true)) // read fully before the fold swaps it in

  /** Wire a value stream to the store. */
  def attach(values: DataFrame, valueCol: String, qPpm: Seq[Long],
      path: String, checkpointDir: String, s: Int = 6)(
      onQuantiles: DataFrame => Unit): StreamingQuery =
    values.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        onQuantiles(processBatch(b, batchId, valueCol, qPpm, path, s))
      }
      .start()
}
