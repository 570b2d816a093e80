package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CountMinSketch, SegmentStore}

/** Streaming frequency store — running Count-Min frequency estimates
  * over an unbounded stream with BOUNDED state: each micro-batch appends
  * its own CMS state (≤ d×m cells per batch), and a watchlist of probe
  * values is re-estimated against the merged standing state after every
  * batch.
  *
  * CMS merges by per-cell ADDITION — the merged sketch is EXACTLY the
  * sketch of the concatenated corpus (counts are additive), so the
  * streaming estimate equals the batch-mode estimate bit-for-bit,
  * proven in StreamingFrequencySpec. This is the property a heap-backed
  * heavy-hitter summary lacks and the reason CMS is the right
  * per-micro-batch shape; candidate DISCOVERY still rides a candidate
  * stream (Misra-Gries per batch), with the store refining counts.
  *
  * EXACTLY-ONCE: state rows are [[SegmentStore]] segments keyed by
  * `ingest_batch` — a foreachBatch replay overwrites its own segment,
  * and the merge partition-prunes the current batch id out of the
  * standing read. Store growth is ≤ d×m rows per batch; [[compact]]
  * folds history back to a single bootstrap segment — by additivity,
  * compaction cannot change any future estimate.
  */
object StreamingFrequency {

  /** One-time bootstrap: sketch the standing corpus (`ingest_batch = -1`). */
  def initStore(corpus: DataFrame, valueCol: String, path: String,
      d: Int = 4, m: Int = 1024): Unit =
    SegmentStore.writeSegment(CountMinSketch.cmsState(corpus, valueCol, d,
      m), -1L, s"$path/cms")

  /** The foreachBatch body: returns the watchlist's running `(probe,
    * est)` INCLUDING this batch (eager), then appends the batch's state
    * idempotently.
    */
  def processBatch(batch: DataFrame, batchId: Long, valueCol: String,
      probes: DataFrame, probeCol: String, path: String,
      d: Int = 4, m: Int = 1024): DataFrame = {
    val spark = batch.sparkSession
    val batchState = CountMinSketch.cmsState(batch, valueCol, d, m)
      .localCheckpoint(true) // consumed by the estimate AND the append
    val standing = SegmentStore.read(spark, s"$path/cms", Some(batchId))
      .select(col("row_id"), col("bucket"), col("cnt"))
    val merged = CountMinSketch.cmsMergeState(
      standing.unionByName(batchState))
    val est = CountMinSketch.cmsEstimate(merged, probes, probeCol, d, m)
      .localCheckpoint(true) // eager: estimate before this batch lands
    SegmentStore.writeSegment(batchState, batchId, s"$path/cms",
      dynamic = true)
    est
  }

  /** The store's current estimates for a probe set (all standing batches
    * merged).
    */
  def estimate(spark: SparkSession, path: String, probes: DataFrame,
      probeCol: String, d: Int = 4, m: Int = 1024): DataFrame =
    CountMinSketch.cmsEstimate(
      CountMinSketch.cmsMergeState(SegmentStore.read(spark, s"$path/cms")
        .select(col("row_id"), col("bucket"), col("cnt"))),
      probes, probeCol, d, m)

  /** Fold every standing segment back into `ingest_batch = -1`
    * ([[SegmentStore.foldPrefix]] with `upTo = Long.MaxValue`). By
    * additivity the collapsed store serves identical estimates; only the
    * row count shrinks (back to ≤ d×m).
    */
  def compact(spark: SparkSession, path: String): Unit =
    SegmentStore.foldPrefix(spark, s"$path/cms", Long.MaxValue,
      CountMinSketch.cmsMergeState(SegmentStore.read(spark, s"$path/cms")
          .select(col("row_id"), col("bucket"), col("cnt")))
        .localCheckpoint(true)) // read fully before the fold swaps it in

  /** Wire a value stream to the store. */
  def attach(values: DataFrame, valueCol: String, probes: DataFrame,
      probeCol: String, path: String, checkpointDir: String,
      d: Int = 4, m: Int = 1024)(
      onEstimate: DataFrame => Unit): StreamingQuery =
    values.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        onEstimate(
          processBatch(b, batchId, valueCol, probes, probeCol, path, d, m))
      }
      .start()
}
