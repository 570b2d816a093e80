package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, SegmentStore}

/** Streaming FRAGMENT-grain dedup over content-defined chunks — the
  * third index-append store beside [[StreamingMinhashDedup]] (documents)
  * and [[StreamingAnnIngest]] (vectors): a standing table of CDC chunk
  * hashes lives ON STORAGE, and each micro-batch
  *
  *   1. PROBES it — which of the batch's fragments already exist, and in
  *      which standing documents (the "this paragraph is already in the
  *      corpus" signal that catches boilerplate/quoted blocks
  *      whole-document sketches miss across batches);
  *   2. hands the fragment matches to the caller's sink (eagerly
  *      materialized FIRST — the append must not leak this batch's own
  *      fragments into its probe);
  *   3. APPENDS the batch's chunk rows, so batch N+1 dedups against
  *      batch N.
  *
  * Probe plan: the standing side is scanned and hash-joined against the
  * BROADCAST batch chunk table (a micro-batch's fragments are small by
  * construction) — the standing store is never re-chunked or shuffled.
  *
  * EXACTLY-ONCE: chunk rows are [[SegmentStore]] segments keyed by
  * `ingest_batch` — a foreachBatch replay overwrites its own segment,
  * and the probe partition-prunes its own batch id out of the standing
  * read (recorded schema, so an empty bootstrap corpus is a valid
  * store).
  */
object StreamingCdcDedup {

  /** One-time bootstrap: chunk the standing corpus (`ingest_batch = -1`).
    * Only fragments of at least `minTokens` are stored — sub-minTokens
    * chunks collide semantically and are never dedup signals.
    */
  def initStore(corpus: DataFrame, idCol: String, textCol: String,
      path: String, window: Int = 3, avgChunkGrams: Int = 8,
      minTokens: Int = 2): Unit =
    SegmentStore.writeSegment(
      Dedup.cdcChunks(corpus, idCol, textCol, window, avgChunkGrams)
        .filter(col("n_tokens") >= minTokens),
      -1L, path)

  /** The foreachBatch body: returns the fragment matches
    * `(chunk_hash, id_standing, chunk_id_standing, id_new, chunk_id_new,
    * n_tokens)` (eager), then appends this batch's chunks idempotently.
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, path: String, window: Int = 3,
      avgChunkGrams: Int = 8, minTokens: Int = 2): DataFrame = {
    val standing = SegmentStore.read(batch.sparkSession, path,
      Some(batchId))
    // chunk the batch ONCE: both the probe and the append consume this —
    // an uncached lazy plan would run the tokenize/hash/window pipeline
    // twice per micro-batch
    val batchChunks = Dedup.cdcChunks(batch, idCol, textCol, window,
        avgChunkGrams)
      .filter(col("n_tokens") >= minTokens)
      .localCheckpoint(true)
    val matches = standing
      .join(broadcast(batchChunks
          .select(col("chunk_hash"), col("id").as("id_new"),
            col("chunk_id").as("chunk_id_new"))),
        Seq("chunk_hash"))
      .select(col("chunk_hash"), col("id").as("id_standing"),
        col("chunk_id").as("chunk_id_standing"),
        col("id_new"), col("chunk_id_new"), col("n_tokens"))
      .localCheckpoint(true)
    SegmentStore.writeSegment(batchChunks, batchId, path, dynamic = true)
    matches
  }

  /** Wire a document stream to the store. */
  def attach(docs: DataFrame, idCol: String, textCol: String, path: String,
      checkpointDir: String, window: Int = 3, avgChunkGrams: Int = 8,
      minTokens: Int = 2)(onMatches: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        onMatches(processBatch(b, batchId, idCol, textCol, path, window,
          avgChunkGrams, minTokens))
      }
      .start()
}
