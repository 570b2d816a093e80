package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Cross-batch streaming NEAR-dup dedup — the index-append production
  * follow-on to the frozen-index probe proven in StreamingCorpusSpec
  * (reference analog: the daily poll loop,
  * `/root/reference/secedgar/core/daily.py:8-60`, which lands one new
  * slice per day against an ever-growing standing corpus).
  *
  * The standing MinHash LSH index lives ON STORAGE as flat segments —
  * one directory per `ingest_batch`, parquet files directly inside,
  * `band` a plain data column (the probe's broadcast batch side covers
  * every band, so band partitions would prune nothing; see
  * [[graft.operators.Dedup.minhashIndex]]) — beside a text store for
  * Jaccard verification of survivors. Each micro-batch:
  *
  *   1. appends the batch's texts (texts are only looked up by
  *      candidate id, so this early segment changes no probe result);
  *   2. probes the standing index via
  *      [[graft.operators.Dedup.incrementalMinhashPairsFromIndex]] — the
  *      index is scanned, never re-signed or shuffled; the batch index
  *      is broadcast; candidate texts are semi-joined out of the text
  *      store and shingled once;
  *   3. hands the verified pairs to the caller's sink (eagerly
  *      materialized FIRST — the index append below must not leak this
  *      batch's own rows into its probe);
  *   4. APPENDS the batch's band keys — so batch N+1 dedups against
  *      batch N, closing the intra-day duplicate window the
  *      frozen-index variant leaves open.
  *
  * Bucket-size caps are per-SEGMENT under append (each batch freezes its
  * own `bucket_sz`; a bucket growing across many small segments is not
  * re-aggregated on the hot path — that would re-shuffle the corpus per
  * batch). [[compactPrefix]] is the periodic maintenance job that
  * re-freezes the folded rows' bucket sizes (GLOBAL ones when it folds
  * everything); [[maybeCompactChecked]] runs it on the segment-count
  * cadence the store already needs for small-file hygiene.
  *
  * Scale shape: per batch the standing index is scanned and map-side
  * joined against a broadcast batch index; writes are one new segment
  * per batch, one file per write task. State lives in the store, not
  * in the stream's process — a checkpoint-restarted stream resumes
  * against the same standing index.
  * Segment plumbing (exactly-once writes keyed by `ingest_batch`) is
  * shared via [[graft.operators.SegmentStore]] — the same recipe
  * [[graft.operators.FamilyStore]] and [[graft.operators.SuffixStore]]
  * run.
  */
object StreamingMinhashDedup {

  /** One-time bootstrap: sign the standing corpus, write its LSH index
    * and its text store as segment `ingest_batch = -1`. An empty corpus
    * writes empty segments; later batches and folds read them with the
    * schema recorded here.
    */
  def initIndex(corpus: DataFrame, idCol: String, textCol: String,
      indexPath: String, textPath: String, shingleN: Int = 3,
      k: Int = 32, bands: Int = 16): Unit = {
    graft.operators.SegmentStore.writeSegment(
      Dedup.minhashIndex(corpus, idCol, textCol, shingleN, k, bands),
      -1L, indexPath)
    graft.operators.SegmentStore.writeSegment(
      corpus.select(col(idCol), col(textCol)), -1L, textPath)
  }

  /** The foreachBatch body: append this batch's texts, probe the
    * standing index, return verified pairs (eager), then append this
    * batch's index rows.
    * Batch ids must be disjoint from everything already in the store
    * (the natural monotonically-assigned shape).
    *
    * EXACTLY-ONCE: `foreachBatch` replays a batch after a crash
    * (at-least-once), so a blind append would double the replayed
    * batch's index rows. Writes are keyed by `batchId` under DYNAMIC
    * partition overwrite — a replay overwrites its own
    * `ingest_batch=<id>` partition instead of duplicating it, the
    * standard idempotent-sink recipe for foreachBatch.
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexPath: String, textPath: String,
      threshold: Double, shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    import graft.operators.SegmentStore
    val spark = batch.sparkSession
    // sign the batch ONCE (r17 fusion): the checkpointed 16-rows/doc
    // index frame serves the probe's broadcast side, its batch-internal
    // candidates, AND the segment append below — the unfused form ran
    // the shingle+signature pass three times per batch
    val bIdx = Dedup.minhashIndex(batch, idCol, textCol, shingleN, k,
      bands).localCheckpoint(true)
    // both stores are read with their recorded schema — no inference
    // job per batch, and an empty bootstrap segment reads as an empty
    // frame. The reads are marker-aware: mid-[[compactPrefix]] the
    // folded segments' rows are served from the staged bootstrap
    // segment.
    // a REPLAYED batch must not probe its own previously-written index
    // rows: they are partition-pruned out (self-pairs and double-counted
    // band matches otherwise)
    val standingIdx = SegmentStore.read(spark, indexPath, Some(batchId))
    // the batch's texts land FIRST, so verification reads batch and
    // corpus texts from the one store, whose scan size the planner sees
    // (a stream's micro-batch frame carries no size estimate). Texts are
    // only looked up by candidate id, so the early segment changes no
    // probe; a replay overwrites it in place. A failure below leaves
    // this segment without its index segment — [[maybeCompactChecked]]
    // decides on the text store so such a segment is never folded.
    SegmentStore.writeSegment(batch.select(col(idCol), col(textCol)),
      batchId, textPath, dynamic = true)
    val texts = SegmentStore.read(spark, textPath).drop("ingest_batch")
    // eager: the probe must see the PRE-append index (lazy evaluation
    // after the append would join the batch against its own rows)
    val pairs = Dedup.incrementalMinhashPairsFromIndex(texts, standingIdx,
      bIdx, idCol, textCol, threshold, shingleN, maxBucketSize)
      .localCheckpoint(true)
    SegmentStore.writeSegment(bIdx, batchId, indexPath, dynamic = true)
    pairs
  }

  /** Wire a document stream to the store: per micro-batch, verified
    * near-dup pairs go to `onPairs`, then the batch joins the standing
    * index. `onPairs` receives an eagerly-materialized frame.
    */
  def attach(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, textPath: String, threshold: Double,
      checkpointDir: String, shingleN: Int = 3, k: Int = 32,
      bands: Int = 16, maxBucketSize: Int = 1000)(
      onPairs: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        onPairs(processBatch(b, batchId, idCol, textCol, indexPath,
          textPath, threshold, shingleN, k, bands, maxBucketSize))
      }
      .start()

  /** The store's compaction policy: quiet
    * ([[graft.operators.SegmentStore.CompactIdle]]) until the index
    * store holds more than `maxSegments` segments — the per-segment
    * frozen `bucket_sz` drifts from the global truth exactly as
    * segments accumulate, and the fold re-freezes it — then under the
    * AUTOMATED checkpoint-safety rule (the
    * [[graft.operators.FamilyStore.maybeCompactChecked]] shape, shared
    * decision core [[graft.operators.SegmentStore.checkedFold]]): a
    * full fold runs only when every appended segment's batch has a
    * commit file in the owning stream's checkpoint; with a replayable
    * tail, the COMMITTED PREFIX is folded instead ([[compactPrefix]] —
    * replay-safe by construction, so a never-idle stream's in-stream
    * policy calls make progress); only a store with NOTHING committed
    * defers.
    *
    * The decision reads the TEXT store's segments: [[processBatch]]
    * writes a batch's texts before its index rows, so a batch that
    * failed mid-probe leaves a text segment with no index segment. The
    * text store's ids therefore cover every index segment, and such an
    * uncommitted text segment limits the fold to the prefix before it
    * (folded into -1, its replay would add a second copy of its texts).
    */
  def maybeCompactChecked(spark: SparkSession, indexPath: String,
      textPath: String, checkpointDir: String, maxSegments: Long = 64L)
      : graft.operators.SegmentStore.CompactOutcome = {
    import graft.operators.SegmentStore
    if (SegmentStore.segmentCount(spark, indexPath) <= maxSegments)
      SegmentStore.CompactIdle
    else SegmentStore.checkedFold(spark, textPath, checkpointDir)(
      upTo => compactPrefix(spark, indexPath, textPath, upTo))
  }

  /** The store's one fold: the segments with `ingest_batch <= upTo`
    * (bootstrap + every COMMITTED batch) of BOTH stores into segment
    * -1, re-freezing the folded rows' `bucket_sz` over the PREFIX (live
    * segments keep their per-segment frozen sizes — the documented
    * drift-until-compaction contract). `upTo = Long.MaxValue` folds
    * every segment and so re-freezes GLOBAL bucket sizes. Replayable
    * segments stay in place, so the fold is safe under a running
    * stream; the [[graft.operators.SegmentStore.foldPrefix]] marker
    * keeps concurrent probes consistent mid-protocol.
    *
    * REPLAY NOTE: a batch folded into -1 can no longer prune its own
    * rows out of a replayed probe, so `upTo` must not pass an
    * uncommitted batch. That includes a text segment left by a batch
    * that failed after its text append (it has no index segment yet):
    * folded here, its replay would store its texts twice.
    */
  def compactPrefix(spark: SparkSession, indexPath: String,
      textPath: String, upTo: Long): Unit = {
    import graft.operators.SegmentStore
    SegmentStore.completeFold(spark, indexPath)
    SegmentStore.completeFold(spark, textPath)
    val idx = SegmentStore.read(spark, indexPath)
      .filter(col("ingest_batch") <= upTo)
      .drop("bucket_sz", "ingest_batch")
      .withColumn("bucket_sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .localCheckpoint(true)
    SegmentStore.foldPrefix(spark, indexPath, upTo, idx)
    val txt = SegmentStore.read(spark, textPath)
      .filter(col("ingest_batch") <= upTo)
      .drop("ingest_batch")
      .localCheckpoint(true)
    SegmentStore.foldPrefix(spark, textPath, upTo, txt)
  }
}
