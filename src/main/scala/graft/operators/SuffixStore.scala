package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** APPEND lifecycle for the span-grain suffix index — the
  * [[FamilyStore]] treatment applied to [[SuffixDedup.suffixIndex]],
  * and structurally SIMPLER because the span index carries only
  * mergeable occurrence counts: segments are `(h, n_occ)` two-longs
  * rows partitioned by `(ingest_batch, band)`, and the probe's corpus
  * count for a hash is the SUM of its rows across segments
  * ([[SuffixDedup.incrementalSpans]] aggregates after the batch-key
  * prune, so the same probe serves one-segment and many-segment
  * layouts). No labels store, no pointer chains, no cap markers —
  * duplicated-span detection has no cross-doc topology to freeze.
  * Plumbing (exactly-once segment writes, empty-store-safe schema
  * reads, the staged fold) is shared via [[SegmentStore]].
  *
  * Lifecycle per batch ([[processBatch]]): probe the standing segments
  * (own segment pruned out, so replay sees pre-append state), hand the
  * batch's duplicated spans to the caller EAGERLY, then append the
  * batch's own [[SuffixDedup.suffixIndex]] as segment `batchId` under
  * dynamic partition overwrite — batch N+1's spans count batch N's
  * grams, closing the intra-day window, and a replayed batch overwrites
  * its own segment instead of double-counting (the
  * [[graft.streaming.StreamingMinhashDedup]] exactly-once recipe).
  *
  * Equality contract (`q_suffix_append` + SuffixStoreSpec): spans of
  * batch B probed after appending A1..An to bootstrap C equal
  * [[SuffixDedup.duplicatedSpans]] over C ∪ A1..An ∪ B restricted to
  * B's documents, modulo the index's documented ~2⁻⁶⁴ hash-merge
  * class — counts sum exactly across segments because doc (and hence
  * position) spaces are disjoint by contract.
  *
  * [[compactPrefix]] folds the committed segments' counts into the
  * bootstrap segment (-1) and drops them: pure file hygiene plus
  * one-row-per-hash restoration. A folded batch loses its replay
  * protection, so [[maybeCompactChecked]] — the threshold-triggered
  * form (segment count, the only dimension this store accumulates) —
  * folds only batches the owning stream's checkpoint has committed.
  */
object SuffixStore {

  /** One-time bootstrap: the corpus [[SuffixDedup.suffixIndex]] as
    * segment -1.
    */
  def init(corpus: DataFrame, idCol: String, textCol: String,
      path: String, minLen: Int, nBands: Int = 64): Unit =
    writeSegment(SuffixDedup.suffixIndex(corpus, idCol, textCol, minLen),
      -1L, path, nBands)

  /** Read-only probe: duplicated spans of the batch against the
    * standing segments. */
  def probe(batch: DataFrame, idCol: String, textCol: String,
      path: String, minLen: Int, minOcc: Long = 2L,
      maxBatchKeys: Long = 10000000L): DataFrame =
    SuffixDedup.incrementalSpans(batch, idCol, textCol,
      readIndex(batch.sparkSession, path, excludeBatch = None), minLen,
      minOcc, maxBatchKeys)

  /** The foreachBatch body: probe (own segment pruned — replay-safe),
    * return the batch's spans EAGERLY, then append the batch's index
    * segment under dynamic partition overwrite.
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, path: String, minLen: Int, minOcc: Long = 2L,
      nBands: Int = 64, maxBatchKeys: Long = 10000000L): DataFrame = {
    val standing = readIndex(batch.sparkSession, path,
      excludeBatch = Some(batchId))
    // ONE key-grain gram-count pass per append (r17 verdict #3): the
    // checkpointed (h, n_occ) frame IS the batch's suffixIndex, so it
    // serves the probe (guard count + broadcast key set + batch-side
    // counts) AND the segment append — through r17 the write re-ran
    // the full gram scan + count exchange to re-derive it. The
    // position-grain variant of this fusion was tried in the r17
    // continuation and measured WORSE (SOAK_r17 §3: positions are
    // corpus-density-sized, the checkpoint cost more than the scan);
    // the key-grain frame is bounded by maxBatchKeys by contract.
    val bcounts = SuffixDedup.batchGramCounts(batch, idCol, textCol,
      minLen).localCheckpoint(true)
    val spans = SuffixDedup.incrementalSpansFromCounts(batch, idCol,
      textCol, bcounts, standing, minLen, minOcc, maxBatchKeys)
      .localCheckpoint(true)
    writeSegment(bcounts, batchId, path, nBands, dynamic = true)
    spans
  }

  /** The store's compaction policy: quiet ([[SegmentStore.CompactIdle]])
    * until more than `maxSegments` segments have accumulated, then
    * under the AUTOMATED checkpoint-safety rule (the
    * [[FamilyStore.maybeCompactChecked]] shape, shared decision core
    * [[SegmentStore.checkedFold]]): folds everything when every
    * appended segment's batch has a commit file in the owning stream's
    * checkpoint; with a replayable tail, folds the COMMITTED PREFIX
    * ([[compactPrefix]] — replay-safe by construction, so a never-idle
    * stream's in-stream policy calls make progress); only a store with
    * NOTHING committed defers.
    */
  def maybeCompactChecked(spark: SparkSession, path: String,
      checkpointDir: String, maxSegments: Long = 64L,
      nBands: Int = 64): SegmentStore.CompactOutcome = {
    if (SegmentStore.segmentCount(spark, path) <= maxSegments)
      SegmentStore.CompactIdle
    else SegmentStore.checkedFold(spark, path, checkpointDir)(
      upTo => compactPrefix(spark, path, upTo, nBands))
  }

  /** The store's one fold: the segments with `ingest_batch <= upTo`
    * (the bootstrap plus every COMMITTED batch; `Long.MaxValue` folds
    * everything) into segment -1, one row per hash, leaving newer —
    * still replayable — segments in place with their replay protection
    * intact. Exact for this store at every instant: the probe SUMS
    * `n_occ` across segments, and the fold preserves per-hash totals;
    * the [[SegmentStore.foldPrefix]] marker keeps concurrent readers
    * from double-counting between the -1 rewrite and the
    * folded-segment deletes.
    */
  def compactPrefix(spark: SparkSession, path: String, upTo: Long,
      nBands: Int = 64): Unit = {
    require(nBands >= 1, s"nBands must be >= 1, got $nBands")
    SegmentStore.completeFold(spark, path)
    // store-scale fold output: size-tiered materialization (r18, §5)
    val folded = Materialize.eager(SegmentStore.read(spark, path)
      .filter(col("ingest_batch") <= upTo)
      .groupBy(col("h"))
      .agg(sum(col("n_occ")).as("n_occ"))
      .withColumn("band", pmod(col("h"), lit(nBands.toLong)))
      .repartition(col("band")))
    SegmentStore.foldPrefix(spark, path, upTo, folded, Seq("band"))
  }

  private def readIndex(spark: SparkSession, path: String,
      excludeBatch: Option[Long]): DataFrame =
    SegmentStore.read(spark, path, excludeBatch)
      .select(col("h"), col("n_occ"))

  private def writeSegment(index: DataFrame, batchId: Long, path: String,
      nBands: Int, dynamic: Boolean = false): Unit = {
    require(nBands >= 1, s"nBands must be >= 1, got $nBands")
    SegmentStore.writeSegment(
      index
        .withColumn("band", pmod(col("h"), lit(nBands.toLong)))
        .repartition(col("band")),
      batchId, path, Seq("band"), dynamic)
  }
}
