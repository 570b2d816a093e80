package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.FamilyStore

/** Cross-batch streaming TEMPLATE-FAMILY dedup — the family-chain
  * analog of [[StreamingMinhashDedup]] (reference analog: the daily
  * poll loop, `/root/reference/secedgar/core/daily.py:8-60`): each
  * micro-batch probes the standing family index + labels store
  * ([[graft.operators.FamilyStore.processBatch]] — corpus never
  * re-grammed, index never shuffled, labels pointer-chased), hands the
  * batch's `(doc_id, family)` labels to the caller's sink EAGERLY, then
  * appends the batch's index segment and label-update segment — so
  * batch N+1's boilerplate families connect against batch N, closing
  * the intra-day window a frozen index leaves open.
  *
  * EXACTLY-ONCE: `foreachBatch` replays after a crash; both appends are
  * keyed by `batchId` under dynamic partition overwrite and the probe
  * prunes the batch's own segments out of the standing reads, so a
  * replay recomputes the same result against the same pre-append state
  * (spec-pinned in FamilyStoreSpec). Run
  * [[graft.operators.FamilyStore.maybeCompactChecked]] on the store's
  * maintenance cadence to flatten label pointer chains and collapse
  * globally over-cap grams — never per batch.
  */
object StreamingFamilyDedup {

  /** Wire a document stream to the store: per micro-batch, the batch's
    * family labels go to `onFamilies` (an eagerly-materialized frame),
    * then the batch joins the standing store. Document ids must be
    * globally unique across the stream and the bootstrap corpus.
    */
  def attach(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, labelsPath: String, minLen: Int,
      checkpointDir: String, maxDocsPerGram: Int = 1000, nBands: Int = 64,
      maxChase: Int = 20)(
      onFamilies: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        onFamilies(FamilyStore.processBatch(b, batchId, idCol, textCol,
          indexPath, labelsPath, minLen, maxDocsPerGram, nBands, maxChase))
      }
      .start()
}
