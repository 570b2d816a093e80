package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{IvfPq, SegmentStore}

/** Streaming ingest for the served IVF-PQ ANN index — the vector-tier
  * mirror of [[StreamingMinhashDedup]] (same daily-slice shape as the
  * reference's poll loop, `/root/reference/secedgar/core/daily.py:8-60`):
  * a standing compressed index lives ON STORAGE beside a raw-vector store
  * for exact rerank, and each micro-batch of new embeddings
  *
  *   1. PROBES the standing index — nearest existing neighbors of every
  *      batch vector (the "have we seen this embedding before" signal a
  *      curation pipeline gates ingest on), codes read cell-pruned,
  *      rerank a bounded shortlist;
  *   2. hands the neighbor pairs to the caller's sink (eagerly
  *      materialized FIRST — the append below must not leak this batch's
  *      own vectors into its probe);
  *   3. APPENDS the batch's codes and raw vectors, so batch N+1 probes
  *      against batch N.
  *
  * The model (centroids + codebooks) is FROZEN at bootstrap — appends
  * encode executor-side against it (the [[IvfPq.appendToIndex]]
  * contract: drift degrades recall, never correctness; rebuild on the
  * recall gate's cadence).
  *
  * EXACTLY-ONCE: `foreachBatch` replays a batch after a crash
  * (at-least-once), so a blind append would double the replayed batch's
  * codes — and duplicated codes don't just waste space, they can seat
  * the same neighbor twice in a served top-k. Codes and vectors are
  * partitioned by `ingest_batch` under DYNAMIC partition overwrite: a
  * replay overwrites its own `ingest_batch=<id>` partition instead of
  * duplicating it, and the probe partition-prunes its own batch id out
  * of the standing read (a replayed batch must not match its previously
  * written self). Cell-level partition pruning survives the extra
  * partition column (`cell` is the second directory level, so a static
  * cell filter still prunes within every segment). Writes and reads go
  * through [[SegmentStore]] — the shared exactly-once recipe, and
  * recorded-schema reads, so an empty bootstrap corpus is a valid store.
  */
object StreamingAnnIngest {

  /** One-time bootstrap: train is the CALLER's (pass the frozen model),
    * codes + raw vectors land as `ingest_batch = -1`, model serialized
    * beside them.
    */
  def initStore(corpus: DataFrame, model: IvfPq.Model, path: String): Unit = {
    SegmentStore.writeSegment(IvfPq.encode(corpus, model), -1L,
      s"$path/codes", Seq("cell"))
    SegmentStore.writeSegment(corpus.select(col("id"), col("embedding")),
      -1L, s"$path/vectors")
    IvfPq.writeModel(corpus.sparkSession, model, path)
  }

  /** The foreachBatch body: probe the standing store (excluding a
    * replayed self), return the batch-vs-standing neighbor pairs
    * (eager), then append this batch's codes and vectors idempotently.
    */
  def processBatch(batch: DataFrame, batchId: Long, path: String,
      k: Int, nprobe: Int = 4, rerankFactor: Int = 4,
      model: Option[IvfPq.Model] = None): DataFrame = {
    val spark = batch.sparkSession
    // the model is frozen at bootstrap — a long-running stream loads it
    // once in attach() and passes it here, instead of a driver-side
    // parquet read per micro-batch
    val mdl = model.getOrElse(IvfPq.readModel(spark, path))
    val codes = IvfPq.encode(batch, mdl)
    val vecs = batch.select(col("id"), col("embedding"))
    // each store is read with its recorded schema — no inference job,
    // and an empty bootstrap segment reads as an empty frame. The reads
    // are marker-aware: mid-[[compactPrefix]] the folded segments' rows
    // are served from the staged bootstrap segment, never twice. A
    // replayed batch's own segment is pruned out (it must not match its
    // previously written self).
    val standingCodes = SegmentStore.read(spark, s"$path/codes", Some(batchId))
      .select(col("id"), col("cell"), col("code"), col("nrm"))
    val standingVecs = SegmentStore.read(spark, s"$path/vectors", Some(batchId))
      .select(col("id"), col("embedding"))
    // eager: the probe must see the PRE-append store (lazy evaluation
    // after the append would match the batch against its own rows)
    val nbrs = IvfPq.ivfPqTopK(batch, standingVecs, k, nprobe = nprobe,
        rerankFactor = rerankFactor, excludeSelf = false,
        model = Some(mdl), codes = Some(standingCodes))
      .localCheckpoint(true)
    SegmentStore.writeSegment(codes, batchId, s"$path/codes", Seq("cell"),
      dynamic = true)
    SegmentStore.writeSegment(vecs, batchId, s"$path/vectors",
      dynamic = true)
    nbrs
  }

  /** Segment count of the codes store — the observable
    * [[maybeCompactChecked]] thresholds on (one partition lands per
    * micro-batch forever without a fold: small-file pressure and
    * per-segment listing cost are this store's accumulating
    * dimension; there are no counts to re-freeze and no pointer
    * topology — codes and vectors are pure row unions across
    * segments).
    */
  def segmentCount(spark: SparkSession, path: String): Long =
    SegmentStore.segmentCount(spark, s"$path/codes")

  /** The segment-count policy under the AUTOMATED checkpoint-safety
    * rule (the shared [[graft.operators.SegmentStore.checkedFold]]
    * decision core, applied to the vector tier): folds everything when
    * every appended segment's batch has a commit file, folds the
    * COMMITTED PREFIX with a replayable tail ([[compactPrefix]] — so a
    * never-idle embedding stream compacts from inside its own
    * foreachBatch), defers only when nothing is committed yet.
    */
  def maybeCompactChecked(spark: SparkSession, path: String,
      checkpointDir: String, maxSegments: Long = 64L)
      : SegmentStore.CompactOutcome = {
    if (segmentCount(spark, path) <= maxSegments)
      SegmentStore.CompactIdle
    else SegmentStore.checkedFold(spark, s"$path/codes", checkpointDir)(
      upTo => compactPrefix(spark, path, upTo))
  }

  /** Committed-prefix fold for BOTH stores: segments with
    * `ingest_batch <= upTo` (bootstrap + every COMMITTED batch) fold
    * into segment -1 through the staged
    * [[graft.operators.SegmentStore.foldPrefix]] protocol; replayable
    * segments stay in place with their replay protection intact. Codes
    * keep `cell` as the partition level under the folded segment, so
    * the probes' static cell pruning is unchanged. Exact at every
    * instant: rows are unioned across segments (no frozen statistics),
    * and the fold marker keeps concurrent readers from seeing a row
    * twice between the staging commit and the folded-segment deletes.
    */
  def compactPrefix(spark: SparkSession, path: String, upTo: Long): Unit = {
    SegmentStore.completeFold(spark, s"$path/codes")
    SegmentStore.completeFold(spark, s"$path/vectors")
    val codes = SegmentStore.read(spark, s"$path/codes")
      .filter(col("ingest_batch") <= upTo)
      .drop("ingest_batch")
      .repartition(col("cell"))
      .localCheckpoint(true)
    SegmentStore.foldPrefix(spark, s"$path/codes", upTo, codes,
      Seq("cell"))
    val vecs = SegmentStore.read(spark, s"$path/vectors")
      .filter(col("ingest_batch") <= upTo)
      .drop("ingest_batch")
      .localCheckpoint(true)
    SegmentStore.foldPrefix(spark, s"$path/vectors", upTo, vecs)
  }

  /** The rebuild RESPONSE for the STREAMING store (r17 — the served
    * batch index got [[IvfPq.rebuildIndex]]; this is the same loop for
    * the segment-partitioned layout): the store is self-contained (raw
    * vectors live beside the codes), so the rebuild retrains over
    * `vectors/`, re-encodes every segment against the new model, and
    * rewrites `codes/` PRESERVING the `ingest_batch` partitioning —
    * which makes the rebuild REPLAY-SAFE, unlike the fold compactions:
    * a replayed batch re-encodes itself against the new model and
    * overwrites its own partition with exactly the rows the rebuild
    * wrote there (encoding is deterministic), so exactly-once survives
    * the rebuild with no checkpoint-safety precondition. The one
    * ordering rule is codes-then-model... inverted: the MODEL is
    * written last, after the codes are consistent with it, and a
    * long-running stream should swap its frozen in-memory model (the
    * [[attach]] load-once) on the maintenance cadence that ran this.
    * Returns the new model. `IvfPq.driftReport` reads this layout
    * directly (`cell` stays a partition level under each segment), so
    * the witness→rebuild→recovery loop is the same as the batch
    * index's — spec-pinned in StreamingAnnIngestSpec.
    */
  def rebuildStore(spark: SparkSession, path: String, nlist: Int,
      m: Int, ksub: Int, iters: Int = 2, pqIters: Int = 3,
      trainFraction: Double = 1.0): IvfPq.Model = {
    // heal a crashed fold before rewriting the store wholesale (the
    // policy entries do the same; the rewrite below must not leave a
    // fold marker pointing at a replaced layout)
    SegmentStore.completeFold(spark, s"$path/codes")
    SegmentStore.completeFold(spark, s"$path/vectors")
    val vecs = SegmentStore.read(spark, s"$path/vectors")
      .select(col("id"), col("embedding"), col("ingest_batch"))
      .localCheckpoint(true)
    val mdl = IvfPq.train(vecs.select(col("id"), col("embedding")),
      nlist, m, ksub, iters, pqIters, trainFraction)
    // id spaces are disjoint across segments by contract, so the join
    // that carries ingest_batch back onto the re-encoded rows is exact
    val enc = IvfPq.encode(vecs.select(col("id"), col("embedding")), mdl)
      .join(vecs.select(col("id"), col("ingest_batch")), Seq("id"))
      .localCheckpoint(true)
    // a static replace records the codes store's schema again (the
    // overwrite clears it); every segment is rewritten in place
    SegmentStore.replace(enc, s"$path/codes", Seq("cell"))
    IvfPq.writeModel(spark, mdl, path)
    mdl
  }

  /** Wire an embedding stream to the store: per micro-batch, the
    * batch-vs-standing neighbor pairs go to `onNeighbors` (eagerly
    * materialized), then the batch joins the standing index.
    */
  def attach(vectors: DataFrame, path: String, k: Int,
      checkpointDir: String, nprobe: Int = 4, rerankFactor: Int = 4)(
      onNeighbors: DataFrame => Unit): StreamingQuery = {
    val mdl = IvfPq.readModel(vectors.sparkSession, path) // frozen: load once
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        onNeighbors(processBatch(b, batchId, path, k, nprobe, rerankFactor,
          Some(mdl)))
      }
      .start()
  }
}
