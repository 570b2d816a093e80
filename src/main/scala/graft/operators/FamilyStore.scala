package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** APPEND lifecycle for the standing template-family index — the last
  * index family without a production ingest loop (r14 verdict #1: a
  * batch could PROBE the standing [[SuffixDedup.familyIndex]] but never
  * JOIN it, so day N+2 could not dedup against day N+1 without a full
  * rebuild). The recipe is [[graft.streaming.StreamingMinhashDedup]]'s
  * — shared plumbing in [[SegmentStore]]: segment-partitioned stores,
  * exactly-once appends via dynamic partition overwrite keyed by
  * `ingest_batch`, and a periodic compaction that re-freezes global
  * decisions — adapted to the two stores the family chain needs:
  *
  *   - INDEX store (`indexPath`): parquet partitioned by
  *     `(ingest_batch, band)`, rows `(h, doc_id, n_docs)` — each
  *     segment is the [[SuffixDedup.familyIndex]] of its batch
  *     (bootstrap corpus = segment -1). Marker rows (`doc_id` null)
  *     carry "docs represented by this marker IN THIS SEGMENT", so the
  *     probe's combined corpus count is
  *     `count(posting rows) + Σ marker n_docs` — EXACT across any
  *     number of segments (doc spaces are disjoint by contract), which
  *     is why this store needs no per-batch count re-freeze at all:
  *     where [[graft.streaming.StreamingMinhashDedup]] freezes
  *     `bucket_sz` per segment and accepts drift until compaction, the
  *     family probe ([[SuffixDedup.batchProbeEdges]]) computes current
  *     combined counts from the segment rows it already reads.
  *
  *   - LABELS store (`labelsPath`): parquet partitioned by
  *     `ingest_batch`, rows `(id, label)` — the standing component
  *     labels, written as POINTER segments: the bootstrap segment holds
  *     [[SuffixDedup.familyLabels]] of the corpus, and each batch
  *     appends its probe's contracted-component table (batch ids,
  *     touched corpus ids, and — the load-bearing rows — merged
  *     standing LABELS re-pointed at the new component minimum, so a
  *     batch that bridges two standing families never rewrites the
  *     families' member rows; it writes ONE pointer row per merged
  *     label). Rows that exactly restate an id's current latest row
  *     are dropped before the write (pure no-ops for resolution —
  *     keeping them would both bloat segments and make every
  *     family-touching batch look like a bridge to the depth bound
  *     below). Resolution fetches the pointer CLOSURE of the touched
  *     ids latest-segment-first ([[fetchPointerClosure]]) and folds the
  *     rows into the probe's single components pass — union-find with
  *     path compression done relationally; chains deepen by at most one
  *     generation per bridging batch and flatten at [[compactPrefix]].
  *
  * '''Depth-bounded chase (r16).''' The store records an upper bound on
  * its pointer-chain depth as [[SegmentStore]] metadata
  * (`labelsPath/_depth`): [[init]] and a full fold set it to 1 (0 when
  * the labels store is empty — a first-day corpus with no duplicate
  * families is a valid store, served with its recorded read schema, not
  * an inference error), and [[processBatch]] bumps it by one exactly
  * when its update segment re-points a CORPUS-side id (only standing
  * rows can extend a chain; a batch-only update — new docs joining or
  * seeding families — starts chains of length 1, never extends one,
  * because nothing points at a fresh batch id). The probe then composes
  * exactly `depth` fetch generations LAZILY — no per-hop `isEmpty`
  * actions, no per-hop checkpoints; the whole closure materializes
  * inside the single components pass that consumes it (the r15 probe
  * spent ~4 driver actions per hop discovering closure dynamically,
  * the dominant term of its fixed-phase floor). A store without the
  * metadata file (pre-r16 layout) falls back to the dynamic per-hop
  * loop. Depth past `maxChase` still throws loudly — chains deeper
  * than the bridging generations since the last fold mean
  * compaction is overdue, and a silent partial closure would mislabel.
  *
  * Equality contract (the `q_family_append` / `q_family_chain`
  * oracles): with id spaces disjoint and no gram crossing the cap
  * boundary between increments, probing batch B against the store
  * after appending batches A1..An to bootstrap C equals the
  * whole-corpus `spanPairs + connectedComponents` rerun over
  * C ∪ A1..An ∪ B restricted to B — the
  * [[SuffixDedup.incrementalFamilies]] contract extended over appends
  * by induction (the probe's components pass runs over batch edges ∪
  * the touched pointer closure, whose fixpoint resolves stale pointers
  * and contracts in the same pass — minima provably equal the
  * resolve-then-contract form, see [[probeWithComponents]]).
  * Cap-boundary crossings keep the frozen-cap semantics documented on
  * [[SuffixDedup.incrementalFamilies]]: standing edges are never
  * unlinked; new edges see current combined counts.
  *
  * Scale shape per batch: standing index scanned once through a
  * broadcast batch-key semi-join (band partitioning keeps files
  * bounded; the probe never shuffles the index), labels store scanned
  * `depth` times inside one job through broadcast frontier semi-joins
  * (depth = bridging generations since the last fold, typically
  * 1 on any sane compaction cadence), writes are one new segment pair.
  * Nothing corpus-sized ever shuffles on the hot path.
  */
object FamilyStore {

  /** One-time bootstrap: write the corpus [[SuffixDedup.familyIndex]]
    * and [[SuffixDedup.familyLabels]] as segment -1 of the two stores,
    * and record the initial chain-depth bound (1; 0 for a corpus with
    * no duplicate families — the store is valid and empty, see
    * [[SegmentStore.read]]).
    */
  def init(corpus: DataFrame, idCol: String, textCol: String,
      indexPath: String, labelsPath: String, minLen: Int,
      maxDocsPerGram: Int = 1000, nBands: Int = 64): Unit = {
    val spark = corpus.sparkSession
    // corpus-scale frames: size-tiered materialization (r18 — local
    // tier at gate scale, reliable checkpoint above threshold, §5)
    val idx = Materialize.eager(
      SuffixDedup.familyIndex(corpus, idCol, textCol, minLen,
        maxDocsPerGram))
    writeIndexSegment(idx, -1L, indexPath, nBands)
    // the emptiness probe for the depth bound rides the label frame's
    // own materialization as an Observation (r18, the ckptFp recipe —
    // the separate isEmpty job was one fixed action per bootstrap)
    val obsL = org.apache.spark.sql.Observation()
    val lbl = Materialize.eager(SuffixDedup.familyLabels(idx,
      maxDocsPerGram).filter(col("id") =!= col("label"))
      .observe(obsL, count(lit(1)).as("n")))
    writeLabelSegment(lbl, -1L, labelsPath)
    SegmentStore.writeMeta(spark, labelsPath, "depth",
      if (observedCount(obsL, lbl) == 0L) 0L else 1L)
    // -1 (the bootstrap segment id — never a stream batch id) = "no
    // batch owns the current bound": any replayed batch re-bumps,
    // which over-estimates and is safe
    SegmentStore.writeMeta(spark, labelsPath, "depth_batch", -1L)
  }

  /** Read-only probe: family labels for every batch doc against the
    * standing store — equals the whole-corpus rerun restricted to the
    * batch (see object doc). Appends nothing; use [[processBatch]] for
    * the ingest loop.
    */
  def probe(batch: DataFrame, idCol: String, textCol: String,
      indexPath: String, labelsPath: String, minLen: Int,
      maxDocsPerGram: Int = 1000, maxChase: Int = 20): DataFrame =
    probeWithComponents(batch, idCol, textCol, indexPath, labelsPath,
      minLen, maxDocsPerGram, maxChase, excludeBatch = None)._1

  /** The foreachBatch body: probe the standing store, return the
    * batch's family labels (EAGER — the appends below must not leak
    * this batch's own rows into its probe), then append the batch's
    * index segment and label-update segment.
    *
    * EXACTLY-ONCE: both writes are keyed by `batchId` under dynamic
    * partition overwrite, and the probe partition-prunes
    * `ingest_batch = batchId` out of both standing reads — a replayed
    * batch recomputes against the same pre-append state and overwrites
    * its own segments instead of duplicating them (the
    * [[graft.streaming.StreamingMinhashDedup.processBatch]] recipe;
    * exactly-once for a batch holds until a fold covers its segments —
    * see the [[compactPrefix]] replay note). Batch ids must be disjoint
    * from everything already in the store.
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexPath: String, labelsPath: String, minLen: Int,
      maxDocsPerGram: Int = 1000, nBands: Int = 64,
      maxChase: Int = 20): DataFrame = {
    val spark = batch.sparkSession
    val (fams, comps, pointers, bposts) = probeWithComponents(batch,
      idCol, textCol, indexPath, labelsPath, minLen, maxDocsPerGram,
      maxChase, excludeBatch = Some(batchId))
    // batch-membership side of the depth probe below, derived from the
    // probe's posting frame instead of a fresh batch scan: an updates
    // id is an edge endpoint or a closure label, batch-side endpoints
    // always carry >= 1 gram (gram-less docs reach no edge), so the
    // posting doc_ids are a complete batch-membership test WITHIN the
    // updates id set (id spaces disjoint by contract)
    val batchIds = bposts.select(col("doc_id").as("id")).distinct()
    // drop no-op rows (exactly restating an id's current latest row):
    // redundant for resolution, and they would make every
    // family-touching batch bump the depth bound below
    val updates0 = comps.filter(col("id") =!= col("label"))
      .join(pointers.select(col("id"), col("label").as("__cur"))
        .distinct(), Seq("id"), "left")
      .filter(col("__cur").isNull || col("__cur") =!= col("label"))
      .drop("__cur")
      .join(broadcast(batchIds.withColumn("__isb", lit(1L))),
        Seq("id"), "left")
    // ONE eager materialization for BOTH pre-append outputs (r17: the
    // r16 form paid one checkpoint action for the batch families and a
    // second for the label updates — a tagged union evaluates both in
    // one scheduled job set), eager BEFORE the appends: both outputs
    // must reflect the pre-append store (lazy evaluation after the
    // writes would probe the batch against its own rows). The depth
    // probe's two emptiness checks ride the same action as an
    // Observation (the ckptFp recipe — bounded wait, explicit
    // fallback): two more driver actions the r16 form paid per append
    val obs = org.apache.spark.sql.Observation()
    val combined = fams
      .select(col("doc_id").as("id"), col("family").as("label"),
        lit(1L).as("__isb"), lit(0).as("__kind"))
      .unionByName(updates0.withColumn("__kind", lit(1)))
      .observe(obs,
        coalesce(sum(when(col("__kind") === 1, 1L)), lit(0L)).as("n"),
        coalesce(sum(when(col("__kind") === 1 && col("__isb").isNull,
          1L)), lit(0L)).as("nc"))
      .drop("__isb")
      .localCheckpoint(true)
    val famsOut = combined.filter(col("__kind") === 0)
      .select(col("id").as("doc_id"), col("label").as("family"))
    val updates = combined.filter(col("__kind") === 1)
      .select(col("id"), col("label"))
    // depth bound FIRST, before the label segment lands: +1 only when
    // a CORPUS-side id is re-pointed (a standing row may now chain
    // through it); batch-only updates start chains, never extend them.
    // Cheap driver probes on the already checkpointed batch-scale
    // updates frame. Legacy stores (no metadata file) stay legacy —
    // the probe's dynamic loop needs no bound.
    //
    // ORDERING INVARIANT: the bound must only ever OVER-estimate — a
    // crash between the depth write and the segment write leaves an
    // extra (harmless) fetch generation, where the reverse order left
    // a window in which a probe composed too few generations and
    // silently mislabeled. REPLAY IDEMPOTENCE: the batch id that last
    // bumped the bound is recorded alongside it (`_depth_batch`), so a
    // replayed deepening batch — which overwrites its label segment in
    // place — skips the re-bump instead of inflating depth once per
    // restart. The depth write precedes the depth_batch write for the
    // same reason: a crash between them makes the replay bump AGAIN
    // (over-estimate, safe), never skip a bump it still owes.
    SegmentStore.readMeta(spark, labelsPath, "depth").foreach { old =>
      val (nUpd, nCorpusUpd) =
        try {
          val r = scala.concurrent.Await.result(obs.future,
            scala.concurrent.duration.Duration(60, "seconds"))
          (r.getAs[Long]("n"), r.getAs[Long]("nc"))
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            val r = updates
              .join(broadcast(batchIds.withColumn("__isb", lit(1L))),
                Seq("id"), "left")
              .agg(count(lit(1)).as("n"),
                coalesce(sum(when(col("__isb").isNull, 1L)
                  .otherwise(0L)), lit(0L)).as("nc"))
              .head()
            (r.getAs[Long]("n"), r.getAs[Long]("nc"))
        }
      val hasUpdates = nUpd > 0L
      val deepens = nCorpusUpd > 0L
      val alreadyBumped = SegmentStore
        .readMeta(spark, labelsPath, "depth_batch").contains(batchId)
      val next = if (deepens && !alreadyBumped) old.max(1L) + 1L
        else if (hasUpdates) old.max(1L) else old
      if (next != old)
        SegmentStore.writeMeta(spark, labelsPath, "depth", next)
      if (deepens && !alreadyBumped)
        SegmentStore.writeMeta(spark, labelsPath, "depth_batch", batchId)
    }
    // the batch's index segment, derived from the probe's posting
    // frame (one gram pass per append, not two — the r16 form re-ran
    // familyIndex over the batch text the probe had already reduced
    // to the checkpointed key-grain frame)
    writeIndexSegment(
      SuffixDedup.familyIndexFromPosts(bposts, maxDocsPerGram),
      batchId, indexPath, nBands, dynamic = true)
    writeLabelSegment(updates, batchId, labelsPath, dynamic = true)
    famsOut
  }

  /** Segment count of the index store and the recorded pointer-chain
    * depth bound — the two observables the auto-compaction policy
    * ([[maybeCompactChecked]]) thresholds on. Driver-side file listing
    * plus one metadata read; no Spark job.
    */
  def stats(spark: SparkSession, indexPath: String,
      labelsPath: String): (Long, Long) = {
    val nSegments = SegmentStore.segmentCount(spark, indexPath)
    val depth = SegmentStore.readMeta(spark, labelsPath, "depth")
      .getOrElse(-1L)
    (nSegments, depth)
  }

  /** The store's compaction policy, under the AUTOMATED
    * checkpoint-safety rule (r16 verdict #4): fires when the recorded
    * chain depth exceeds `maxDepth` (probe cost grows with depth) or
    * the index store has accumulated more than `maxSegments` segments
    * (small-file pressure) — a legacy store without depth metadata
    * fires on the segment trigger only — and otherwise returns
    * [[SegmentStore.CompactIdle]]. Reads the owning stream's committed
    * offsets from its checkpoint ([[SegmentStore.lastCommittedBatch]])
    * and never folds a segment whose batch is still replayable — its
    * batch has no commit file yet, and a post-fold restart would replay
    * it against a store that can no longer prune its rows (the
    * [[compactPrefix]] replay note). All folding routes through
    * [[compactPrefix]] (the staged, crash-consistent protocol): with
    * every appended segment committed the whole store folds
    * ([[SegmentStore.Compacted]]); with a replayable tail the
    * COMMITTED PREFIX folds and the tail keeps its replay protection
    * ([[SegmentStore.CompactedPrefix]]) — which is what lets a
    * NEVER-IDLE stream compact from inside `foreachBatch`, where the
    * just-written segment is uncommitted by construction and the r16
    * form could only defer; only a store with nothing committed defers
    * ([[SegmentStore.CompactDeferred]]).
    */
  def maybeCompactChecked(spark: SparkSession, indexPath: String,
      labelsPath: String, checkpointDir: String, maxDepth: Long = 4L,
      maxSegments: Long = 64L,
      maxDocsPerGram: Int = 1000): SegmentStore.CompactOutcome = {
    val (nSegments, depth) = stats(spark, indexPath, labelsPath)
    val fire = depth > maxDepth || nSegments > maxSegments
    if (!fire) SegmentStore.CompactIdle
    // index segments are the superset (a batch with no label updates
    // writes an index segment but no label partition)
    else SegmentStore.checkedFold(spark, indexPath, checkpointDir)(
      upTo =>
        compactPrefix(spark, indexPath, labelsPath, upTo, maxDocsPerGram))
  }

  /** The store's one fold — maintenance, the only job that touches
    * corpus-scale state, run on the compaction cadence, never per
    * batch. Flattens and folds the segments with `ingest_batch <= upTo`
    * (the bootstrap plus every COMMITTED batch) into the bootstrap
    * segment (-1) of BOTH stores through the staged
    * [[SegmentStore.foldPrefix]] protocol, leaving newer — still
    * replayable — segments in place with their replay protection
    * intact. `upTo = Long.MaxValue` folds everything (what
    * [[maybeCompactChecked]] runs once every batch is committed):
    * afterwards [[fetchPointerClosure]] closes in one generation until
    * the next bridging batch and the index store is one segment.
    *
    * INDEX: over-cap is re-resolved ACROSS the WHOLE store — a gram
    * whose COMBINED count exceeds the cap can never contribute new
    * edges again (counts only grow), so its folded posting rows collapse
    * to one marker carrying their count; the probe's combined-count
    * formula reads the same total from the markers. Under-cap rows are
    * untouched.
    *
    * REPLAY NOTE: a batch folded into -1 can no longer prune its own
    * rows out of a replayed probe (and standing labels that survived
    * only in its segment now live in -1, where the prune cannot drop
    * them either). Fold only batches the owning stream has committed —
    * [[maybeCompactChecked]] derives `upTo` from the checkpoint.
    *
    * LABELS correctness across the partial fold: the flatten is pure
    * path compression of the prefix pointer graph (every prefix id
    * rewritten to its prefix-component minimum), which preserves both
    * final resolution and reachability for chains that continue
    * through live segments — a live row's target is a component
    * minimum AT ITS WRITE TIME, so it is never an id the prefix
    * flatten re-points past (an id with an outgoing prefix row was not
    * a minimum then). The depth bound after the fold is
    * `min(recorded, flattenedDepth + liveLabelSegments)` — the prefix
    * contributes at most one generation post-flatten and each live
    * batch's segment at most one (the structural per-batch deepening
    * bound) — written AFTER the fold so a crash can only leave the old
    * (over-estimating, safe) bound. A legacy store (no depth metadata)
    * gains the structural bound, upgrading it to the lazy probe path.
    */
  def compactPrefix(spark: SparkSession, indexPath: String,
      labelsPath: String, upTo: Long, maxDocsPerGram: Int = 1000): Unit = {
    SegmentStore.completeFold(spark, indexPath)
    SegmentStore.completeFold(spark, labelsPath)
    // ---- labels: path-compress the prefix, fold into segment -1 ----
    val lbl = SegmentStore.read(spark, labelsPath)
      .filter(col("ingest_batch") <= upTo)
    // materialize the latest-row table ONCE (r17): it feeds both the CC
    // edge list and the flatten join below — eagerInput on the CC call
    // materialized the projection and then the flatten re-derived the
    // same store aggregation as extra stages in its own job. Store-scale
    // frames, so size-tiered (r18, §5).
    val latest = Materialize.eager(lbl.groupBy(col("id"))
      .agg(max_by(struct(col("label"), col("ingest_batch")),
        col("ingest_batch")).as("b"))
      .select(col("id"), col("b.label").as("label")))
    val resolved = Dedup.connectedComponentsBounded(
        latest.select(col("id").as("id_a"), col("label").as("id_b")),
        tag = "FamilyStore.compactPrefix")
      .withColumnRenamed("label", "final")
    // the flatten's emptiness (depth-bound input) rides its own
    // materialization as an Observation (r18, the ckptFp recipe)
    val obsF = org.apache.spark.sql.Observation()
    val flat = Materialize.eager(latest.join(resolved, Seq("id"), "left")
      .select(col("id"), coalesce(col("final"), col("label")).as("label"))
      .filter(col("id") =!= col("label"))
      .observe(obsF, count(lit(1)).as("n")))
    SegmentStore.foldPrefix(spark, labelsPath, upTo, flat)
    val nLive = SegmentStore.segmentIds(spark, labelsPath).count(_ > upTo)
    val flattenedDepth = if (observedCount(obsF, flat) == 0L) 0L else 1L
    val bound = SegmentStore.readMeta(spark, labelsPath, "depth")
      .fold(flattenedDepth + nLive)(old =>
        old.min(flattenedDepth + nLive))
    SegmentStore.writeMeta(spark, labelsPath, "depth", bound)
    // a folded (committed) bumping batch can never be replayed — re-arm
    // the replay-idempotence sentinel; a LIVE bumping batch keeps it
    if (SegmentStore.readMeta(spark, labelsPath, "depth_batch")
        .forall(_ <= upTo))
      SegmentStore.writeMeta(spark, labelsPath, "depth_batch", -1L)

    // ---- index: fold the prefix, collapsing globally-over-cap ----
    // totals across the WHOLE store (counts only grow, so a gram over
    // cap globally can never contribute new edges again), rewrite
    // restricted to the prefix rows the fold owns
    val idx = SegmentStore.read(spark, indexPath)
    val totals = idx.groupBy(col("h"))
      .agg((sum(when(col("doc_id").isNotNull, 1L).otherwise(0L)) +
        coalesce(sum(when(col("doc_id").isNull, col("n_docs"))), lit(0L)))
        .as("__tot"))
      .filter(col("__tot") > maxDocsPerGram)
      .select(col("h"))
    val prefixIdx = idx.filter(col("ingest_batch") <= upTo)
    val over = prefixIdx.join(totals, Seq("h"), "left_semi")
    val under = prefixIdx.join(totals, Seq("h"), "left_anti")
    val collapsed = over.groupBy(col("h"), col("band"))
      .agg((sum(when(col("doc_id").isNotNull, 1L).otherwise(0L)) +
        coalesce(sum(when(col("doc_id").isNull, col("n_docs"))), lit(0L)))
        .as("n_docs"))
      .select(col("h"), lit(null).cast("long").as("doc_id"),
        col("n_docs"), col("band"))
    val foldedIdx = Materialize.eager(under
      .select(col("h"), col("doc_id"), col("n_docs"), col("band"))
      .unionByName(collapsed)
      .repartition(col("band")))
    SegmentStore.foldPrefix(spark, indexPath, upTo, foldedIdx, Seq("band"))
  }

  /** The probe core: standing reads (optionally excluding a replayed
    * batch's own segments), batch edges, pointer-closure fetch, one
    * fused components pass. Returns (batch families, full component
    * table over batch ids + touched corpus ids + closure labels — the
    * label-update set, which path-compresses touched stale rows for
    * free, and the fetched pointer rows — [[processBatch]]'s no-op
    * filter needs them).
    */
  private def probeWithComponents(batch: DataFrame, idCol: String,
      textCol: String, indexPath: String, labelsPath: String, minLen: Int,
      maxDocsPerGram: Int, maxChase: Int,
      excludeBatch: Option[Long])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val idx = SegmentStore.read(spark, indexPath, excludeBatch)
      .select(col("h"), col("doc_id"), col("n_docs"))
    val (edges0, bposts) = SuffixDedup.batchProbeEdgesWithPosts(batch,
      idCol, textCol, idx, minLen, maxDocsPerGram)
    val edges = edges0.localCheckpoint(true)
    val touched = edges.select(col("id_a").as("id"))
      .unionByName(edges.select(col("id_b").as("id"))).distinct()
    val pointers0 = fetchPointerClosure(spark, labelsPath, touched,
      maxChase, excludeBatch)
    // the ingest path consumes the closure twice (components pass +
    // the no-op update filter) — materialize once; the read-only probe
    // consumes it once, lazily, inside the components pass. (r17 note:
    // dropping this checkpoint was tried and MEASURED WORSE — the
    // per-generation fetch aggregation re-ran as extra AQE stages in
    // BOTH consumers, +17 jobs on the fold gate.)
    val pointers =
      if (excludeBatch.isDefined) pointers0.localCheckpoint(true)
      else pointers0
    // ONE components pass over batch edges ∪ pointer rows replaces the
    // r15-initial resolve-then-contract two-CC chain: connecting each
    // touched endpoint to its pointer chain preserves exactly the
    // contracted graph's connectivity (x—L—F reaches whatever the
    // contracted L/F node reached), and the min is unchanged — every
    // corpus id in a component is ≥ its standing label (labels are
    // component minima), so adding the raw ids and intermediate labels
    // as nodes never lowers a component's minimum below the contracted
    // result. One CC phase per probe instead of two; the pointer-CC of
    // resolveTouched existed only to pre-resolve what this pass now
    // resolves in the same fixpoint. The graph is batch-scale by
    // construction, so the BOUNDED components path applies (guarded
    // driver union-find; distributed fallback above the cap — see
    // [[Dedup.connectedComponentsBounded]]). Its result is eager on
    // both paths — the pre-append-state guarantee processBatch needs.
    val comps = Dedup.connectedComponentsBounded(edges.unionByName(
        pointers.select(col("id").as("id_a"), col("label").as("id_b"))),
      tag = "FamilyStore.probe")
    val fams = batch.select(col(idCol).as("doc_id"))
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("family"))
    (fams, comps, pointers, bposts)
  }

  /** Fetch the pointer CLOSURE of every touched id. Returns the raw
    * `(id, label)` pointer rows — chain RESOLUTION happens inside the
    * caller's single components pass, not here (pointer targets
    * strictly decrease — `label < id` everywhere in the store — so the
    * closure is a forest the CC fixpoint flattens for free). Ids with
    * no row resolve to themselves via the caller's coalesce.
    *
    * With depth metadata (r16 stores): composes exactly `depth` fetch
    * generations LAZILY — per generation, the LATEST row per frontier
    * id (broadcast frontier semi-join — the store is scanned, never
    * shuffled), next frontier = the fetched label values. No driver
    * actions here at all; the closure materializes inside the caller's
    * components pass. Depth 0 (empty labels store) skips the store
    * read entirely. Throws when the recorded depth exceeds `maxChase`
    * — compaction is overdue, and a silent partial closure would
    * mislabel.
    *
    * Without metadata (pre-r16 layout): the dynamic per-hop loop,
    * fetching until the frontier closes, `maxChase`-bounded.
    */
  private def fetchPointerClosure(spark: SparkSession, labelsPath: String,
      touched: DataFrame, maxChase: Int,
      excludeBatch: Option[Long]): DataFrame = {
    val store = SegmentStore.read(spark, labelsPath, excludeBatch)
      // identity rows (component centers label themselves) carry no
      // information — resolution already defaults to self
      .filter(col("id") =!= col("label"))
    val empty = touched.select(col("id"), col("id").as("label")).limit(0)
    SegmentStore.readMeta(spark, labelsPath, "depth") match {
      case Some(depth) =>
        if (depth > maxChase)
          throw new IllegalStateException(
            s"FamilyStore.fetchPointerClosure: recorded pointer-chain " +
              s"depth $depth exceeds maxChase=$maxChase — run " +
              "FamilyStore.maybeCompactChecked to flatten the labels " +
              "store (or raise maxChase deliberately)")
        var frontier = touched.select(col("id"))
        var acc: Option[DataFrame] = None
        var gen = 0L
        while (gen < depth) {
          val rows = store.join(broadcast(frontier), Seq("id"))
            .groupBy(col("id"))
            .agg(max_by(col("label"), col("ingest_batch")).as("label"))
          acc = Some(acc.fold(rows)(_.unionByName(rows)))
          frontier = rows.select(col("label").as("id")).distinct()
          gen += 1
        }
        acc.getOrElse(empty)
      case None =>
        var frontier = touched.select(col("id")).distinct()
          .localCheckpoint(true)
        var visited = frontier
        var pointers: Option[DataFrame] = None
        var hops = 0
        var closed = false
        while (!closed && hops < maxChase) {
          val rows = store.join(broadcast(frontier), Seq("id"))
            .groupBy(col("id"))
            .agg(max_by(col("label"), col("ingest_batch")).as("label"))
            .localCheckpoint(true)
          if (rows.isEmpty) closed = true
          else {
            pointers = Some(pointers.fold(rows)(_.unionByName(rows)))
            frontier = rows.select(col("label").as("id")).distinct()
              .join(visited, Seq("id"), "left_anti")
              .localCheckpoint(true)
            if (frontier.isEmpty) closed = true
            else visited = visited.unionByName(frontier)
              .localCheckpoint(true)
          }
          hops += 1
        }
        if (!closed)
          throw new IllegalStateException(
            s"FamilyStore.fetchPointerClosure: pointer chains deeper " +
              s"than maxChase=$maxChase — run " +
              "FamilyStore.maybeCompactChecked to flatten the labels " +
              "store (or raise maxChase deliberately)")
        pointers.getOrElse(empty)
    }
  }

  /** Row count of an already-materialized frame, read from the
    * Observation that rode its materialization — bounded wait with an
    * explicit-count fallback (the ckptFp recipe: the listener bus can
    * drop events under pressure, so a bare `obs.get` could hang).
    */
  private def observedCount(obs: org.apache.spark.sql.Observation,
      materialized: DataFrame): Long =
    try scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(60, "seconds"))
      .getAs[Long]("n")
    catch {
      case _: java.util.concurrent.TimeoutException => materialized.count()
    }

  private def writeIndexSegment(index: DataFrame, batchId: Long,
      path: String, nBands: Int, dynamic: Boolean = false): Unit = {
    require(nBands >= 1, s"nBands must be >= 1, got $nBands")
    SegmentStore.writeSegment(
      index
        .withColumn("band", pmod(col("h"), lit(nBands.toLong)))
        .repartition(col("band")),
      batchId, path, Seq("band"), dynamic)
  }

  private def writeLabelSegment(labels: DataFrame, batchId: Long,
      path: String, dynamic: Boolean = false): Unit =
    SegmentStore.writeSegment(
      labels
        .select(col("id"), col("label"))
        // identity rows are dead weight (see fetchPointerClosure) —
        // dropped here so bootstrap familyLabels output doesn't carry
        // its component-center self-rows into the store
        .filter(col("id") =!= col("label")),
      batchId, path, Nil, dynamic)
}
