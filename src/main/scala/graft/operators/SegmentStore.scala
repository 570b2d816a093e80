package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField,
  StructType}

/** Shared plumbing for the ten `ingest_batch`-segmented standing
  * stores — [[FamilyStore]], [[SuffixStore]],
  * [[graft.streaming.StreamingMinhashDedup]],
  * [[graft.streaming.StreamingAnnIngest]],
  * [[graft.streaming.StreamingCdcDedup]] and the five mergeable-sketch
  * stores [[graft.streaming.StreamingDistinct]],
  * [[graft.streaming.StreamingFrequency]],
  * [[graft.streaming.StreamingLexical]],
  * [[graft.streaming.StreamingQuantiles]],
  * [[graft.streaming.StreamingTopK]] — so every store carries the SAME
  * layout, schema and fold, and the SAME load-bearing invariants:
  *
  *   - '''Exactly-once appends''' ([[writeSegment]]): every segment is
  *     keyed by `ingest_batch` under dynamic partition overwrite, so a
  *     replayed `foreachBatch` batch overwrites its own partition
  *     instead of duplicating it — the idempotent-sink recipe for
  *     at-least-once streaming replay.
  *   - '''Recorded schema, empty-store-safe reads'''
  *     ([[writeSegment]]/[[replace]] → [[read]]): every write that
  *     creates or replaces a store records its read schema (the written
  *     columns plus `ingest_batch`) as the `_schema` metadata file —
  *     after the data, because a static overwrite clears underscore
  *     files; dynamic appends and [[foldPrefix]] leave it in place.
  *     Readers never supply or infer a schema: a bootstrap corpus with
  *     nothing to index writes a valid empty segment (no data files,
  *     only `_SUCCESS`), over which inference throws
  *     `unable to infer schema` — bricking a store on a plausible
  *     first-day corpus — while the recorded schema returns the empty
  *     frame the caller expects. A directory without a record fails
  *     loudly, naming its path.
  *   - '''Path-own-filesystem wipes''' ([[wipe]]): store resets
  *     delete through `Path.getFileSystem`, never `FileSystem.get` —
  *     the latter resolves the DEFAULT filesystem, so on a cluster
  *     whose default fs differs from the store location (hdfs default,
  *     file:/s3a store) the delete would target the wrong fs and the
  *     following write would land on a stale store.
  *   - '''One fold''' ([[foldPrefix]], behind [[checkedFold]] for the
  *     stores with a compaction policy): every store compacts through
  *     the staged committed-prefix fold only; "fold everything" is the
  *     same fold with `upTo = Long.MaxValue`, so no store has a
  *     wipe-and-rewrite window in which a crash leaves it empty.
  *   - '''Driver-free metadata''' ([[readMeta]]/[[writeMeta]]): tiny
  *     underscore-prefixed files inside the store directory (ignored by
  *     parquet listing, like `_SUCCESS`) carry store-level values —
  *     the schema record, the fold marker, and e.g. [[FamilyStore]]'s
  *     pointer-chain depth bound, which lets the probe size its chase
  *     statically instead of discovering closure by per-hop emptiness
  *     actions. Single-writer per store (the foreachBatch contract); a
  *     static-overwrite rewrite of the store clears them, so
  *     maintenance jobs rewrite their metadata last.
  */
object SegmentStore {

  /** Append one segment: `rows` stamped `ingest_batch = batchId`,
    * written under `partitionBy(ingest_batch, subPartitions*)`.
    * `dynamic = true` (every per-batch append) overwrites ONLY the
    * partitions present in `rows` — the exactly-once replay contract;
    * `dynamic = false` (bootstrap) replaces the store and records its
    * read schema.
    */
  def writeSegment(rows: DataFrame, batchId: Long, path: String,
      subPartitions: Seq[String] = Nil, dynamic: Boolean = false): Unit =
    write(rows.withColumn("ingest_batch", lit(batchId)), path,
      subPartitions, dynamic)

  /** Replace the whole store with `segments` — rows that already carry
    * their `ingest_batch` (a rebuild that rewrites every segment in
    * place) — and record its read schema. A static overwrite: a
    * `(segment, subPartition)` directory absent from `segments` is
    * removed, which a dynamic one would leave stale.
    */
  def replace(segments: DataFrame, path: String,
      subPartitions: Seq[String] = Nil): Unit =
    write(segments, path, subPartitions, dynamic = false)

  private def write(stamped: DataFrame, path: String,
      subPartitions: Seq[String], dynamic: Boolean): Unit = {
    val w = stamped.write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy(("ingest_batch" +: subPartitions): _*).parquet(path)
    // after the data: the static overwrite cleared the store's
    // underscore files, the old record included
    if (!dynamic) {
      val schema = StructType(
        stamped.schema.filterNot(_.name == "ingest_batch") :+
          StructField("ingest_batch", LongType))
      writeText(stamped.sparkSession, path, SchemaMeta, schema.json)
    }
  }

  private val SchemaMeta = "schema"

  /** Read a store with its recorded schema (empty-store-safe — see
    * object doc), optionally partition-pruning one batch's own segment
    * out (the replay contract: a replayed batch must recompute against
    * the pre-append state, not its own previously-written rows).
    * Marker-aware: when a committed-prefix fold is mid-protocol (the
    * `_fold_upto` marker is present — see [[foldPrefix]]), the folded
    * view is served (staging as the bootstrap segment, folded segments
    * excluded), so readers see a consistent store at every instant of
    * the fold. Throws when `path` holds no schema record (no store was
    * created there by [[writeSegment]] or [[replace]]).
    */
  def read(spark: SparkSession, path: String,
      excludeBatch: Option[Long] = None): DataFrame = {
    val schema = readText(spark, path, SchemaMeta)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"SegmentStore.read: no schema record (_$SchemaMeta) under " +
          s"$path — not a store created by SegmentStore.writeSegment"))
    val base0 = spark.read.schema(schema).parquet(path)
    val base = pendingFoldUpto(spark, path) match {
      case None => base0
      case Some(upTo) =>
        val st = stagingPath(path)
        val fs = st.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(st))
          spark.read.schema(schema).parquet(st.toString)
            .withColumn("ingest_batch", lit(-1L))
            .select(schema.fieldNames.map(col).toIndexedSeq: _*)
            .unionByName(base0.filter(col("ingest_batch") > upTo))
        else base0.filter(
          col("ingest_batch") === -1L || col("ingest_batch") > upTo)
    }
    excludeBatch.foldLeft(base)((d, b) =>
      d.filter(col("ingest_batch") =!= b))
  }

  /** Delete a store directory on ITS OWN filesystem (see object doc).
    * No-op when the path does not exist.
    */
  def wipe(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    ()
  }

  /** Segment ids of a store (`ingest_batch=` partition directories).
    * Driver-side file listing; no Spark job. Shared here (r17): this
    * was the third copy of the listing across the store families.
    */
  def segmentIds(spark: SparkSession, path: String): Seq[Long] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("ingest_batch="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("ingest_batch=").toLong).toOption)
  }

  /** Segment count — the observable the stores' compaction policies
    * threshold on.
    */
  def segmentCount(spark: SparkSession, path: String): Long =
    segmentIds(spark, path).size.toLong

  /** Highest micro-batch id the stream owning `checkpointDir` has
    * COMMITTED, read from the checkpoint's `commits/` log — a file
    * named `<batchId>` lands there only AFTER the batch's foreachBatch
    * completed, so a batch without one can still be REPLAYED on
    * restart. `None` for a fresh or absent checkpoint. This is the
    * observable behind the automated compaction-safety rule
    * ([[graft.operators.FamilyStore.maybeCompactChecked]], r16 verdict
    * #4): folding a segment whose batch lacks a commit file would
    * strip the replay's ability to prune its own rows.
    */
  def lastCommittedBatch(spark: SparkSession,
      checkpointDir: String): Option[Long] = {
    val p = new Path(checkpointDir, "commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .maxOption
  }

  /** Outcome of a checkpoint-safe compaction policy call. */
  sealed trait CompactOutcome
  /** Trigger not met — nothing to do. */
  case object CompactIdle extends CompactOutcome
  /** Trigger met and every appended segment is committed — compacted. */
  case object Compacted extends CompactOutcome
  /** Trigger met but an appended segment is still replayable (no
    * commit file yet) — fold REFUSED; call again after the stream
    * commits.
    */
  case object CompactDeferred extends CompactOutcome
  /** Trigger met with a replayable tail, but a COMMITTED PREFIX of the
    * appended segments existed and was folded into the bootstrap
    * segment; the replayable segments were left in place (their replay
    * protection is intact). The under-load outcome: a never-idle
    * stream's in-stream policy calls make progress through this path
    * instead of deferring forever.
    */
  case object CompactedPrefix extends CompactOutcome

  // --------------------------------------------------------------------
  // Committed-prefix fold protocol (r17 headroom item: under
  // fold-EVERYTHING semantics an in-stream policy call always defers —
  // the just-written segment is uncommitted by construction — so a
  // never-idle stream could only compact from a maintenance thread.
  // Folding only the segments whose batches the checkpoint has
  // committed is always replay-safe: a committed batch is never
  // replayed, so it no longer needs its own partition for prune-out.)
  //
  // The fold replaces N directories by one while readers SUM (or
  // max_by) across directories, so it cannot be done by in-place
  // overwrites — any ordering leaves a crash window that double- or
  // under-counts. Instead it is a staged swap around a tiny manifest
  // marker (`_fold_upto` — the table-format commit-log idea at
  // metadata-file scale), with the single marker-file CREATE as the
  // atomic commit point:
  //
  //   1. write the folded replacement for the bootstrap segment to
  //      `_fold_staging/` — underscore-prefixed, so segment listings
  //      and parquet reads of the store root do not see it;
  //   2. COMMIT: create `_fold_upto = m`, the highest segment id
  //      `<= upTo`. Marker-aware reads ([[read]]) now serve
  //      staging ∪ segments > m; before the marker they served the
  //      unchanged original store. Either side of this instant is a
  //      complete, consistent view;
  //   3. delete the old bootstrap directory and RENAME staging into
  //      `ingest_batch=-1` (each intermediate state still serves:
  //      staging present → staging is -1's content);
  //   4. delete the folded segment directories (already excluded from
  //      marked reads);
  //   5. clear the marker.
  //
  // A crash anywhere resumes idempotently: [[completeFold]] (run at
  // every policy entry and before every fold) finishes 3-5 when the
  // marker is present, and a stale staging dir without a marker (crash
  // before 2) is inert and overwritten by the next fold. The marker
  // names the last segment the fold covered, so the appends a stream
  // makes between a crash and the heal stay visible and survive it.
  // --------------------------------------------------------------------

  private val FoldMeta = "fold_upto"

  private def stagingPath(path: String) = new Path(path, "_fold_staging")

  /** The pending committed-prefix fold marker, if a fold is
    * mid-protocol (between its commit point and [[completeFold]]).
    */
  def pendingFoldUpto(spark: SparkSession, path: String): Option[Long] =
    readMeta(spark, path, FoldMeta)

  /** Steps 3-5 of the fold protocol: swap staging into the bootstrap
    * directory, delete the folded segment directories, clear the
    * marker. Idempotent; no-op without a marker. Policy entry points
    * call this first, healing a fold that crashed mid-protocol.
    */
  def completeFold(spark: SparkSession, path: String): Unit =
    pendingFoldUpto(spark, path).foreach { upTo =>
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = stagingPath(path)
      if (fs.exists(st)) {
        fs.delete(new Path(path, "ingest_batch=-1"), true)
        fs.rename(st, new Path(path, "ingest_batch=-1"))
      }
      segmentIds(spark, path)
        .filter(id => id != -1L && id <= upTo)
        .foreach(id => fs.delete(new Path(path, s"ingest_batch=$id"), true))
      deleteMeta(spark, path, FoldMeta)
    }

  /** Steps 1-5 of the fold protocol. `folded` MUST be eagerly
    * materialized by the caller (localCheckpoint — the swap below must
    * not re-read what it replaces) and cover the bootstrap segment
    * plus every appended segment `<= upTo`; it becomes the store's new
    * bootstrap segment, laid out under `subPartitions`.
    */
  def foldPrefix(spark: SparkSession, path: String, upTo: Long,
      folded: DataFrame, subPartitions: Seq[String] = Nil): Unit = {
    commitFold(spark, path, upTo, folded, subPartitions)
    completeFold(spark, path)
  }

  /** Steps 1-2 of the fold protocol ([[foldPrefix]] stopped at its
    * commit point — the state a crash there leaves for [[completeFold]]
    * to heal). A fold still pending from an earlier crash is completed
    * first, so its staging is swapped in rather than discarded under a
    * live marker. The marker records the highest segment id the fold
    * covers, not `upTo`: a `Long.MaxValue` fold that crashes after its
    * commit point must neither hide the segments appended after it nor
    * let the heal delete them. A zero-row fold (every covered segment
    * empty) skips the staging — deleting empty directories is
    * consistent at every instant unstaged.
    */
  private[graft] def commitFold(spark: SparkSession, path: String,
      upTo: Long, folded: DataFrame, subPartitions: Seq[String]): Unit = {
    completeFold(spark, path)
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val st = stagingPath(path)
    fs.delete(st, true) // stale staging from an abandoned pre-commit fold
    val covered = segmentIds(spark, path).filter(_ <= upTo)
    if (folded.isEmpty)
      covered.filter(_ != -1L)
        .foreach(id => fs.delete(new Path(path, s"ingest_batch=$id"), true))
    else {
      val w = folded.write.mode("overwrite")
      (if (subPartitions.nonEmpty) w.partitionBy(subPartitions: _*) else w)
        .parquet(st.toString)
      writeMeta(spark, path, FoldMeta, (covered :+ -1L).max) // COMMIT POINT
    }
  }

  /** The decision core shared by the store families'
    * `maybeCompactChecked`, entered with the trigger already met:
    * `fold(upTo)` — the store's committed-prefix fold — is invoked
    * with `Long.MaxValue` when every appended segment is committed
    * (fold everything; [[Compacted]]), with the last committed batch
    * when a replayable tail exists ([[CompactedPrefix]]), and not at
    * all only when nothing is committed yet ([[CompactDeferred]]).
    * Routing the all-committed case through the same staged fold keeps
    * every compaction crash-consistent — the store's fold is its only
    * compaction, and maintenance callers that know every batch is
    * committed call it directly with `Long.MaxValue`. Heals a crashed
    * fold first (cheap no-op otherwise). `decisionPath` is the store whose
    * segments gate the decision (the appended superset — e.g.
    * [[FamilyStore]] decides on the index store); sibling stores are
    * healed by the store's own compactPrefix.
    */
  def checkedFold(spark: SparkSession, decisionPath: String,
      checkpointDir: String)(fold: Long => Unit): CompactOutcome = {
    completeFold(spark, decisionPath)
    val appended = segmentIds(spark, decisionPath).filter(_ >= 0L)
    val committed = lastCommittedBatch(spark, checkpointDir)
    if (appended.isEmpty || committed.exists(_ >= appended.max)) {
      fold(Long.MaxValue)
      Compacted
    } else committed match {
      case Some(upTo) if appended.exists(_ <= upTo) =>
        fold(upTo)
        CompactedPrefix
      case _ => CompactDeferred
    }
  }

  /** Delete a metadata scalar written by [[writeMeta]]; no-op when
    * absent.
    */
  def deleteMeta(spark: SparkSession, path: String, name: String): Unit = {
    val p = new Path(path, s"_$name")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, false)
    ()
  }

  /** Write a store-level metadata scalar as `path/_<name>` (overwrites).
    * Driver-side Hadoop FS IO — no Spark job.
    */
  def writeMeta(spark: SparkSession, path: String, name: String,
      value: Long): Unit =
    writeText(spark, path, name, value.toString)

  /** Read a metadata scalar written by [[writeMeta]]; `None` when the
    * file is absent or unparseable — the caller decides whether that
    * means a default or a store it cannot serve.
    */
  def readMeta(spark: SparkSession, path: String,
      name: String): Option[Long] =
    readText(spark, path, name)
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)

  /** The metadata file IO behind [[writeMeta]] and the schema record. */
  private def writeText(spark: SparkSession, path: String, name: String,
      value: String): Unit = {
    val p = new Path(path, s"_$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(value.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readText(spark: SparkSession, path: String,
      name: String): Option[String] = {
    val p = new Path(path, s"_$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }
}
