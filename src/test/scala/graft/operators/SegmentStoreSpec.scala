package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The shared segment plumbing directly (beyond the store-level specs
  * that exercise it end-to-end): exactly-once dynamic overwrite,
  * the schema record behind empty-store-safe reads, replay pruning,
  * metadata round-trip, and wipe.
  */
class SegmentStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType),
    StructField("ingest_batch", LongType)))

  private def schemaOf(path: String) =
    StructType(SegmentStore.read(spark, path).schema
      .map(_.copy(nullable = true)))

  private def tmp() =
    java.nio.file.Files.createTempDirectory("segstore").toString + "/s"

  test("dynamic overwrite replaces ONLY the replayed batch's segment; " +
      "static overwrite replaces the store") {
    val path = tmp()
    SegmentStore.writeSegment(Seq((1L, 10L)).toDF("k", "v"), -1L, path)
    SegmentStore.writeSegment(Seq((2L, 20L)).toDF("k", "v"), 0L, path,
      dynamic = true)
    SegmentStore.writeSegment(Seq((3L, 30L)).toDF("k", "v"), 1L, path,
      dynamic = true)
    // replay batch 0 with different content: its segment is replaced,
    // the bootstrap and batch-1 segments are untouched
    SegmentStore.writeSegment(Seq((2L, 99L)).toDF("k", "v"), 0L, path,
      dynamic = true)
    val got = SegmentStore.read(spark, path)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, -1L), (2L, 99L, 0L), (3L, 30L, 1L)))
    // replay pruning: the excluded batch's rows vanish from the read
    assert(SegmentStore.read(spark, path, excludeBatch = Some(0L))
      .as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 10L, -1L), (3L, 30L, 1L)))
    // static overwrite (a bootstrap write) replaces everything
    SegmentStore.writeSegment(Seq((9L, 90L)).toDF("k", "v"), -1L, path)
    assert(SegmentStore.read(spark, path)
      .as[(Long, Long, Long)].collect().toSet == Set((9L, 90L, -1L)))
  }

  test("an EMPTY segment write leaves a store the schema read serves " +
      "(inference would throw unable-to-infer-schema)") {
    val path = tmp()
    SegmentStore.writeSegment(
      Seq.empty[(Long, Long)].toDF("k", "v"), -1L, path)
    assert(SegmentStore.read(spark, path).count() == 0L)
    // and a later append makes it non-empty without ceremony
    SegmentStore.writeSegment(Seq((5L, 50L)).toDF("k", "v"), 0L, path,
      dynamic = true)
    assert(SegmentStore.read(spark, path).count() == 1L)
  }

  test("metadata round-trip: absent -> None, write/overwrite/read, " +
      "and a static store rewrite clears it (maintenance jobs rewrite " +
      "their metadata last)") {
    val path = tmp()
    SegmentStore.writeSegment(Seq((1L, 10L)).toDF("k", "v"), -1L, path)
    assert(SegmentStore.readMeta(spark, path, "depth").isEmpty)
    SegmentStore.writeMeta(spark, path, "depth", 3L)
    assert(SegmentStore.readMeta(spark, path, "depth").contains(3L))
    SegmentStore.writeMeta(spark, path, "depth", 7L)
    assert(SegmentStore.readMeta(spark, path, "depth").contains(7L))
    // the parquet read ignores the underscore-prefixed metadata file
    assert(SegmentStore.read(spark, path).count() == 1L)
    SegmentStore.writeSegment(Seq((2L, 20L)).toDF("k", "v"), -1L, path)
    assert(SegmentStore.readMeta(spark, path, "depth").isEmpty,
      "static overwrite must clear store metadata")
  }

  test("lastCommittedBatch: None for a fresh checkpoint, then the " +
      "highest commit file (the observable behind every store " +
      "family's maybeCompactChecked)") {
    val ckpt = java.nio.file.Files.createTempDirectory("segckpt")
      .toString
    // fresh checkpoint: nothing committed
    assert(SegmentStore.lastCommittedBatch(spark, ckpt).isEmpty)
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.writeString(commits.resolve("0"), "v1\n{}")
    assert(SegmentStore.lastCommittedBatch(spark, ckpt).contains(0L))
    // non-numeric names are ignored
    java.nio.file.Files.writeString(commits.resolve("1"), "v1\n{}")
    java.nio.file.Files.writeString(commits.resolve(".1.tmp"), "x")
    assert(SegmentStore.lastCommittedBatch(spark, ckpt).contains(1L))
  }

  test("committed-prefix fold protocol: foldPrefix folds exactly the " +
      "segments <= upTo into the bootstrap segment, leaves the " +
      "replayable tail in place, and serves a CONSISTENT view at " +
      "every crash point of the protocol") {
    val path = tmp()
    SegmentStore.writeSegment(Seq((1L, 10L)).toDF("k", "v"), -1L, path)
    SegmentStore.writeSegment(Seq((1L, 5L)).toDF("k", "v"), 0L, path,
      dynamic = true)
    SegmentStore.writeSegment(Seq((2L, 7L)).toDF("k", "v"), 1L, path,
      dynamic = true)
    SegmentStore.writeSegment(Seq((3L, 9L)).toDF("k", "v"), 2L, path,
      dynamic = true)
    def view(): Set[(Long, Long, Long)] =
      SegmentStore.read(spark, path)
        .as[(Long, Long, Long)].collect().toSet
    val before = view()
    // the folded replacement for segments {-1, 0, 1}: summed per key
    val folded = Seq((1L, 15L), (2L, 7L)).toDF("k", "v")
      .localCheckpoint(true)

    // --- protocol stages replayed by hand (every crash window) ---
    // stage 1: staging written, NO marker yet — readers see the
    // ORIGINAL store unchanged
    folded.write.mode("overwrite").parquet(s"$path/_fold_staging")
    assert(view() == before, "pre-commit staging must be invisible")
    // stage 2 (COMMIT): marker created — readers flip to the folded
    // view (staging as bootstrap + the live tail) atomically
    SegmentStore.writeMeta(spark, path, "fold_upto", 1L)
    val foldedView = Set((1L, 15L, -1L), (2L, 7L, -1L), (3L, 9L, 2L))
    assert(view() == foldedView, "marked read must serve staging + tail")
    // stage 3-5: completeFold heals — staging renamed into the
    // bootstrap dir, folded segments deleted, marker cleared
    SegmentStore.completeFold(spark, path)
    assert(view() == foldedView, "post-heal content identical")
    assert(SegmentStore.segmentIds(spark, path).sorted == Seq(-1L, 2L))
    assert(SegmentStore.pendingFoldUpto(spark, path).isEmpty)
    SegmentStore.completeFold(spark, path) // idempotent no-op
    assert(view() == foldedView)

    // the one-call form produces the same end state on a fresh store
    val p2 = tmp()
    SegmentStore.writeSegment(Seq((1L, 10L)).toDF("k", "v"), -1L, p2)
    SegmentStore.writeSegment(Seq((1L, 5L)).toDF("k", "v"), 0L, p2,
      dynamic = true)
    SegmentStore.writeSegment(Seq((2L, 7L)).toDF("k", "v"), 1L, p2,
      dynamic = true)
    SegmentStore.writeSegment(Seq((3L, 9L)).toDF("k", "v"), 2L, p2,
      dynamic = true)
    SegmentStore.foldPrefix(spark, p2, 1L,
      Seq((1L, 15L), (2L, 7L)).toDF("k", "v").localCheckpoint(true))
    assert(SegmentStore.read(spark, p2)
      .as[(Long, Long, Long)].collect().toSet == foldedView)
    assert(SegmentStore.segmentIds(spark, p2).sorted == Seq(-1L, 2L))
  }

  test("a fold of everything that crashed after its commit point hides " +
      "no later append, and the next fold heals it without losing one") {
    val path = tmp()
    SegmentStore.writeSegment(Seq((1L, 10L)).toDF("k", "v"), -1L, path)
    SegmentStore.writeSegment(Seq((1L, 5L)).toDF("k", "v"), 0L, path,
      dynamic = true)
    SegmentStore.writeSegment(Seq((2L, 7L)).toDF("k", "v"), 1L, path,
      dynamic = true)
    def view(): Set[(Long, Long, Long)] =
      SegmentStore.read(spark, path)
        .as[(Long, Long, Long)].collect().toSet
    // the fold stops at its commit point; the marker names the last
    // segment it covered, not the unbounded upTo
    SegmentStore.commitFold(spark, path, Long.MaxValue,
      Seq((1L, 15L), (2L, 7L)).toDF("k", "v").localCheckpoint(true), Nil)
    assert(SegmentStore.pendingFoldUpto(spark, path).contains(1L))
    // the stream appends before anything heals the store
    SegmentStore.writeSegment(Seq((3L, 9L)).toDF("k", "v"), 2L, path,
      dynamic = true)
    assert(view() == Set((1L, 15L, -1L), (2L, 7L, -1L), (3L, 9L, 2L)))
    SegmentStore.foldPrefix(spark, path, Long.MaxValue,
      SegmentStore.read(spark, path).drop("ingest_batch")
        .localCheckpoint(true))
    assert(view() == Set((1L, 15L, -1L), (2L, 7L, -1L), (3L, 9L, -1L)))
    assert(SegmentStore.segmentIds(spark, path) == Seq(-1L))
    assert(SegmentStore.pendingFoldUpto(spark, path).isEmpty)
  }

  test("checkedFold decision core: full fold when everything is " +
      "committed, committed-prefix fold with a replayable tail, defer " +
      "only when nothing is committed") {
    def store(): String = {
      val path = tmp()
      SegmentStore.writeSegment(Seq((1L, 10L)).toDF("k", "v"), -1L, path)
      SegmentStore.writeSegment(Seq((2L, 20L)).toDF("k", "v"), 0L, path,
        dynamic = true)
      SegmentStore.writeSegment(Seq((3L, 30L)).toDF("k", "v"), 1L, path,
        dynamic = true)
      path
    }
    def ckptWith(committed: Long*): String = {
      val ckpt = java.nio.file.Files.createTempDirectory("cfckpt")
        .toString
      val commits = java.nio.file.Paths.get(ckpt, "commits")
      java.nio.file.Files.createDirectories(commits)
      committed.foreach(b => java.nio.file.Files.writeString(
        commits.resolve(b.toString), "v1\n{}"))
      ckpt
    }
    var ran = ""
    def run(path: String, ckpt: String) =
      SegmentStore.checkedFold(spark, path, ckpt)(upTo =>
        ran = if (upTo == Long.MaxValue) "full" else s"prefix:$upTo")
    // nothing committed → defer, no fold ran
    ran = ""
    assert(run(store(), ckptWith()) == SegmentStore.CompactDeferred)
    assert(ran == "")
    // batch 0 committed, batch 1 replayable → prefix fold up to 0
    ran = ""
    assert(run(store(), ckptWith(0L)) == SegmentStore.CompactedPrefix)
    assert(ran == "prefix:0")
    // everything committed → fold everything (upTo = ∞ through the
    // same staged protocol)
    ran = ""
    assert(run(store(), ckptWith(0L, 1L)) == SegmentStore.Compacted)
    assert(ran == "full")
  }

  test("the schema record survives dynamic appends and foldPrefix " +
      "(a zero-row fold included), and a static replace rewrites it") {
    val path = tmp()
    SegmentStore.writeSegment(
      Seq.empty[(Long, Long)].toDF("k", "v"), -1L, path)
    assert(schemaOf(path) == Schema)
    SegmentStore.writeSegment(Seq((2L, 20L)).toDF("k", "v"), 0L, path,
      dynamic = true)
    SegmentStore.writeSegment(Seq((3L, 30L)).toDF("k", "v"), 1L, path,
      dynamic = true)
    assert(schemaOf(path) == Schema, "dynamic appends keep the record")
    SegmentStore.foldPrefix(spark, path, 0L,
      Seq((2L, 20L)).toDF("k", "v").localCheckpoint(true))
    assert(schemaOf(path) == Schema, "a fold keeps the record")
    assert(SegmentStore.read(spark, path).as[(Long, Long, Long)].collect()
      .toSet == Set((2L, 20L, -1L), (3L, 30L, 1L)))
    // an all-empty store folds through the zero-row branch
    val empty = tmp()
    SegmentStore.writeSegment(
      Seq.empty[(Long, Long)].toDF("k", "v"), -1L, empty)
    SegmentStore.foldPrefix(spark, empty, Long.MaxValue,
      SegmentStore.read(spark, empty).drop("ingest_batch")
        .localCheckpoint(true))
    assert(schemaOf(empty) == Schema, "a zero-row fold keeps the record")
    assert(SegmentStore.read(spark, empty).count() == 0L)
    // a static replace records the new frame's columns; `replace`
    // takes rows that already carry their segment ids
    SegmentStore.writeSegment(Seq((1L, "a")).toDF("k", "w"), -1L, path)
    val kw = StructType(Seq(StructField("k", LongType),
      StructField("w", StringType), StructField("ingest_batch", LongType)))
    assert(schemaOf(path) == kw)
    SegmentStore.replace(
      Seq((5L, -1L, "x"), (6L, 4L, "y")).toDF("k", "ingest_batch", "w"),
      path)
    assert(schemaOf(path) == kw)
    assert(SegmentStore.read(spark, path).as[(Long, String, Long)]
      .collect().toSet == Set((5L, "x", -1L), (6L, "y", 4L)))
  }

  test("a directory without a schema record fails loudly, naming its " +
      "path") {
    val path = tmp()
    Seq((1L, 10L)).toDF("k", "v").write.parquet(path)
    val e = intercept[IllegalStateException](
      SegmentStore.read(spark, path))
    assert(e.getMessage.contains(path), e.getMessage)
  }

  test("wipe deletes the store on its own filesystem and is a no-op " +
      "on a missing path") {
    val path = tmp()
    SegmentStore.writeSegment(Seq((1L, 10L)).toDF("k", "v"), -1L, path)
    SegmentStore.wipe(spark, path)
    assert(!new java.io.File(path).exists())
    SegmentStore.wipe(spark, path) // idempotent
  }
}
