package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.IvfPq

/** Streaming ANN ingest: cross-batch probing (batch N+1 finds batch N's
  * vectors), replay idempotence under foreachBatch at-least-once, and
  * serving parity between the appended store and an in-memory index
  * over the concatenated corpus under the same frozen model.
  */
class StreamingAnnIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Same calibrated corpus as IvfPqSpec: 20 well-separated Gaussian
    * clusters of 25 points in 16-d. Standing store gets clusters 0-15;
    * clusters 16-19 arrive as micro-batches, split even/odd so every
    * odd-id vector's near-twin landed one batch earlier.
    */
  private lazy val clustered = {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian() * 5.0))
    val rows = for (c <- 0 until 20; i <- 0 until 25) yield
      (c.toLong * 25 + i,
        centers(c).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    rows.toDF("id", "embedding")
  }

  test("cross-batch probe: a vector's near-twin ingested one micro-batch " +
    "earlier is found; pre-arrival it is not; serving from the appended " +
    "store matches an in-memory index under the same frozen model") {
    val standing = clustered.filter($"id" < 400)
    val batch1 = clustered.filter($"id" >= 400 && $"id" % 2 === 0)
    val batch2 = clustered.filter($"id" >= 400 && $"id" % 2 === 1)
    val mdl = IvfPq.train(standing, nlist = 16, m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("sann").toString + "/store"
    StreamingAnnIngest.initStore(standing, mdl, dir)

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val q = StreamingAnnIngest.attach(
      in.toDF().toDF("id", "embedding"), dir, k = 3,
      checkpointDir = dir + "/ckpt") { nbrs =>
      sink ++= nbrs.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect()
    }
    try {
      in.addData(batch1.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable()
      // batch 1 probes the bootstrap store only: no >= 400 neighbors exist
      assert(sink.nonEmpty && sink.forall(_._2 < 400L),
        "batch 1 matched vectors that had not arrived yet")
      sink.clear()
      in.addData(batch2.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable()
      // batch 2's top-1 neighbors are overwhelmingly batch-1 same-cluster
      // twins — only an APPENDED store can produce them
      val top1 = sink.filter(_._3 == 1)
      val twin = top1.count { case (qid, nid, _) =>
        nid >= 400L && qid / 25 == nid / 25 }
      assert(top1.nonEmpty && twin * 2 > top1.length,
        s"only $twin/${top1.length} top-1 hits were batch-1 twins")
    } finally q.stop()

    // serving parity: stored codes (bootstrap + 2 appends) ≡ in-memory
    // encode of the concatenated corpus under the same frozen model
    val queries = clustered.filter($"id" % 100 === 0)
    val served = IvfPq.ivfPqTopKFromIndex(spark, dir, queries, clustered,
        5, nprobe = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val inMem = IvfPq.ivfPqTopK(queries, clustered, 5, nprobe = 4,
        model = Some(mdl))
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(served == inMem)
  }

  test("replay idempotence: reprocessing a micro-batch overwrites its " +
    "own ingest_batch partition — store row counts and probe results " +
    "unchanged, and a later batch sees exactly one copy") {
    val standing = clustered.filter($"id" < 400)
    val mdl = IvfPq.train(standing, nlist = 16, m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("sannr").toString + "/store"
    StreamingAnnIngest.initStore(standing, mdl, dir)
    val batch = clustered.filter($"id" >= 400 && $"id" < 425)
    def run() = StreamingAnnIngest.processBatch(batch, batchId = 0L, dir,
        k = 3).select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val first = run()
    val codeRows = spark.read.parquet(s"$dir/codes").count()
    val vecRows = spark.read.parquet(s"$dir/vectors").count()
    val replay = run()
    assert(replay == first)
    assert(spark.read.parquet(s"$dir/codes").count() == codeRows)
    assert(spark.read.parquet(s"$dir/vectors").count() == vecRows)
    // a later batch of cluster-16 twins finds exactly one copy each
    val batch2 = clustered.filter($"id" >= 425 && $"id" < 450)
    val nbrs2 = StreamingAnnIngest.processBatch(batch2, batchId = 1L, dir,
        k = 3).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
    assert(nbrs2.length == nbrs2.distinct.length,
      "duplicate (query, neighbor) pairs — replayed codes leaked")
  }

  test("an empty bootstrap corpus with a caller-trained model: the " +
    "first processBatch returns an empty neighbor frame instead of " +
    "failing schema inference, and the next batch finds its vectors") {
    val mdl = IvfPq.train(clustered.filter($"id" < 400), nlist = 16,
      m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("sannempty")
      .toString + "/store"
    StreamingAnnIngest.initStore(clustered.filter($"id" < 0L), mdl, dir)
    val batch0 = clustered.filter($"id" >= 400 && $"id" % 2 === 0)
    val batch1 = clustered.filter($"id" >= 400 && $"id" % 2 === 1)
    val first = StreamingAnnIngest.processBatch(batch0, batchId = 0L, dir,
      k = 3, model = Some(mdl))
    assert(first.count() == 0L,
      "nothing stands before the first batch: no neighbors")
    val next = StreamingAnnIngest.processBatch(batch1, batchId = 1L, dir,
        k = 3, model = Some(mdl))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(next.nonEmpty && next.forall(_._2 % 2 == 0L),
      s"batch 1 must probe exactly batch 0's vectors: ${next.toSeq}")
  }

  test("an all-empty ANN ingest store folds: compactPrefix reads the " +
    "recorded schema instead of inferring one, and the folded store " +
    "keeps serving") {
    import graft.operators.SegmentStore
    val mdl = IvfPq.train(clustered.filter($"id" < 400), nlist = 16,
      m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("sannemptyfold")
      .toString + "/store"
    StreamingAnnIngest.initStore(clustered.filter($"id" < 0L), mdl, dir)
    StreamingAnnIngest.compactPrefix(spark, dir, Long.MaxValue)
    val batch0 = clustered.filter($"id" >= 400 && $"id" % 2 === 0)
    val batch1 = clustered.filter($"id" >= 400 && $"id" % 2 === 1)
    assert(StreamingAnnIngest.processBatch(batch0, batchId = 0L, dir,
      k = 3, model = Some(mdl)).count() == 0L)
    StreamingAnnIngest.compactPrefix(spark, dir, Long.MaxValue)
    assert(SegmentStore.segmentIds(spark, s"$dir/vectors") == Seq(-1L))
    val next = StreamingAnnIngest.processBatch(batch1, batchId = 1L, dir,
        k = 3, model = Some(mdl))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(next.nonEmpty && next.forall(_._2 % 2 == 0L),
      s"batch 1 must probe exactly batch 0's folded vectors: ${next.toSeq}")
  }

  test("committed-prefix fold (under-load compaction, vector grain): " +
    "with a replayable tail the trigger folds ONLY the committed " +
    "segments of codes AND vectors, serving is unchanged, the tail's " +
    "replay stays idempotent, and a later full commit folds the rest") {
    import graft.operators.SegmentStore
    val standing = clustered.filter($"id" < 400)
    val mdl = IvfPq.train(standing, nlist = 16, m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("sannpfx")
      .toString + "/store"
    StreamingAnnIngest.initStore(standing, mdl, dir)
    val batch0 = clustered.filter($"id" >= 400 && $"id" < 425)
    val batch1 = clustered.filter($"id" >= 425 && $"id" < 450)
    StreamingAnnIngest.processBatch(batch0, batchId = 0L, dir, k = 3,
      model = Some(mdl))
    val nbrs1 = StreamingAnnIngest.processBatch(batch1, batchId = 1L,
        dir, k = 3, model = Some(mdl))
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val queries = clustered.filter($"id" % 100 === 0)
    def serve() = IvfPq.ivfPqTopKFromIndex(spark, dir, queries,
        clustered.filter($"id" < 450), 5, nprobe = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val before = serve()
    // batch 0 committed; batch 1 still replayable → prefix fold only
    val ckpt = java.nio.file.Files.createTempDirectory("sannpfxck")
    java.nio.file.Files.createDirectories(ckpt.resolve("commits"))
    java.nio.file.Files.writeString(
      ckpt.resolve("commits").resolve("0"), "v1\n{}")
    assert(StreamingAnnIngest.maybeCompactChecked(spark, dir,
      ckpt.toString, maxSegments = 1) == SegmentStore.CompactedPrefix)
    assert(SegmentStore.segmentIds(spark, s"$dir/codes").sorted ==
      Seq(-1L, 1L) &&
      SegmentStore.segmentIds(spark, s"$dir/vectors").sorted ==
      Seq(-1L, 1L),
      "committed prefix folded in BOTH stores, tail left in place")
    assert(serve() == before, "prefix fold must not change serving")
    // the replayable batch's exactly-once contract survived the fold
    val replay = StreamingAnnIngest.processBatch(batch1, batchId = 1L,
        dir, k = 3, model = Some(mdl))
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(replay == nbrs1,
      "post-fold replay must reproduce the original neighbors")
    assert(serve() == before)
    // once batch 1 commits, the next trigger folds everything
    java.nio.file.Files.writeString(
      ckpt.resolve("commits").resolve("1"), "v1\n{}")
    assert(StreamingAnnIngest.maybeCompactChecked(spark, dir,
      ckpt.toString, maxSegments = 0) == SegmentStore.Compacted)
    assert(SegmentStore.segmentIds(spark, s"$dir/codes") == Seq(-1L))
    assert(serve() == before)
  }

  test("rebuildStore: drifted appends flip the drift witness on the " +
    "segmented layout, the rebuild retrains from the store's OWN " +
    "vectors and clears the flag with recall restored, and replay " +
    "idempotence SURVIVES the rebuild (a replayed batch re-encodes " +
    "itself to exactly the rebuilt rows — no checkpoint-safety " +
    "precondition, unlike the fold compactions)") {
    val standing = clustered.filter($"id" < 400)
    val mdl = IvfPq.train(standing, nlist = 16, m = 8, ksub = 32)
    val dir = java.nio.file.Files.createTempDirectory("sannrb")
      .toString + "/store"
    StreamingAnnIngest.initStore(standing, mdl, dir)
    // drifted micro-batch: 8 tight sub-clusters × 25 around 60·1 (the
    // AnnDriftRebuildSpec drift shape — far enough that the frozen
    // codebooks collapse, structured enough that a retrained model
    // ranks it)
    val rnd = new scala.util.Random(29)
    val subCenters = Array.fill(8)(
      Array.fill(16)(60.0 + rnd.nextGaussian() * 5.0))
    val drifted = (for (c <- 0 until 8; i <- 0 until 25) yield
      (10000L + c * 25 + i,
        subCenters(c).map(x => (x + rnd.nextGaussian() * 0.1).toFloat)
          .toSeq))
      .toDF("id", "embedding")
    StreamingAnnIngest.processBatch(drifted, batchId = 0L, dir, k = 3,
      model = Some(mdl))
    // the store is self-contained: ground-truth corpus = its vectors
    val full = spark.read.parquet(s"$dir/vectors")
      .select($"id", $"embedding")
    val probes = drifted.filter($"id" % 40 === 0)
    def report() = IvfPq.driftReport(spark, dir, probes, full, k = 3,
        nprobe = 8, rerankFactor = 16)
      .select("recall", "rebuild").as[(Double, Boolean)].head()
    val before = report()
    assert(before._2 && before._1 < 0.9,
      s"drifted append must flip rebuild on the streaming layout: " +
        s"$before")
    val m1 = StreamingAnnIngest.rebuildStore(spark, dir, nlist = 16,
      m = 8, ksub = 32)
    val after = report()
    assert(!after._2 && after._1 >= 0.9,
      s"rebuild must clear the flag and restore recall: $after")
    // replay SURVIVES the rebuild: reprocessing batch 0 (a restart
    // replaying an uncommitted batch right after maintenance) encodes
    // against the stored NEW model and overwrites its partition with
    // exactly the rows the rebuild wrote there
    val codes0 = spark.read.parquet(s"$dir/codes")
      .select($"id", $"cell", $"code", $"nrm", $"ingest_batch")
      .localCheckpoint(true)
    StreamingAnnIngest.processBatch(drifted, batchId = 0L, dir, k = 3,
      model = Some(m1))
    val codes1 = spark.read.parquet(s"$dir/codes")
      .select($"id", $"cell", $"code", $"nrm", $"ingest_batch")
    assert(codes1.exceptAll(codes0).isEmpty &&
      codes0.exceptAll(codes1).isEmpty,
      "replayed batch must rewrite exactly the rebuilt rows")
  }
}
