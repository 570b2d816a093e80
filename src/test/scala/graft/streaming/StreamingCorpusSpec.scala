package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.CorpusOps

/** The corpus operators that matter for a continuously-landing corpus
  * are pure column/generate transforms, so the SAME code runs under
  * Structured Streaming with no porting — this spec pins that property
  * for the chunker and the quality gates (a micro-batch pipeline:
  * arriving docs → gates → chunks), and that the stream output matches
  * the batch run of the same input.
  */
class StreamingCorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("chunkDocuments + qualityGates run unchanged on a stream and " +
    "match their batch output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, (1 to 120).map(i => s"alpha$i").mkString(" ")),
      (2L, "too short"),
      (3L, (1 to 75).map(i => s"beta$i").mkString(" ")))
    val in = MemoryStream[(Long, String)]
    val streamed = CorpusOps.chunkDocuments(
      CorpusOps.qualityGates(in.toDF().toDF("doc_id", "text"), "text",
          minWords = 50, maxWords = 100000,
          minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
          minAlphaWordFrac = 0.8)
        .filter($"keep"),
      "doc_id", "text", chunkTokens = 32, overlap = 8)
    val q = streamed.writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").start()
    try {
      in.addData(docs.take(2): _*)
      q.processAllAvailable()
      in.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, chunk_id, chunk_text FROM corpus_stream")
        .as[(Long, Long, String)].collect().toSet
      val batch = CorpusOps.chunkDocuments(
        CorpusOps.qualityGates(docs.toDF("doc_id", "text"), "text",
            minWords = 50, maxWords = 100000,
            minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
            minAlphaWordFrac = 0.8)
          .filter($"keep"),
        "doc_id", "text", chunkTokens = 32, overlap = 8)
        .select("doc_id", "chunk_id", "chunk_text")
        .as[(Long, Long, String)].collect().toSet
      assert(got == batch && got.nonEmpty)
      assert(!got.exists(_._1 == 2L)) // gated out in-stream
    } finally q.stop()
  }

  test("quality-classifier scoring runs per micro-batch (foreachBatch, " +
    "the model-artifact deployment shape) and matches batch scores") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.QualityClassifier
    val labeled = Seq(
      (1L, "the committee reviewed the annual report", true),
      (2L, "researchers published results after peer review", true),
      (3L, "buy cheap pills now click here offer", false),
      (4L, "win money fast casino bonus click now", false))
      .toDF("doc_id", "text", "y")
    val model = QualityClassifier.trainLogistic(labeled, "doc_id", "text",
      "y", dim = 1 << 10, epochs = 10, lr = 1.0)
    val arriving = Seq((10L, "the annual report was reviewed"),
      (11L, "click now cheap casino offer"),
      (12L, "peer review results published"))
    val in = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sink ++= QualityClassifier
          .scoreLogistic(batch, "doc_id", "text", model)
          .select("doc_id", "prob").as[(Long, Double)].collect()
        (): Unit
      }
      .start()
    try {
      in.addData(arriving.take(1): _*)
      q.processAllAvailable()
      in.addData(arriving.drop(1): _*)
      q.processAllAvailable()
      val batchScores = QualityClassifier
        .scoreLogistic(arriving.toDF("doc_id", "text"), "doc_id", "text",
          model)
        .select("doc_id", "prob").as[(Long, Double)].collect().toSet
      assert(sink.toSet == batchScores)
      val byId = sink.toMap
      assert(byId(10L) > 0.5 && byId(12L) > 0.5 && byId(11L) < 0.5)
    } finally q.stop()
  }

  test("incremental MinHash dedup runs per micro-batch against the " +
    "frozen corpus index (foreachBatch) and matches the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val corpus = Seq(
      (0L, base.trim),
      (1L, base.trim.replace("lazy dog", "sleepy dog")),
      (2L, "completely different text about spark engines and columnar data"))
      .toDF("doc_id", "text")
    // index built ONCE; micro-batches only probe it
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
      .localCheckpoint(true)
    // micro-batches are disjoint dup groups: each batch dedups against
    // the frozen index plus ITSELF; catching dups BETWEEN micro-batches
    // requires appending each batch to the index (the production append
    // step), which is deliberately out of scope for this parity check
    val arriving = Seq(
      (100L, base.trim), // dup of corpus 0/1
      (101L, "fresh unrelated prose mentioning parquet and shuffles"),
      (102L, ("completely different text about spark engines and " +
        "columnar info"))) // near-dup of corpus 2
    val in = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sink ++= Dedup.incrementalMinhashPairs(b, corpus, idx, "doc_id",
          "text", threshold = 0.5)
          .select("id_a", "id_b").as[(Long, Long)].collect()
        (): Unit
      }
      .start()
    try {
      in.addData(arriving.take(2): _*)
      q.processAllAvailable()
      in.addData(arriving.drop(2): _*)
      q.processAllAvailable()
      val batchRun = Dedup.incrementalMinhashPairs(
        arriving.toDF("doc_id", "text"), corpus, idx, "doc_id", "text",
        threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(sink.toSet == batchRun && sink.nonEmpty)
      assert(sink.toSet.contains((0L, 100L)))
      assert(!sink.exists(p => p._1 == 101L || p._2 == 101L))
    } finally q.stop()
  }

  test("index-append streaming dedup catches a dup ACROSS micro-batches " +
    "and matches the batch pipeline over the concatenated corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val fresh = "fresh unrelated prose mentioning parquet shuffles " +
      "broadcast joins and adaptive execution plans " * 6
    val corpus = Seq(
      (0L, base.trim),
      (1L, base.trim.replace("lazy dog", "sleepy dog")),
      (2L, "completely different text about spark engines and columnar data"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("smhd").toString
    StreamingMinhashDedup.initIndex(corpus, "doc_id", "text",
      s"$dir/index", s"$dir/texts")
    // batch 1 introduces 101; batch 2 carries its near-dup 102 — only an
    // APPENDED index can catch (101, 102)
    val batch1 = Seq((100L, base.trim), (101L, fresh.trim))
    val batch2 = Seq(
      (102L, fresh.trim.replace("adaptive", "dynamic")),
      (103L, "wholly novel sentence on tungsten codegen and vectorization"))
    val in = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingMinhashDedup.attach(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/index", s"$dir/texts", threshold = 0.5,
      checkpointDir = s"$dir/ckpt") { pairs =>
      sink ++= pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    }
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      assert(sink.toSet.contains((0L, 100L)))
      assert(!sink.exists(p => p._2 == 102L), "102 not yet arrived")
      in.addData(batch2: _*)
      q.processAllAvailable()
      // the cross-micro-batch duplicate the frozen index misses
      assert(sink.toSet.contains((101L, 102L)))
      // parity: the one-shot batch pipeline over corpus + both batches
      // finds exactly the streamed pairs plus corpus-internal ones
      val everything = corpus.unionByName(
        (batch1 ++ batch2).toDF("doc_id", "text"))
      val batchAll = Dedup.minhashDedupPairs(everything, "doc_id", "text",
          threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val corpusInternal = batchAll.filter(p => p._1 < 100L && p._2 < 100L)
      assert(sink.toSet == batchAll -- corpusInternal)
    } finally q.stop()
  }

  test("the minhash store survives a stop/restart from checkpoint: " +
    "the committed batch is NOT re-delivered, the post-restart batch " +
    "dedups against pre-restart appends through the recovered store, " +
    "and segments are exactly {-1, 0, 1} (r16 verdict #2)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val novel = "fresh unrelated prose mentioning parquet shuffles " +
      "broadcast joins and adaptive execution plans " * 6
    val corpus = Seq(
      (0L, base.trim),
      (1L, "completely different text about spark engines and columnar data"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("smhrestart")
      .toString
    val (idxP, txtP) = (s"$dir/index", s"$dir/texts")
    StreamingMinhashDedup.initIndex(corpus, "doc_id", "text", idxP, txtP)
    val in = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def start() = StreamingMinhashDedup.attach(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", idxP, txtP,
      threshold = 0.5, checkpointDir = s"$dir/ckpt") { pairs =>
      sink ++= pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    }
    val q1 = start()
    try {
      in.addData((100L, base.trim), (101L, novel.trim))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(sink.toSet == Set((0L, 100L)), s"pre-restart: $sink")
    val idxRows = spark.read.parquet(idxP).count()
    sink.clear()
    // resume from the checkpoint: the committed batch must NOT be
    // re-delivered or re-appended; the new batch must match the doc
    // the PRE-restart batch appended, through the recovered store
    val q2 = start()
    try {
      in.addData((200L, novel.trim.replace("adaptive", "dynamic")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(sink.toSet == Set((101L, 200L)),
      s"post-restart batch must dedup against pre-restart appends: $sink")
    val segs = spark.read.parquet(idxP)
      .select("ingest_batch").distinct().as[Long].collect().toSet
    assert(segs == Set(-1L, 0L, 1L),
      s"expected segments {-1,0,1} after restart, got $segs")
    assert(spark.read.parquet(idxP)
      .filter($"ingest_batch" =!= 1L).count() == idxRows,
      "pre-restart index segments must be byte-stable across restart")
  }

  test("maybeCompact: the segment-count trigger folds index AND texts " +
    "to ONE segment, re-freezes GLOBAL bucket sizes, re-arms the " +
    "trigger, and a later probe is unchanged (r16 verdict #2: the " +
    "minhash store had compactIndex but no policy)") {
    import spark.implicits._
    import graft.operators.{Dedup, SegmentStore}
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val corpus = Seq(
      (0L, base.trim),
      (1L, "completely different text about spark engines and columnar data"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("smhc").toString
    val (idxP, txtP) = (s"$dir/index", s"$dir/texts")
    // a scratch checkpoint: batches 0-2 below are committed
    val ckpt = java.nio.file.Files.createTempDirectory("smhckpt")
      .toString
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.createDirectories(commits)
    StreamingMinhashDedup.initIndex(corpus, "doc_id", "text", idxP, txtP)
    // three appends; batch 2 carries a near-dup of batch 1's novel doc
    // (cross-segment bucket: the global re-freeze below must count it)
    val novel = "fresh unrelated prose mentioning parquet shuffles " +
      "broadcast joins and adaptive execution plans " * 6
    val batches = Seq(
      Seq((100L, base.trim)),
      Seq((110L, novel.trim)),
      Seq((120L, novel.trim.replace("adaptive", "dynamic"))))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingMinhashDedup.processBatch(b.toDF("doc_id", "text"),
        i.toLong, "doc_id", "text", idxP, txtP, threshold = 0.5)
      java.nio.file.Files.writeString(commits.resolve(i.toString),
        "v1\n{}")
    }
    assert(SegmentStore.segmentCount(spark, idxP) == 4L)
    // below threshold: no fire
    assert(StreamingMinhashDedup.maybeCompactChecked(spark, idxP, txtP,
      ckpt, maxSegments = 10) == SegmentStore.CompactIdle)
    // read-only probe of a held-out batch, before vs after compaction
    val late = Seq((200L, base.trim.replace("lazy", "sleepy")),
      (201L, novel.trim.replace("joins", "hashes")))
      .toDF("doc_id", "text")
    def probePairs(): Set[(Long, Long)] = {
      val idx = spark.read.parquet(idxP)
      val txts = spark.read.parquet(txtP).drop("ingest_batch")
      Dedup.incrementalMinhashPairs(late, txts, idx, "doc_id", "text",
          threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val before = probePairs()
    assert(before.contains((0L, 200L)) && before.contains((110L, 201L)),
      s"probe must hit bootstrap and appended segments: $before")
    assert(StreamingMinhashDedup.maybeCompactChecked(spark, idxP, txtP,
      ckpt, maxSegments = 2) == SegmentStore.Compacted)
    assert(SegmentStore.segmentCount(spark, idxP) == 1L &&
      SegmentStore.segmentCount(spark, txtP) == 1L,
      "compaction must fold every segment into the bootstrap segment")
    assert(probePairs() == before,
      "compaction must not change probe results")
    // the fold re-froze GLOBAL bucket sizes: every (band, bucket)'s
    // recorded size equals its actual row count
    val stale = spark.read.parquet(idxP)
      .groupBy($"band", $"bucket")
      .agg(org.apache.spark.sql.functions.max($"bucket_sz").as("sz"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter($"sz" =!= $"n").count()
    assert(stale == 0L, "compaction must re-freeze GLOBAL bucket sizes")
    // the trigger is re-armed (one segment now)
    assert(StreamingMinhashDedup.maybeCompactChecked(spark, idxP, txtP,
      ckpt, maxSegments = 2) == SegmentStore.CompactIdle)
    // the automated safety rule: append one more batch, trigger met,
    // but its batch has no commit file → defer; after the commit
    // lands, fold
    StreamingMinhashDedup.processBatch(
      Seq((300L, novel.trim.replace("prose", "copy")))
        .toDF("doc_id", "text"),
      3L, "doc_id", "text", idxP, txtP, threshold = 0.5)
    assert(StreamingMinhashDedup.maybeCompactChecked(spark, idxP, txtP,
      ckpt, maxSegments = 1) == SegmentStore.CompactDeferred)
    java.nio.file.Files.writeString(commits.resolve("3"), "v1\n{}")
    assert(StreamingMinhashDedup.maybeCompactChecked(spark, idxP, txtP,
      ckpt, maxSegments = 1) == SegmentStore.Compacted)
    assert(SegmentStore.segmentCount(spark, idxP) == 1L)
  }

  test("committed-prefix fold (under-load compaction, minhash grain): " +
    "with a replayable tail the trigger folds ONLY the committed " +
    "segments of index AND texts, re-freezes the folded rows' bucket " +
    "sizes over the prefix, probes are unchanged, and the tail's " +
    "replay stays idempotent") {
    import spark.implicits._
    import graft.operators.{Dedup, SegmentStore}
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val novel = "fresh unrelated prose mentioning parquet shuffles " +
      "broadcast joins and adaptive execution plans " * 6
    val corpus = Seq((0L, base.trim)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("smhpfx").toString
    val (idxP, txtP) = (s"$dir/index", s"$dir/texts")
    StreamingMinhashDedup.initIndex(corpus, "doc_id", "text", idxP, txtP)
    val batches = Seq(
      Seq((100L, base.trim)),                               // dups corpus
      Seq((110L, novel.trim)),                              // seeds
      Seq((120L, novel.trim.replace("adaptive", "dynamic")))) // dups b1
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingMinhashDedup.processBatch(b.toDF("doc_id", "text"),
        i.toLong, "doc_id", "text", idxP, txtP, threshold = 0.5)
    }
    val late = Seq((200L, base.trim.replace("lazy", "sleepy")),
      (201L, novel.trim.replace("joins", "hashes")))
      .toDF("doc_id", "text")
    def probePairs(): Set[(Long, Long)] =
      Dedup.incrementalMinhashPairs(late,
          SegmentStore.read(spark, txtP).drop("ingest_batch"),
          SegmentStore.read(spark, idxP), "doc_id", "text",
          threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val before = probePairs()
    assert(before.contains((0L, 200L)) && before.contains((110L, 201L)))
    // batches 0,1 committed; batch 2 replayable → prefix fold only
    val ckpt = java.nio.file.Files.createTempDirectory("smhpfxck")
      .toString
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.writeString(commits.resolve("0"), "v1\n{}")
    java.nio.file.Files.writeString(commits.resolve("1"), "v1\n{}")
    assert(StreamingMinhashDedup.maybeCompactChecked(spark, idxP, txtP,
      ckpt, maxSegments = 1) == SegmentStore.CompactedPrefix)
    assert(SegmentStore.segmentIds(spark, idxP).sorted == Seq(-1L, 2L) &&
      SegmentStore.segmentIds(spark, txtP).sorted == Seq(-1L, 2L),
      "committed prefix folded in BOTH stores, tail left in place")
    assert(probePairs() == before,
      "prefix fold must not change probe results")
    // folded rows' bucket sizes are re-frozen over the prefix: within
    // segment -1 every (band, bucket) records its own row count
    val stale = spark.read.parquet(idxP)
      .filter($"ingest_batch" === -1L)
      .groupBy($"band", $"bucket")
      .agg(org.apache.spark.sql.functions.max($"bucket_sz").as("sz"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter($"sz" =!= $"n").count()
    assert(stale == 0L, "prefix fold must re-freeze folded bucket sizes")
    // the replayable batch's exactly-once contract survived: replaying
    // batch 2 yields the same pairs and leaves the store stable
    val replayed = StreamingMinhashDedup.processBatch(
      batches(2).toDF("doc_id", "text"), 2L, "doc_id", "text", idxP,
      txtP, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(replayed == Set((110L, 120L)),
      s"post-fold replay must re-find the cross-batch pair: $replayed")
    assert(probePairs() == before)
  }

  test("a batch that failed after its text append leaves an uncommitted " +
    "text segment: the checked fold keeps it out of the prefix, and " +
    "the replay emits every pair once") {
    import spark.implicits._
    import graft.operators.SegmentStore
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val novel = "fresh unrelated prose mentioning parquet shuffles " +
      "broadcast joins and adaptive execution plans " * 6
    val dir = java.nio.file.Files.createTempDirectory("smhfail").toString
    val (idxP, txtP) = (s"$dir/index", s"$dir/texts")
    StreamingMinhashDedup.initIndex(
      Seq((0L, base.trim)).toDF("doc_id", "text"), "doc_id", "text",
      idxP, txtP)
    Seq(Seq((100L, novel.trim)), Seq((110L, "novel prose about shuffles")))
      .zipWithIndex.foreach { case (b, i) =>
        StreamingMinhashDedup.processBatch(b.toDF("doc_id", "text"),
          i.toLong, "doc_id", "text", idxP, txtP, threshold = 0.5)
      }
    // batch 2 dups the corpus AND batch 0; it failed mid-probe: its text
    // segment is on disk, its index segment and commit are not
    val failed = Seq((120L, base.trim.replace("lazy", "sleepy")),
      (121L, novel.trim.replace("joins", "hashes"))).toDF("doc_id", "text")
    SegmentStore.writeSegment(failed, 2L, txtP, dynamic = true)
    val ckpt = java.nio.file.Files.createTempDirectory("smhfailck")
      .toString
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.writeString(commits.resolve("0"), "v1\n{}")
    java.nio.file.Files.writeString(commits.resolve("1"), "v1\n{}")
    assert(StreamingMinhashDedup.maybeCompactChecked(spark, idxP, txtP,
      ckpt, maxSegments = 1) == SegmentStore.CompactedPrefix)
    assert(SegmentStore.segmentIds(spark, txtP).sorted == Seq(-1L, 2L),
      "the uncommitted text segment must stay out of the fold")
    // the stream restarts and replays batch 2
    val replayed = StreamingMinhashDedup.processBatch(failed, 2L,
      "doc_id", "text", idxP, txtP, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(replayed.sorted == Seq((0L, 120L), (100L, 121L)),
      s"every replayed pair exactly once: $replayed")
    assert(spark.read.parquet(txtP).count() == 5L)
  }

  test("index-append is replay-idempotent: reprocessing a micro-batch " +
    "(foreachBatch at-least-once) overwrites its own partition instead " +
    "of duplicating it") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val corpus = Seq(
      (0L, base.trim),
      (1L, "completely different text about spark engines and columnar data"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("smhr").toString
    StreamingMinhashDedup.initIndex(corpus, "doc_id", "text",
      s"$dir/index", s"$dir/texts")
    val batch = Seq((100L, base.trim), (101L, "novel prose about shuffles"))
      .toDF("doc_id", "text")
    def run() = StreamingMinhashDedup.processBatch(batch, batchId = 0L,
      "doc_id", "text", s"$dir/index", s"$dir/texts", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val first = run()
    val idxRows = spark.read.parquet(s"$dir/index").count()
    val txtRows = spark.read.parquet(s"$dir/texts").count()
    // crash-replay of the same batchId: identical pairs, store unchanged
    val replay = run()
    assert(replay == first && first.contains((0L, 100L)))
    assert(spark.read.parquet(s"$dir/index").count() == idxRows)
    assert(spark.read.parquet(s"$dir/texts").count() == txtRows)
    // a LATER batch still sees exactly one copy of batch 0's rows
    val batch2 = Seq((200L, "novel prose about shuffles indeed"))
      .toDF("doc_id", "text")
    val pairs2 = StreamingMinhashDedup.processBatch(batch2, batchId = 1L,
      "doc_id", "text", s"$dir/index", s"$dir/texts", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs2.contains((101L, 200L)))
  }

  test("an empty bootstrap corpus: the first processBatch reads the " +
    "empty store with an explicit schema and returns the batch-internal " +
    "pairs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val dir = java.nio.file.Files.createTempDirectory("smhe").toString
    val (idxP, txtP) = (s"$dir/index", s"$dir/texts")
    StreamingMinhashDedup.initIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text",
      idxP, txtP)
    val batch = Seq((100L, base.trim),
      (101L, base.trim.replace("lazy", "sleepy")),
      (102L, "novel prose about shuffles and columnar storage formats"))
      .toDF("doc_id", "text")
    val pairs = StreamingMinhashDedup.processBatch(batch, 0L, "doc_id",
      "text", idxP, txtP, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)), s"batch-internal pairs: $pairs")
    // and the next batch probes the appended segment
    val next = StreamingMinhashDedup.processBatch(
      Seq((200L, base.trim)).toDF("doc_id", "text"), 1L, "doc_id", "text",
      idxP, txtP, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(next.contains((100L, 200L)), s"cross-batch pairs: $next")
  }

  test("an all-empty minhash store folds: compactPrefix(Long.MaxValue) " +
    "and a firing maybeCompactChecked read the recorded schema instead " +
    "of inferring one, and the folded store keeps serving") {
    import spark.implicits._
    import graft.operators.SegmentStore
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val dir = java.nio.file.Files.createTempDirectory("smhef").toString
    val (idxP, txtP) = (s"$dir/index", s"$dir/texts")
    StreamingMinhashDedup.initIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text",
      idxP, txtP)
    StreamingMinhashDedup.compactPrefix(spark, idxP, txtP, Long.MaxValue)
    val ckpt = java.nio.file.Files.createTempDirectory("smhefck")
    // a negative threshold fires on any segment count, the all-empty
    // store's zero included; with nothing appended the fold is full
    assert(StreamingMinhashDedup.maybeCompactChecked(spark, idxP, txtP,
      ckpt.toString, maxSegments = -1L) == SegmentStore.Compacted)
    val pairs = StreamingMinhashDedup.processBatch(
      Seq((100L, base.trim), (101L, base.trim.replace("lazy", "sleepy")))
        .toDF("doc_id", "text"), 0L, "doc_id", "text", idxP, txtP,
      threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)), s"batch-internal pairs: $pairs")
    // batch 0 committed: the trigger fires and folds it into -1
    java.nio.file.Files.createDirectories(ckpt.resolve("commits"))
    java.nio.file.Files.writeString(
      ckpt.resolve("commits").resolve("0"), "v1\n{}")
    assert(StreamingMinhashDedup.maybeCompactChecked(spark, idxP, txtP,
      ckpt.toString, maxSegments = 0L) == SegmentStore.Compacted)
    assert(SegmentStore.segmentIds(spark, idxP) == Seq(-1L))
    val next = StreamingMinhashDedup.processBatch(
      Seq((200L, base.trim)).toDF("doc_id", "text"), 1L, "doc_id", "text",
      idxP, txtP, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(next == Set((100L, 200L), (101L, 200L)),
      s"cross-batch pairs after the fold: $next")
  }

  test("minhash store segments are flat: parquet files directly under " +
    "each ingest_batch directory, no band= sub-partition, after " +
    "processBatch, compactPrefix and compactIndex") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val dir = java.nio.file.Files.createTempDirectory("smhl").toString
    val (idxP, txtP) = (s"$dir/index", s"$dir/texts")
    def assertFlat(stage: String): Unit = Seq(idxP, txtP).foreach { p =>
      val segs = new java.io.File(p).listFiles()
        .filter(_.getName.startsWith("ingest_batch="))
      assert(segs.nonEmpty, s"$stage: no segments under $p")
      segs.foreach { seg =>
        val kids = seg.listFiles().toSeq
        assert(kids.forall(_.isFile),
          s"$stage: $seg holds directories ${kids.filter(_.isDirectory)}")
        assert(kids.exists(_.getName.endsWith(".parquet")),
          s"$stage: $seg holds no parquet file")
      }
      assert(!java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        .anyMatch(_.getFileName.toString.startsWith("band=")),
        s"$stage: band= directory under $p")
    }
    StreamingMinhashDedup.initIndex(
      Seq((0L, base.trim)).toDF("doc_id", "text"), "doc_id", "text",
      idxP, txtP)
    Seq(Seq((100L, base.trim)),
      Seq((110L, "fresh prose about parquet shuffles and broadcast joins")))
      .zipWithIndex.foreach { case (b, i) =>
        StreamingMinhashDedup.processBatch(b.toDF("doc_id", "text"),
          i.toLong, "doc_id", "text", idxP, txtP, threshold = 0.5)
      }
    assertFlat("processBatch")
    StreamingMinhashDedup.compactPrefix(spark, idxP, txtP, upTo = 0L)
    assert(graft.operators.SegmentStore.segmentIds(spark, idxP).sorted ==
      Seq(-1L, 1L))
    assertFlat("compactPrefix")
    StreamingMinhashDedup.compactPrefix(spark, idxP, txtP,
      upTo = Long.MaxValue)
    assert(graft.operators.SegmentStore.segmentIds(spark, idxP) ==
      Seq(-1L))
    assertFlat("full compactPrefix")
    // band stays a data column
    assert(spark.read.parquet(idxP).columns.contains("band"))
  }
}
