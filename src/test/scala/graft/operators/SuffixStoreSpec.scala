package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** APPEND lifecycle of the span-grain suffix store: probe-after-append
  * ≡ one-shot duplicatedSpans over the concatenated corpus, replay
  * idempotence, and compaction folding counts without changing
  * results.
  */
class SuffixStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val L = 10
  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def oneShot(all: Seq[(Long, String)],
      batchIds: Set[Long]): Set[(Long, Long, Long, Long)] =
    SuffixDedup.duplicatedSpans(df(all), "doc_id", "text", L)
      .as[(Long, Long, Long, Long)].collect().toSet
      .filter(r => batchIds(r._1))

  test("probe after two appends equals the one-shot rerun: a phrase " +
      "seeded by append batch 1 is caught in batch 2, corpus phrases " +
      "count, batch-internal twins count") {
    val phrase = "corpus shared phrase"
    val streamed = "appended new phrase!"
    val corpus = Seq(
      (1L, "aaaabbbbcc" + phrase + "ddddeeeefff"),
      (2L, "corpus doc with nothing shared AAA"))
    val b1 = Seq(
      (100L, "qqqqwwwwrr" + streamed + "ttttyyyyuuu"),
      (101L, "batch one lone text ZXCVBNM ASDFGH"))
    val b2 = Seq(
      (200L, "hhhhjjjjkk" + streamed + "lllzzzxxxcc"),  // vs b1's seed
      (201L, "mmmmnnnnoo" + phrase + "ppprrrsssttt"),   // vs bootstrap
      (202L, "AAAA" + "twin paragraph" + "BBBB"),       // batch-internal
      (203L, "CCCC" + "twin paragraph" + "DDDD"),
      (204L, "batch two wholly novel text 0987654"))
    val dir = java.nio.file.Files.createTempDirectory("sfxstore")
      .toString + "/idx"
    SuffixStore.init(df(corpus), "doc_id", "text", dir, L)
    SuffixStore.processBatch(df(b1), 0L, "doc_id", "text", dir, L)
    val got = SuffixStore.probe(df(b2), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == oneShot(corpus ++ b1 ++ b2,
      Set(200L, 201L, 202L, 203L, 204L)))
    assert(got.exists(_._1 == 200L), "cross-batch phrase missed")
    assert(got.exists(_._1 == 201L), "bootstrap phrase missed")
    assert(got.exists(_._1 == 202L) && got.exists(_._1 == 203L))
    assert(!got.exists(_._1 == 204L))
  }

  test("replay idempotence: reprocessing a batch under its batchId " +
      "leaves the store row count and later probes unchanged") {
    val phrase = "replayed shared phrase"
    val corpus = Seq((1L, "corpus text with nothing to share AA"))
    val b1 = Seq((100L, "aaaabbbbcc" + phrase + "ddddeeeefff"))
    val late = Seq((200L, "qqqqwwwwrr" + phrase + "ttttyyyyuuu"))
    val dir = java.nio.file.Files.createTempDirectory("sfxreplay")
      .toString + "/idx"
    SuffixStore.init(df(corpus), "doc_id", "text", dir, L)
    def run() = SuffixStore.processBatch(df(b1), 0L, "doc_id", "text",
      dir, L).as[(Long, Long, Long, Long)].collect().toSet
    val first = run()
    val rows = spark.read.parquet(dir).count()
    assert(run() == first)
    assert(spark.read.parquet(dir).count() == rows,
      "segment must be overwritten, not duplicated")
    val got = SuffixStore.probe(df(late), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == oneShot(corpus ++ b1 ++ late, Set(200L)))
  }

  test("compact folds segments to one row per hash; probes unchanged") {
    val phrase = "phrase in all tiers!"
    val corpus = Seq((1L, "aaaabbbbcc" + phrase + "ddddeeeefff"))
    val b1 = Seq((100L, "qqqqwwwwrr" + phrase + "ttttyyyyuuu"))
    val late = Seq((200L, "hhhhjjjjkk" + phrase + "lllzzzxxxcc"))
    val dir = java.nio.file.Files.createTempDirectory("sfxcompact")
      .toString + "/idx"
    SuffixStore.init(df(corpus), "doc_id", "text", dir, L)
    SuffixStore.processBatch(df(b1), 0L, "doc_id", "text", dir, L)
    val before = SuffixStore.probe(df(late), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    SuffixStore.compactPrefix(spark, dir, upTo = Long.MaxValue)
    // one row per hash, all in the bootstrap segment
    val idx = spark.read.parquet(dir)
    assert(idx.groupBy("h").count().filter($"count" > 1).isEmpty)
    assert(idx.select("ingest_batch").distinct()
      .as[Long].collect().toSeq == Seq(-1L))
    val after = SuffixStore.probe(df(late), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(after == before)
  }

  test("a bootstrap corpus with nothing to index writes a valid EMPTY " +
      "store: probe and processBatch serve it instead of failing " +
      "schema inference (r15 advice shape)") {
    val corpus = Seq((1L, "tiny"), (2L, "also tiny"))  // all < minLen
    val dir = java.nio.file.Files.createTempDirectory("sfxempty")
      .toString + "/idx"
    SuffixStore.init(df(corpus), "doc_id", "text", dir, L)
    val b1 = Seq(
      (100L, "aaaabbbbcc" + "first real phrase!!" + "ddddeeeefff"),
      (101L, "qqqqwwwwrr" + "first real phrase!!" + "ttttyyyyuuu"))
    val got = SuffixStore.processBatch(df(b1), 0L, "doc_id", "text",
      dir, L).as[(Long, Long, Long, Long)].collect().toSet
    assert(got == oneShot(corpus ++ b1, Set(100L, 101L)))
    assert(got.exists(_._1 == 100L) && got.exists(_._1 == 101L),
      "batch-internal twins must be found against the empty store")
    // compaction over the young store keeps it valid
    SuffixStore.compactPrefix(spark, dir, upTo = Long.MaxValue)
    val late = Seq((200L, "hhhhjjjjkk" + "first real phrase!!" + "lllzzz"))
    assert(SuffixStore.probe(df(late), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet ==
      oneShot(corpus ++ b1 ++ late, Set(200L)))
  }

  test("maybeCompact fires on segment-count pressure and stays quiet " +
      "below the threshold") {
    val phrase = "phrase in all tiers!"
    val corpus = Seq((1L, "aaaabbbbcc" + phrase + "ddddeeeefff"))
    val dir = java.nio.file.Files.createTempDirectory("sfxauto")
      .toString + "/idx"
    // a scratch checkpoint that commits every append
    val commits = java.nio.file.Files.createDirectories(
      java.nio.file.Files.createTempDirectory("sfxautock")
        .resolve("commits"))
    SuffixStore.init(df(corpus), "doc_id", "text", dir, L)
    for (i <- 1 to 3) {
      SuffixStore.processBatch(
        df(Seq((100L + i, s"seg${i}huhu" + phrase + s"seg${i}haha"))),
        i.toLong, "doc_id", "text", dir, L)
      java.nio.file.Files.writeString(commits.resolve(i.toString),
        "v1\n{}")
    }
    val ckpt = commits.getParent.toString
    assert(SegmentStore.segmentCount(spark, dir) == 4L)
    assert(SuffixStore.maybeCompactChecked(spark, dir, ckpt,
      maxSegments = 4L) == SegmentStore.CompactIdle,
      "4 segments <= threshold 4: must stay quiet")
    assert(SuffixStore.maybeCompactChecked(spark, dir, ckpt,
      maxSegments = 3L) == SegmentStore.Compacted,
      "4 segments > threshold 3: must fire")
    assert(SegmentStore.segmentCount(spark, dir) == 1L)
    val late = Seq((200L, "hhhhjjjjkk" + phrase + "lllzzzxxxcc"))
    assert(SuffixStore.probe(df(late), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet ==
      oneShot(corpus ++ (1 to 3).map(i =>
        (100L + i, s"seg${i}huhu" + phrase + s"seg${i}haha")) ++ late,
        Set(200L)))
  }

  test("maybeCompactChecked defers while an appended segment is " +
      "replayable and folds once the checkpoint commits it (the " +
      "automated safety rule, suffix grain)") {
    val phrase = "phrase in all tiers!"
    val corpus = Seq((1L, "aaaabbbbcc" + phrase + "ddddeeeefff"))
    val dir = java.nio.file.Files.createTempDirectory("sfxchk")
      .toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("sfxchkpt")
      .toString
    SuffixStore.init(df(corpus), "doc_id", "text", dir, L)
    SuffixStore.processBatch(
      df(Seq((101L, "seg1huhuhu" + phrase + "seg1hahaha"))),
      0L, "doc_id", "text", dir, L)
    // trigger met (2 segments > 1) but batch 0 has no commit file
    assert(SuffixStore.maybeCompactChecked(spark, dir, ckpt,
      maxSegments = 1L) == SegmentStore.CompactDeferred)
    assert(SegmentStore.segmentCount(spark, dir) == 2L)
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.writeString(commits.resolve("0"), "v1\n{}")
    assert(SuffixStore.maybeCompactChecked(spark, dir, ckpt,
      maxSegments = 1L) == SegmentStore.Compacted)
    assert(SegmentStore.segmentCount(spark, dir) == 1L)
    assert(SuffixStore.maybeCompactChecked(spark, dir, ckpt,
      maxSegments = 1L) == SegmentStore.CompactIdle)
  }

  test("committed-prefix fold (under-load compaction): with a " +
      "replayable tail the trigger folds ONLY the committed segments, " +
      "probes are unchanged, the tail's replay stays idempotent, and " +
      "a later full commit folds the rest") {
    val phrase = "phrase in all tiers!"
    val corpus = Seq((1L, "aaaabbbbcc" + phrase + "ddddeeeefff"))
    val batches = (1 to 3).map(i =>
      Seq((100L + i, s"seg${i}huhu" + phrase + s"seg${i}haha")))
    val dir = java.nio.file.Files.createTempDirectory("sfxprefix")
      .toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("sfxprefixck")
      .toString
    SuffixStore.init(df(corpus), "doc_id", "text", dir, L)
    batches.zipWithIndex.foreach { case (b, i) =>
      SuffixStore.processBatch(df(b), i.toLong, "doc_id", "text", dir, L)
    }
    val all = corpus ++ batches.flatten
    val late = Seq((200L, "hhhhjjjjkk" + phrase + "lllzzzxxxcc"))
    val before = SuffixStore.probe(df(late), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(before == oneShot(all ++ late, Set(200L)))
    // batches 0 and 1 committed; batch 2 still replayable
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.writeString(commits.resolve("0"), "v1\n{}")
    java.nio.file.Files.writeString(commits.resolve("1"), "v1\n{}")
    assert(SuffixStore.maybeCompactChecked(spark, dir, ckpt,
      maxSegments = 1L) == SegmentStore.CompactedPrefix)
    assert(SegmentStore.segmentIds(spark, dir).sorted == Seq(-1L, 2L),
      "committed prefix folded, replayable tail left in place")
    assert(SuffixStore.probe(df(late), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet == before,
      "prefix fold must not change probe results")
    // the replayable batch's exactly-once contract survived the fold:
    // reprocessing batch 2 under its id gives identical spans and does
    // not change the store's totals
    val replayed = SuffixStore.processBatch(df(batches(2)), 2L,
      "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(replayed == oneShot(all, Set(103L)),
      "post-fold replay must equal the one-shot rerun")
    assert(SuffixStore.probe(df(late), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet == before)
    // once batch 2 commits, the next trigger folds everything
    java.nio.file.Files.writeString(commits.resolve("2"), "v1\n{}")
    assert(SuffixStore.maybeCompactChecked(spark, dir, ckpt,
      maxSegments = 1L) == SegmentStore.Compacted)
    assert(SegmentStore.segmentIds(spark, dir) == Seq(-1L))
    assert(SuffixStore.probe(df(late), "doc_id", "text", dir, L)
      .as[(Long, Long, Long, Long)].collect().toSet == before)
  }

  test("the broadcast contract is enforced, not comment-only: a batch " +
      "past maxBatchKeys is refused loudly with the re-index advice") {
    val corpus = Seq((1L, "corpus text long enough to index AAA"))
    val batch = Seq((100L, "a batch doc with plenty of distinct grams"))
    val dir = java.nio.file.Files.createTempDirectory("sfxguard")
      .toString + "/idx"
    SuffixStore.init(df(corpus), "doc_id", "text", dir, L)
    val e = intercept[IllegalArgumentException] {
      SuffixStore.probe(df(batch), "doc_id", "text", dir, L,
        maxBatchKeys = 2L).count()
    }
    assert(e.getMessage.contains("maxBatchKeys") &&
      e.getMessage.contains("re-index"))
  }

  test("fused append (r18): the segment processBatch writes IS the " +
      "batch's suffixIndex — the shared key-grain count frame serves " +
      "probe and write identically") {
    val phrase = "phrase shared with corpus"
    val corpus = Seq((1L, "aaaabbbbcc" + phrase + "ddddeeeefff"))
    val b1 = Seq(
      (100L, "qqqqwwwwrr" + phrase + "ttttyyyyuuu"),
      (101L, "selfrepeat selfrepeat XX")) // within-doc repeated grams
    val dir = java.nio.file.Files.createTempDirectory("sfxfused")
      .toString + "/idx"
    SuffixStore.init(df(corpus), "doc_id", "text", dir, L)
    SuffixStore.processBatch(df(b1), 7L, "doc_id", "text", dir, L)
    val seg = spark.read.parquet(dir)
      .filter($"ingest_batch" === 7L)
      .select("h", "n_occ").as[(Long, Long)].collect().toSet
    val ref = SuffixDedup.suffixIndex(df(b1), "doc_id", "text", L)
      .as[(Long, Long)].collect().toSet
    assert(seg == ref,
      "appended segment must equal suffixIndex(batch) row-for-row")
  }
}
