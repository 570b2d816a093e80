package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{CountMinSketch, SegmentStore}

/** Streaming frequency estimation: the merged cross-batch estimate must
  * equal the batch-mode CMS of the concatenated corpus EXACTLY (count
  * additivity), replay must be idempotent, and compaction must not move
  * any estimate.
  */
class StreamingFrequencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val D = 3
  private val M = 64

  // value i of a tagged block appears i+1 times
  private def block(tag: String, n: Int) =
    (0 until n).flatMap(i => Seq.fill(i + 1)(s"$tag$i")).toDF("v")

  private def estMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("cross-batch merge equals the batch CMS of the whole corpus") {
    // the empty bootstrap: the first batch reads a store with no data
    for (corpus <- Seq(block("a", 40), block("a", 0))) {
      val dir = java.nio.file.Files.createTempDirectory("sfrq").toString
      val b1 = block("a", 25) // overlaps the bootstrap: counts must ADD
      val b2 = block("b", 30)
      val probes = ((0 until 40).map(i => s"a$i") ++
        (0 until 30).map(i => s"b$i")).toDF("p")
      StreamingFrequency.initStore(corpus, "v", dir, D, M)
      StreamingFrequency.processBatch(b1, 1L, "v", probes, "p", dir, D, M)
      val est = estMap(
        StreamingFrequency.processBatch(b2, 2L, "v", probes, "p", dir, D, M))
      val whole = corpus.union(b1).union(b2)
      val batch = estMap(CountMinSketch.cmsEstimate(
        CountMinSketch.cmsState(whole, "v", D, M), probes, "p", D, M))
      assert(est == batch)
      // and the store-level estimate (after the appends) agrees too
      assert(estMap(
        StreamingFrequency.estimate(spark, dir, probes, "p", D, M)) == est)
    }
  }

  test("replay idempotence: reprocessing a batch changes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("sfrqr").toString
    val probes = (0 until 20).map(i => s"y$i").toDF("p")
    StreamingFrequency.initStore(block("x", 30), "v", dir, D, M)
    val batch = block("y", 20)
    val e1 = estMap(
      StreamingFrequency.processBatch(batch, 1L, "v", probes, "p", dir, D, M))
    val e2 = estMap(
      StreamingFrequency.processBatch(batch, 1L, "v", probes, "p", dir, D, M))
    assert(e1 == e2)
    val rows = spark.read.parquet(s"$dir/cms").count()
    StreamingFrequency.processBatch(batch, 1L, "v", probes, "p", dir, D, M)
    assert(spark.read.parquet(s"$dir/cms").count() == rows)
  }

  test("compaction shrinks the store but moves no estimate") {
    for (boot <- Seq(block("p", 30), block("p", 0))) {
      val dir = java.nio.file.Files.createTempDirectory("sfrqc").toString
      val probes = (0 until 25).map(i => s"q1-$i").toDF("p")
      StreamingFrequency.initStore(boot, "v", dir, D, M)
      (1 to 4).foreach(i => StreamingFrequency.processBatch(
        block(s"q$i-", 25), i.toLong, "v", probes, "p", dir, D, M))
      val before = estMap(
        StreamingFrequency.estimate(spark, dir, probes, "p", D, M))
      val rowsBefore = spark.read.parquet(s"$dir/cms").count()
      StreamingFrequency.compact(spark, dir)
      val after = estMap(
        StreamingFrequency.estimate(spark, dir, probes, "p", D, M))
      assert(after == before)
      assert(spark.read.parquet(s"$dir/cms").count() <= D * M)
      assert(spark.read.parquet(s"$dir/cms").count() < rowsBefore)
      // a batch landing after compaction still merges correctly
      val e = estMap(StreamingFrequency.processBatch(
        block("q1-", 25), 9L, "v", probes, "p", dir, D, M))
      val whole = boot
        .union((1 to 4).map(i => block(s"q$i-", 25)).reduce(_ union _))
        .union(block("q1-", 25))
      val batch = estMap(CountMinSketch.cmsEstimate(
        CountMinSketch.cmsState(whole, "v", D, M), probes, "p", D, M))
      assert(e == batch)
    }
  }

  test("attach: watchlist estimates arrive per micro-batch and add up") {
    val dir = java.nio.file.Files.createTempDirectory("sfrqa").toString
    val probes = Seq("w0").toDF("p")
    // m large enough that w0 cannot collide with anything: est is exact
    StreamingFrequency.initStore(Seq("w0", "w0").toDF("v"), "v", dir,
      D, 1 << 16)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val sink = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingFrequency.attach(in.toDF().toDF("v"), "v", probes, "p",
      dir, java.nio.file.Files.createTempDirectory("sfrqa-ck").toString,
      D, 1 << 16) { est =>
      sink += est.collect().head.getLong(1)
    }
    try {
      in.addData("w0", "w0", "w0", "z1")
      q.processAllAvailable()
      in.addData("w0", "z2", "z3")
      q.processAllAvailable()
      assert(sink.toSeq == Seq(5L, 6L))
    } finally q.stop()
  }

  test("a compaction that crashed after its commit point loses no batch " +
    "appended after it") {
    val dir = java.nio.file.Files.createTempDirectory("sfrqx").toString
    val tags = Seq("p", "q1-", "q2-", "q3-")
    val probes = tags.flatMap(t => (0 until 20).map(i => s"$t$i")).toDF("p")
    def batchEst(blocks: Seq[String]) = estMap(CountMinSketch.cmsEstimate(
      CountMinSketch.cmsState(blocks.map(block(_, 20)).reduce(_ union _),
        "v", D, M), probes, "p", D, M))
    def storeEst() = estMap(
      StreamingFrequency.estimate(spark, dir, probes, "p", D, M))
    StreamingFrequency.initStore(block("p", 20), "v", dir, D, M)
    StreamingFrequency.processBatch(block("q1-", 20), 1L, "v", probes, "p",
      dir, D, M)
    // compact stops at its commit point: staging and marker written,
    // the swap never run
    SegmentStore.commitFold(spark, s"$dir/cms", Long.MaxValue,
      CountMinSketch.cmsMergeState(SegmentStore.read(spark, s"$dir/cms")
        .select("row_id", "bucket", "cnt")).localCheckpoint(true), Nil)
    StreamingFrequency.processBatch(block("q2-", 20), 2L, "v", probes, "p",
      dir, D, M)
    assert(storeEst() == batchEst(tags.take(3)))
    StreamingFrequency.compact(spark, dir)
    assert(storeEst() == batchEst(tags.take(3)))
    assert(estMap(StreamingFrequency.processBatch(block("q3-", 20), 3L, "v",
      probes, "p", dir, D, M)) == batchEst(tags))
  }
}
