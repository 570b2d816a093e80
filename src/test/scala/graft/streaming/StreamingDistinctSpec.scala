package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.CardinalitySketch

/** Streaming distinct counting: the merged cross-batch estimate must
  * equal the batch-mode sketch of the concatenated corpus EXACTLY
  * (sketch mergeability), replay must be idempotent, and compaction
  * must not move any estimate.
  */
class StreamingDistinctSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vals(tag: String, from: Int, until: Int) =
    (from until until).map(i => s"$tag$i").toDF("v")

  test("cross-batch merge equals the batch sketch of the whole corpus") {
    // the empty bootstrap: the first batch reads a store with no data
    for (corpus <- Seq(vals("a", 0, 3000), vals("a", 0, 0))) {
      val dir = java.nio.file.Files.createTempDirectory("sdis").toString
      val b1 = vals("a", 2000, 5000) // overlaps the bootstrap
      val b2 = vals("b", 0, 1500)
      StreamingDistinct.initStore(corpus, "v", dir)
      StreamingDistinct.processBatch(b1, 1L, "v", dir)
      val est = StreamingDistinct.processBatch(b2, 2L, "v", dir)
        .collect().head
      val whole = corpus.union(b1).union(b2)
      val kmvB = CardinalitySketch.kmvEstimate(whole, "v").collect().head
      val hllB = CardinalitySketch.hllEstimate(whole, "v").collect().head
      assert((est.getLong(0), est.getLong(1), est.getLong(2)) ==
        (kmvB.getLong(0), kmvB.getLong(1), kmvB.getLong(2)))
      assert((est.getLong(3), est.getLong(4), est.getLong(5)) ==
        (hllB.getLong(0), hllB.getLong(1), hllB.getLong(2)))
      // and the store-level estimate (after the appends) agrees too
      val st = StreamingDistinct.estimate(spark, dir).collect().head
      assert(st == est)
    }
  }

  test("replay idempotence: reprocessing a batch changes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("sdisr").toString
    StreamingDistinct.initStore(vals("x", 0, 1000), "v", dir)
    val batch = vals("y", 0, 800)
    val e1 = StreamingDistinct.processBatch(batch, 1L, "v", dir)
      .collect().head
    val e2 = StreamingDistinct.processBatch(batch, 1L, "v", dir)
      .collect().head
    assert(e1 == e2)
    val rows = spark.read.parquet(s"$dir/kmv").count()
    StreamingDistinct.processBatch(batch, 1L, "v", dir)
    assert(spark.read.parquet(s"$dir/kmv").count() == rows)
  }

  test("compaction shrinks the store but moves no estimate") {
    for (boot <- Seq(vals("p", 0, 2000), vals("p", 0, 0))) {
      val dir = java.nio.file.Files.createTempDirectory("sdisc").toString
      StreamingDistinct.initStore(boot, "v", dir)
      (1 to 4).foreach(i => StreamingDistinct.processBatch(
        vals(s"q$i", 0, 900), i.toLong, "v", dir))
      val before = StreamingDistinct.estimate(spark, dir).collect().head
      val rowsBefore = spark.read.parquet(s"$dir/kmv").count()
      StreamingDistinct.compact(spark, dir)
      val after = StreamingDistinct.estimate(spark, dir).collect().head
      assert(after == before)
      assert(spark.read.parquet(s"$dir/kmv").count() <= 256)
      assert(spark.read.parquet(s"$dir/kmv").count() < rowsBefore)
      assert(spark.read.parquet(s"$dir/hll").count() <= 256)
      // a batch landing after compaction still merges correctly
      val e = StreamingDistinct.processBatch(vals("r", 0, 500), 9L, "v", dir)
        .collect().head
      val whole = boot
        .union((1 to 4).map(i => vals(s"q$i", 0, 900)).reduce(_ union _))
        .union(vals("r", 0, 500))
      val kmvB = CardinalitySketch.kmvEstimate(whole, "v").collect().head
      assert(e.getLong(2) == kmvB.getLong(2))
    }
  }

  test("attach: running estimates arrive per micro-batch and grow") {
    val dir = java.nio.file.Files.createTempDirectory("sdisa").toString
    StreamingDistinct.initStore(vals("s", 0, 100), "v", dir)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val sink = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingDistinct.attach(in.toDF().toDF("v"), "v", dir,
      java.nio.file.Files.createTempDirectory("sdisa-ck").toString) { est =>
      sink += est.collect().head.getLong(2) // kmv_dv
    }
    try {
      in.addData((100 until 160).map(i => s"s$i"): _*)
      q.processAllAvailable()
      in.addData((160 until 220).map(i => s"s$i"): _*)
      q.processAllAvailable()
      assert(sink.toSeq == Seq(160L, 220L)) // exact below k
    } finally q.stop()
  }
}
