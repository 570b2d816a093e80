package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.QuantileHistogram

/** Streaming quantiles: the merged cross-batch answer must equal the
  * batch-mode histogram quantiles of the concatenated corpus EXACTLY
  * (merge-exactness), the true order statistic must stay sandwiched,
  * replay must be idempotent, and compaction must move nothing.
  */
class StreamingQuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val S = 4
  private val Qs = Seq(500000L, 950000L)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq

  test("cross-batch merge equals the batch histogram of the whole") {
    // the empty bootstrap: the first batch reads a store with no data
    for (boot <- Seq((1L to 2000L).map(i => i * 5), Seq.empty[Long])) {
      val dir = java.nio.file.Files.createTempDirectory("sqnt").toString
      val corpus = boot.toDF("v")
      val b1 = (500L to 1200L).toDF("v") // interleaves the bootstrap range
      val b2 = (1L to 800L).map(i => i * i).toDF("v")
      StreamingQuantiles.initStore(corpus, "v", dir, S)
      StreamingQuantiles.processBatch(b1, 1L, "v", Qs, dir, S)
      val est = rows(StreamingQuantiles.processBatch(b2, 2L, "v", Qs, dir, S))
      val whole = corpus.union(b1).union(b2)
      val batch = rows(QuantileHistogram.quantiles(
        QuantileHistogram.histState(whole, "v", S), Qs))
      assert(est == batch)
      assert(rows(StreamingQuantiles.quantiles(spark, dir, Qs)) == est)
      // sandwich vs the true order statistics of the concatenated corpus
      val sorted = (boot ++ (500L to 1200L) ++
        (1L to 800L).map(i => i * i)).sorted
      est.foreach { case (q, rank, _, lo, hi) =>
        val truth = sorted((rank - 1).toInt)
        assert(lo <= truth && truth <= hi, s"q=$q: $truth not in [$lo,$hi]")
      }
    }
  }

  test("replay idempotence: reprocessing a batch changes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("sqntr").toString
    StreamingQuantiles.initStore((1L to 900L).toDF("v"), "v", dir, S)
    val b = (300L to 600L).toDF("v")
    val e1 = rows(StreamingQuantiles.processBatch(b, 1L, "v", Qs, dir, S))
    val e2 = rows(StreamingQuantiles.processBatch(b, 1L, "v", Qs, dir, S))
    assert(e1 == e2)
    val n = spark.read.parquet(s"$dir/qhist").count()
    StreamingQuantiles.processBatch(b, 1L, "v", Qs, dir, S)
    assert(spark.read.parquet(s"$dir/qhist").count() == n)
  }

  test("compaction shrinks the store but moves no quantile") {
    for (boot <- Seq(1L to 1500L, Seq.empty[Long])) {
      val dir = java.nio.file.Files.createTempDirectory("sqntc").toString
      StreamingQuantiles.initStore(boot.toDF("v"), "v", dir, S)
      (1 to 4).foreach(i => StreamingQuantiles.processBatch(
        (1L to 400L).map(x => x * i).toDF("v"), i.toLong, "v", Qs, dir, S))
      val before = rows(StreamingQuantiles.quantiles(spark, dir, Qs))
      val nBefore = spark.read.parquet(s"$dir/qhist").count()
      StreamingQuantiles.compact(spark, dir)
      assert(rows(StreamingQuantiles.quantiles(spark, dir, Qs)) == before)
      assert(spark.read.parquet(s"$dir/qhist").count() < nBefore)
    }
  }

  test("attach: quantiles arrive per micro-batch and track the stream") {
    val dir = java.nio.file.Files.createTempDirectory("sqnta").toString
    StreamingQuantiles.initStore((1L to 100L).toDF("v"), "v", dir, S)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val sink = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingQuantiles.attach(in.toDF().toDF("v"), "v",
      Seq(1000000L), dir,
      java.nio.file.Files.createTempDirectory("sqnta-ck").toString, S) { d =>
      sink += d.collect().head.getLong(1) // rank == N at the max quantile
    }
    try {
      in.addData(101L to 150L: _*)
      q.processAllAvailable()
      in.addData(151L to 160L: _*)
      q.processAllAvailable()
      assert(sink.toSeq == Seq(150L, 160L))
    } finally q.stop()
  }
}
