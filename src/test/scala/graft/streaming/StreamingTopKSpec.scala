package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming top-k with certified bounds: every reported token must
  * satisfy mg_lower <= true <= cms_est, a token whose total beats the
  * emitted miss bound must be present even when light in every single
  * batch, replay must be idempotent, and compaction must keep the top-k
  * while growing (and recording) the miss bound by exactly the cut.
  */
class StreamingTopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val MG = 8
  private val D = 3
  private val M = 1 << 14 // wide: CMS collisions would blur the assertions

  test("bounds sandwich the truth and the heavy hitter wins") {
    val dir = java.nio.file.Files.createTempDirectory("stk").toString
    // corpus + 2 batches; 'hot' dominates overall
    val corpus = (Seq.fill(60)("hot") ++ (0 until 40).map(i => s"c$i")).toDF("v")
    val b1 = (Seq.fill(25)("hot") ++ Seq.fill(18)("warm") ++
      (0 until 30).map(i => s"x$i")).toDF("v")
    val b2 = (Seq.fill(15)("hot") ++ Seq.fill(22)("warm") ++
      (0 until 30).map(i => s"y$i")).toDF("v")
    StreamingTopK.initStore(corpus, "v", dir, MG, D, M)
    StreamingTopK.processBatch(b1, 1L, "v", dir, k = 5, MG, D, M)
    val out = StreamingTopK.processBatch(b2, 2L, "v", dir, k = 5, MG, D, M)
      .collect()
    assert(out.head.getString(0) == "hot")
    val truth = Map("hot" -> 100L, "warm" -> 40L)
    out.foreach { r =>
      val (tok, lo, est) = (r.getString(0), r.getLong(1), r.getLong(2))
      val t = truth.getOrElse(tok, 1L)
      assert(lo <= t, s"$tok: mg_lower $lo above truth $t")
      assert(est >= t, s"$tok: cms_est $est below truth $t")
    }
    // wide CMS, no collisions: the refined estimate is exact here
    assert(out.head.getLong(2) == 100L)
    assert(out.find(_.getString(0) == "warm").get.getLong(2) == 40L)
  }

  test("a token beating the miss bound surfaces even if light per batch") {
    val dir = java.nio.file.Files.createTempDirectory("stkm").toString
    // every batch: 'creep' appears 30× among 8 distinct fillers × 10 —
    // creep holds 30/110 > 1/8 of each batch, so MG (m=8) must track it
    def batch(tag: String) =
      (Seq.fill(30)("creep") ++
        (0 until 8).flatMap(i => Seq.fill(10)(s"$tag-f$i"))).toDF("v")
    StreamingTopK.initStore(batch("c"), "v", dir, MG, D, M)
    (1 to 3).foreach(i =>
      StreamingTopK.processBatch(batch(s"b$i"), i.toLong, "v", dir,
        k = 40, MG, D, M))
    val out = StreamingTopK.topk(spark, dir, k = 40, D, M).collect()
    val creep = out.find(_.getString(0) == "creep")
    assert(creep.isDefined, "guaranteed-present token missing")
    val missBound = out.head.getLong(3)
    // true creep total (120) beats the recorded miss bound → certified
    assert(120L > missBound)
    assert(creep.get.getLong(2) == 120L) // exact under the wide CMS
  }

  test("replay idempotence: reprocessing a batch changes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("stkr").toString
    StreamingTopK.initStore(Seq.fill(10)("a").toDF("v"), "v", dir, MG, D, M)
    val b = (Seq.fill(7)("b") ++ Seq.fill(3)("a")).toDF("v")
    val e1 = StreamingTopK.processBatch(b, 1L, "v", dir, 3, MG, D, M)
      .collect().toSeq
    val e2 = StreamingTopK.processBatch(b, 1L, "v", dir, 3, MG, D, M)
      .collect().toSeq
    assert(e1 == e2)
    val rows = spark.read.parquet(s"$dir/mg").count()
    StreamingTopK.processBatch(b, 1L, "v", dir, 3, MG, D, M)
    assert(spark.read.parquet(s"$dir/mg").count() == rows)
  }

  test("compaction keeps the top-k and records the grown miss bound") {
    // the empty bootstrap: the first batch reads a store with no data
    val boot = (Seq.fill(50)("big") ++ (0 until 20).map(i => s"s$i"))
    for ((corpus, big) <- Seq(boot -> 110L, Seq.empty[String] -> 60L)) {
      val dir = java.nio.file.Files.createTempDirectory("stkc").toString
      StreamingTopK.initStore(corpus.toDF("v"), "v", dir, MG, D, M)
      (1 to 3).foreach(i => StreamingTopK.processBatch(
        (Seq.fill(20)("big") ++ (0 until 20).map(j => s"t$i-$j")).toDF("v"),
        i.toLong, "v", dir, 3, MG, D, M))
      val before = StreamingTopK.topk(spark, dir, 3, D, M).collect()
      StreamingTopK.compact(spark, dir, MG)
      val after = StreamingTopK.topk(spark, dir, 3, D, M).collect()
      // the winner and its CMS estimate survive compaction unchanged
      assert(after.head.getString(0) == "big" &&
        after.head.getLong(2) == before.head.getLong(2))
      assert(after.head.getLong(2) == big)
      // candidate set folded to capacity; bound recorded and not shrunk
      assert(spark.read.parquet(s"$dir/mg").count() <= MG)
      assert(after.head.getLong(3) >= before.head.getLong(3))
      // bounds still valid after compaction
      assert(after.head.getLong(1) <= big)
    }
  }

  test("attach: top-k arrives per micro-batch and tracks the stream") {
    val dir = java.nio.file.Files.createTempDirectory("stka").toString
    StreamingTopK.initStore(Seq.fill(5)("w").toDF("v"), "v", dir, MG, D, M)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = StreamingTopK.attach(in.toDF().toDF("v"), "v", dir,
      java.nio.file.Files.createTempDirectory("stka-ck").toString,
      k = 1, MG, D, M) { t =>
      val r = t.collect().head
      sink += ((r.getString(0), r.getLong(2)))
    }
    try {
      in.addData(Seq.fill(4)("w") ++ Seq("z"): _*)
      q.processAllAvailable()
      in.addData("w", "z", "z")
      q.processAllAvailable()
      assert(sink.toSeq == Seq(("w", 9L), ("w", 10L)))
    } finally q.stop()
  }
}
