package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming fragment dedup: a boilerplate paragraph re-appearing in a
  * LATER micro-batch is matched against both the bootstrap corpus and
  * earlier batches; replay is idempotent.
  */
class StreamingCdcDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(17)
  private def prose(tag: String, n: Int) =
    (0 until n).map(_ => s"$tag${rnd.nextInt(400)}").mkString(" ")

  test("a fragment introduced by batch 1 is caught when batch 2 repeats " +
    "it (cross-batch), and bootstrap fragments match immediately") {
    val boiler = prose("b", 60)   // bootstrap boilerplate
    val fresh = prose("f", 60)    // first appears in batch 1
    val corpus = Seq(
      (0L, boiler),
      (1L, prose("u", 40))
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("scdc").toString
    StreamingCdcDedup.initStore(corpus, "doc_id", "text", s"$dir/frags")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = StreamingCdcDedup.attach(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/frags", s"$dir/ckpt") { m =>
      sink ++= m.select("id_standing", "id_new").as[(Long, Long)].collect()
    }
    try {
      in.addData((100L, fresh), (101L, prose("n", 40)))
      q.processAllAvailable()
      assert(sink.isEmpty, s"nothing in batch 1 repeats the corpus: $sink")
      in.addData((200L, fresh), (201L, boiler))
      q.processAllAvailable()
      val pairs = sink.toSet
      assert(pairs.contains((100L, 200L)),
        s"cross-batch fragment (100 → 200) missed: $pairs")
      assert(pairs.contains((0L, 201L)),
        s"bootstrap fragment (0 → 201) missed: $pairs")
      assert(!pairs.exists(p => p._2 == 101L))
    } finally q.stop()
  }

  test("replay idempotence: reprocessing a batch leaves the store and a " +
    "later batch's matches unchanged") {
    val boiler = prose("c", 60)
    // the empty bootstrap: the first batch reads a store with no data
    for (corpus <- Seq(Seq((0L, prose("z", 40))), Seq.empty[(Long, String)])) {
      val dir = java.nio.file.Files.createTempDirectory("scdcr").toString
      StreamingCdcDedup.initStore(corpus.toDF("doc_id", "text"), "doc_id",
        "text", s"$dir/frags")
      val batch = Seq((100L, boiler)).toDF("doc_id", "text")
      def run() = StreamingCdcDedup.processBatch(batch, 0L, "doc_id",
        "text", s"$dir/frags").count()
      assert(run() == 0L)
      val rows = spark.read.parquet(s"$dir/frags").count()
      assert(run() == 0L) // replay: no self-matches
      assert(spark.read.parquet(s"$dir/frags").count() == rows)
      // one row per shared FRAGMENT (chunk grain), each exactly once: a
      // replayed batch 0 would double every (chunk_hash, standing, new) row
      val m2 = StreamingCdcDedup.processBatch(
        Seq((200L, boiler)).toDF("doc_id", "text"), 1L, "doc_id", "text",
        s"$dir/frags")
        .select("chunk_hash", "id_standing", "chunk_id_standing", "id_new",
          "chunk_id_new")
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(m2.nonEmpty && m2.forall(r => r._2 == 100L && r._4 == 200L))
      assert(m2.length == m2.distinct.length,
        "duplicate fragment matches — replayed chunks leaked")
    }
  }
}
