package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Lexical

/** Streaming corpus card: the incremental report must equal the
  * batch-mode card of everything ingested BIT-FOR-BIT (including the
  * entropy double — the fold runs over merged exact counts, not partial
  * entropies), replay must be idempotent, and compaction must move
  * nothing.
  */
class StreamingLexicalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "source", "text")

  private val boot = docs(
    (1L, "s0", "a b a c"), (2L, "s0", "a b a c"), (3L, "s1", "x y"))
  private val b1 = docs((4L, "s0", "c d"), (5L, "s1", "x y"))
  private val b2 = docs((6L, "s1", "x z q"), (7L, "s2", "m n m"))

  private def cardMap(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, Long, Long, Long, Long, Long, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap

  test("incremental card == batch card of the concatenation, bitwise") {
    // the empty bootstrap: the first batch reads a store with no data;
    // without the bootstrap's duplicated doc no dup_ppm shows
    for ((corpus, dups) <- Seq(boot -> true, docs() -> false)) {
      val dir = java.nio.file.Files.createTempDirectory("slex").toString
      StreamingLexical.initStore(corpus, "source", "doc_id", "text", dir)
      StreamingLexical.processBatch(b1, 1L, "source", "doc_id", "text", dir)
      val inc = cardMap(StreamingLexical.processBatch(b2, 2L, "source",
        "doc_id", "text", dir))
      val whole = corpus.union(b1).union(b2)
      val batch = cardMap(Lexical.corpusCard(
        Lexical.wordCounts(whole, "source", "text"),
        Lexical.dupLedger(whole, "source", "text")))
      assert(inc == batch) // exact, entropy double included
      assert((batch("s0")._4 > 0L) == dups) // the duplicated doc: dup_ppm
      assert(cardMap(StreamingLexical.report(spark, dir)) == inc)
    }
  }

  test("zipfReport off the store == batch zipfSlope of the concatenation") {
    val dir = java.nio.file.Files.createTempDirectory("slexz").toString
    StreamingLexical.initStore(boot, "source", "doc_id", "text", dir)
    StreamingLexical.processBatch(b1, 1L, "source", "doc_id", "text", dir)
    StreamingLexical.processBatch(b2, 2L, "source", "doc_id", "text", dir)
    val inc = StreamingLexical.zipfReport(spark, dir, topV = 8)
      .as[(String, Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val batch = Lexical.zipfSlope(boot.union(b1).union(b2),
      "source", "text", topV = 8)
      .as[(String, Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(inc == batch && inc.nonEmpty)
  }

  test("heapsReport off the store == batch heapsLaw of the concatenation") {
    val dir = java.nio.file.Files.createTempDirectory("slexh").toString
    // docs per group spread over ids so several thresholds are non-empty
    val b0 = docs((1L, "g", "a b c d"), (5L, "g", "a b e f"))
    val b1h = docs((8L, "g", "a g h i"), (10L, "g", "a b c j"))
    StreamingLexical.initStore(b0, "source", "doc_id", "text", dir)
    StreamingLexical.processBatch(b1h, 1L, "source", "doc_id", "text", dir)
    val inc = StreamingLexical.heapsReport(spark, dir, points = 4)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    val batch = Lexical.heapsLaw(b0.union(b1h), "source", "doc_id",
      "text", points = 4)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(inc == batch && inc.nonEmpty)
  }

  test("replay idempotence and compaction invariance") {
    for (corpus <- Seq(boot, docs())) {
      val dir = java.nio.file.Files.createTempDirectory("slexr").toString
      StreamingLexical.initStore(corpus, "source", "doc_id", "text", dir)
      val e1 = cardMap(StreamingLexical.processBatch(b1, 1L, "source",
        "doc_id", "text", dir))
      val e2 = cardMap(StreamingLexical.processBatch(b1, 1L, "source",
        "doc_id", "text", dir))
      assert(e1 == e2)
      val rows = spark.read.parquet(s"$dir/wc").count()
      StreamingLexical.processBatch(b1, 1L, "source", "doc_id", "text", dir)
      assert(spark.read.parquet(s"$dir/wc").count() == rows)
      StreamingLexical.processBatch(b2, 2L, "source", "doc_id", "text", dir)
      val before = cardMap(StreamingLexical.report(spark, dir))
      val heapsBefore = StreamingLexical.heapsReport(spark, dir, points = 3)
        .as[(String, Long, Long, Long, Double, Double)].collect().toSet
      StreamingLexical.compact(spark, dir)
      assert(cardMap(StreamingLexical.report(spark, dir)) == before)
      assert(StreamingLexical.heapsReport(spark, dir, points = 3)
        .as[(String, Long, Long, Long, Double, Double)].collect().toSet
        == heapsBefore)
      // compaction collapsed to the bootstrap partition only
      assert(spark.read.parquet(s"$dir/wc").select("ingest_batch")
        .distinct().as[Long].collect().toSeq == Seq(-1L))
    }
  }
}
