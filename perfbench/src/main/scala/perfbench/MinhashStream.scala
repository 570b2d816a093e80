package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SegmentStore
import graft.streaming.StreamingMinhashDedup

/** Streaming near-duplicate dedup as a closed loop: the store is
  * bootstrapped from the first part of the seeded slice, then fixed-size
  * micro-batches are fed through a MemoryStream, each after the previous
  * one committed, with the committed-prefix compaction policy called
  * between batches. Every emitted pair must be a true pair with its exact
  * Jaccard (DuckDB reference); recall over the run must meet a floor.
  */
final class MinhashStream(spark: SparkSession, dir: Path, cfg: Json.Obj) extends Workload {
  import spark.implicits._

  private val Threshold = cfg.double("threshold")
  private val MaxBucket = 200
  private val RecallFloor = 0.9
  private val bootstrap = cfg.int("bootstrap_docs")
  private val batchDocs = cfg.int("batch_docs")
  private val maxSegments = cfg.long("max_segments")
  private val (idx, txt) = (dir.resolve("store/idx").toString, dir.resolve("store/txt").toString)
  private val ckpt = dir.resolve("store/ckpt").toString

  /** reference pairs by their larger id: (smaller id -> jaccard) */
  private val truth: Map[Long, Map[Long, Double]] =
    Files.readAllLines(dir.resolve("inputs/minhash_ref.tsv")).asScala.map { l =>
      val Array(a, b, j) = l.split('\t'); (b.toLong, a.toLong, j.toDouble)
    }.groupBy(_._1).map { case (b, xs) => b -> xs.map(x => x._2 -> x._3).toMap }

  private var docs: DataFrame = _
  private var streamDocs: IndexedSeq[(Long, String)] = _
  private var mem: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  @volatile private var emitted: Array[(Long, Long, Double)] = Array.empty
  private var nextBatch = 0
  private var segmentsMax = 0L
  private var matched = 0L
  private var expectedPairs = 0L
  private var textBytes = 0L
  private val batchLat = mutable.ArrayBuffer.empty[(Int, Double)]
  private val compactions = mutable.ArrayBuffer.empty[(Int, Double)] // (span, s)

  def stage(): Unit = {
    if (docs != null) docs.unpersist(blocking = true)
    docs = spark.read.parquet(dir.resolve("inputs/documents.parquet").toString)
      .select("doc_id", "text").cache()
    streamDocs = docs.filter(col("doc_id") >= bootstrap).orderBy("doc_id")
      .as[(Long, String)].collect().toIndexedSeq
    textBytes = docs.filter(col("doc_id") < bootstrap)
      .agg(sum(length(col("text")))).head().getLong(0)
  }

  private def start(): Unit = {
    StreamingMinhashDedup.initIndex(docs.filter(col("doc_id") < bootstrap), "doc_id", "text",
      idx, txt)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    mem = MemoryStream[(Long, String)]
    query = StreamingMinhashDedup.attach(mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      idx, txt, Threshold, ckpt, maxBucketSize = MaxBucket) { pairs =>
      emitted = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"),
        col("jaccard").cast("double")).as(Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaDouble)).collect()
    }
  }

  def pass(tr: Tracer): PassResult = {
    if (query == null) start()
    val k = nextBatch
    nextBatch += 1
    require((k + 1) * batchDocs <= streamDocs.size, s"input exhausted at batch $k")
    val rows = streamDocs.slice(k * batchDocs, (k + 1) * batchDocs)
    val failures = mutable.ArrayBuffer.empty[String]
    var lat = 0.0
    val (_, wall) = Main.timed(tr.span("stream.cycle") {
      val b = tr.open("stream.batch")
      tr.collector.foreach(_.batchSpan.put(k.toLong, b))
      emitted = Array.empty
      val t0 = System.nanoTime()
      mem.addData(rows)
      query.processAllAvailable()
      lat = (System.nanoTime() - t0) / 1e9
      tr.close(b)
      if (tr.enabled) batchLat += ((b, lat))
      segmentsMax = math.max(segmentsMax, SegmentStore.segmentCount(spark, idx))
      val (o, cs) = Main.timed(tr.span("stream.compact") {
        StreamingMinhashDedup.maybeCompactChecked(spark, idx, txt, ckpt, maxSegments)
      })
      if (o != SegmentStore.CompactIdle)
        compactions += ((if (tr.enabled) tr.byName("stream.compact").last.id else -1, cs))
      if (o == SegmentStore.CompactDeferred) failures += s"batch $k: compaction deferred"
    })
    // every emitted pair must be a reference pair with its exact Jaccard
    val ids = rows.map(_._1).toSet
    val got = emitted
    val bad = got.count { case (a, b, j) =>
      !truth.get(b).flatMap(_.get(a)).exists(r => math.abs(r - j) < 1e-9)
    }
    if (bad > 0) failures += s"batch $k: $bad of ${got.length} pairs are not reference pairs"
    val want = ids.toSeq.map(b => truth.getOrElse(b, Map.empty).size.toLong).sum
    expectedPairs += want
    matched += got.length - bad
    textBytes += rows.map(_._2.length.toLong).sum
    val disk = Main.dirBytes(dir.resolve("store/idx")) + Main.dirBytes(dir.resolve("store/txt"))
    val layer = if (!tr.enabled) Map.empty[String, Double]
      else Spark.metrics(tr, tr.byName("stream.cycle").last)
    PassResult(wall, rows.size.toLong, Seq(lat), failures.toSeq, disk, textBytes, layer)
  }

  def recall: Double = if (expectedPairs == 0) 1.0 else matched.toDouble / expectedPairs

  override def runFailures: Seq[String] =
    if (recall < RecallFloor) Seq(f"recall $recall%.4f below floor $RecallFloor") else Nil

  override def runLayer(tr: Tracer): Map[String, Double] = {
    val c = tr.collector.get
    c.drain()
    val traced = batchLat.map(_._1).toSet
    val prog = c.batchSpan.asScala.collect {
      case (batch, span) if traced.contains(span) => Option(c.progress.get(batch))
    }.flatten.toSeq
    def pct(key: String): Seq[(String, Double)] = {
      val xs = prog.flatMap(_.get(key)).map(_ / 1000.0).sorted
      val name = key match {
        case "triggerExecution" => "trigger_s"
        case "addBatch" => "add_batch_s"
        case "walCommit" => "wal_commit_s"
        case "commitOffsets" => "commit_offsets_s"
      }
      Seq(s"stream.${name}_p50" -> Main.median(xs), s"stream.${name}_tail" -> Main.tail(xs)._2)
    }
    val batchJobs = batchLat.map { case (s, _) => c.of(s).jobs.toDouble }.toSeq
    val compactSpans = compactions.map(_._1).filter(_ >= 0)
    Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets").flatMap(pct).toMap ++ Map(
      "stream.batch.jobs" -> Main.median(batchJobs),
      "stream.compact_s" -> Main.median(compactions.map(_._2).toSeq),
      "stream.compact.jobs" -> Main.median(compactSpans.map(id =>
        tr.inclusive(tr.all.find(_.id == id).get).jobs.toDouble).toSeq),
      "stream.segments_max" -> segmentsMax.toDouble,
      "stream.store_bytes" -> (Main.dirBytes(dir.resolve("store/idx")) +
        Main.dirBytes(dir.resolve("store/txt"))).toDouble,
      "stream.recall" -> recall)
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination()
  }
}
