package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one timed repetition of a workload did. `opLatencies` are the
  * waits a caller saw (a pass, a store call or a micro-batch).
  */
final case class PassResult(wallS: Double, items: Long, opLatencies: Seq[Double],
    failures: Seq[String], diskBytes: Long, inputBytes: Long,
    layer: Map[String, Double] = Map.empty)

trait Workload {
  /** Stage inputs in the program's form; may be repeated. */
  def stage(): Unit
  /** One repetition; an enabled tracer marks the layer boundaries. */
  def pass(tr: Tracer): PassResult
  /** Checks that hold over the whole run, not one pass. */
  def runFailures: Seq[String] = Nil
  /** Per-layer metrics that come from the whole run, not one pass. */
  def runLayer(tr: Tracer): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** One workload run in this JVM: set up, make the workload's fixed number
  * of timed passes, check every pass, write `result.json` into the run
  * directory. `--seconds` is a ceiling on the timed passes: a run that
  * reaches it fails rather than measuring less work. With `--trace 1`
  * traced and untraced passes alternate, the per-layer metrics come from
  * the traced ones, and the difference of their operation latencies is
  * the tracing overhead.
  */
object Main {

  /** Staging rounds; set-up time takes their median. */
  val StageRounds = 3

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        // no result.json: the run fails, whatever threads are still alive
        e.printStackTrace()
        System.exit(1)
    }

  def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = Paths.get(opts("dir"))
    val cfg = Json.readObject(dir.resolve("config.json"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(dir.resolve("checkpoints").toString)
    val collector = if (traced) Some(new Collector(spark.sparkContext)) else None
    collector.foreach { c =>
      spark.sparkContext.addSparkListener(c)
      spark.streams.addListener(c.streamListener)
    }
    val tr = new Tracer(spark.sparkContext, collector, s"$workload-${opts("seed")}")
    val off = new Tracer(spark.sparkContext, None, "")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val wl: Workload = workload match {
      case "edgar-ingest" => new EdgarIngest(spark, dir, cfg)
      case "minhash-stream" => new MinhashStream(spark, dir, cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: staging repeated, median taken; then the warm-up passes
    val stageS = (1 to StageRounds).map(_ => timed(wl.stage())._2)
    val warm = (1 to cfg.int("warmup_passes")).map(_ => wl.pass(off))
    val setupS = sessionS + median(stageS) + warm.map(_.wallS).sum

    val untracedRuns = mutable.ArrayBuffer.empty[PassResult]
    val tracedRuns = mutable.ArrayBuffer.empty[PassResult]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // exactly `passes` timed passes; a traced run splits them between the
    // two kinds, so it does the same work as an untraced one
    val want = if (traced) math.max(1, (cfg.int("passes") + 1) / 2) else cfg.int("passes")
    while (untracedRuns.size < want) {
      if (traced) tracedRuns += wl.pass(tr)
      untracedRuns += wl.pass(off)
      require(elapsed < seconds,
        f"timed passes reached the $seconds%.0f s ceiling after ${untracedRuns.size} of $want")
    }
    val timedS = elapsed
    val runLayer = if (traced) wl.runLayer(tr) else Map.empty[String, Double]
    wl.close()

    val passes = untracedRuns.toSeq ++ tracedRuns.toSeq
    val failures = (warm ++ passes).flatMap(_.failures) ++ wl.runFailures
    val attempted = (warm ++ passes).map(_.items).sum
    val failed = if (wl.runFailures.nonEmpty) attempted
      else (warm ++ passes).filter(_.failures.nonEmpty).map(_.items).sum
    val items = untracedRuns.map(_.items).sum
    val lat = untracedRuns.flatMap(_.opLatencies).sorted.toSeq
    val (tailPct, tailS) = tail(lat)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "wall_s" -> untracedRuns.map(_.wallS).sum,
      "items_per_s" -> items / untracedRuns.map(_.wallS).sum,
      "latency_p50_s" -> median(lat),
      "latency_tail_s" -> tailS,
      "peak_rss_mb" -> peakRssMb(),
      "disk_bytes_per_input_byte" ->
        median(untracedRuns.map(r => r.diskBytes.toDouble / r.inputBytes).toSeq))
    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      val keys = tracedRuns.flatMap(_.layer.keys).distinct
      keys.foreach(k => layer(k) = median(tracedRuns.flatMap(_.layer.get(k)).toSeq))
      layer ++= runLayer
      // per operation, so that maintenance between stream batches, which
      // falls on one kind of pass only, does not count as overhead
      layer("trace.overhead_s") = median(tracedRuns.flatMap(_.opLatencies).toSeq) - median(lat)
      layer("trace.spans") = tr.all.size.toDouble
      Files.write(dir.resolve("spans.jsonl"), tr.jsonLines.asJava, StandardCharsets.UTF_8)
    }
    val notes = Seq(
      s"passes untraced=${untracedRuns.size} traced=${tracedRuns.size} warmup=${warm.size} timed_s=$timedS",
      s"latency_tail_s is $tailPct of n=${lat.size} operations",
      s"pass wall_s in order: ${untracedRuns.map(r => f"${r.wallS}%.3f").mkString(" ")}",
      s"setup: session_s=$sessionS stage_s=${stageS.mkString(",")} warmup_s=${warm.map(_.wallS).mkString(",")}",
    ) ++ failures.take(20).map("FAILED: " + _)
    val out = new StringBuilder("{")
    out ++= s""""attempted": $attempted, "failed": $failed, """
    out ++= s""""end_to_end": {${e2e.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}, """
    out ++= s""""per_layer": {${layer.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}, """
    out ++= s""""notes": [${notes.map(Json.quote).mkString(", ")}]}"""
    Files.write(dir.resolve("result.json"), out.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p99.9/p99/p95/p90 with at least ten samples above
    * it. With fewer than a hundred samples none has, and the median is the
    * highest percentile the sample supports. */
  def tail(sorted: Seq[Double]): (String, Double) = {
    val n = sorted.size
    Seq(99.9, 99.0, 95.0, 90.0).find(p => n - math.ceil(p / 100 * n).toInt >= 10) match {
      case Some(p) => (s"p$p", sorted(math.ceil(p / 100 * n).toInt - 1))
      case None => ("p50", median(sorted))
    }
  }

  /** Highest resident set size of this JVM so far (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** The regular files under `p` (none when absent). */
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  /** Total size of the regular files under `p`. */
  def dirBytes(p: Path): Long = files(p).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
}

/** Minimal JSON access for the run config and the reference manifest,
  * through the Jackson that ships with Spark. */
object Json {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  private val mapper = new ObjectMapper()

  final class Obj(val node: JsonNode) {
    def int(k: String): Int = node.get(k).asInt()
    def long(k: String): Long = node.get(k).asLong()
    def double(k: String): Double = node.get(k).asDouble()
    def str(k: String): String = node.get(k).asText()
    def strs(k: String): Seq[String] = node.get(k).elements().asScala.map(_.asText()).toSeq
    def obj(k: String): Obj = new Obj(node.get(k))
    def fields: Seq[(String, JsonNode)] =
      node.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
  }

  def readObject(p: Path): Obj = new Obj(mapper.readTree(p.toFile))
  def parse(s: String): JsonNode = mapper.readTree(s)
  def quote(s: String): String = mapper.writeValueAsString(s)

  /** Number of object keys at every depth, array elements included. */
  def keyCount(n: JsonNode): Long =
    if (n.isObject) n.properties().asScala.toSeq.map(e => 1L + keyCount(e.getValue)).sum
    else if (n.isArray) n.elements().asScala.map(keyCount).sum
    else 0L
}
