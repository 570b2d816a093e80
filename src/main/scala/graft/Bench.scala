package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // testdata contract probe: the events timestamp physical type changed
    // silently mid-round once and broke 11 queries at analysis time —
    // print it up front so a regeneration is diagnosable in seconds.
    // Q.usCol adapts to LongType (NANOS via nanosAsLong) and Timestamp
    // (NTZ) (MICROS); anything else fails loudly there.
    System.err.println("[bench] events.ts type = " +
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType)
    // warm the session so timings reflect steady state rather than
    // first-query JVM/codegen warmup: scan + agg + join + window + noop
    // write compile the code paths the suite uses
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10000)
      li.groupBy("l_returnflag").agg(sum("l_quantity"))
        .join(li.select("l_returnflag").distinct(), "l_returnflag")
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag").orderBy("l_returnflag")))
        .write.format("noop").mode("overwrite").save()
    }
    // harness setup: materialize the feed-archive and company-mirror
    // fixtures outside the timing loop (the registry entries do no I/O)
    graft.queries.ParseQueries.feedFixtureDir
    graft.queries.ParseQueries.companyMirrorDir
    // Per-query Spark work (r17 verdict #6): this host's wall clock
    // drifts 1.2-3x within a run, so each query's first pass runs under
    // the profiler and its job counts (deterministic) plus stages, tasks,
    // shuffle, spill, per-job times and stream phases ride beside the
    // seconds in bench_out.json. Read once after the suite, after a bus
    // drain, so the counts are exact and nothing waits inside the loop.
    val profile = Profile.install(spark)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // deterministic name order: map-hash order would hand the codegen/JIT
    // warmup cost to a different query every run
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    // noop sink forces full evaluation of every output column — a bare
    // count() lets Catalyst prune unreferenced projections, which would
    // time scan+count instead of the operator under test
    def timeOnce(fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // COMMITTED per-query baseline (BENCH_BASELINE.txt: header `sf <name>`,
    // then `<query> <seconds>` lines, quiet-host sf0.1). Drives the
    // transient-outlier re-run below; applies only when this run's SF
    // matches the baseline's.
    val baselineFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BENCH_BASELINE.txt"))
    val sfName = new java.io.File(sfDir).getName
    val baseline: Map[String, Double] =
      if (!baselineFile.exists()) Map.empty
      else {
        // read strictly and close — the bench driver JVM is long-lived
        // and a leaked handle per run accumulates (r12 advice)
        val src = scala.io.Source.fromFile(baselineFile)
        val lines = try src.getLines().toList finally src.close()
        val hdrOk = lines.headOption.exists(_.trim == s"sf $sfName")
        if (!hdrOk) Map.empty
        else lines.drop(1).flatMap { l =>
          l.trim.split("\\s+") match {
            case Array(n, s) => scala.util.Try(n -> s.toDouble).toOption
            case _ => None
          }
        }.toMap
      }
    // INTERLEAVED ANCHORS (r10 verdict #3): a post-suite anchor pass is
    // blind to a transient slow window EARLY in the run — the r10 driver
    // bench had 8 queries at 2.5-8× their quiet-host times while the
    // final anchors sat in the quiet band. Re-time one cheap, code-frozen
    // query every 25 suite queries and emit the series, so any slow
    // window is visible in the artifact itself.
    val interleaveName = "q_join_agg"
    val interleaveFn = SparkEntry.queries.get(interleaveName)
    // warm the anchor once OUTSIDE the series so point 0 measures host
    // speed, not first-use codegen of this particular query
    interleaveFn.foreach(timeOnce(_))
    val series = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    // >3× the committed baseline: queue for a DEFERRED retry (r11 verdict
    // #2): an immediate re-run lands inside the same transient slow window
    // it is trying to adjudicate — r11/r12 artifacts showed first readings
    // up to 6× that melted only on later retries. Deferring the second
    // timing to AFTER the suite, with an adjacent anchor reading, makes
    // the artifact self-adjudicating: slow retry + slow anchor = host
    // still slow (inconclusive); slow retry + quiet anchor = real
    // regression; fast retry = one-off noise, absorbed via min().
    val deferred = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val firstPass = selected.zipWithIndex.map { case ((name, fn), i) =>
      if (i % 25 == 0) interleaveFn.foreach { af =>
        val (sec, err) = timeOnce(af)
        if (err.isEmpty) series += ((i, sec))
      }
      val (t1, err1) = profile.within(name)(timeOnce(fn))
      if (err1.isEmpty && baseline.get(name).exists(b => t1 > 3.0 * b))
        deferred += ((name, t1))
      (name, t1, err1)
    }
    // ANCHOR CALIBRATION (SOAK_r07): this host drifts 3-5× across days,
    // so cross-round query comparisons need a same-run host-speed
    // reference. Re-time five stable, code-frozen queries in a dedicated
    // pass AFTER the suite (steady state, position-independent) and emit
    // them in the JSON — consumers divide by the anchor ratio before
    // calling anything a regression.
    val anchorNames = Seq("q_join_agg", "q_lm_counts", "q_intersect",
      "q_heavy_hitters", "q_idx_parse")
    val anchors = anchorNames.flatMap { name =>
      SparkEntry.queries.get(name).flatMap { fn =>
        val (sec, err) = timeOnce(fn)
        if (err.isEmpty) Some(name -> sec) else None
      }
    }
    // DEFERRED RETRY PASS — after the suite and the anchor pass, so the
    // second timing is position-independent of whatever window slowed the
    // first. Each retry records its own ADJACENT anchor reading
    // (retry_anchors) so the artifact distinguishes "host still slow"
    // from "query really regressed" without cross-referencing timestamps.
    val retried = scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()
    val retryAnchors = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val retryTimes: Map[String, Double] = deferred.flatMap { case (name, _) =>
      SparkEntry.queries.get(name).flatMap { fn =>
        interleaveFn.foreach { af =>
          val (aSec, aErr) = timeOnce(af)
          if (aErr.isEmpty) retryAnchors += ((name, aSec))
        }
        val (t2, err2) = timeOnce(fn)
        if (err2.isEmpty) Some(name -> t2) else None
      }
    }.toMap
    // a reproduced slow time is a real regression; a one-off is host
    // noise absorbed via min() — both readings land in the artifact
    val results = firstPass.map { case (name, t1, err) =>
      retryTimes.get(name) match {
        case Some(t2) if err.isEmpty =>
          retried += ((name, t1, t2))
          (name, math.min(t1, t2), err)
        case _ => (name, t1, err)
      }
    }
    val qs = results.map { case (k, v, _) => Json.str(k) + ":" + v }
      .mkString("{", ",", "}")
    // a failed query records err (not a near-zero timing passed off as
    // success) and is excluded from the total so timings stay comparable;
    // only failures appear in the map — an all-null map doubled the line
    // length and overflowed the driver's tail capture in round 3
    val errs = results.collect { case (k, _, Some(e)) =>
      Json.str(k) + ":" + Json.str(e)
    }.mkString("{", ",", "}")
    val nFailed = results.count(_._3.isDefined)
    val total = results.collect { case (_, v, None) => v }.sum
    val anchorJson = anchors.map { case (k, v) => Json.str(k) + ":" + v }
      .mkString("{", ",", "}")
    val seriesJson = series.map { case (i, v) => s"[$i,$v]" }
      .mkString("[", ",", "]")
    val retryJson = retried.map { case (k, a, b) => Json.str(k) + s":[$a,$b]" }
      .mkString("{", ",", "}")
    val retryAnchorJson = retryAnchors.map { case (k, v) => Json.str(k) + ":" + v }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"n_failed":$nFailed,"anchors":$anchorJson,"anchor_series":$seriesJson,"retries":$retryJson,"retry_anchors":$retryAnchorJson,"sf":"$sfDir"}"""
    // stdout is the driver contract (one JSON line), but the driver's
    // capture keeps only a bounded TAIL of it — r16/r17 both lost the
    // whole per-query map because the full line (272 queries at double
    // precision, ~8.5 KB) can never fit a 2 KB tail, so PERF_r17 had no
    // ground-truth comparison at all (r17 verdict #1). The full line
    // still prints FIRST (nothing removed from the contract), and a
    // compact summary line prints LAST so any bounded tail ends with
    // one complete, parsable JSON object; the full record (plus the
    // per-query job counts and profiles) lives in bench_out.json
    // under $SPARK_GRAFT_OUT (default `target/`, so a run at the repo
    // root leaves the tracked files alone).
    val profiles = profile.drained()
    val jobJson = results.map { case (k, _, _) =>
      Json.str(k) + ":" + profiles(k).jobs.size }.mkString("{", ",", "}")
    val profileJson = results.map { case (k, _, _) =>
      Json.str(k) + ":" + profiles(k).json }.mkString("{", ",", "}")
    val fileJson = json.dropRight(1) +
      s""","job_counts":$jobJson,"profile":$profileJson}"""
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_OUT", "target"), "bench_out.json")
    val compactLine = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"anchors":$anchorJson,"detail":${Json.str(outFile.toString)},"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.createDirectories(outFile.toAbsolutePath.getParent)
      java.nio.file.Files.write(outFile, (fileJson + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"warn: could not write $outFile: $e") }
    println(json)
    println(compactLine)
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}
