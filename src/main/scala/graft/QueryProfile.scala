package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Diagnostic main (not a graded surface): run named registry queries
  * under a job listener and print per-Spark-job wall times with call
  * sites, so a query's seconds decompose into its driver actions — the
  * §1 "measure first" tool for the fixed-phase floors, for any query
  * name (`q_family_append` profiles the family-store probe).
  *
  *   sbt "runMain graft.QueryProfile <sfDir> <query>[,<query>...]"
  *
  * Each query runs twice: a warmup pass (codegen/JIT) and a measured
  * pass under the listener, timed with the Bench noop-sink methodology.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.queries.ParseQueries.feedFixtureDir
    graft.queries.ParseQueries.companyMirrorDir
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("") + " | " +
          j.stageInfos.map(_.name.takeWhile(_ != '(')).mkString(",")
        starts.put(j.jobId, (j.time, desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, desc) = starts.getOrDefault(j.jobId, (j.time, "?"))
        lines.add(
          f"job ${j.jobId}%4d ${(j.time - t0) / 1000.0}%7.3fs  $desc")
      }
    }
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val warm = run() // codegen/JIT warmup
      lines.clear(); starts.clear()
      spark.sparkContext.addSparkListener(listener)
      val t = run()
      spark.sparkContext.removeSparkListener(listener)
      // drain listener-bus stragglers before printing — BEST-EFFORT:
      // under bus pressure late job-end events can still be dropped
      // after the bounded sleep, so counts/times may be incomplete
      // (acceptable for a diagnostic; the header says so)
      Thread.sleep(500)
      println(f"== $name warm=$warm%.2fs measured=$t%.2fs " +
        f"jobs=${lines.size} (job list best-effort: async bus drain)")
      lines.forEach(l => println(s"   $l"))
    }
    spark.stop()
  }
}
