package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan audit over the query registry: exchange (shuffle) and
  * whole-stage-codegen span counts per query — the per-round scale
  * review ("is there a shuffle here that becomes the bottleneck at
  * 100 TB?") as a repeatable main instead of ad-hoc explain dumps.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [q1,q2,...]
  * (defaults: sf0.01, every registry query).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.queries.ParseQueries.feedFixtureDir
    graft.queries.ParseQueries.companyMirrorDir
    val profile = Profile.install(spark)
    names.foreach { n =>
      try {
        val plan = profile.within(n) {
          SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString
        }
        val jobs = profile.drained()(n).jobs.count(_.sqlExecution)
        // pre-execution AQE plans carry no codegen markers, so count
        // the structural facts that survive: shuffles, broadcast joins,
        // window sorts, and file scans
        val ex = "Exchange".r.findAllIn(plan).length
        val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
        val win = "Window".r.findAllIn(plan).length
        val scans = "FileScan".r.findAllIn(plan).length
        // buildJobs — the jobs of SQL executions (checkpoints, streams,
        // collects) the build ran; a parquet schema read runs a job too,
        // but outside any execution — tells PlanFactsSpec which queries
        // build lazily (0) and which eagerly; the default suite guards
        // the lazy ones
        println(s"PLAN $n exchanges=$ex broadcastJoins=$bhj " +
          s"windows=$win fileScans=$scans buildJobs=$jobs")
        if (sys.env.contains("SPARK_GRAFT_PLAN_DUMP")) println(plan)
      } catch {
        case e: Throwable => println(s"PLAN $n ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
