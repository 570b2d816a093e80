package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shared machinery for the plan-fact regression gate: the structural
  * facts of each query's physical plan (exchanges, broadcast joins,
  * window sorts, file scans) must match the committed `PLANS_r{N}.txt`
  * baseline — a new shuffle or a lost broadcast in a PREVIOUSLY-AUDITED
  * query fails loud here instead of surfacing as a silent bench
  * regression.
  *
  * The baseline is recorded by [[PlanAudit]] on the sf0.01 testdata with
  * the same session shape as [[TestSpark]] (local[4], 4 shuffle
  * partitions, 10 MB broadcast threshold) — regenerate it with
  * `runMain graft.PlanAudit` after an INTENTIONAL plan change and commit
  * the diff alongside the operator change that caused it. The NEWEST
  * committed PLANS_r{N}.txt is picked up automatically.
  */
trait PlanFactsChecks { self: AnyFunSuite =>
  protected lazy val spark = TestSpark.spark

  protected val SfDir = "/root/testdata/sf0.01"

  /** Queries excluded even from the slow suite: their plan facts are
    * nondeterministic across sessions (sample-derived literals) or
    * their build depends on JVM-temp fixture paths.
    */
  protected val Excluded = Set.empty[String]

  protected case class Facts(ex: Int, bhj: Int, win: Int, scans: Int)

  protected lazy val baselineFile: java.io.File = {
    val Name = """PLANS_r(\d+)\.txt""".r
    val candidates = new java.io.File(".").listFiles().toSeq.flatMap { f =>
      f.getName match {
        case Name(n) => Some(n.toInt -> f)
        case _ => None
      }
    }
    assert(candidates.nonEmpty, "no PLANS_r{N}.txt baseline committed — " +
      "run `runMain graft.PlanAudit` and commit its output")
    candidates.maxBy(_._1)._2
  }

  /** Query -> (plan facts, Spark jobs its build ran). */
  protected lazy val baseline: Map[String, (Facts, Int)] = {
    val Line =
      ("""PLAN (\S+) exchanges=(\d+) broadcastJoins=(\d+) windows=(\d+) """ +
        """fileScans=(\d+) buildJobs=(\d+)""").r
    scala.io.Source.fromFile(baselineFile).getLines().collect {
      case Line(n, e, b, w, s, jobs) =>
        n -> (Facts(e.toInt, b.toInt, w.toInt, s.toInt), jobs.toInt)
    }.toMap
  }

  /** Builds with `buildJobs=0` ran no action, checkpoint or stream (a
    * parquet schema read is not counted): they compile a plan and
    * nothing more. */
  protected lazy val lazyBuilds: Set[String] =
    baseline.collect { case (n, (_, 0)) if !Excluded(n) => n }.toSet

  protected def currentFacts(name: String): Facts = {
    val plan = SparkEntry.queries(name)(spark, SfDir)
      .queryExecution.executedPlan.toString
    Facts(
      "Exchange".r.findAllIn(plan).length,
      "BroadcastHashJoin".r.findAllIn(plan).length,
      "Window".r.findAllIn(plan).length,
      "FileScan".r.findAllIn(plan).length)
  }

  protected def assertUnchanged(names: Seq[String]): Unit = {
    val drifted = names.flatMap { name =>
      val now = currentFacts(name)
      val base = baseline(name)._1
      if (now == base) None else Some(s"$name: baseline $base, now $now")
    }
    assert(drifted.isEmpty,
      s"${drifted.size} plan(s) drifted — if intentional, regenerate " +
        s"${baselineFile.getName} via `runMain graft.PlanAudit` and " +
        s"commit it:\n" + drifted.mkString("\n"))
  }
}

/** Default-run half of the gate: every query whose recorded build ran
  * no Spark job (`buildJobs=0`) constructs lazily (plan compilation
  * only — no eager localCheckpoint, no streaming harness, no collect),
  * so guarding it costs milliseconds per query in the ordinary
  * `sbt test` run; eager queries live in [[SlowPlanFactsSpec]]. A job
  * count, unlike a build time, does not move with host load.
  */
class PlanFactsSpec extends AnyFunSuite with PlanFactsChecks {

  private lazy val audited: Seq[String] = lazyBuilds.toSeq.sorted

  test("the lazy-build majority of the registry is plan-guarded") {
    assert(audited.size >= 100,
      s"only ${audited.size} queries with buildJobs=0 in " +
        s"${baselineFile.getName} — regenerate the baseline " +
        "(did PlanAudit stop emitting buildJobs?)")
  }

  test("plan facts unchanged across the audited registry") {
    assertUnchanged(audited)
  }
}

/** Opt-in half of the gate (r10 verdict #5): the eager-build remainder
  * — fixture IO, localCheckpoints, streaming harnesses at plan-build
  * time — diffed by test code instead of by hand, so the FULL registry
  * is plan-guarded at least once per round. Opt-in via env var (an
  * eager build of ~120 plans costs minutes, not milliseconds):
  *
  * {{{
  * SPARK_GRAFT_SLOW_PLANS=1 sbt "testOnly graft.SlowPlanFactsSpec"
  * }}}
  */
class SlowPlanFactsSpec extends AnyFunSuite with PlanFactsChecks {

  private lazy val slowAudited: Seq[String] =
    (baseline.keySet -- lazyBuilds -- Excluded).toSeq.sorted

  // a plain boolean: a cancel message renders the assumed expression,
  // and `sys.env.contains(…)` would render the whole environment
  private val optedIn = sys.env.contains("SPARK_GRAFT_SLOW_PLANS")

  private def optIn(): Unit =
    assume(optedIn,
      "opt-in suite: set SPARK_GRAFT_SLOW_PLANS=1 (run once per round)")

  test("fast + slow suites cover the ENTIRE committed baseline") {
    optIn()
    // every baseline line is lazy or eager by construction; what can
    // still go wrong is a baseline out of step with the registry
    val stale = baseline.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, "baseline lines for queries no longer in the " +
      "registry: " + stale.toSeq.sorted.mkString(", "))
    val unaudited = SparkEntry.queries.keySet -- baseline.keySet
    assert(unaudited.isEmpty, "registry queries missing from the " +
      "baseline — regenerate it: " + unaudited.toSeq.sorted.mkString(", "))
  }

  test("plan facts unchanged across the eager-build remainder") {
    optIn()
    assertUnchanged(slowAudited)
  }
}
