package graft.operators

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.internal.SQLConf

/** Size-tiered EAGER materialization — the shared helper behind every
  * "compute once, reuse from both consumers" checkpoint on the engine's
  * hot paths (r17 verdict #7).
  *
  * `localCheckpoint(true)` is the right primitive at gate/batch scale:
  * one action, blocks held at `MEMORY_AND_DISK` (spillable, so memory
  * pressure is not the concern). What it is NOT is fault-tolerant — the
  * blocks live only in executor storage, so at real 100 TB scale a lost
  * executor kills the lineage of every corpus-sized frame materialized
  * that way (guide §5). Frames that are corpus-scale at 100 TB (the
  * CrossModal entity frame, the FamilyStore compaction tables, the CC
  * round edge lists, the fetched documents of `Fetcher.fetchAll`)
  * therefore route through this helper: every frame
  * first takes the cheap local tier, and one whose MEASURED block size
  * exceeds the threshold is then PROMOTED to a reliable checkpoint
  * (disk-backed files that survive executor loss) — one extra pass that
  * only re-reads the already-materialized local blocks, paid only above
  * the threshold.
  *
  * Measured, not estimated (r18): the first cut of this helper gated on
  * `optimizedPlan.stats.sizeInBytes`, and mis-tiered pervasively —
  * Catalyst's fallback estimate for a plan rooted at a checkpoint (a
  * `LogicalRDD`) is `defaultSizeInBytes` = Long.MaxValue, and the
  * no-CBO join estimate multiplies child sizes, so anything downstream
  * of a checkpoint or a join "exceeded" any threshold and gates paid
  * reliable-checkpoint fsyncs for kilobyte frames. Post-materialization
  * block sizes are exact, cost one driver-side storage-status lookup,
  * and a LAGGING lookup (the status store is listener-fed) degrades to
  * the local tier — the current behavior, never a wrong result.
  *
  * The threshold reads `spark.graft.localCheckpoint.maxBytes` (default
  * 8 GiB; `-1` pins the local tier unconditionally). The reliable
  * tier's directory comes from `spark.graft.checkpoint.dir` (default: a
  * tmpdir keyed by the application id; production points it at durable
  * storage). A frame whose materialized partition count times
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` stays within the
  * threshold skips the storage lookup outright (128 partitions at the
  * defaults) — see the fast-path comment in [[eager]] for why that
  * lookup must not run per tiny frame. Both ways of staying on the
  * local tier without a measurement are logged: the fast-path skip at
  * INFO (the expected case at gate scale), a storage lookup that finds
  * no entry at WARN (a frame of any size then stays local unmeasured).
  *
  * Both tiers are EAGER and both truncate lineage — callers that rely
  * on "materialized before the next write mutates the store" (the
  * pre-append-state contracts) are equally safe on either tier.
  *
  * '''Observed checkpoints.''' The iterative operators (the dedup
  * components loops, k-core, BFS, the family and suffix stores) read
  * their per-round counts off the round's own materialization instead
  * of paying a second action: [[observed]] attaches an `Observation`,
  * which completes on either tier (it fires on the local
  * materialization both paths start with). The observation arrives over
  * the listener bus, which can drop events under pressure, so the wait
  * is bounded; a missed (or empty) observation is recounted over the
  * materialized frame — one extra job, logged at WARN with the
  * caller's tag.
  */
object Materialize {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Materialize")
  private val DefaultMaxLocalBytes: Long = 8L * 1024 * 1024 * 1024
  private val ObservationWait = 60.seconds

  /** Eagerly materialize `df` on the size-appropriate tier (see object
    * doc). Returns the materialized frame; lineage is truncated on both
    * tiers.
    */
  def eager(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val ck = df.localCheckpoint(true)
    val maxLocal =
      try spark.conf.get("spark.graft.localCheckpoint.maxBytes",
        DefaultMaxLocalBytes.toString).toLong
      catch { case _: NumberFormatException => DefaultMaxLocalBytes }
    if (maxLocal < 0L) return ck
    val sc = spark.sparkContext
    val rdd = ck.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    // PARTITION-COUNT FAST PATH before any storage lookup (r18, found
    // on the closing bench): `getRDDStorageInfo` iterates EVERY
    // persistent RDD in the application — O(all checkpoints ever made)
    // per call, a tax that grows over a long-lived session (the CC
    // loop's per-round eager() doubled q_cc_components by suite
    // position ~34). AQE sizes post-shuffle partitions toward the
    // advisory size, so a frame whose partition count times that size
    // stays within maxBytes cannot plausibly exceed the threshold, and
    // the lookup is skipped for it entirely.
    val advisory = spark.sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (rdd.forall(_.getNumPartitions.toLong * advisory <= maxLocal)) {
      log.info(s"eager: ${rdd.map(_.getNumPartitions).mkString} " +
        s"partitions x $advisory B advisory <= maxBytes=$maxLocal — tier " +
        "measurement skipped, frame stays on the local tier")
      return ck
    }
    // the checkpointed blocks' REAL footprint (driver-side status
    // read, no job) — only consulted for plausibly-big frames
    val measured = rdd.flatMap { r =>
      sc.getRDDStorageInfo.find(_.id == r.id)
        .map(i => i.memSize + i.diskSize)
    }
    if (measured.isEmpty)
      log.warn("eager: no storage entry for the checkpointed frame " +
        s"(rdd ${rdd.map(_.id).mkString}) — footprint " +
        "unmeasured, frame stays on the local tier")
    if (measured.exists(_ > maxLocal)) {
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(
          spark.conf.get("spark.graft.checkpoint.dir",
            System.getProperty("java.io.tmpdir") +
              s"/graft_ckpt_${sc.applicationId}"))
      // promotion re-reads the local blocks (no recompute — the plan
      // roots at the materialized RDD) and writes the reliable files;
      // the superseded local blocks are cleaned by the ContextCleaner
      // once `ck` is unreachable
      ck.checkpoint(eager = true)
    } else ck
  }

  /** [[eager]] with `metrics` read off the same materializing action:
    * returns the materialized frame and one row of the metrics' values,
    * in order and under their aliases. The observation is awaited at
    * most 60 s; past that, or when it completes without values, the
    * same aggregate is computed over the materialized frame and a WARN
    * names `tag`. The materialized frame keeps every column of `df`, so
    * a metric may read a column the caller drops afterwards.
    */
  def observed(df: DataFrame, tag: String,
      metrics: Column*): (DataFrame, Row) =
    observedWith(df, tag, metrics, obs =>
      try Some(Await.result(obs.future, ObservationWait))
      catch { case _: TimeoutException => None })

  /** [[observed]] with the wait supplied by the caller (`None` or an
    * empty row takes the recount path) — the seam that runs either path
    * deterministically.
    */
  private[operators] def observedWith(df: DataFrame, tag: String,
      metrics: Seq[Column],
      await: Observation => Option[Row]): (DataFrame, Row) = {
    val obs = Observation()
    val ck = eager(df.observe(obs, metrics.head, metrics.tail: _*))
    // Spark completes an observation with an EMPTY row when the query
    // ran without executing the observed node; that row holds no values
    val row = await(obs).filter(_.length == metrics.length).getOrElse {
      log.warn(s"observed[$tag]: no observed metrics within " +
        s"$ObservationWait (the listener bus dropped or delayed the event, " +
        "or Spark completed the observation empty) — recounting over the " +
        "materialized frame, one extra job")
      ck.agg(metrics.head, metrics.tail: _*).head()
    }
    (ck, row)
  }
}
