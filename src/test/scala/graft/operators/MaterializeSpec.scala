package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.{LogCapture, TestSpark}

/** Size-tiered materialization: the local tier is the default, the
  * reliable tier fires only past the MEASURED-size threshold, and both
  * tiers return the same rows eagerly. Observed checkpoints read the
  * same metric row off the observation and off the recount fallback.
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("below threshold: local tier, rows intact, lineage truncated") {
    val df = (1L to 500L).map(i => (i, s"row $i")).toDF("id", "s")
    val out = Materialize.eager(df)
    assert(out.queryExecution.analyzed.collectFirst {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
    }.contains(true), "must be checkpoint-rooted (lineage truncated)")
    assert(out.as[(Long, String)].collect().toSet ==
      (1L to 500L).map(i => (i, s"row $i")).toSet)
  }

  test("past the measured threshold: promoted to a RELIABLE checkpoint " +
      "(files on disk survive executor loss), same rows") {
    val key = "spark.graft.localCheckpoint.maxBytes"
    val prev = spark.conf.getOption(key)
    // any partition's advisory size and any measured frame exceed 1
    // byte, so the tiny test frame is measured and promoted
    spark.conf.set(key, "1")
    try {
      val df = (1L to 500L).map(i => (i, s"row $i")).toDF("id", "s")
      val out = Materialize.eager(df)
      assert(out.as[(Long, String)].collect().toSet ==
        (1L to 500L).map(i => (i, s"row $i")).toSet)
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.nonEmpty, "reliable tier must set a checkpoint dir")
      val files = new java.io.File(new java.net.URI(dir.get))
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).exists(_.exists(anyFile))
      assert(anyFile(files), "reliable checkpoint left no files on disk")
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("threshold -1 pins the local tier unconditionally") {
    val key = "spark.graft.localCheckpoint.maxBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val df = (1L to 100L).map(i => (i, i * 2)).toDF("a", "b")
      val out = Materialize.eager(df)
      assert(out.as[(Long, Long)].collect().toSet ==
        (1L to 100L).map(i => (i, i * 2)).toSet)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  private val docs = (1L to 500L).map(i => (i, i * 7919L % 1000L))

  /** A count and a DECIMAL(38,0) sum over full-range hashes — the shape
    * of the connected-components round fingerprint.
    */
  private def metrics = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(col("id"), col("v")).cast(DecimalType(38, 0))),
      lit(0).cast(DecimalType(38, 0))).as("hs"))

  test("observed: the observation and the recount fallback give the " +
      "same row for a count and a DECIMAL(38,0) sum") {
    val df = docs.toDF("id", "v")
    val (outObs, rowObs) = Materialize.observedWith(df, "spec.observed",
      metrics, obs => Some(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(60, "seconds"))))
    val (outRec, rowRec) = Materialize.observedWith(df, "spec.recount",
      metrics, _ => None)
    val expected = df.agg(metrics.head, metrics.tail: _*).head()
    assert(rowObs.getLong(0) == 500L)
    assert(rowObs == expected, s"observed $rowObs vs agg $expected")
    assert(rowRec == expected, s"recounted $rowRec vs agg $expected")
    // Spark completes an observation whose node never executed with an
    // empty row: that takes the recount path too
    assert(Materialize.observedWith(df, "spec.empty", metrics,
      _ => Some(org.apache.spark.sql.Row.empty))._2 == expected)
    assert(Materialize.observed(df, "spec.default", metrics: _*)._2 ==
      expected)
    for (out <- Seq(outObs, outRec))
      assert(out.as[(Long, Long)].collect().toSet == docs.toSet)
  }

  test("observed: the result is checkpoint-rooted (lineage truncated)") {
    val (out, row) = Materialize.observed(
      docs.toDF("id", "v").filter(col("v") > 10L), "spec.lineage",
      count(lit(1)).as("n"))
    assert(out.queryExecution.analyzed.collectFirst {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
    }.contains(true), "must be checkpoint-rooted (lineage truncated)")
    assert(row.getLong(0) == docs.count(_._2 > 10L))
  }

  test("observed: the recount fallback logs one WARN naming the tag") {
    val warns = LogCapture.warnings("graft.operators.Materialize") {
      Materialize.observedWith(docs.toDF("id", "v"), "spec.fallback-tag",
        metrics, _ => None)
    }
    assert(warns.count(_.contains("spec.fallback-tag")) == 1, warns)
    val quiet = LogCapture.warnings("graft.operators.Materialize") {
      Materialize.observed(docs.toDF("id", "v"), "spec.quiet-tag",
        metrics: _*)
    }
    assert(!quiet.exists(_.contains("spec.quiet-tag")), quiet)
  }
}
