package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.IndexReader

class PatternSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def entries = IndexReader.read(spark, TestSpark.resource("master.idx"))
    .withColumn("content", concat(lit("payload for "), col("cik")))

  test("exact tier reproduces {year}/QTR{quarter}/{cik} layout " +
    "(quarterly.py:101-134, test_quarterly.py:79-92)") {
    val dir = Files.createTempDirectory("sink").toString
    PatternSink.writeExact(entries, dir,
      dirPattern = "{year}/QTR{quarter}/{cik}")
    val disney = Paths.get(dir, "1993/QTR4/29082", "0000950131-94-000021.txt")
    assert(Files.exists(disney), s"missing $disney")
    assert(new String(Files.readAllBytes(disney)) == "payload for 29082")
  }

  test("date pattern + default accession filename (daily.py:134-166)") {
    val dir = Files.createTempDirectory("sink2").toString
    PatternSink.writeExact(entries, dir, dirPattern = "{date}/{cik}")
    assert(Files.exists(Paths.get(dir, "19931222/29082",
      "0000950131-94-000021.txt")))
  }

  test("analytic tier lays out (year, quarter) directories sorted by cik") {
    // 50 zero-padded CIKs in one input partition, over two quarters of
    // two years
    val rows = (0 until 50).flatMap { i =>
      val cik = f"${1000000 + i}%010d"
      Seq((cik, s"CO $i", "10-K", java.sql.Date.valueOf("2003-11-03")),
        (cik, s"CO $i", "10-Q", java.sql.Date.valueOf("2004-02-10")))
    }
    val input = rows.toDF("cik", "company_name", "form_type", "date_filed")
      .repartition(1)
    val dir = Files.createTempDirectory("sink3").toString + "/t"
    PatternSink.writeAnalytic(input, dir)

    def ls(p: java.nio.file.Path): Seq[String] = {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
    assert(ls(Paths.get(dir)).filter(_.startsWith("year=")) == Seq("year=2003", "year=2004"))
    val quarters = Seq("year=2003/quarter=4", "year=2004/quarter=1").map(Paths.get(dir, _))
    quarters.foreach { q =>
      val names = ls(q)
      assert(!names.exists(_.startsWith("cik=")), s"cik partition under $q: $names")
      assert(names.count(_.endsWith(".parquet")) == 1,
        s"one input partition must write one file per quarter: $q has $names")
    }

    val read = spark.read.parquet(dir)
    assert(read.count() == 100)
    assert(read.schema("cik").dataType == org.apache.spark.sql.types.StringType)
    // a zero-padded CIK reads back as the same string
    val padded = read.filter($"cik" === "0001000045")
    assert(padded.select("cik").as[String].collect().toSeq ==
      Seq("0001000045", "0001000045"))

    val pruned = read.filter($"year" === 2003 && $"cik" === "0001000045")
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metadata("PushedFilters").contains("EqualTo(cik,0001000045)"),
      scan.metadata("PushedFilters"))
    assert(scan.selectedPartitions.partitionCount == 1,
      s"year predicate must prune to one quarter: ${scan.metadata("PartitionFilters")}")
    assert(pruned.select("form_type").as[String].collect().toSeq == Seq("10-K"))
  }

  test("co-bucketed tables join with zero exchange (bucketBy locality)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    // idempotent across reruns: drop catalog entries AND stray locations
    Seq("li_bkt", "ord_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    PatternSink.writeBucketedTable(li, "li_bkt", "l_orderkey", 4)
    PatternSink.writeBucketedTable(
      ord.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_bkt",
      "l_orderkey", 4)
    // the merge hint goes on a join SIDE (a post-join hint attaches to
    // nothing); it forces sort-merge so the test proves BUCKET locality,
    // not a small-table broadcast
    val joined = spark.table("li_bkt").hint("merge")
      .join(spark.table("ord_bkt"), "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() ==
      li.join(ord, li("l_orderkey") === ord("o_orderkey")).count())
  }

  test("metadata JSON sink is byte-identical to the reference's " +
    "json.dumps(indent=2, sort_keys=True) (parser.py:66-72,131-135; " +
    "golden generated by running the reference parser on the fixture)") {
    val dir = Files.createTempDirectory("sink4").toString
    val container = graft.queries.ParseQueries.containerDoc
    val secDocs = graft.parse.MetaParser.explodeContainers(
      Seq(("fixture.txt", container)).toDF("path", "content"))
    PatternSink.writeMetadataJson(secDocs, dir)
    val got = new String(Files.readAllBytes(
      Paths.get(dir, "fixture_0.metadata.json")))
    val golden = new String(Files.readAllBytes(
      Paths.get(TestSpark.resource("metadata_0.json"))))
    assert(got == golden)
    // second SEC-DOCUMENT written too
    assert(Files.exists(Paths.get(dir, "fixture_1.metadata.json")))
    // subdir mode (create_subdir=True: parser.py:69-73)
    val dir2 = Files.createTempDirectory("sink5").toString
    PatternSink.writeMetadataJson(secDocs, dir2, createSubdir = true)
    assert(Files.exists(Paths.get(dir2, "fixture", "0.metadata.json")))
  }
}
