package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.EdgarFunctions._
import graft.ops.EntryOps
import graft.queries.Q._

/** Oracle-checked queries for the reference's relational operator surface
  * (SURVEY.md §2.1-2.9), expressed over the driver testdata tables. Each
  * entry exercises the library operator it is named for; the SEC-specific
  * parsing paths additionally run on inline fixture literals so the DuckDB
  * oracle can reproduce them.
  */
object CoreQueries {

  /** Synthetic master.idx fixture (format per
    * `tests/data/filings/master/master.idx`: 10 header lines then
    * pipe-delimited rows; values invented).
    */
  val idxFixture: Seq[(Int, String)] = Seq(
    1 -> "Description:           Master Index of EDGAR Dissemination Feed",
    2 -> "Last Data Received:    December 31, 1993",
    3 -> "CIK|Company Name|Form Type|Date Filed|Filename",
    4 -> "--------------------------------------------------------------------------------",
    5 -> "1000045|ACME STEEL CORP /DE/|10-Q|1993-11-12|edgar/data/1000045/0000912057-93-000123.txt",
    6 -> "1000045|ACME STEEL CORP /DE/|8-K|1993-12-01|edgar/data/1000045/0000912057-93-000456.txt",
    7 -> "1000120|BETA FUND TRUST|485BPOS|1993-10-05|edgar/data/1000120/0000912057-93-000789.txt",
    8 -> "1000120|BETA FUND TRUST|10-K|1993-12-30|edgar/data/1000120/0000912057-93-000999.txt",
    9 -> "1000200|GAMMA ENERGY INC|4|1993-12-15|edgar/data/1000200/0000912057-93-001111.txt")

  private def idxFixtureSqlValues: String =
    idxFixture.map { case (n, l) => s"($n, '${l.replace("'", "''")}')" }
      .mkString(", ")

  /** Drive a REAL Structured Streaming query inside a registry entry:
    * rows go through a `MemoryStream` in the given micro-batches (callers
    * order them by event time so the 0-second watermark never drops a
    * row), `build` runs in APPEND mode to a memory sink, and the emitted
    * rows come back as a batch DataFrame (materialized, so the sink's
    * temp view can be dropped and the entry re-invoked). Callers append
    * two far-future sentinel batches — the first advances the watermark,
    * the second triggers the flush batch (the watermark updates BETWEEN
    * micro-batches) — and filter the sentinel rows from the output.
    * Driver memory holds only the bounded harness slice the callers
    * select (~6.6k events), the same fixture-bound class as the
    * multimodal gates.
    *
    * INTERNAL-API NOTE: `MemoryStream` lives in
    * `org.apache.spark.sql.execution.streaming.runtime` (Spark 4.1), a
    * Spark-internal package that has moved across releases (it was
    * `...execution.streaming` pre-4.x). A compile failure here after a
    * Spark upgrade means THIS HARNESS needs the new import path — the
    * streaming operators under test use only stable public APIs.
    */
  /** State-store task count for the gates: a streaming query's state
    * partitioning is pinned at start from `spark.sql.shuffle.partitions`
    * — at the session's 32 that is 32 state tasks PER STORE PER
    * micro-batch of pure scheduling overhead for a ~6.6k-row bounded
    * harness slice. The gates drop to 1 for the duration of the
    * streaming query (set before `start()`, restored after `stop()`;
    * registry queries run sequentially, so the session-conf flip cannot
    * leak into a concurrent query). Semantics are partition-count
    * invariant — every gate's output is re-sorted and oracle-checked —
    * and a production deployment sizes this to its volume via
    * `graft.gate.statePartitions`.
    *
    * Why 1 and not 4 (r18, per-batch `durationMs` measurement, which
    * Bench's `profile.<query>.stream` now records): per micro-batch
    * a stream-stream join runs 4 state stores PER partition, and each
    * store commit is a delta-file write + fsync into the checkpoint —
    * at 4 partitions that is 16 fsyncs per batch, measured at
    * ~900 ms of summed task time (~250 ms updates) against a
    * fixture-bound state of a few thousand rows; at 1 partition the
    * same batch commits ~180 ms (~80 ms updates). The r17 driver pair
    * showed the gates ANTI-scale with local cores (q_stream_join
    * 13.8 s at c32 vs 7.6 s at c8) — fsync-bound work that more
    * threads only contend over is exactly the term this shrinks. The
    * residual per-batch floor (~0.4 s: incremental re-planning, 2-3
    * stage scheduling, offset/commit log writes) is partition-count
    * independent and stays.
    */
  private val GateStatePartitions =
    sys.props.getOrElse("graft.gate.statePartitions", "1")

  private def emitted[A](s: org.apache.spark.sql.SparkSession, name: String,
      batches: Seq[Seq[A]],
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)(
      implicit enc: org.apache.spark.sql.Encoder[A]): org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    s.catalog.dropTempView(name) // stale sink view from a prior invocation
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A]
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", GateStatePartitions)
    try {
      val q = build(in.toDF()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try batches.filter(_.nonEmpty).foreach { b =>
        in.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    val sink = s.table(name)
    val out = s.createDataFrame(
      s.sparkContext.parallelize(sink.collect().toSeq, 1), sink.schema)
    s.catalog.dropTempView(name)
    out
  }

  /** Part-chain graph for the traversal queries (`q_bfs_hops`/`q_sssp`):
    * consecutive (by `l_linenumber`) low-quantity lineitems within an
    * order contribute a directed `part → next part` edge weighted by the
    * source row's quantity; parallel edges collapse to their minimum
    * weight. The ≤10-quantity thinning keeps the sf0.01 graph expanding
    * through all 8 hops instead of saturating at hop 2.
    */
  private def partChainEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    t(s, dir, "lineitem")
      .filter(col("l_quantity") <= 10)
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"),
        col("l_quantity").cast(LongType).as("w"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
  }

  /** Shared edge + seed CTE head for the traversal oracles — the SQL
    * image of [[partChainEdges]].
    */
  private val chainEdgeCte: String =
    """WITH e AS MATERIALIZED (
      |  SELECT src, dst, MIN(w) AS w FROM (
      |    SELECT l_partkey AS src,
      |      LEAD(l_partkey) OVER (
      |        PARTITION BY l_orderkey ORDER BY l_linenumber) AS dst,
      |      CAST(l_quantity AS BIGINT) AS w
      |    FROM lineitem WHERE l_quantity <= 10) t
      |  WHERE dst IS NOT NULL AND src <> dst GROUP BY src, dst),
      |s AS (SELECT DISTINCT src AS node FROM e WHERE src <= 20)""".stripMargin

  private def ssspOracle(rounds: Int): String = {
    val head = chainEdgeCte +
      ",\nd0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM s)"
    val iters = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
         |  SELECT node, dist FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, d.dist + e.w AS dist
         |    FROM e JOIN d${i - 1} d ON e.src = d.node) u
         |  GROUP BY node)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT node, CAST(dist AS BIGINT) AS dist FROM d$rounds ORDER BY node"
  }

  val queries: Map[String, QueryFn] = Map(
    // §2.2 idx row extractor + §2.5 running filtered count, on the inline
    // fixture (same shape as the golden master.idx).
    "q_idx_parse" -> ((s, _) => {
      import s.implicits._
      val raw = s.createDataset(idxFixture).toDF("line_no", "value")
      val parsed = graft.functions.EdgarFunctions.parseIdxLines(raw)
        .filter(col("form_type") =!= "485BPOS") // entry_filter analog
      EntryOps.withRunningCount(parsed, "line_no")
        .select(col("cik"), col("company_name"), col("form_type"),
          col("date_filed"), col("file_name"), col("path"),
          asLong(col("num_previously_valid")).as("num_previously_valid"))
        .orderBy("num_previously_valid")
    }),

    // §2.4 entry_filter: predicate applied at the scan (pushdown).
    "q_entry_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") < 5)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")),

    // §2.4 predicate conjunction (form-type ∧ user filter analog).
    "q_filter_conjunction" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O"
          && col("o_totalprice").between(1000, 50000)
          && col("o_orderpriority").startsWith("1"))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy("o_orderkey")),

    // §2.4 date-boundary filters at quarter edges.
    "q_date_between" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(to_date(col("o_orderdate"))
          .between("1995-03-01", "1995-06-30"))
        .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType)
          .as("month"))
        .agg(asLong(count(lit(1))).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("month")),

    // §2.5 group-by-key with order-preserving collected list edge shape.
    "q_group_collect" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 100000)
        .groupBy(col("o_custkey"))
        .agg(
          asLong(count(lit(1))).as("n_orders"),
          array_join(transform(array_sort(collect_list(col("o_orderkey"))),
            x => x.cast(StringType)), ",").as("order_keys"))
        .orderBy("o_custkey")),

    // §2.5 running filtered count over an event stream.
    "q_running_count" -> ((s, dir) => {
      val kept = Q.events(s, dir).filter(col("event_type") === "click")
      EntryOps.withRunningCount(kept, "event_id")
        .select(col("event_id"), col("user_id"),
          asLong(col("num_previously_valid")).as("num_previously_valid"))
        .orderBy("event_id")
    }),

    // skew-safe salted join (ops/Skew.scala): lineitem × orders on the
    // order key with an 8-bucket salt — result must equal the plain join
    // (the oracle IS the plain join).
    "q_skew_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_quantity"),
          col("l_linenumber"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      graft.ops.Skew.saltedJoin(li, ord, "okey",
        saltSrc = col("l_linenumber"), buckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          asLong(count(lit(1))).as("n_rows"))
        .orderBy("o_orderpriority")
    }),

    // the scale form of the running count: partitioned by key (here
    // user_id, standing in for the per-idx-file partitioning real ingest
    // uses) — the window parallelizes instead of sorting globally on one
    // reducer.
    "q_running_count_partitioned" -> ((s, dir) => {
      val kept = Q.events(s, dir).filter(col("event_type") === "click")
      EntryOps.withRunningCount(kept, "event_id", partitionCols = Seq("user_id"))
        .select(col("event_id"), col("user_id"),
          asLong(col("num_previously_valid")).as("num_previously_valid"))
        .orderBy("event_id")
    }),

    // §2.6 CIK lookup join: digit-passthrough ∨ broadcast dim match ∨
    // unresolved, with ordered-coalesce precedence.
    "q_lookup_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("c_custkey"),
          coalesce(
            when(col("c_name").rlike("^[0-9]+$"), col("c_name")),
            col("n_name"), lit("UNRESOLVED")).as("resolved"))
        .orderBy("c_custkey")
    }),

    // §2.5 per-key union merge (_reducer): UNION ALL then re-group.
    "q_union_by_key" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      EntryOps.unionByKey(Seq(
        o.filter(col("o_orderpriority") === "1-URGENT"),
        o.filter(col("o_totalprice") > 150000)))
        .groupBy(col("o_custkey"))
        .agg(asLong(count(lit(1))).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_custkey")
    }),

    // §2.7 per-company `count` limit = per-key top-k window (NOT a global
    // limit), newest first, deterministic tiebreaker.
    "q_per_key_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), asLong(col("rn")).as("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // §2.6 anti join: the "skip unresolved lookups" shape.
    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy("c_custkey")),

    // §2.6 semi join.
    "q_semi_join" -> ((s, dir) =>
      t(s, dir, "supplier")
        .join(t(s, dir, "lineitem")
          .filter(to_date(col("l_shipdate")) >= lit("2000-01-01")),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_suppkey")),

    // §2.5 distinct.
    "q_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // §2.8 set ops.
    "q_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
        .except(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
        .orderBy("o_custkey")
    }),
    "q_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
        .intersect(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
        .orderBy("o_custkey")
    }),

    // §2.5 aggregation with exact decimal arithmetic (TPC-H Q1 shape);
    // partial (map-side) agg + column pruning at the scan.
    "q_agg_q1" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(to_date(col("l_shipdate")) <= lit("2000-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          // reduce to scale 4 BEFORE the double cast: DuckDB's wide
          // DECIMAL(38,8)->DOUBLE cast is off by an ulp at sf>=0.1
          // magnitudes (int128-scaled conversion); a scale-4 decimal is
          // int64-backed on both engines and converts exactly
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DecimalType(18, 4)).cast(DoubleType).as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1)))
            .as("avg_qty"),
          asLong(count(lit(1))).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // §2.6 multi-join + agg + top-k (TPC-H Q3 shape); broadcast dims.
    "q_join_agg" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(to_date(col("o_orderdate")) < lit("1996-01-01"))
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DoubleType).as("revenue"),
          asLong(count(lit(1))).as("n_items"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // §2.3 quarter math: get_quarter / get_month / add_quarter.
    "q_quarter_math" -> ((s, dir) => {
      val d = col("o_orderdate")
      t(s, dir, "orders")
        .groupBy(
          asLong(year(d)).as("y"),
          asLong(quarterOf(d)).as("q"))
        .agg(asLong(count(lit(1))).as("n"))
        .withColumn("next_y", asLong(nextYearOfQuarter(col("y"), col("q"))))
        .withColumn("next_q", asLong(nextQuarter(col("q"))))
        .withColumn("q_start_month", asLong(quarterStartMonth(col("q"))))
        .orderBy("y", "q")
    }),

    // §2.3 era-dependent idx date format (3 eras; dates shifted back 4
    // years so all three branches are exercised).
    "q_era_date_format" -> ((s, dir) => {
      val d = add_months(to_date(col("o_orderdate")), -48)
      t(s, dir, "orders")
        .select(d.as("d"), dailyIdxFilename(d).as("idx_filename"))
        .distinct()
        .orderBy("d")
    }),

    // §2.3 fill_days: date-range generator (sequence + explode), default
    // exclusive bounds like the reference.
    "q_fill_days" -> ((s, dir) => {
      val start = to_date(col("o_orderdate"))
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 20)
        .select(col("o_orderkey"),
          explode(fillDays(start, date_add(start, 7))).as("day"))
        .orderBy("o_orderkey", "day")
    }),

    // §2.3 scalar string battery: CIK zero-fill, upper, digit detection,
    // directory cleaning, accession number, href→.txt rewrite.
    "q_scalar_fns" -> ((s, dir) => {
      val fileName = concat(lit("edgar/data/"), col("c_custkey"), lit("/"),
        col("c_custkey"), lit("-94-000001.txt"))
      val href = concat(lit("https://x/Archives/"), col("c_custkey"),
        lit("-index.htm"))
      t(s, dir, "customer").select(
        col("c_custkey"),
        cikZfill(col("c_custkey")).as("cik10"),
        upper(col("c_name")).as("uname"),
        isAllDigits(col("c_name")).as("name_is_digits"),
        cleanDirectoryPath(col("c_name")).as("clean_dir"),
        accessionNumber(fileName).as("accession_number"),
        accessionToTxtUrl(href).as("txt_url"))
        .orderBy("c_custkey")
    }),

    // §2.7-adjacent: window frame running sum (exact decimal).
    "q_window_frames" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Q.events(s, dir)
        .select(col("user_id"), col("event_id"),
          sum(dec(col("value"))).over(w).cast(DoubleType).as("running"))
        .orderBy("user_id", "event_id")
    }),

    // grouping-sets family (free from Spark; §2.5 note).
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(asLong(count(lit(1))).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),
    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(asLong(count(lit(1))).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),
    // explicit GROUPING SETS with an asymmetric set list — (status,
    // priority), (priority), grand total — the shape neither rollup nor
    // cube expresses; one expand + one partial-agg'd shuffle in Spark.
    "q_grouping_sets" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")), Seq.empty[org.apache.spark.sql.Column]),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(asLong(count(lit(1))).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // §2.10 streaming-shaped: tumbling 1-hour window aggregation (batch
    // equivalence of the Structured Streaming daily-poll pipeline).
    "q_tumbling_window" -> ((s, dir) =>
      Q.events(s, dir)
        .groupBy(
          date_format(window(col("ts"), "1 hour").getField("start"),
            "yyyy-MM-dd HH:00").as("hour"),
          col("event_type"))
        .agg(asLong(count(lit(1))).as("n"), dsum(col("value")).as("v"))
        .orderBy("hour", "event_type")),

    // hopping (sliding) window aggregation: 6h windows every 3h — each
    // event lands in exactly window/slide = 2 windows; Spark's `window`
    // explodes map-side, the oracle replays the slot arithmetic.
    "q_hopping_window" -> ((s, dir) =>
      Q.events(s, dir)
        .groupBy(
          date_format(window(col("ts"), "6 hours", "3 hours")
            .getField("start"), "yyyy-MM-dd HH:00").as("win_start"),
          col("event_type"))
        .agg(asLong(count(lit(1))).as("n"), dsum(col("value")).as("v"))
        .orderBy("win_start", "event_type")),

    // as-of join (event attribution): each purchase matched to the same
    // user's latest view at or before it — union-window formulation, one
    // key shuffle, no range join; oracle is DuckDB's native ASOF JOIN.
    // ts compares in µs on both engines (Q.usCol adapts to the testdata's
    // timestamp physical type; DuckDB reads µs via epoch_us).
    "q_asof_join" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts", Q.usCol(ev0))
      val purchases = ev.filter(col("event_type") === lit("purchase"))
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === lit("view"))
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOfJoin.asOfJoin(purchases, views,
        Seq("user_id"), "ts", rightPrefix = "view_")
        .select(asLong(col("user_id")).as("user_id"),
          asLong(col("ts")).as("ts"),
          asLong(col("event_id")).as("event_id"),
          asLong(col("view_event_id")).as("view_event_id"),
          asLong(col("view_ts")).as("view_ts"))
        .orderBy("user_id", "ts")
    }),

    // sessionization: 6h-gap sessions per user (µs), lag + running sum
    // over one key shuffle.
    "q_sessionize" -> ((s, dir) =>
      graft.operators.Sessionize.sessionize(
        locally { val ev = t(s, dir, "events")
          ev.withColumn("ts", Q.usCol(ev)) }
          .select(col("user_id"), col("ts"), col("event_id")),
        Seq("user_id"), "ts", gap = 21600000000L)
        .select(asLong(col("user_id")).as("user_id"),
          asLong(col("ts")).as("ts"),
          asLong(col("event_id")).as("event_id"),
          asLong(col("session_seq")).as("session_seq"))
        .orderBy("user_id", "ts")),

    // the same 6h sessions through Spark's session_window — the
    // streaming-capable formulation (per-open-session state, no sorted
    // key history), batch face oracle-checked against the gap rule.
    // Exact-boundary events (next − prev == gap) MERGE in both forms.
    "q_session_window" -> ((s, dir) =>
      graft.streaming.StreamingSessionize.sessions(
        events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
        "user_id", "ts", "event_id", gap = "6 hours")
        .select(asLong(col("user_id")).as("user_id"),
          expr("unix_micros(session_start)").as("start_us"),
          expr("unix_micros(session_end)").as("end_us"),
          asLong(col("n_events")).as("n_events"),
          asLong(col("min_event")).as("min_event"),
          asLong(col("max_event")).as("max_event"))
        .orderBy("user_id", "start_us")),

    // the STREAMING face of session_window, driver-visible: the bounded
    // event slice replays through a real MemoryStream in 4 time-ordered
    // micro-batches (sessions split across batch boundaries must merge
    // in state), append mode emits each finalized session exactly once,
    // and the output must STILL equal the batch gap-rule oracle.
    "q_stream_sessions" -> ((s, dir) => {
      import s.implicits._
      val ev0 = t(s, dir, "events")
      val rows = ev0.filter(col("user_id") < 100)
        .select(col("user_id").cast(LongType), Q.usCol(ev0).cast(LongType),
          col("event_id").cast(LongType))
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._2)
      val flushTs = rows.map(_._2).max + 30L * 86400000000L
      val per = (rows.size + 3) / 4
      val batches = rows.grouped(math.max(per, 1)).toSeq ++
        Seq(Seq((-1L, flushTs, 0L)), Seq((-1L, flushTs + 86400000000L, 1L)))
      emitted[(Long, Long, Long)](s, "graft_stream_sessions", batches,
        in => graft.streaming.StreamingSessionize.sessions(
          in.toDF("user_id", "us", "event_id")
            .withColumn("ts", expr("timestamp_micros(us)")),
          "user_id", "ts", "event_id", gap = "6 hours"))
        .filter(col("user_id") >= 0)
        .select(asLong(col("user_id")).as("user_id"),
          expr("unix_micros(session_start)").as("start_us"),
          expr("unix_micros(session_end)").as("end_us"),
          asLong(col("n_events")).as("n_events"),
          asLong(col("min_event")).as("min_event"),
          asLong(col("max_event")).as("max_event"))
        .orderBy("user_id", "start_us")
    }),

    // the STREAMING face of the hopping window: same MemoryStream
    // harness, watermarked window(6h, 3h) aggregation in append mode —
    // every slot a row lands in must emit once with the exact decimal
    // sum the batch oracle computes.
    // the STREAMING face of the transition matrix: per-user LastEvent
    // state via flatMapGroupsWithState chains pairs ACROSS micro-batch
    // boundaries (the state a batch window can't carry); emitted pairs
    // run the batch face's count/normalize aggregation and must equal
    // the batch oracle on the same user slice. Pairs emit per batch —
    // no flush sentinel needed.
    "q_stream_transitions" -> ((s, dir) => {
      import s.implicits._
      val ev0 = t(s, dir, "events")
      val rows = ev0.filter(col("user_id") < 100)
        .select(col("user_id").cast(LongType), Q.usCol(ev0).cast(LongType),
          col("event_id").cast(LongType), col("event_type"))
        .as[(Long, Long, Long, String)].collect().toSeq
        .sortBy(r => (r._2, r._3))
      val batches = rows.grouped(math.max(1, (rows.size + 3) / 4)).toSeq
      emitted[(Long, Long, Long, String)](s, "graft_stream_transitions",
        batches,
        in => graft.streaming.StreamingTransitions.pairs(
          in.toDF("user_id", "us", "event_id", "event_type")).toDF())
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_from", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), asLong(col("n")).as("n"),
          asLong(col("n_from")).as("n_from"),
          (col("n").cast(org.apache.spark.sql.types.DoubleType) /
            col("n_from")).as("p"))
        .orderBy("from_type", "to_type")
    }),

    // streaming funnel through a real MemoryStream: per-user chain
    // state advances across 4 time-ordered micro-batches
    // (flatMapGroupsWithState), each batch emits a versioned snapshot,
    // and the max-version row per user must equal the batch funnel —
    // the oracle is the same step-chain SQL as q_funnel on the slice.
    "q_stream_funnel" -> ((s, dir) => {
      import s.implicits._
      val ev0 = t(s, dir, "events")
      val rows = ev0.filter(col("user_id") < 100)
        .select(col("user_id").cast(LongType), Q.usCol(ev0).cast(LongType),
          col("event_id").cast(LongType), col("event_type"))
        .as[(Long, Long, Long, String)].collect().toSeq
        .sortBy(r => (r._2, r._3))
      val batches = rows.grouped(math.max(1, (rows.size + 3) / 4)).toSeq
      val snaps = emitted[(Long, Long, Long, String)](s,
        "graft_stream_funnel", batches,
        in => graft.streaming.StreamingFunnel.chains(
          in.toDF("user_id", "us", "event_id", "event_type"),
          Seq("signup", "view", "click", "purchase")).toDF())
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("version").desc)
      val cols = asLong(col("user_id")).as("user_id") +:
        asLong(col("depth")).as("depth") +:
        (1 to 4).map(i => when(
          element_at(col("ts"), i) =!= lit(Long.MinValue),
          element_at(col("ts"), i)).as(s"t_$i"))
      snaps.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(cols: _*)
        .orderBy("user_id")
    }),

    // REAL stream-stream interval join over one tagged MemoryStream
    // split into its purchase (tag 0) and view (tag 1) sides: each
    // lockstep step adds both sides' chunks in ONE addData, so no
    // trigger can fire between them and the micro-batch count is fixed.
    // Purchases join the same user's views in the strictly preceding
    // 24 h — inner matches emit per micro-batch with no flush sentinel
    // needed (only state EVICTION waits on the watermark). The oracle
    // replays the identical slice as a batch range join.
    "q_stream_join" -> ((s, dir) => {
      import s.implicits._
      val ev0 = t(s, dir, "events")
      def side(tp: String, tag: Long): Seq[(Long, Long, Long, Long)] =
        ev0.filter(col("user_id") < 100 && col("event_type") === tp)
          .select(lit(tag), col("user_id").cast(LongType),
            Q.usCol(ev0).cast(LongType), col("event_id").cast(LongType))
          .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._3)
      def chunks(xs: Seq[(Long, Long, Long, Long)]) =
        xs.grouped(math.max(1, (xs.size + 3) / 4)).toSeq
      val steps = chunks(side("purchase", 0L))
        .zipAll(chunks(side("view", 1L)), Nil, Nil)
        .map { case (p, v) => p ++ v }
      emitted[(Long, Long, Long, Long)](s, "graft_stream_join", steps,
        in => {
          def part(tag: Long, names: String*) =
            in.filter(col("_1") === tag).drop("_1").toDF(names: _*)
          graft.streaming.StreamingIntervalJoin.joinWithin(
            part(0L, "user_id", "p_us", "p_id")
              .withColumn("p_ts", expr("timestamp_micros(p_us)"))
              .drop("p_us"),
            part(1L, "user_id", "v_us", "v_id")
              .withColumn("v_ts", expr("timestamp_micros(v_us)"))
              .drop("v_us"),
            "user_id", "p_ts", "v_ts",
            lookback = "24 hours", delayThreshold = "30 days")
        })
        .select(asLong(col("user_id")).as("user_id"),
          expr("unix_micros(p_ts)").as("p_us"),
          asLong(col("p_id")).as("p_id"),
          expr("unix_micros(v_ts)").as("v_us"),
          asLong(col("v_id")).as("v_id"))
        .orderBy("user_id", "p_us", "p_id", "v_us", "v_id")
    }),

    // stream-static enrichment through a real MemoryStream: each event
    // micro-batch left-joins the static customer dim via broadcast —
    // stateless, shuffle-free per batch, misses pass through as nulls.
    "q_stream_enrich" -> ((s, dir) => {
      import s.implicits._
      val ev0 = t(s, dir, "events")
      val rows = ev0.filter(col("user_id") < 100)
        .select(col("event_id").cast(LongType), col("user_id").cast(LongType),
          col("event_type"))
        .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      emitted[(Long, Long, String)](s, "graft_stream_enrich",
        rows.grouped(math.max(1, (rows.size + 3) / 4)).toSeq,
        in => graft.streaming.StreamingEnrich.withDimension(
          in.toDF("event_id", "user_id", "event_type"), dim,
          col("user_id") === col("c_custkey")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_name"), col("c_mktsegment"))
        .orderBy("event_id")
    }),

    "q_stream_hopping" -> ((s, dir) => {
      import s.implicits._
      val ev0 = t(s, dir, "events")
      val rows = ev0.filter(col("user_id") < 100)
        .select(Q.usCol(ev0).cast(LongType), col("event_type"),
          col("value").cast(DoubleType))
        .as[(Long, String, Double)].collect().toSeq.sortBy(_._1)
      val flushTs = rows.map(_._1).max + 30L * 86400000000L
      val per = (rows.size + 3) / 4
      val batches = rows.grouped(math.max(per, 1)).toSeq ++
        Seq(Seq((flushTs, "zz_sentinel", 0.0)),
          Seq((flushTs + 30L * 86400000000L, "zz_sentinel", 0.0)))
      emitted[(Long, String, Double)](s, "graft_stream_hopping", batches,
        in => in.toDF("us", "event_type", "value")
          .withColumn("ts", expr("timestamp_micros(us)"))
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "6 hours", "3 hours"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
          .select(col("window.start").as("win_ts"), col("event_type"),
            col("n"), col("v")))
        .filter(col("event_type") =!= "zz_sentinel")
        .select(date_format(col("win_ts"), "yyyy-MM-dd HH:00").as("win_start"),
          col("event_type"), asLong(col("n")).as("n"), col("v"))
        .orderBy("win_start", "event_type")
    }),

    // cohort retention matrix: first-event-day cohorts × day offsets,
    // distinct users — two bounded-key shuffles, no window, no self-join
    // per-type arrival burstiness (Fano factor) over hourly buckets,
    // empty buckets counted across the global observed span — pure
    // integer evidence (T·Σc² − (Σc)²) plus one division.
    "q_burstiness" -> ((s, dir) =>
      graft.operators.EventAnalytics.burstiness(
        locally { val ev = t(s, dir, "events")
          ev.withColumn("us", Q.usCol(ev)) },
        "event_type", "us", bucketUs = 3600000000L)
        .select(col("event_type"), asLong(col("n_events")).as("n_events"),
          asLong(col("t_span")).as("t_span"),
          asLong(col("sum_sq")).as("sum_sq"),
          asLong(col("fano_num")).as("fano_num"),
          asLong(col("fano_den")).as("fano_den"), col("fano"))
        .orderBy("event_type")),

    // key-skew audit before keying a shuffle (here on the Zipfian word
    // column the dup-span pipeline shuffles): per order-of-magnitude
    // bucket of per-key row count, keys/rows/max and the rows' ppm
    // share — the "salt this key?" report; magnitude is the
    // decimal-digit count (exact, no float log2 edges)
    "q_key_skew" -> ((s, dir) =>
      graft.operators.CorpusOps.keySkewReport(
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("word")), "word")
        .select(asLong(col("magnitude")).as("magnitude"),
          asLong(col("n_keys")).as("n_keys"),
          asLong(col("n_rows")).as("n_rows"),
          asLong(col("max_count")).as("max_count"),
          col("share_ppm"))
        .orderBy("magnitude")),

    // first-order Markov next-event matrix: per-user strict
    // (ts, event_id)-ordered consecutive pairs → corpus-wide counts and
    // row-normalized probabilities (one exact division each) — the
    // next-event model behind session simulation and anomaly scoring.
    "q_transitions" -> ((s, dir) =>
      graft.operators.EventAnalytics.transitionMatrix(
        locally { val ev = t(s, dir, "events")
          ev.withColumn("us", Q.usCol(ev)) },
        "user_id", "us", "event_id", "event_type")
        .select(col("from_type"), col("to_type"), asLong(col("n")).as("n"),
          asLong(col("n_from")).as("n_from"), col("p"))
        .orderBy("from_type", "to_type")),

    "q_cohort_retention" -> ((s, dir) =>
      graft.operators.EventAnalytics.cohortRetention(
        locally { val ev = t(s, dir, "events")
          ev.withColumn("us", Q.usCol(ev)) },
        "user_id", "us")
        .select(col("cohort_day"), col("day_offset"),
          asLong(col("n_users")).as("n_users"))
        .orderBy("cohort_day", "day_offset")),

    // strict-order funnel signup→view→click→purchase: earliest valid
    // chain per user; out-of-order occurrences do not convert
    "q_funnel" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnel(
        locally { val ev = t(s, dir, "events")
          ev.withColumn("us", Q.usCol(ev)) },
        "user_id", "us", "event_type",
        Seq("signup", "view", "click", "purchase"))
        .select(asLong(col("user")).as("user_id"), col("depth"),
          col("t_1"), col("t_2"), col("t_3"), col("t_4"))
        .orderBy("user_id")),

    // last-touch attribution: each purchase credits the user's latest
    // strictly-preceding view/click within 24h — one window pass, no
    // self-join; unattributed purchases surface with null touch columns
    "q_attribution" -> ((s, dir) =>
      graft.operators.EventAnalytics.lastTouchAttribution(
        locally { val ev = t(s, dir, "events")
          ev.withColumn("us", Q.usCol(ev)) },
        "user_id", "us", "event_id", "event_type",
        touchTypes = Seq("view", "click"), convType = "purchase",
        lookbackUs = Some(86400000000L))
        .select(asLong(col("user")).as("user"), asLong(col("conv_id")).as("conv_id"),
          col("conv_us"), asLong(col("touch_id")).as("touch_id"),
          col("touch_type"), col("touch_us"), col("lag_us"))
        .orderBy("conv_id")),

    // linear multi-touch attribution: every view/click in the 24h
    // before a purchase shares equal credit (exact ppm) — bucketized
    // interval join, never a per-user nested loop; unattributed
    // purchases surface with n_touches=0
    "q_attribution_linear" -> ((s, dir) =>
      graft.operators.EventAnalytics.linearAttribution(
        locally { val ev = t(s, dir, "events")
          ev.withColumn("us", Q.usCol(ev))
            .filter(col("user_id") < 200) },
        "user_id", "us", "event_id", "event_type",
        touchTypes = Seq("view", "click"), convType = "purchase",
        lookbackUs = 86400000000L)
        .select(asLong(col("user")).as("user"),
          asLong(col("conv_id")).as("conv_id"), col("conv_us"),
          asLong(col("touch_id")).as("touch_id"), col("touch_type"),
          col("touch_us"), col("n_touches"), col("credit_ppm"))
        .orderBy("conv_id", "touch_id")),

    // interval join: views within the hour before each purchase —
    // bucketized (width = span) so it is an equi-join + filter, never a
    // per-key nested loop; oracle is the naive BETWEEN join.
    "q_range_join" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts", Q.usCol(ev0))
      val purchases = ev.filter(col("event_type") === lit("purchase"))
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === lit("view"))
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.Sessionize.rangeJoin(purchases, views,
        Seq("user_id"), "ts", lo = -3600000000L, hi = -1L,
        rightPrefix = "view_")
        .select(asLong(col("user_id")).as("user_id"),
          asLong(col("ts")).as("ts"),
          asLong(col("event_id")).as("event_id"),
          asLong(col("view_ts")).as("view_ts"),
          asLong(col("view_event_id")).as("view_event_id"))
        .orderBy("user_id", "ts", "view_ts")
    }),

    // time-series alignment: the running 'view' value linearly
    // interpolated at each purchase instant — one key exchange, two
    // in-partition sorts, incremental running-frame windows in both
    // directions (never an O(n²) UnboundedFollowing frame). The
    // interpolated double is one fixed IEEE association, so DuckDB
    // reproduces it bit-for-bit.
    "q_interpolate" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts", Q.usCol(ev0))
      val ser = ev.filter(col("event_type") === lit("view"))
        .select(col("user_id"), col("ts"), col("value"))
      val probes = ev.filter(col("event_type") === lit("purchase"))
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.TimeSeries.interpolateAt(ser, probes,
        Seq("user_id"), "ts", "value")
        .select(asLong(col("user_id")).as("user_id"),
          asLong(col("ts")).as("ts"),
          asLong(col("event_id")).as("event_id"),
          col("t0"), col("v0"), col("t1"), col("v1"), col("v_interp"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // per-source decile binning (curriculum/quality tiers): ntile over a
    // TOTAL order (doc_id tiebreak) so bucket membership is
    // run-deterministic; both engines use the SQL-standard front-loaded
    // remainder rule.
    "q_quality_deciles" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("decile", ntile(10).over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars"), col("doc_id"))))
        .select(asLong(col("doc_id")).as("doc_id"), col("source"),
          asLong(col("n_chars")).as("n_chars"),
          asLong(col("decile")).as("decile"))
        .orderBy("doc_id")),

    // trailing-10-row rolling features per user: bounded sliding frame
    // (add/retract per step, never a re-aggregating frame), decimal-
    // exact sums, one exact division for the mean.
    "q_rolling" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      graft.operators.TimeSeries.rollingStats(
        ev0.withColumn("us", Q.usCol(ev0)),
        Seq("user_id"), Seq("us", "event_id"), "value", nRows = 10)
        .select(asLong(col("user_id")).as("user_id"),
          col("us"), asLong(col("event_id")).as("event_id"),
          col("n_window"), col("roll_sum"), col("roll_min"),
          col("roll_max"), col("roll_mean"))
        .orderBy("user_id", "us", "event_id")
    }),

    // per-user EWMA of event values — the sequential decay recurrence as
    // one groupBy + sorted codegen'd left fold; DuckDB's list_reduce is
    // the same fold (seed = first element, α·v + (1−α)·acc), so the
    // float output hash-matches bit-for-bit.
    "q_ewma" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      graft.operators.TimeSeries.ewma(
        ev0.withColumn("us", Q.usCol(ev0)),
        Seq("user_id"), "us", "value", alpha = 0.3)
        .select(asLong(col("user_id")).as("user_id"),
          col("n_points"), col("ewma"))
        .orderBy("user_id")
    }),

    // declarative data-quality gate: six rule types over lineitem in
    // three passes total (ALL row-local rules ride ONE aggregation),
    // exact BIGINT violation counts. Thresholds chosen so some rules
    // FAIL on the testdata — the report must count, not just bless.
    "q_data_checks" -> ((s, dir) => {
      import graft.operators.DataChecks.Check._
      graft.operators.DataChecks.validate(t(s, dir, "lineitem"), Seq(
        NotNull("l_orderkey"),
        NotNull("l_partkey"),
        InRange("l_quantity", 1, 30),
        Accepted("l_returnflag", Seq("A", "N")),
        Satisfies("discount_le_tax", col("l_discount") <= col("l_tax")),
        Unique(Seq("l_orderkey", "l_linenumber")),
        ForeignKey("l_partkey", t(s, dir, "part"), "p_partkey")))
    }),

    // classical additive seasonal decomposition of hourly event value:
    // exact-decimal bucket sums, 2×24 centered-MA trend (interior
    // buckets only), phase-profile seasonal, fixed-order remainder —
    // every double a single rounding of exact decimal/integer inputs.
    "q_seasonal" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      graft.operators.TimeSeries.seasonalDecompose(ev0, Q.usCol(ev0),
        col("value"), bucketUs = 3600000000L, period = 24)
        .select(col("t"), col("phase"),
          asLong(col("n_events")).as("n_events"), col("x"), col("trend"),
          col("seasonal"), col("remainder"))
        .orderBy("t")
    }),

    // sample ACF of the hourly value series at lags 1..24 — the
    // periodicity diagnostic behind q_seasonal's period choice. Exact
    // decimal buckets, one mean division, t-ordered double folds;
    // gate face quantizes acf to ppb.
    "q_acf" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      graft.operators.TimeSeries.autocorrelation(ev0, Q.usCol(ev0),
        col("value"), bucketUs = 3600000000L, maxLag = 24)
        .select(col("lag"), asLong(col("n_pairs")).as("n_pairs"),
          asLong(col("n_buckets")).as("n_buckets"),
          Q.ppb(col("acf")).as("acf_ppb"))
        .orderBy("lag")
    }),

    // lead–lag cross-correlation between the hourly purchase-value and
    // view-value series at lags −6..6 (positive lag = views trail
    // purchases): same exact-decimal buckets, one mean division per
    // side, t-ordered folds, exactly-rounded sqrt; ccf quantized to
    // ppb at the gate.
    "q_ccf" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val withUs = ev0.withColumn("__eus", Q.usCol(ev0))
      graft.operators.TimeSeries.crossCorrelation(
        withUs.filter(col("event_type") === "purchase"), col("__eus"),
        col("value"),
        withUs.filter(col("event_type") === "view"), col("__eus"),
        col("value"),
        bucketUs = 3600000000L, maxLag = 6)
        .select(col("lag"), asLong(col("n_pairs")).as("n_pairs"),
          asLong(col("n_a")).as("n_a"), asLong(col("n_b")).as("n_b"),
          Q.ppb(col("ccf")).as("ccf_ppb"))
        .orderBy("lag")
    }),

    // fixed-point integer PageRank over the supply DAG (supplier → part →
    // order; offsets keep the key spaces disjoint). Orders are dangling —
    // their mass redistributes uniformly — and every rank is exact
    // integer arithmetic, so the 8-iteration unrolled oracle matches
    // bit-for-bit.
    "q_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val supply = li.select(col("l_suppkey").as("src"),
        (col("l_partkey") + lit(1000000L)).as("dst"))
      val fulfil = li.select((col("l_partkey") + lit(1000000L)).as("src"),
        (col("l_orderkey") + lit(2000000L)).as("dst"))
      graft.operators.Graph.pageRank(supply.unionByName(fulfil),
        "src", "dst", iterations = 8)
        .orderBy("node")
    }),

    // crawl-depth BFS over the part-chain graph (consecutive low-quantity
    // lineitems within an order link their parts): hop level from the
    // seed parts (key ≤ 20) by TRUE frontier expansion — per-round work
    // ∝ frontier, the shape that survives when the reachable set is a
    // sliver of a 100 TB graph. Bounded-depth recursive-CTE oracle.
    "q_bfs_hops" -> ((s, dir) => {
      val e = partChainEdges(s, dir)
      val seeds = e.filter(col("src") <= 20)
        .select(col("src").as("node")).distinct()
      graft.operators.Graph.bfsLevels(e, "src", "dst", seeds, maxHops = 8)
        .orderBy("node")
    }),

    // single-source shortest paths on the same graph, weight = quantity:
    // 8 rounds of distributed Bellman-Ford relaxation (exact BIGINT
    // distances, min-agg with map-side combine, no driver action in the
    // loop). Round-unrolled oracle reproduces every distance bit-for-bit.
    "q_sssp" -> ((s, dir) => {
      val e = partChainEdges(s, dir)
      val seeds = e.filter(col("src") <= 20)
        .select(col("src").as("node")).distinct()
      graft.operators.Graph.shortestPaths(e, "src", "dst", "w", seeds,
        rounds = 8)
        .orderBy("node")
    }),

    // deterministic synchronous label propagation over the part
    // co-purchase graph (same key-capped edge set as q_triangles):
    // 4 rounds of most-frequent-neighbor-label with min-label
    // tie-break — template-family detection for curation. The round
    // count unrolls into an exact relational oracle (one vote-count +
    // argmax CTE pair per round).
    "q_lpa_communities" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 5000)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val edges = li.select(col("o"), col("p").as("pa"))
        .join(li.select(col("o"), col("p").as("pb")), Seq("o"))
        .filter(col("pa") < col("pb"))
        .select(col("pa").as("src"), col("pb").as("dst"))
      graft.operators.Graph.labelPropagation(edges, "src", "dst",
        rounds = 4)
        .orderBy("node")
    }),

    // Newman modularity scorecard of that LPA partition: per community,
    // intra-edge count, degree mass, and the exact-integer contribution
    // q_num = 4·m·e_in − d_sum² (q_contrib = q_num/4m² is ONE exact
    // IEEE division) — the quality gate on a community detection run.
    "q_modularity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 5000)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val edges = li.select(col("o"), col("p").as("pa"))
        .join(li.select(col("o"), col("p").as("pb")), Seq("o"))
        .filter(col("pa") < col("pb"))
        .select(col("pa").as("src"), col("pb").as("dst"))
      val labels = graft.operators.Graph.labelPropagation(
        edges, "src", "dst", rounds = 4)
      graft.operators.Graph.modularity(edges, "src", "dst", labels)
        .select(col("label"), asLong(col("n_nodes")).as("n_nodes"),
          asLong(col("e_in")).as("e_in"), asLong(col("d_sum")).as("d_sum"),
          asLong(col("q_num")).as("q_num"), col("q_contrib"))
        .orderBy("label")
    }),

    // exact triangle census of the part co-purchase graph (parts sharing
    // an order) via degree orientation — wedge fan-out bounded by O(√m)
    // out-degrees, each triangle counted at its orientation-minimal
    // vertex only. Key-capped so the ORACLE's wedge join stays bounded.
    "q_triangles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 5000)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val edges = li.select(col("o"), col("p").as("pa"))
        .join(li.select(col("o"), col("p").as("pb")), Seq("o"))
        .filter(col("pa") < col("pb"))
        .select(col("pa").as("src"), col("pb").as("dst"))
      graft.operators.Graph.triangleCount(edges, "src", "dst")
    }),

    // SCD2 dimension-history merge over the customer dim: pre-existing
    // closed versions pass through; a batch with changed rows (%7: new
    // segment), no-op rows (%11: identical attrs), and first-seen keys
    // (%97, offset ids) closes and opens versions off ONE full-outer
    // key join (change detection + both output branches reuse it).
    "q_scd2_merge" -> ((s, dir) =>
      scd2Merged(s, dir).orderBy("c_custkey", "valid_from")),

    // the SCD2 read face: each order joined to the customer-dim version
    // valid at its order date — broadcast temporal lookup, zero shuffle
    // of the fact stream (at most one version matches by the SCD2
    // non-overlap invariant).
    "q_dim_version_at" -> ((s, dir) => {
      val facts = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").as("c_custkey"),
        col("o_orderdate").cast("date").as("odate"))
      graft.operators.Warehouse.versionAt(facts, scd2Merged(s, dir),
        "c_custkey", "odate")
        .select(col("o_orderkey"), col("c_custkey"), col("odate"),
          col("c_mktsegment"), col("valid_from"))
        .orderBy("o_orderkey")
    }),

    // skyline (Pareto frontier) of parts — cheapest-and-largest: local
    // per-partition prune (mapPartitions, the distributive-skyline
    // classic) then a dominance anti-join over the tiny candidate set;
    // oracle is the NOT EXISTS dominance query over the full table.
    "q_skyline" -> ((s, dir) =>
      graft.operators.Skyline.skyline(t(s, dir, "part"), "p_partkey",
        minCols = Seq("p_retailprice"), maxCols = Seq("p_size"))
        .orderBy("p_partkey")),

    // pairwise Pearson correlation with exact sufficient statistics: one
    // aggregation pass for all six pairs; even the float `corr` is
    // oracle-checked (identical double inputs + fixed IEEE association).
    "q_corr_pairs" -> ((s, dir) =>
      graft.operators.CorpusOps.correlationPairs(
        t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")),

    // per-group OLS drift trend (daily order volume per priority): one
    // pre-agg + one exact-evidence regression pass; slope and intercept
    // are fixed-association doubles, oracle-checked bitwise.
    "q_trend_ols" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("grp"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      graft.operators.CorpusOps.regressionByGroup(daily, "grp", "day",
        "n_orders")
        .orderBy("grp")
    }),

    // change-log apply (MERGE INTO): last-writer-wins per key via a
    // partial-aggregable struct argmax (no window sort), then one
    // full-outer upsert/delete pass. Fixture covers late-beats-early,
    // delete-beats-update, insert of unseen keys, and passthrough.
    "q_changelog_apply" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val snap = c.select(col("c_custkey"), col("c_mktsegment"), col("c_name"))
      val ch = c.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), lit("UPD5").as("c_mktsegment"),
          col("c_name"), lit(2L).as("ts"), lit("u").as("op"))
        .unionByName(c.filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey"), lit("EARLY").as("c_mktsegment"),
            col("c_name"), lit(1L).as("ts"), lit("u").as("op")))
        .unionByName(c.filter(col("c_custkey") % 9 === 0)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_name"),
            lit(3L).as("ts"), lit("d").as("op")))
        .unionByName(c.filter(col("c_custkey") % 50 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("NEWKEY").as("c_mktsegment"), col("c_name"),
            lit(1L).as("ts"), lit("i").as("op")))
      graft.operators.Warehouse.changeLogApply(snap, ch, "c_custkey",
        Seq("c_mktsegment", "c_name"), "ts")
        .orderBy("c_custkey")
    }),

    // 5-core of the part co-purchase graph (parts sharing an order,
    // key-capped): synchronous peeling to an EXACT fixpoint — whole
    // generations peel at once, so there is no tie order and the
    // round-unrolled oracle reproduces the cascade bit-for-bit (8 rounds
    // at this fixture; the oracle unrolls 12, extras are no-ops).
    "q_kcore" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 600)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val edges = li.select(col("o"), col("p").as("pa"))
        .join(li.select(col("o"), col("p").as("pb")), Seq("o"))
        .filter(col("pa") < col("pb"))
        .select(col("pa").as("src"), col("pb").as("dst"))
      graft.operators.Graph.kCore(edges, "src", "dst", k = 5)
        .select(col("node"), asLong(col("deg")).as("deg"))
        .orderBy("node")
    }),

    // Z-order (Morton) layout stats over orders, x = custkey, y = days
    // since 1992-01-01: per-tile min/max of BOTH dimensions — the file-
    // skipping table a 2-D probe prunes with. The interleaved key is one
    // unrolled codegen'd shift/mask expression, map-side.
    "q_zorder_layout" -> ((s, dir) =>
      graft.operators.Layout.zLayoutFiles(zOrderBase(s, dir), "x", "y",
        bits = 14, filePrefixBits = 12)
        .orderBy("file_id")),

    // the payoff metric: same rectangle probe (custkey 100-300 x days 1200-1600)
    // against the z-order tiling AND the 1-D x-range baseline —
    // min/max pruning scans strictly fewer rows under z.
    "q_zorder_prune" -> ((s, dir) => {
      val base = zOrderBase(s, dir)
      val zf = graft.operators.Layout.zLayoutFiles(base, "x", "y", 14, 12)
      val lf = graft.operators.Layout.linearLayoutFiles(base, "x", "y", 14, 12)
      graft.operators.Layout.pruneStats(zf, 100, 300, 1200, 1600)
        .select(lit("zorder").as("layout"), col("*"))
        .unionByName(
          graft.operators.Layout.pruneStats(lf, 100, 300, 1200, 1600)
            .select(lit("linear").as("layout"), col("*")))
        .orderBy("layout")
    }),

    // Benford first-digit audit over order totals — the classic
    // fabricated-data screen a warehouse runs on any money column.
    // Digit extraction is string-of-exact-integer (price quantized by
    // the portable floor(x·1e4 + 0.5), never log-bucketed — engines'
    // log10 at a power-of-ten boundary could disagree by 1 ulp);
    // expected shares ARE log10-computed, but quantized to ppb where a
    // 1-ulp input wobble cannot flip the floor (the nine products all
    // land ≥0.1 away from an integer). 9-row result, one partial-agg
    // shuffle.
    "q_benford" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_totalprice") > 0)
        .select(substring(
          floor(col("o_totalprice") * lit(10000.0) + lit(0.5))
            .cast(LongType).cast(StringType), 1, 1)
          .cast(LongType).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("n_total", sum(col("n")).over(Window.partitionBy(lit(1))))
        .select(col("digit"), asLong(col("n")).as("n"),
          asLong(col("n_total")).as("n_total"),
          expr("n * 1000000000L div n_total").as("observed_ppb"),
          floor(log10(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType))
            * lit(1.0e9) + lit(0.5)).cast(LongType).as("expected_ppb"))
        .orderBy("digit")),

    // URL-canonical dedup: two deliberately different raw shapes of the
    // same logical page (uppercase scheme/host + www + default port +
    // utm params + trailing slash + fragment vs the bare form) collapse
    // to one canonical key — the pre-content dedup pass of a web-scale
    // corpus. Pure codegen'd string built-ins (UrlFunctions), map-side
    // until the one canonical-key aggregation.
    "q_url_canonical" -> ((s, dir) => {
      val k = (col("doc_id") % 50).cast(StringType)
      val raw = when(col("doc_id") % 2 === 0,
        concat(lit("HTTPS://WWW."), col("source"),
          lit(".Example.COM:443/p/"), k, lit("/?id="), k,
          lit("&utm_source=feed&utm_campaign=x#frag")))
        .otherwise(concat(lit("https://"), col("source"),
          lit(".example.com/p/"), k, lit("?id="), k, lit("&utm_medium=em")))
      t(s, dir, "documents").select(col("doc_id"), raw.as("url"))
        .select(col("doc_id"),
          graft.functions.UrlFunctions.canonicalizeUrl(col("url"))
            .as("canonical"))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .select(col("canonical"), asLong(col("n_docs")).as("n_docs"),
          asLong(col("min_doc")).as("min_doc"))
        .orderBy("canonical")
    }),

    // REAL streaming dedup through the MemoryStream harness:
    // dropDuplicatesWithinWatermark over (user, type, day) carries seen
    // keys ACROSS micro-batches (a batch-window distinct can't), emits
    // each key once on first arrival, and evicts state by watermark in
    // production (the 365-day delay here spans the fixture, so the
    // stream's output must equal the batch DISTINCT exactly). Keys-only
    // projection AFTER the dedup makes the surviving-row choice
    // immaterial — the face is deterministic whatever the intra-batch
    // arrival interleaving.
    "q_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val ev0 = t(s, dir, "events")
      val rows = ev0.filter(col("user_id") < 100)
        .select(col("user_id").cast(LongType), Q.usCol(ev0).cast(LongType),
          col("event_type"))
        .as[(Long, Long, String)].collect().toSeq
        .sortBy(r => (r._2, r._1, r._3))
      val batches = rows.grouped(math.max(1, (rows.size + 3) / 4)).toSeq
      emitted[(Long, Long, String)](s, "graft_stream_dedup", batches,
        in => in.toDF("user_id", "us", "event_type")
          .withColumn("ts", expr("timestamp_micros(us)"))
          .withColumn("day", expr("us div 86400000000L"))
          .withWatermark("ts", "365 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
          .select(col("user_id"), col("event_type"), col("day")))
        .select(asLong(col("user_id")).as("user_id"), col("event_type"),
          asLong(col("day")).as("day"))
        .orderBy("user_id", "event_type", "day")
    }),

    // ABC / Pareto classification of parts by revenue: exact decimal
    // sums quantized to integral 1e-4 units (basis points, the *_e4
    // aliases), running share in exact ppm
    // (DECIMAL(38,0) product ÷ BIGINT total — the q_dsir_modweights
    // wide-integer pattern, no double in the chain), 70/95% class
    // cuts. The fact table takes one partial-agg shuffle; the running
    // window runs over the part DIM only (dim-sized even at 100 TB).
    "q_abc_analysis" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)))
          .as("rev_dec"))
        .select(col("partkey"),
          (col("rev_dec") * lit(10000)).cast(LongType).as("rev_e4"))
      val w = Window.orderBy(col("rev_e4").desc, col("partkey"))
      rev.withColumn("rnk", row_number().over(w))
        .withColumn("cum_e4", sum(col("rev_e4")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot_e4",
          sum(col("rev_e4")).over(Window.partitionBy(lit(1))))
        .select(col("partkey"),
          (col("rev_e4").cast(DoubleType) / 10000.0).as("revenue"),
          asLong(col("rnk")).as("rnk"),
          expr("CAST(CAST(cum_e4 AS DECIMAL(38,0)) * 1000000" +
            " div tot_e4 AS BIGINT)").as("cum_ppm"))
        .withColumn("abc_class",
          when(col("cum_ppm") <= 700000L, "A")
            .when(col("cum_ppm") <= 950000L, "B").otherwise("C"))
        .orderBy("rnk")
    }),

    // RFM segmentation: per-customer recency/frequency/monetary
    // quartiles (ntile ties broken by custkey — deterministic on both
    // engines), anchor = max order date so the face is fixture-stable.
    // One fact shuffle to the customer grain; the three ntile windows
    // run over the customer DIM.
    "q_rfm" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val base = o.groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).as("m_dec"))
      val anchor = o.agg(max(col("o_orderdate")).as("anchor"))
      val scored = base.crossJoin(broadcast(anchor))
        .select(col("custkey"),
          datediff(col("anchor").cast("date"), col("last_order").cast("date"))
            .cast(LongType).as("r_days"),
          asLong(col("n_orders")).as("n_orders"), col("m_dec"))
      scored
        .withColumn("r_score", ntile(4).over(
          Window.orderBy(col("r_days"), col("custkey"))))
        .withColumn("f_score", ntile(4).over(
          Window.orderBy(col("n_orders").desc, col("custkey"))))
        .withColumn("m_score", ntile(4).over(
          Window.orderBy(col("m_dec").desc, col("custkey"))))
        .select(col("custkey"), col("r_days"), col("n_orders"),
          col("m_dec").cast(DoubleType).as("monetary"),
          asLong(col("r_score")).as("r_score"),
          asLong(col("f_score")).as("f_score"),
          asLong(col("m_score")).as("m_score"),
          concat(col("r_score").cast(StringType),
            col("f_score").cast(StringType),
            col("m_score").cast(StringType)).as("segment"))
        .orderBy("custkey")
    }),

    // semi-structured payload parsing: events.props is a JSON string;
    // the engine parses it ONCE with a schema'd from_json (codegen'd,
    // null on malformed — the Spark-idiomatic path for a 100 TB
    // semi-structured column), then aggregates the typed field. The
    // oracle extracts the same integer with a regex so the gate never
    // depends on the oracle engine's JSON extension.
    "q_json_props" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            StructType(Seq(StructField("k", IntegerType)))).getField("k")
            .cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_parsed"),
          sum(col("k")).as("k_sum"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"),
          countDistinct(col("k")).as("k_distinct"))
        .select(col("event_type"), asLong(col("n")).as("n"),
          asLong(col("n_parsed")).as("n_parsed"),
          asLong(col("k_sum")).as("k_sum"),
          asLong(col("k_min")).as("k_min"),
          asLong(col("k_max")).as("k_max"),
          asLong(col("k_distinct")).as("k_distinct"))
        .orderBy("event_type")),

    // burst debounce report: an event is KEPT iff it is ≥ 5 min after
    // its predecessor in the same (user, type) lane (island heads —
    // the predecessor-gap formulation both engines express with one
    // lag window; the "previous KEPT" variant is recursive and
    // deliberately out of scope). Output is the per-type keep-rate
    // audit, integral ppm.
    "q_debounce" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("us", "event_id")
      ev0.select(col("user_id"), col("event_type"), col("event_id"),
        Q.usCol(ev0).as("us"))
        .withColumn("__prev", lag(col("us"), 1).over(w))
        .withColumn("kept",
          col("__prev").isNull || col("us") - col("__prev") >= lit(300000000L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .select(col("event_type"), asLong(col("n_raw")).as("n_raw"),
          asLong(col("n_kept")).as("n_kept"),
          expr("n_kept * 1000000L div n_raw").as("kept_ppm"))
        .orderBy("event_type")
    }),

    // market-basket association rules a→b over order baskets:
    // support/confidence in exact ppm, lift in exact ppm (integer
    // cross-products, no float chain), top-20 by lift with a min
    // co-count floor. Pair generation is the orderkey self-join —
    // O(basket²) per order with TPC-H-ish basket sizes ≤7, so the
    // shuffle stays ∝ facts; rule ranking runs over the tiny rule
    // table.
    "q_basket_rules" -> ((s, dir) => {
      // one fact scan: the distinct basket-item table feeds FOUR
      // consumers (self-join both sides, per-part counts, order count)
      // — materialize it once instead of re-scanning lineitem per
      // consumer (the q_funnel scan-amplification lesson)
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true)
      val nOrd = items.agg(countDistinct(col("ok")).as("n_orders"))
      val nPer = items.groupBy(col("pk")).agg(count(lit(1)).as("n_p"))
      // co-count is symmetric: generate each unordered pair ONCE
      // (halves the pair-gen shuffle — the dominant cost at scale) and
      // mirror the directions after the aggregation
      val half = items.as("x").join(items.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      val pairs = half.unionByName(half.select(col("b").as("a"),
        col("a").as("b"), col("n_ab")))
      val scored = pairs
        .join(nPer.select(col("pk").as("a"), col("n_p").as("n_a")), Seq("a"))
        .join(nPer.select(col("pk").as("b"), col("n_p").as("n_b")), Seq("b"))
        .crossJoin(broadcast(nOrd))
        .withColumn("support_ppm", expr("n_ab * 1000000L div n_orders"))
        .withColumn("conf_ppm", expr("n_ab * 1000000L div n_a"))
        .withColumn("lift_ppm",
          // numerator is count × count × 1e6 — Long wraps silently past
          // ~9.2e18 (DuckDB raises); widen to DECIMAL(38,0) first, the
          // q_abc_analysis cum_ppm pattern
          expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000" +
            " div (n_a * n_b) AS BIGINT)"))
      scored
        .withColumn("rnk", row_number().over(Window.orderBy(
          col("lift_ppm").desc, col("a"), col("b"))))
        .filter(col("rnk") <= 20)
        .select(asLong(col("rnk")).as("rnk"), asLong(col("a")).as("a"),
          asLong(col("b")).as("b"), asLong(col("n_ab")).as("n_ab"),
          asLong(col("n_a")).as("n_a"), asLong(col("n_b")).as("n_b"),
          asLong(col("n_orders")).as("n_orders"),
          col("support_ppm"), col("conf_ppm"), col("lift_ppm"))
        .orderBy("rnk")
    })
  )

  /** Shared base for the z-order queries: orders as (custkey, day-number)
    * points.
    */
  private def zOrderBase(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "orders").select(col("o_custkey").as("x"),
      datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).as("y"))

  /** SCD2 fixture shared by `q_scd2_merge` and `q_dim_version_at`:
    * pre-existing closed versions (%13), a batch with changes (%7),
    * no-ops (%11), and first-seen keys (%97, offset ids), merged over
    * the customer dim.
    */
  private def scd2Merged(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val c = t(s, dir, "customer")
    val d = (x: String) => lit(java.sql.Date.valueOf(x))
    val cur = c.select(col("c_custkey"), col("c_mktsegment"),
      col("c_name"), d("1994-01-01").as("valid_from"),
      lit(null).cast("date").as("valid_to"))
    val hist = c.filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey"), lit("OLDSEG").as("c_mktsegment"),
        col("c_name"), d("1992-01-01").as("valid_from"),
        d("1994-01-01").as("valid_to"))
    val updates = c.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit("MOVED").as("c_mktsegment"),
        col("c_name"), d("1996-06-01").as("ts"))
      .unionByName(c.filter(col("c_custkey") % 11 === 0 &&
          col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_name"),
          d("1996-06-01").as("ts")))
      .unionByName(c.filter(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit("NEWKEY").as("c_mktsegment"), col("c_name"),
          d("1996-06-01").as("ts")))
    graft.operators.Warehouse.scd2Merge(hist.unionByName(cur), updates,
      "c_custkey", Seq("c_mktsegment", "c_name"), "ts")
  }

  /** The DuckDB image of [[scd2Merged]] as a CTE block ending in
    * `merged(k, seg, addr, valid_from, valid_to)`.
    */
  private val scd2OracleCtes: String =
    """cur AS (SELECT c_custkey AS k, c_mktsegment AS seg,
      |    c_name AS addr, DATE '1994-01-01' AS valid_from,
      |    CAST(NULL AS DATE) AS valid_to FROM customer),
      |hist AS (SELECT c_custkey AS k, 'OLDSEG' AS seg, c_name AS addr,
      |    DATE '1992-01-01' AS valid_from, DATE '1994-01-01' AS valid_to
      |  FROM customer WHERE c_custkey % 13 = 0),
      |upd AS (
      |  SELECT c_custkey AS k, 'MOVED' AS seg, c_name AS addr,
      |      DATE '1996-06-01' AS ts
      |    FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, c_name, DATE '1996-06-01'
      |    FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'NEWKEY', c_name, DATE '1996-06-01'
      |    FROM customer WHERE c_custkey % 97 = 0),
      |j AS (SELECT cur.k AS ck, cur.seg AS cseg, cur.addr AS caddr,
      |    cur.valid_from AS cfrom, upd.k AS uk, upd.seg AS useg,
      |    upd.addr AS uaddr, upd.ts AS ts,
      |    (cur.seg IS DISTINCT FROM upd.seg
      |      OR cur.addr IS DISTINCT FROM upd.addr) AS changed
      |  FROM cur FULL OUTER JOIN upd ON cur.k = upd.k),
      |merged AS (
      |  SELECT k, seg, addr, valid_from, valid_to FROM hist
      |  UNION ALL
      |  SELECT ck, cseg, caddr, cfrom,
      |      CASE WHEN uk IS NOT NULL AND changed THEN ts END
      |    FROM j WHERE ck IS NOT NULL
      |  UNION ALL
      |  SELECT uk, useg, uaddr, ts, CAST(NULL AS DATE)
      |    FROM j WHERE uk IS NOT NULL AND (ck IS NULL OR changed))""".stripMargin

  /** The [[graft.operators.Graph.kCore]] peeling cascade unrolled:
    * MATERIALIZED CTEs (each round reads its predecessor three times).
    * Rounds past the fixpoint are no-ops, so any unroll ≥ the true
    * peeling depth yields the exact core.
    */
  private def kCoreOracle(rounds: Int, k: Int): String = {
    val head =
      s"""WITH li AS MATERIALIZED (SELECT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem WHERE l_orderkey <= 600),
         |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
         |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |    SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY node),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN k$i a ON e.u = a.node JOIN k$i b ON e.v = b.node)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"""
         |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         |GROUP BY node ORDER BY node""".stripMargin
  }

  /** One exact-sufficient-statistics block per column pair, mirroring
    * [[graft.operators.CorpusOps.correlationPairs]]'s decimal typing and
    * the fixed IEEE association of the derived `corr`.
    */
  private def corrOracle(cols: Seq[String]): String = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    // DECIMAL(19,4): forces DuckDB's int128-backed product (19+19 = 38);
    // an (18,4) operand pair would overflow the int64 fast path. The
    // VALUES are identical to Spark's (18,4) arithmetic — only exactness
    // matters, the compare happens after the cast to double.
    def d4(c: String) = s"CAST($c AS DECIMAL(19,4))"
    def sq(a: String, b: String) =
      s"CAST(sum(CAST(${d4(a)} * ${d4(b)} AS DECIMAL(38,8))) AS DOUBLE)"
    val blocks = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(${d4(a)}) AS DOUBLE) AS sum_a,
         |    CAST(sum(${d4(b)}) AS DOUBLE) AS sum_b,
         |    ${sq(a, b)} AS sum_ab,
         |    ${sq(a, a)} AS sum_aa,
         |    ${sq(b, b)} AS sum_bb
         |  FROM lineitem""".stripMargin
    }
    s"""WITH s AS (
       |${blocks.mkString("\n  UNION ALL\n")})
       |SELECT col_a, col_b, n, sum_a, sum_b, sum_ab, sum_aa, sum_bb,
       |  (n * sum_ab - sum_a * sum_b) /
       |    (sqrt(n * sum_aa - sum_a * sum_a) *
       |     sqrt(n * sum_bb - sum_b * sum_b)) AS corr
       |FROM s ORDER BY col_a, col_b""".stripMargin
  }

  /** The Morton interleave of [[graft.operators.Layout.zValue]] unrolled
    * to SQL (same plan-time-constant shape as the Spark side).
    */
  private def zSqlExpr(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** The [[graft.operators.Graph.pageRank]] iteration unrolled: CTEs are
    * MATERIALIZED because DuckDB inlines CTE references, and each
    * iteration references its predecessor twice (contributions and the
    * dangling sum) — inlined, the plan would blow up 2^iterations.
    */
  private def pageRankOracle(iterations: Int, scale: Long): String = {
    val head =
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
         |    FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_partkey + 1000000 AS src,
         |      l_orderkey + 2000000 AS dst FROM lineitem),
         |nodes AS MATERIALIZED (
         |  SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |deg AS MATERIALIZED (
         |  SELECT src, count(*) AS deg FROM e GROUP BY src),
         |r0 AS MATERIALIZED (
         |  SELECT node, (SELECT $scale // n FROM nn) AS r FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, SUM(r.r // g.deg) AS c
         |  FROM e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg g ON e.src = g.src GROUP BY e.dst),
         |d$i AS MATERIALIZED (SELECT COALESCE(SUM(r.r), 0) AS dang
         |  FROM r${i - 1} r LEFT JOIN deg g ON r.node = g.src
         |  WHERE g.src IS NULL),
         |r$i AS MATERIALIZED (SELECT n.node,
         |  (15 * (SELECT $scale // n FROM nn) + 85 * (COALESCE(c.c, 0)
         |    + (SELECT dang FROM d$i) // (SELECT n FROM nn))) // 100 AS r
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node)""".stripMargin
    }
    // CAST: DuckDB's SUM yields HUGEINT, which propagates through the
    // rank arithmetic; the driver's hash is output-type-sensitive, so pin
    // the oracle to BIGINT to match Spark's LongType (same artifact class
    // as q_shard_manifest).
    (head +: iters).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank_pp FROM r$iterations ORDER BY node"
  }

  /** Round-unrolled WITH-chain image of
    * [[graft.operators.Graph.labelPropagation]] over the q_triangles
    * co-purchase edge set: one (vote-count, argmax) CTE pair per
    * synchronous round, `row_number() ORDER BY c DESC, lbl` replaying
    * the min-label tie-break exactly. Final labels land in CTE
    * `l<rounds>`; callers append their own SELECT.
    */
  private def lpaCte(rounds: Int): String = {
    val head =
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_orderkey <= 5000 AND a.l_partkey < b.l_partkey),
        |und AS MATERIALIZED (
        |  SELECT pa AS a, pb AS b FROM e0 UNION SELECT pb, pa FROM e0),
        |l0 AS MATERIALIZED (
        |  SELECT DISTINCT a AS node, a AS lbl FROM und)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""v$i AS MATERIALIZED (SELECT u.a AS node, l.lbl AS lbl,
         |    count(*) AS c
         |  FROM und u JOIN l${i - 1} l ON u.b = l.node GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (
         |      PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v$i)
         |  WHERE rn = 1)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  private def lpaOracle(rounds: Int): String =
    lpaCte(rounds) +
      s"\nSELECT node, lbl AS label FROM l$rounds ORDER BY node"

  /** Modularity replay over the final LPA labeling: integer q_num per
    * community, one exact division for the double contribution —
    * mirrors [[graft.operators.Graph.modularity]] term for term.
    */
  private def modularityOracle(rounds: Int): String =
    lpaCte(rounds) + s""",
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
       |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
       |  FROM und GROUP BY a),
       |ds AS (SELECT l.lbl AS label, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.deg) AS BIGINT) AS d_sum
       |  FROM deg d JOIN l$rounds l ON d.node = l.node GROUP BY 1),
       |ei AS (SELECT la.lbl AS label, CAST(count(*) AS BIGINT) AS e_in
       |  FROM e0 JOIN l$rounds la ON e0.pa = la.node
       |  JOIN l$rounds lb ON e0.pb = lb.node
       |  WHERE la.lbl = lb.lbl GROUP BY 1)
       |SELECT ds.label, ds.n_nodes,
       |  CAST(COALESCE(ei.e_in, 0) AS BIGINT) AS e_in, ds.d_sum,
       |  CAST(4 * (SELECT m FROM mm) * COALESCE(ei.e_in, 0)
       |    - ds.d_sum * ds.d_sum AS BIGINT) AS q_num,
       |  CAST(4 * (SELECT m FROM mm) * COALESCE(ei.e_in, 0)
       |    - ds.d_sum * ds.d_sum AS DOUBLE) /
       |    CAST(4 * (SELECT m FROM mm) * (SELECT m FROM mm) AS DOUBLE)
       |    AS q_contrib
       |FROM ds LEFT JOIN ei USING (label) ORDER BY ds.label""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_lpa_communities" -> lpaOracle(rounds = 4),

    "q_modularity" -> modularityOracle(rounds = 4),

    "q_burstiness" ->
      """WITH b AS MATERIALIZED (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS t,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT CAST(max(t) - min(t) + 1 AS BIGINT) AS t_span
        |  FROM b),
        |a AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events,
        |    CAST(sum(c * c) AS BIGINT) AS sum_sq
        |  FROM b GROUP BY 1)
        |SELECT event_type, n_events, (SELECT t_span FROM sp) AS t_span,
        |  sum_sq,
        |  CAST((SELECT t_span FROM sp) * sum_sq - n_events * n_events
        |    AS BIGINT) AS fano_num,
        |  CAST((SELECT t_span FROM sp) * n_events AS BIGINT) AS fano_den,
        |  CAST((SELECT t_span FROM sp) * sum_sq - n_events * n_events
        |      AS DOUBLE)
        |    / CAST((SELECT t_span FROM sp) * n_events AS DOUBLE) AS fano
        |FROM a ORDER BY event_type""".stripMargin,

    // counts per key, decimal-digit magnitude bucket, integral shares
    "q_key_skew" ->
      """WITH c AS (SELECT word, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY word),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c)
        |SELECT CAST(length(CAST(c AS VARCHAR)) AS BIGINT) AS magnitude,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(max(c) AS BIGINT) AS max_count,
        |  CAST(sum(c) * 1000000 // (SELECT total FROM t) AS BIGINT)
        |    AS share_ppm
        |FROM c GROUP BY magnitude ORDER BY magnitude""".stripMargin,

    // identical matrix to q_transitions on the streamed slice — the
    // equality IS the cross-batch-state correctness statement
    // the batch funnel's step-chain CTEs restricted to the streamed
    // slice — stream state across micro-batches must land exactly here
    "q_stream_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
        |  FROM events WHERE user_id < 100),
        |u AS (SELECT DISTINCT user_id FROM e),
        |s1 AS (SELECT user_id, min(us) AS t_1 FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.us) AS t_2 FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.us > s1.t_1
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.us) AS t_3 FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.us > s2.t_2
        |  GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.us) AS t_4 FROM e
        |  JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s3.t_3
        |  GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t_4 IS NOT NULL THEN 4
        |    WHEN t_3 IS NOT NULL THEN 3
        |    WHEN t_2 IS NOT NULL THEN 2
        |    WHEN t_1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth,
        |  t_1, t_2, t_3, t_4
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q_stream_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events WHERE user_id < 100),
        |pr AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS to_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, f.n_from,
        |  CAST(c.n AS DOUBLE) / f.n_from AS p
        |FROM c JOIN f USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    "q_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events),
        |pr AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS to_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, f.n_from,
        |  CAST(c.n AS DOUBLE) / f.n_from AS p
        |FROM c JOIN f USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    "q_idx_parse" ->
      s"""WITH raw(line_no, line) AS (VALUES $idxFixtureSqlValues),
         |parsed AS (
         |  SELECT line_no,
         |    split_part(line,'|',1) AS cik,
         |    split_part(line,'|',2) AS company_name,
         |    split_part(line,'|',3) AS form_type,
         |    CAST(split_part(line,'|',4) AS DATE) AS date_filed,
         |    split_part(line,'|',5) AS file_name
         |  FROM raw
         |  WHERE regexp_matches(line, '^[0-9]+\\|.+\\|.+\\|[0-9-]+\\|.+$$'))
         |SELECT cik, company_name, form_type, date_filed, file_name,
         |  'Archives/' || file_name AS path,
         |  row_number() OVER (ORDER BY line_no) - 1 AS num_previously_valid
         |FROM parsed WHERE form_type <> '485BPOS'
         |ORDER BY num_previously_valid""".stripMargin,

    "q_entry_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_filter_conjunction" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice BETWEEN 1000 AND 50000
        |  AND o_orderpriority LIKE '1%'
        |ORDER BY o_orderkey""".stripMargin,

    "q_date_between" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-03-01' AND DATE '1995-06-30'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_group_collect" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q_running_count" ->
      """SELECT event_id, user_id,
        |  row_number() OVER (ORDER BY event_id) - 1 AS num_previously_valid
        |FROM events WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,

    "q_skew_join" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_running_count_partitioned" ->
      """SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
        |    AS num_previously_valid
        |FROM events WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,

    "q_lookup_join" ->
      """SELECT c_custkey,
        |  coalesce(CASE WHEN regexp_matches(c_name, '^[0-9]+$') THEN c_name END,
        |           n_name, 'UNRESOLVED') AS resolved
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,

    "q_union_by_key" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM (
        |  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_totalprice > 150000)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q_per_key_topk" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_suppkey = s_suppkey AND CAST(l_shipdate AS DATE) >= DATE '2000-01-01')
        |ORDER BY s_suppkey""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin,

    "q_agg_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |       * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_agg" ->
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |       * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_quarter_math" ->
      """SELECT y, q, count(*) AS n,
        |  CASE WHEN q = 4 THEN y + 1 ELSE y END AS next_y,
        |  CASE WHEN q = 4 THEN 1 ELSE q + 1 END AS next_q,
        |  (q - 1) * 3 + 1 AS q_start_month
        |FROM (SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q FROM orders)
        |GROUP BY y, q ORDER BY y, q""".stripMargin,

    "q_era_date_format" ->
      """SELECT DISTINCT d,
        |  'master.' ||
        |  CASE WHEN year(d) < 1995 THEN strftime(d, '%m%d%y')
        |       WHEN d < DATE '1998-03-31' THEN strftime(d, '%y%m%d')
        |       ELSE strftime(d, '%Y%m%d') END || '.idx' AS idx_filename
        |FROM (SELECT CAST(o_orderdate - INTERVAL 48 MONTH AS DATE) AS d FROM orders)
        |ORDER BY d""".stripMargin,

    "q_fill_days" ->
      """SELECT o_orderkey, CAST(u.day AS DATE) AS day
        |FROM orders,
        |  unnest(generate_series(CAST(o_orderdate AS DATE) + 1,
        |                         CAST(o_orderdate AS DATE) + 6,
        |                         INTERVAL 1 DAY)) AS u(day)
        |WHERE o_orderkey < 20
        |ORDER BY o_orderkey, day""".stripMargin,

    "q_scalar_fns" ->
      """SELECT c_custkey,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS cik10,
        |  upper(c_name) AS uname,
        |  regexp_matches(c_name, '^[0-9]+$') AS name_is_digits,
        |  replace(regexp_replace(c_name, '[^0-9A-Za-z \t\n]', '', 'g'), ' ', '_') AS clean_dir,
        |  regexp_extract('edgar/data/' || c_custkey || '/' || c_custkey || '-94-000001.txt',
        |    '[^/]*$') AS accession_number,
        |  regexp_replace('https://x/Archives/' || c_custkey || '-index.htm',
        |    '-[^-]*$', '.txt') AS txt_url
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_window_frames" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY GROUPING SETS (
        |  (o_orderstatus, o_orderpriority), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // slot s covers [s*3h, s*3h + 6h): an event at µs u belongs to
    // slots u//3h and u//3h - 1 — exactly two, epoch-aligned like
    // Spark's window().
    "q_hopping_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value
        |  FROM events),
        |w AS (SELECT us, event_type, value,
        |    (us // 10800000000) - i AS slot
        |  FROM e, (SELECT unnest(range(2)) AS i) hops)
        |SELECT strftime(make_timestamp(slot * 10800000000),
        |    '%Y-%m-%d %H:00') AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_asof_join" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p.ts, p.event_id,
        |  v.event_id AS view_event_id, v.ts AS view_ts
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.user_id, p.ts""".stripMargin,

    "q_quality_deciles" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(ntile(10) OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id) AS BIGINT) AS decile
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the rolling frame replays as the same ROWS window; sums stay in
    // DECIMAL(18,4) until the output edge, mean is the same division.
    "q_rolling" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
        |  FROM events)
        |SELECT user_id, us, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    AS roll_sum,
        |  min(value) OVER w AS roll_min,
        |  max(value) OVER w AS roll_max,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    / CAST(count(*) OVER w AS DOUBLE) AS roll_mean
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin,

    // list_reduce replays the EWMA fold exactly: same (ts, value) sort,
    // same seed, same α·x + (1−α)·acc association.
    "q_ewma" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value AS v
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
        |    list(v ORDER BY us, v) AS vs
        |  FROM e GROUP BY user_id)
        |SELECT user_id, n_points,
        |  list_reduce(vs, (acc, x) -> 0.3 * x + (1.0 - 0.3) * acc) AS ewma
        |FROM g ORDER BY user_id""".stripMargin,

    // the rule set replayed as plain conditional counts.
    "q_data_checks" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
        |t AS (
        |SELECT 'accepted_values' AS rule, 'l_returnflag' AS target,
        |  (SELECT n FROM n) AS n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE l_returnflag IS NOT NULL
        |      AND l_returnflag NOT IN ('A', 'N')) AS n_violations
        |UNION ALL
        |SELECT 'foreign_key', 'l_partkey',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE l_partkey IS NOT NULL),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |    WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (
        |      SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |UNION ALL
        |SELECT 'in_range', 'l_quantity', (SELECT n FROM n),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE l_quantity IS NOT NULL
        |      AND NOT (l_quantity >= 1 AND l_quantity <= 30))
        |UNION ALL
        |SELECT 'not_null', 'l_orderkey', (SELECT n FROM n),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE l_orderkey IS NULL)
        |UNION ALL
        |SELECT 'not_null', 'l_partkey', (SELECT n FROM n),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE l_partkey IS NULL)
        |UNION ALL
        |SELECT 'satisfies', 'discount_le_tax', (SELECT n FROM n),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE NOT COALESCE(l_discount <= l_tax, FALSE))
        |UNION ALL
        |SELECT 'unique', 'l_orderkey,l_linenumber',
        |  (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) FROM (
        |    SELECT count(*) AS c FROM lineitem
        |    GROUP BY l_orderkey, l_linenumber)),
        |  (SELECT CAST(COALESCE(sum(c - 1), 0) AS BIGINT) FROM (
        |    SELECT count(*) AS c FROM lineitem
        |    GROUP BY l_orderkey, l_linenumber))
        |)
        |SELECT rule, target, n_rows, n_violations,
        |  n_violations = 0 AS pass
        |FROM t ORDER BY rule, target""".stripMargin,

    // decimal bucket sums → the same two offset RANGE windows for the
    // 2×m trend, phase/grand decimal means, identical division and
    // subtraction order.
    // two per-side bucket→mean chains, shared-fold numerator, sqrt of
    // the product of the two t-ordered sums of squares
    "q_ccf" ->
      """WITH a0 AS MATERIALIZED (
        |  SELECT epoch_us(ts) // 3600000000 AS t,
        |    sum(CAST(value AS DECIMAL(18,4))) AS xd
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |b0 AS MATERIALIZED (
        |  SELECT epoch_us(ts) // 3600000000 AS t,
        |    sum(CAST(value AS DECIMAL(18,4))) AS xd
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |sa AS (SELECT CAST(sum(xd) AS DOUBLE) / count(*) AS m,
        |    CAST(count(*) AS BIGINT) AS n FROM a0),
        |sb AS (SELECT CAST(sum(xd) AS DOUBLE) / count(*) AS m,
        |    CAST(count(*) AS BIGINT) AS n FROM b0),
        |da AS MATERIALIZED (SELECT t,
        |    CAST(xd AS DOUBLE) - (SELECT m FROM sa) AS d FROM a0),
        |db AS MATERIALIZED (SELECT t,
        |    CAST(xd AS DOUBLE) - (SELECT m FROM sb) AS d FROM b0),
        |qa AS (SELECT COALESCE(list_reduce(
        |    list(d * d ORDER BY t), (x, y) -> x + y), 0) AS s FROM da),
        |qb AS (SELECT COALESCE(list_reduce(
        |    list(d * d ORDER BY t), (x, y) -> x + y), 0) AS s FROM db),
        |den AS (SELECT sqrt((SELECT s FROM qa) * (SELECT s FROM qb))
        |    AS den),
        |lags AS (SELECT unnest(range(-6, 7)) AS lag),
        |pr AS (SELECT l.lag, a.t, a.d AS d1, c.d AS d2
        |  FROM lags l JOIN da a ON TRUE JOIN db c ON c.t = a.t + l.lag),
        |nm AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    list_reduce(list(d1 * d2 ORDER BY t), (x, y) -> x + y) AS num
        |  FROM pr GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  (SELECT n FROM sa) AS n_a, (SELECT n FROM sb) AS n_b,
        |  CAST(floor((CASE WHEN (SELECT den FROM den) = 0 THEN 0
        |    ELSE num / (SELECT den FROM den) END) * 1e9 + 0.5) AS BIGINT)
        |    AS ccf_ppb
        |FROM nm ORDER BY lag""".stripMargin,

    // same bucket→mean→t-ordered-fold chain; list_reduce with no seed
    // equals Spark's 0.0-seeded fold bitwise (0.0 + x is exact)
    "q_acf" ->
      """WITH b AS MATERIALIZED (
        |  SELECT epoch_us(ts) // 3600000000 AS t,
        |    sum(CAST(value AS DECIMAL(18,4))) AS xd
        |  FROM events GROUP BY 1),
        |st AS (SELECT CAST(sum(xd) AS DOUBLE) / count(*) AS m,
        |    CAST(count(*) AS BIGINT) AS n_buckets FROM b),
        |dd AS MATERIALIZED (SELECT t,
        |    CAST(xd AS DOUBLE) - (SELECT m FROM st) AS d FROM b),
        |den AS (SELECT COALESCE(list_reduce(
        |    list(d * d ORDER BY t), (a, b) -> a + b), 0) AS den FROM dd),
        |lags AS (SELECT unnest(range(1, 25)) AS lag),
        |pr AS (SELECT l.lag, a.t, a.d AS d1, c.d AS d2
        |  FROM lags l JOIN dd a ON TRUE JOIN dd c ON c.t = a.t + l.lag),
        |nm AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    list_reduce(list(d1 * d2 ORDER BY t), (a, b) -> a + b) AS num
        |  FROM pr GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  (SELECT n_buckets FROM st) AS n_buckets,
        |  CAST(floor((CASE WHEN (SELECT den FROM den) = 0 THEN 0
        |    ELSE num / (SELECT den FROM den) END) * 1e9 + 0.5) AS BIGINT)
        |    AS acf_ppb
        |FROM nm ORDER BY lag""".stripMargin,

    "q_seasonal" ->
      """WITH b AS MATERIALIZED (
        |  SELECT epoch_us(ts) // 3600000000 AS t,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS xd,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |w AS (SELECT t, xd, n_events,
        |    SUM(xd) OVER (ORDER BY t
        |      RANGE BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS s1,
        |    COUNT(*) OVER (ORDER BY t
        |      RANGE BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS n1,
        |    SUM(xd) OVER (ORDER BY t
        |      RANGE BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS s2,
        |    COUNT(*) OVER (ORDER BY t
        |      RANGE BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS n2,
        |    COUNT(*) OVER (ORDER BY t
        |      RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS nf
        |  FROM b),
        |ph AS (SELECT t % 24 AS phase, SUM(xd) AS ps, COUNT(*) AS pn
        |  FROM b GROUP BY 1),
        |g AS (SELECT SUM(xd) AS gs, COUNT(*) AS gn FROM b)
        |SELECT w.t, w.t % 24 AS phase, n_events,
        |  CAST(xd AS DOUBLE) AS x,
        |  CAST(s1 + s2 AS DOUBLE) / 48.0 AS trend,
        |  CAST(ps AS DOUBLE) / CAST(pn AS DOUBLE) -
        |    CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE) AS seasonal,
        |  CAST(xd AS DOUBLE) - CAST(s1 + s2 AS DOUBLE) / 48.0 -
        |    (CAST(ps AS DOUBLE) / CAST(pn AS DOUBLE) -
        |     CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)) AS remainder
        |FROM w JOIN ph ON ph.phase = w.t % 24, g
        |WHERE nf = 25 AND n1 = 24 AND n2 = 24
        |ORDER BY t""".stripMargin,

    // the union-and-two-running-windows replay of interpolateAt: the
    // same sort keys (ts, is_probe, value tiebreak) in both directions,
    // the same single-association interpolation arithmetic.
    "q_interpolate" ->
      """WITH s AS (SELECT user_id, epoch_us(ts) AS ts, value AS v
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL),
        |p AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, ts, 0 AS is_probe, v, NULL::BIGINT AS event_id
        |  FROM s
        |  UNION ALL
        |  SELECT user_id, ts, 1, NULL::DOUBLE, event_id FROM p),
        |w AS (SELECT user_id, ts, is_probe, event_id,
        |    last_value(CASE WHEN is_probe = 0 THEN ts END IGNORE NULLS)
        |      OVER fb AS t0,
        |    last_value(CASE WHEN is_probe = 0 THEN v END IGNORE NULLS)
        |      OVER fb AS v0,
        |    last_value(CASE WHEN is_probe = 0 THEN ts END IGNORE NULLS)
        |      OVER ff AS t1,
        |    last_value(CASE WHEN is_probe = 0 THEN v END IGNORE NULLS)
        |      OVER ff AS v1
        |  FROM u
        |  WINDOW fb AS (PARTITION BY user_id
        |      ORDER BY ts, is_probe, COALESCE(v, 0.0)
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    ff AS (PARTITION BY user_id
        |      ORDER BY ts DESC, is_probe DESC, COALESCE(v, 0.0) DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts, event_id, t0, v0, t1, v1,
        |  CASE WHEN t0 IS NULL THEN v1
        |       WHEN t1 IS NULL THEN v0
        |       ELSE v0 + (v1 - v0) *
        |         (CAST(ts - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))
        |  END AS v_interp
        |FROM w WHERE is_probe = 1
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events),
        |m AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        > 21600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e)
        |SELECT user_id, ts, event_id,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM m ORDER BY user_id, ts""".stripMargin,

    // session AGGREGATES under the same gap rule: start = min ts,
    // end = max ts + gap — exactly session_window's merged extent
    "q_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events),
        |m AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        > 21600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |sq AS (SELECT user_id, ts, event_id,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM m)
        |SELECT user_id, min(ts) AS start_us,
        |  max(ts) + 21600000000 AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(event_id) AS min_event, max(event_id) AS max_event
        |FROM sq GROUP BY user_id, session_seq
        |ORDER BY user_id, start_us""".stripMargin,

    // the STREAMING session face must equal the same batch gap rule the
    // batch face (q_session_window) is checked against — restricted to
    // the harness slice.
    "q_stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events WHERE user_id < 100),
        |m AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        > 21600000000 THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |sq AS (SELECT user_id, ts, event_id,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM m)
        |SELECT user_id, min(ts) AS start_us,
        |  max(ts) + 21600000000 AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(event_id) AS min_event, max(event_id) AS max_event
        |FROM sq GROUP BY user_id, session_seq
        |ORDER BY user_id, start_us""".stripMargin,

    // the streaming interval join vs the batch range join on the same
    // harness slice (matches emit on arrival; BETWEEN's closed upper
    // bound at ts-1 µs ≡ the operator's strict < at µs resolution).
    "q_stream_join" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events WHERE event_type = 'purchase' AND user_id < 100),
        |v AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events WHERE event_type = 'view' AND user_id < 100)
        |SELECT p.user_id, p.ts AS p_us, p.event_id AS p_id,
        |  v.ts AS v_us, v.event_id AS v_id
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND v.ts BETWEEN p.ts - 86400000000 AND p.ts - 1
        |ORDER BY 1, p_us, p_id, v_us, v_id""".stripMargin,

    // the stream-static enrichment vs the plain batch left join.
    "q_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type,
        |  c.c_name, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.user_id < 100
        |ORDER BY e.event_id""".stripMargin,

    // the STREAMING hopping face vs the slot-arithmetic replay on the
    // harness slice.
    "q_stream_hopping" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value
        |  FROM events WHERE user_id < 100),
        |w AS (SELECT us, event_type, value,
        |    (us // 10800000000) - i AS slot
        |  FROM e, (SELECT unnest(range(2)) AS i) hops)
        |SELECT strftime(make_timestamp(slot * 10800000000),
        |    '%Y-%m-%d %H:00') AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e
        |  GROUP BY user_id),
        |ud AS (SELECT DISTINCT e.user_id, c.cohort_day,
        |    e.day - c.cohort_day AS day_offset
        |  FROM e JOIN c ON e.user_id = c.user_id)
        |SELECT cohort_day, day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ud GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
        |  FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |s1 AS (SELECT user_id, min(us) AS t_1 FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.us) AS t_2 FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.us > s1.t_1
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.us) AS t_3 FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.us > s2.t_2
        |  GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.us) AS t_4 FROM e
        |  JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s3.t_3
        |  GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t_4 IS NOT NULL THEN 4
        |    WHEN t_3 IS NOT NULL THEN 3
        |    WHEN t_2 IS NOT NULL THEN 2
        |    WHEN t_1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth,
        |  t_1, t_2, t_3, t_4
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
        |ORDER BY u.user_id""".stripMargin,

    // the naive BETWEEN join the engine's bucketized form must equal;
    // credit = integral ppm division of the per-conv touch count
    "q_attribution_linear" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events WHERE user_id < 200),
        |c AS (SELECT user_id, event_id AS conv_id, us AS conv_us
        |  FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id, us, event_type FROM e
        |  WHERE event_type IN ('view', 'click')),
        |p AS (SELECT c.user_id, c.conv_id, c.conv_us,
        |    t.event_id AS touch_id, t.event_type AS touch_type,
        |    t.us AS touch_us,
        |    CAST(count(*) OVER (PARTITION BY c.conv_id) AS BIGINT)
        |      AS n_touches
        |  FROM c JOIN t ON t.user_id = c.user_id AND t.us < c.conv_us
        |    AND c.conv_us - t.us <= 86400000000)
        |SELECT CAST(user_id AS BIGINT) AS "user", conv_id, conv_us,
        |  CAST(touch_id AS BIGINT) AS touch_id, touch_type, touch_us,
        |  n_touches, 1000000 // n_touches AS credit_ppm
        |FROM p
        |UNION ALL
        |SELECT CAST(c.user_id AS BIGINT) AS "user", c.conv_id, c.conv_us,
        |  NULL, NULL, NULL, CAST(0 AS BIGINT), NULL
        |FROM c LEFT JOIN (SELECT DISTINCT conv_id FROM p) x
        |  USING (conv_id)
        |WHERE x.conv_id IS NULL
        |ORDER BY conv_id, touch_id""".stripMargin,

    // latest = max (us, event_id) among strictly-earlier in-window
    // touches, the same total order as the engine's window frame; a
    // stale latest touch implies all are stale, so filter-then-rank
    // equals the engine's rank-then-window-check
    "q_attribution" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_id AS conv_id, us AS conv_us
        |  FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id, us, event_type FROM e
        |  WHERE event_type IN ('view', 'click')),
        |j AS (SELECT c.conv_id, t.event_id AS touch_id,
        |    t.event_type AS touch_type, t.us AS touch_us,
        |    row_number() OVER (PARTITION BY c.conv_id
        |      ORDER BY t.us DESC, t.event_id DESC) AS rn
        |  FROM c JOIN t ON t.user_id = c.user_id AND t.us < c.conv_us
        |    AND c.conv_us - t.us <= 86400000000)
        |SELECT CAST(c.user_id AS BIGINT) AS "user", c.conv_id, c.conv_us,
        |  CAST(j.touch_id AS BIGINT) AS touch_id, j.touch_type,
        |  j.touch_us, c.conv_us - j.touch_us AS lag_us
        |FROM c LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (conv_id)
        |ORDER BY conv_id""".stripMargin,

    "q_range_join" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, epoch_us(ts) AS ts, event_id
        |  FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p.ts, p.event_id,
        |  v.ts AS view_ts, v.event_id AS view_event_id
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND v.ts BETWEEN p.ts - 3600000000 AND p.ts - 1
        |ORDER BY p.user_id, p.ts, view_ts""".stripMargin,

    "q_pagerank" -> pageRankOracle(iterations = 8, scale = 1000000000000L),

    // bounded-depth recursion: UNION dedups (node, hops) pairs, capping
    // the row space at |V|·(maxHops+1) → terminates on cycles; MIN(hops)
    // is the BFS level. Matches the frontier iteration exactly, early
    // stop or not.
    "q_bfs_hops" -> (chainEdgeCte +
      """,
        |r AS (
        |  WITH RECURSIVE rr AS (
        |    SELECT node, 0 AS hops FROM s
        |    UNION
        |    SELECT e.dst, rr.hops + 1 FROM rr JOIN e ON e.src = rr.node
        |    WHERE rr.hops < 8
        |  ) SELECT node, MIN(hops) AS hops FROM rr GROUP BY node)
        |SELECT node, CAST(hops AS BIGINT) AS hops FROM r
        |ORDER BY node""".stripMargin),

    "q_sssp" -> ssspOracle(rounds = 8),

    "q_triangles" ->
      """WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_orderkey <= 5000),
        |und AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM und
        |    UNION ALL SELECT v AS node FROM und)
        |  GROUP BY node),
        |ori AS (SELECT
        |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |      THEN e.u ELSE e.v END AS s,
        |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |      THEN e.v ELSE e.u END AS t
        |  FROM und e JOIN deg du ON du.node = e.u
        |    JOIN deg dv ON dv.node = e.v),
        |w AS (SELECT e1.s, e1.t AS x, e2.t AS y
        |  FROM ori e1 JOIN ori e2 ON e1.s = e2.s AND e1.t < e2.t),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM w JOIN und ON und.u = w.x AND und.v = w.y)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
        |  n_triangles
        |FROM tri""".stripMargin,

    // SCD2 merge replay: same fixture CTEs, change detection via
    // IS DISTINCT FROM (null-safe, like Spark's <=> negation).
    // SCD2 merge replay over the shared fixture CTEs; change detection
    // via IS DISTINCT FROM (null-safe, like Spark's <=> negation).
    "q_scd2_merge" ->
      s"""WITH $scd2OracleCtes
         |SELECT k AS c_custkey, seg AS c_mktsegment, addr AS c_name,
         |  valid_from, valid_to FROM merged
         |ORDER BY c_custkey, valid_from""".stripMargin,

    // SCD2 read face: interval-predicate left join to the valid version.
    "q_dim_version_at" ->
      s"""WITH $scd2OracleCtes
         |SELECT o.o_orderkey, o.o_custkey AS c_custkey,
         |  CAST(o.o_orderdate AS DATE) AS odate,
         |  m.seg AS c_mktsegment, m.valid_from
         |FROM orders o LEFT JOIN merged m ON o.o_custkey = m.k
         |  AND m.valid_from <= CAST(o.o_orderdate AS DATE)
         |  AND (m.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < m.valid_to)
         |ORDER BY o_orderkey""".stripMargin,

    "q_kcore" -> kCoreOracle(rounds = 12, k = 5),

    "q_corr_pairs" -> corrOracle(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),

    "q_skyline" ->
      """SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS p_retailprice,
        |  CAST(p_size AS DOUBLE) AS p_size
        |FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice
        |    AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin,

    // intercept re-derives slope's division — IEEE ops are exactly
    // rounded, so the repeated expression yields the identical double.
    "q_trend_ols" ->
      """WITH daily AS (SELECT o_orderpriority AS grp,
        |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      AS day,
        |    count(*) AS n_orders FROM orders GROUP BY 1, 2),
        |s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(day AS DECIMAL(19,4))) AS DOUBLE) AS sum_x,
        |    CAST(sum(CAST(n_orders AS DECIMAL(19,4))) AS DOUBLE) AS sum_y,
        |    CAST(sum(CAST(CAST(day AS DECIMAL(19,4)) *
        |      CAST(n_orders AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE)
        |      AS sum_xy,
        |    CAST(sum(CAST(CAST(day AS DECIMAL(19,4)) *
        |      CAST(day AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE)
        |      AS sum_xx
        |  FROM daily GROUP BY grp)
        |SELECT grp, n, sum_x, sum_y, sum_xy, sum_xx,
        |  (n * sum_xy - sum_x * sum_y) / (n * sum_xx - sum_x * sum_x)
        |    AS slope,
        |  (sum_y - ((n * sum_xy - sum_x * sum_y) /
        |    (n * sum_xx - sum_x * sum_x)) * sum_x) / n AS intercept
        |FROM s ORDER BY grp""".stripMargin,

    // winner = lexicographic max over (ts, op, attrs) — replayed as a
    // descending row_number (NULL-free fixture, so the orders agree).
    "q_changelog_apply" ->
      """WITH snap AS (SELECT c_custkey AS k, c_mktsegment AS seg,
        |    c_name AS nm FROM customer),
        |ch AS (
        |  SELECT c_custkey AS k, 'UPD5' AS seg, c_name AS nm, 2 AS ts,
        |      'u' AS op FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL SELECT c_custkey, 'EARLY', c_name, 1, 'u'
        |    FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL SELECT c_custkey, c_mktsegment, c_name, 3, 'd'
        |    FROM customer WHERE c_custkey % 9 = 0
        |  UNION ALL SELECT c_custkey + 1000000, 'NEWKEY', c_name, 1, 'i'
        |    FROM customer WHERE c_custkey % 50 = 0),
        |w AS (SELECT k, seg, nm, op, row_number() OVER (PARTITION BY k
        |    ORDER BY ts DESC, op DESC, seg DESC, nm DESC) AS rn FROM ch),
        |latest AS (SELECT k, seg, nm, op FROM w WHERE rn = 1)
        |SELECT COALESCE(s.k, l.k) AS c_custkey,
        |  CASE WHEN l.k IS NOT NULL THEN l.seg ELSE s.seg END
        |    AS c_mktsegment,
        |  CASE WHEN l.k IS NOT NULL THEN l.nm ELSE s.nm END AS c_name
        |FROM snap s FULL OUTER JOIN latest l ON s.k = l.k
        |WHERE l.op IS NULL OR l.op <> 'd'
        |ORDER BY c_custkey""".stripMargin,

    "q_zorder_layout" ->
      s"""WITH base AS (SELECT CAST(o_custkey AS BIGINT) AS x,
         |    CAST(datediff('day', DATE '1992-01-01',
         |      CAST(o_orderdate AS DATE)) AS BIGINT) AS y FROM orders),
         |z AS (SELECT x, y, ${zSqlExpr("x", "y", 14)} AS z FROM base)
         |SELECT z >> 16 AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY file_id ORDER BY file_id""".stripMargin,

    "q_zorder_prune" ->
      s"""WITH base AS (SELECT CAST(o_custkey AS BIGINT) AS x,
         |    CAST(datediff('day', DATE '1992-01-01',
         |      CAST(o_orderdate AS DATE)) AS BIGINT) AS y FROM orders),
         |zf AS (SELECT (${zSqlExpr("x", "y", 14)}) >> 16 AS file_id,
         |    count(*) AS n_rows, min(x) AS min_x, max(x) AS max_x,
         |    min(y) AS min_y, max(y) AS max_y
         |  FROM base GROUP BY file_id),
         |lf AS (SELECT x >> 2 AS file_id,
         |    count(*) AS n_rows, min(x) AS min_x, max(x) AS max_x,
         |    min(y) AS min_y, max(y) AS max_y
         |  FROM base GROUP BY file_id),
         |probe AS (SELECT 100 AS x_lo, 300 AS x_hi, 1200 AS y_lo, 1600 AS y_hi)
         |SELECT 'linear' AS layout, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN NOT (max_x < x_lo OR min_x > x_hi
         |      OR max_y < y_lo OR min_y > y_hi) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS files_scanned,
         |  CAST(sum(CASE WHEN NOT (max_x < x_lo OR min_x > x_hi
         |      OR max_y < y_lo OR min_y > y_hi) THEN n_rows ELSE 0 END)
         |    AS BIGINT) AS rows_scanned
         |FROM lf, probe
         |UNION ALL
         |SELECT 'zorder', CAST(count(*) AS BIGINT),
         |  CAST(sum(n_rows) AS BIGINT),
         |  CAST(sum(CASE WHEN NOT (max_x < x_lo OR min_x > x_hi
         |      OR max_y < y_lo OR min_y > y_hi) THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(sum(CASE WHEN NOT (max_x < x_lo OR min_x > x_hi
         |      OR max_y < y_lo OR min_y > y_hi) THEN n_rows ELSE 0 END)
         |    AS BIGINT)
         |FROM zf, probe
         |ORDER BY layout""".stripMargin,

    "q_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 10000
        |      + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
        |  GROUP BY digit)
        |SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS n_total,
        |  CAST(n * 1000000000 // sum(n) OVER () AS BIGINT) AS observed_ppb,
        |  CAST(floor(log10(1 + 1.0 / digit) * 1000000000.0 + 0.5) AS BIGINT)
        |    AS expected_ppb
        |FROM g ORDER BY digit""".stripMargin,

    // the same generic canonicalization chain the engine runs, step by
    // step: fragment → scheme/authority split → host lowering + www +
    // default-port strip → path/query split → utm/empty param filter →
    // trailing-slash strip
    "q_url_canonical" ->
      """WITH raw AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'HTTPS://WWW.' || source || '.Example.COM:443/p/' ||
        |      (doc_id % 50) || '/?id=' || (doc_id % 50) ||
        |      '&utm_source=feed&utm_campaign=x#frag'
        |    ELSE 'https://' || source || '.example.com/p/' ||
        |      (doc_id % 50) || '?id=' || (doc_id % 50) || '&utm_medium=em'
        |  END AS url FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag
        |  FROM raw),
        |s2 AS (SELECT doc_id,
        |    lower(regexp_extract(nofrag,
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(nofrag,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM s1),
        |s3 AS (SELECT doc_id, scheme, split_part(rest, '/', 1) AS auth,
        |    substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
        |  FROM s2),
        |s4 AS (SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(regexp_replace(
        |        lower(auth), '^www\.', ''), ':443$', '')
        |      WHEN scheme = 'http' THEN regexp_replace(regexp_replace(
        |        lower(auth), '^www\.', ''), ':80$', '')
        |      ELSE regexp_replace(lower(auth), '^www\.', '') END AS host,
        |    split_part(pathq, '?', 1) AS path,
        |    substr(pathq, length(split_part(pathq, '?', 1)) + 2) AS q
        |  FROM s3),
        |s5 AS (SELECT doc_id, scheme, host,
        |    CASE WHEN length(path) > 1 THEN regexp_replace(path, '/+$', '')
        |      ELSE path END AS pathn,
        |    array_to_string(list_filter(string_split(q, '&'),
        |      x -> length(x) > 0 AND NOT starts_with(x, 'utm_')), '&')
        |      AS kept FROM s4),
        |c AS (SELECT doc_id, scheme || '://' || host || pathn ||
        |    CASE WHEN length(kept) > 0 THEN '?' || kept ELSE '' END
        |    AS canonical FROM s5)
        |SELECT canonical, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc
        |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin,

    "q_stream_dedup" ->
      """SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type,
        |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        |FROM events WHERE user_id < 100
        |ORDER BY user_id, event_type, day""".stripMargin,

    "q_abc_analysis" ->
      """WITH rev AS (SELECT l_partkey AS partkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) * 10000
        |      AS BIGINT) AS rev_e4
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT partkey, rev_e4,
        |    row_number() OVER (ORDER BY rev_e4 DESC, partkey) AS rnk,
        |    sum(rev_e4) OVER (ORDER BY rev_e4 DESC, partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_e4,
        |    sum(rev_e4) OVER () AS tot_e4
        |  FROM rev)
        |SELECT partkey, CAST(rev_e4 AS DOUBLE) / 10000.0 AS revenue,
        |  CAST(rnk AS BIGINT) AS rnk,
        |  CAST(CAST(cum_e4 AS HUGEINT) * 1000000 // tot_e4 AS BIGINT)
        |    AS cum_ppm,
        |  CASE WHEN CAST(cum_e4 AS HUGEINT) * 1000000 // tot_e4
        |      <= 700000 THEN 'A'
        |    WHEN CAST(cum_e4 AS HUGEINT) * 1000000 // tot_e4
        |      <= 950000 THEN 'B' ELSE 'C' END AS abc_class
        |FROM r ORDER BY rnk""".stripMargin,

    "q_rfm" ->
      """WITH base AS (SELECT o_custkey AS custkey,
        |    max(o_orderdate) AS last_order, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS m_dec
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(o_orderdate) AS anchor FROM orders),
        |sc AS (SELECT custkey,
        |    date_diff('day', CAST(last_order AS DATE), CAST(anchor AS DATE))
        |      AS r_days, n_orders, m_dec FROM base, a),
        |k AS (SELECT custkey, r_days, n_orders, m_dec,
        |    ntile(4) OVER (ORDER BY r_days, custkey) AS r_score,
        |    ntile(4) OVER (ORDER BY n_orders DESC, custkey) AS f_score,
        |    ntile(4) OVER (ORDER BY m_dec DESC, custkey) AS m_score
        |  FROM sc)
        |SELECT custkey, CAST(r_days AS BIGINT) AS r_days,
        |  CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(m_dec AS DOUBLE) AS monetary,
        |  CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |    CAST(m_score AS VARCHAR) AS segment
        |FROM k ORDER BY custkey""".stripMargin,

    // regex extraction instead of JSON functions: the oracle must not
    // depend on the DuckDB build's JSON extension
    "q_json_props" ->
      """WITH p AS (SELECT event_type,
        |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(k) AS BIGINT) AS n_parsed,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  CAST(min(k) AS BIGINT) AS k_min,
        |  CAST(max(k) AS BIGINT) AS k_max,
        |  CAST(count(DISTINCT k) AS BIGINT) AS k_distinct
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_debounce" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |    epoch_us(ts) AS us FROM events),
        |l AS (SELECT event_type,
        |    lag(us) OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id) AS prev, us FROM e),
        |k AS (SELECT event_type,
        |    (prev IS NULL OR us - prev >= 300000000) AS kept FROM l)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_raw,
        |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE kept) * 1000000 // count(*)
        |    AS BIGINT) AS kept_ppm
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_basket_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |no AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
        |np AS (SELECT pk, count(*) AS n_p FROM items GROUP BY pk),
        |pr AS (SELECT x.pk AS a, y.pk AS b, count(*) AS n_ab
        |  FROM items x JOIN items y ON x.ok = y.ok AND x.pk <> y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |sc AS (SELECT a, b, n_ab, na.n_p AS n_a, nb.n_p AS n_b, n_orders,
        |    n_ab * 1000000 // n_orders AS support_ppm,
        |    n_ab * 1000000 // na.n_p AS conf_ppm,
        |    CAST(n_ab AS HUGEINT) * n_orders * 1000000
        |      // (na.n_p * nb.n_p) AS lift_ppm
        |  FROM pr JOIN np na ON pr.a = na.pk JOIN np nb ON pr.b = nb.pk,
        |    no),
        |rk AS (SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, a, b)
        |    AS rnk FROM sc)
        |SELECT CAST(rnk AS BIGINT) AS rnk, CAST(a AS BIGINT) AS a,
        |  CAST(b AS BIGINT) AS b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(support_ppm AS BIGINT) AS support_ppm,
        |  CAST(conf_ppm AS BIGINT) AS conf_ppm,
        |  CAST(lift_ppm AS BIGINT) AS lift_ppm
        |FROM rk WHERE rnk <= 20 ORDER BY rnk""".stripMargin
  )
}
