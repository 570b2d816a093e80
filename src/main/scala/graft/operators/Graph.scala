package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Graph-ranking operators for corpus curation: PageRank over a link
  * graph ranks domains/documents for crawl prioritization and quality
  * weighting (the classic signal behind "trusted seed" corpus mixes).
  *
  * Scale design (100 TB): the edge set — the big side — is materialized
  * ONCE and never reshuffled; each iteration moves only 16-byte
  * `(node, rank)` rows through two shuffles (one join with the standing
  * edge+degree table, one partial-aggregated contribution sum). Rank
  * state is eagerly localCheckpointed per iteration, truncating the
  * iterative lineage exactly like [[Dedup.connectedComponents]].
  *
  * All arithmetic is scaled-integer (`rank_pp` parts-per-`scale`) with
  * integral division only, so a relational oracle reproduces every rank
  * bit-for-bit — no float summation order to disagree on.
  */
object Graph {

  /** Fixed-iteration integer PageRank.
    *
    * Semantics per iteration (every quantity a non-negative BIGINT;
    * `div` is integral division, all sums exact):
    * {{{
    *   contrib(v) = Σ_{(u,v) ∈ E} rank(u) div outdeg(u)
    *   dangling   = Σ_{u: outdeg(u)=0} rank(u)
    *   rank'(v)   = ( (100-dampingPct) * (scale div n)
    *                + dampingPct * (contrib(v) + dangling div n) ) div 100
    * }}}
    * starting from `rank0 = scale div n`. Parallel edges collapse
    * (the edge set is `distinct`); self-loops count as ordinary edges.
    * Truncation loses a few units of mass per node per iteration — the
    * ranking signal is unaffected and the trade buys exact
    * reproducibility in any ANSI engine.
    *
    * @param scale       fixed-point denominator (default 10^12: ranks are
    *                    "pico-rank" units). Bounded so
    *                    `dampingPct * 2 * scale` cannot overflow a long.
    * @param dampingPct  damping factor in percent (85 = the classic 0.85).
    * @param maxBroadcastNodes  node-count threshold for the small-graph
    *                    fast path: when `n ≤` this, the per-iteration
    *                    rank/contribution tables (16 bytes/node) are
    *                    broadcast, so each iteration costs ONE shuffle
    *                    (the partial-aggregated contribution sum) and the
    *                    edges never move. Above it — the billion-node
    *                    regime where a rank vector no longer fits on the
    *                    driver — every join falls back to shuffle on the
    *                    standing hash(src)/hash(node) layouts. The
    *                    default (10^7 ≈ 160 MB of rank rows) is safely
    *                    inside a normal driver heap.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, scale: Long = 1000000000000L,
      dampingPct: Int = 85, maxBroadcastNodes: Long = 10000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1,100], got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    require(scale > 0 && scale <= 10000000000000000L, // 10^16
      s"scale must be in (0, 10^16], got $scale")
    // the standing state: distinct edges with the source's out-degree
    // attached — built once, reused by all iterations. The degree rides
    // in on a window over the SAME hash(src) exchange that lays the
    // edges out for the iteration joins (no separate groupBy+join), so
    // setup is two shuffles of the edge set total: distinct, then src
    val ed = edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint(true)
    // one aggregation yields the node set AND the dangling flag (a node
    // is dangling iff it never appears as a source) — no anti-join, and
    // both driver-side counts come from a single action
    val nodeFlags = ed.select(col("src").as("node"), lit(1).as("has_out"))
      .union(ed.select(col("dst").as("node"), lit(0).as("has_out")))
      .groupBy(col("node")).agg(max(col("has_out")).as("has_out"))
      .localCheckpoint(true)
    val counts = nodeFlags
      .agg(count(lit(1)), sum(lit(1) - col("has_out"))).collect().head
    val n = counts.getLong(0)
    require(n > 0, "pageRank: empty edge set")
    val nDang = counts.getLong(1)
    val nodes = nodeFlags.select(col("node"))
    // static across iterations (only the RANK of a dangling node
    // changes) — a narrow filter over the checkpointed node table
    val dangNodes = nodeFlags.filter(col("has_out") === 0).select(col("node"))
    val bcast = n <= maxBroadcastNodes
    def side(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    val base = scale / n
    var ranks = nodes.select(col("node"), lit(base).as("r"))
      .localCheckpoint(true)
    var i = 0
    while (i < iterations) {
      val contribs = ed
        .join(side(ranks.withColumnRenamed("node", "src")), Seq("src"))
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("c"))
      // lazy checkpoint: ranks feeds two consumers next iteration
      // (contributions and the dangling sum) — block-backed after first
      // materialization, and the whole iteration chain evaluates in ONE
      // action at the end instead of one scheduled job set per iteration
      val joined = nodes.join(side(contribs), Seq("node"), "left")
      // dangling mass redistributes uniformly. One-row aggregate,
      // broadcast into the rank update — no driver collect in the loop.
      // A graph with no dangling nodes (nDang static) skips the branch
      val withDang =
        if (nDang == 0) joined.withColumn("dang", lit(0L))
        else joined.crossJoin(broadcast(ranks
          .join(side(dangNodes), Seq("node"), "left_semi")
          .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))))
      ranks = withDang
        .select(col("node"),
          expr(s"(${100 - dampingPct}L * ${base}L + ${dampingPct}L * " +
            s"(coalesce(c, 0L) + (dang div ${n}L))) div 100L").as("r"))
        .localCheckpoint(false)
      i += 1
    }
    ranks.select(col("node"), col("r").as("rank_pp"))
  }

  /** Exact triangle count via DEGREE ORIENTATION (the MapReduce-classic
    * Suri & Vassilvitskii 2011 shape): orient every undirected edge
    * from its (degree, id)-smaller endpoint, enumerate wedges only
    * around each triangle's orientation-minimal vertex, close them
    * against the canonical edge set. Each triangle counts exactly once
    * — only the order-minimum of {a,b,c} has out-edges to both others.
    *
    * Why this survives 100 TB where the naive wedge join dies: wedge
    * fan-out is Σ outdeg², and degree orientation bounds every
    * out-degree by O(√m) (an endpoint beats its neighbor's degree only
    * until degrees exceed √m) — the hub that would generate deg² wedges
    * generates almost none because hubs LOSE the orientation. Shuffles:
    * one distinct, one degree agg, two broadcastable degree joins, one
    * self-join on the wedge pivot, one closure equi-join.
    *
    * Output: one row `(n_nodes, n_edges, n_wedges, n_triangles)` — all
    * exact BIGINTs (wedges = oriented open pairs, the clustering-
    * coefficient denominator). Self-loops and parallel edges collapse.
    */
  def triangleCount(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(true) // consumed by degrees, orientation, closure
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true) // consumed by both endpoint joins + n_nodes
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .localCheckpoint(true) // consumed by both wedge sides
    // spoke pair id-ordered (x < y) → the closure probe IS the canonical
    // edge key, no OR-join on orientation direction
    val wedges = oriented.select(col("s"), col("t").as("x"))
      .join(oriented.select(col("s"), col("t").as("y")), Seq("s"))
      .filter(col("x") < col("y"))
      .select(col("x"), col("y"))
      .localCheckpoint(true) // consumed by the census AND the closure
    val closed = wedges
      .join(und.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k —
    * the classic "dense quality neighborhood" extractor (spam rings and
    * boilerplate farms survive high-k cores; isolated pages don't).
    * Computed by synchronous peeling: drop all nodes with degree < k,
    * recompute degrees, repeat to fixpoint. Deterministic (no tie order —
    * a whole generation peels at once), so a round-unrolled relational
    * oracle reproduces it exactly; extra rounds past convergence are
    * no-ops (peeling is monotone).
    *
    * Scale design (100 TB): the edge set only ever SHRINKS — each round
    * is one degree aggregation (map-side partial) plus two semi-joins
    * against the surviving-node list (broadcast once that list is small,
    * which is exactly the high-k regime). Per-round driver state is one
    * COUNT; the surviving edges are localCheckpointed so lineage stays
    * flat. Rounds are O(peeling depth) — bounded by `maxRounds`, with
    * the fixpoint check exact, not heuristic.
    *
    * Output: `(node, deg)` for every surviving node, `deg` its degree
    * WITHIN the core (all ≥ k by construction). Empty when the graph has
    * no k-core. Self-loops dropped; parallel edges collapse.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 200,
      s"maxRounds must be in [1,200], got $maxRounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    // per-round survivor count rides the checkpoint's own action
    // (Materialize.observed): one scheduled job set per peeling round
    // instead of two
    val (e0, n0) = Materialize.observed(edges
      .select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct(), "Graph.kCore", count(lit(1)).as("n"))
    var cur = e0
    var n = n0.getLong(0)
    var prev = -1L
    var round = 0
    while (n != prev && n > 0 && round < maxRounds) {
      prev = n
      val keep = degrees(cur).filter(col("deg") >= k).select("node")
      val (ck, nn) = Materialize.observed(cur
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi"),
        "Graph.kCore", count(lit(1)).as("n"))
      cur = ck
      n = nn.getLong(0)
      round += 1
    }
    degrees(cur)
  }

  /** Single-source(-set) BFS hop levels — the crawl-frontier primitive
    * ("how many link hops from the trusted seed list is this page?",
    * the classic crawl-depth quality feature).
    *
    * TRUE frontier iteration, not Bellman-Ford: each round expands only
    * the newly-discovered frontier (one hash join edge⋈frontier, one
    * distinct, one anti-join against the visited set), so per-round work
    * is ∝ frontier size, not ∝ |V| — the property that makes BFS viable
    * when the reachable set is a sliver of a 100 TB graph. The visited
    * set is localCheckpointed per round (flat lineage) and the loop
    * early-stops the round the frontier drains, at the cost of one
    * driver-side COUNT per hop (bounded by `maxHops`).
    *
    * Deterministic and pure-integer, so a bounded-depth recursive CTE
    * (`UNION` dedup on `(node, hops)` caps the row space → terminates on
    * cyclic graphs) reproduces it exactly: a node's level is the minimal
    * hop count, nodes unreachable within `maxHops` are absent — in both
    * engines, whether or not Spark early-stopped.
    *
    * Output: `(node, hops)`, one row per node reachable from `sources`
    * (single column `node`) in ≤ `maxHops` directed hops; sources
    * themselves at hops 0 (even when absent from the edge list).
    */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 100,
      s"maxHops must be in [0,100], got $maxHops")
    val ed = edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(true) // standing hash(src) layout for every round
    // per-hop frontier count rides the frontier checkpoint's own action
    // (Materialize.observed) — one job fewer per hop than the r16
    // count() loop. (r17 note: ALSO keeping `visited` as a lazy union of
    // the per-hop frontiers was tried and MEASURED WORSE — 3.8 → 6.6 s
    // at sf0.1 despite fewer jobs; the per-round anti-join against a
    // k-piece union costs more than the one re-checkpoint it saves, so
    // visited stays materialized per hop.)
    var visited = sources.select(col("node").cast(LongType))
      .distinct()
      .withColumn("hops", lit(0L))
      .localCheckpoint(true)
    var frontier = visited.select("node")
    var hop = 1
    var frontierSize = frontier.count()
    while (hop <= maxHops && frontierSize > 0) {
      val (next, n) = Materialize.observed(ed
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"))
        .distinct()
        .join(visited.select("node"), Seq("node"), "left_anti"),
        "Graph.bfsLevels", count(lit(1)).as("n"))
      frontierSize = n.getLong(0)
      if (frontierSize > 0) {
        visited = visited
          .unionByName(next.withColumn("hops", lit(hop.toLong)))
          .localCheckpoint(true)
        frontier = next
      }
      hop += 1
    }
    visited
  }

  /** Bounded-round single-source shortest paths over non-negative
    * integer edge weights — distributed Bellman-Ford, the standard
    * shape when the graph dwarfs memory (GraphX/Pregel compute the
    * same relaxation; here it is 3 relational ops per round so Catalyst
    * plans it: one edge⋈distance hash join, one union, one min-agg with
    * map-side partial combine).
    *
    * Runs EXACTLY `rounds` relaxations with no early stop and no driver
    * action in the loop (the whole chain evaluates in one job): after
    * round i every distance using ≤ i edges is final, so `rounds` ≥ the
    * hop diameter of the weight-minimal paths gives the true SSSP and
    * extra rounds are no-ops. Pure BIGINT arithmetic → a round-unrolled
    * relational oracle reproduces every distance bit-for-bit.
    *
    * Parallel edges collapse to their MINIMUM weight (the only
    * relaxation-relevant one); `weightCol` must be non-negative.
    * Output: `(node, dist)` for nodes reachable within `rounds` hops;
    * sources at dist 0.
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, sources: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1,50], got $rounds")
    val ed = edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"),
        col(weightCol).cast(LongType).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("w") >= 0)
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .localCheckpoint(true)
    var dist = sources.select(col("node").cast(LongType))
      .distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      val relaxed = ed
        .join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(false) // lazy: one consumer until the final action
      i += 1
    }
    dist
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection for corpus curation: near-dup / citation / co-purchase
    * communities surface template farms and boilerplate families that
    * pairwise dedup misses.
    *
    * Each node starts labeled with its own id; every round ALL nodes
    * simultaneously adopt the most frequent label among their
    * neighbors, ties broken by the SMALLEST label — fully deterministic
    * (the classic async/random-order variant is not), so a fixed round
    * count unrolls into an exact relational oracle. Runs EXACTLY
    * `rounds` rounds, no early stop, no driver action in the loop.
    *
    * Scale shape: the symmetrized simple edge set (parallel edges
    * collapse to one vote, self-loops dropped) is materialized once;
    * each round is one edge⋈label hash join, one map-side-combined
    * (node, label) count, and one per-node argmax window — every
    * shuffled row is a bounded-width integer triple, never the
    * adjacency itself. Label state stays lazy (single consumer per
    * round), matching [[shortestPaths]]'s one-job loop.
    *
    * Output: `(node, label)`, one row per endpoint in `edges`.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1,20], got $rounds")
    val half = edges
      .select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    val und = half
      .unionByName(half.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      // hash(b) is the per-round join key: checkpointing THIS layout
      // (distinct alone would leave hash(a,b)) lets every round's
      // edge⋈label join reuse it, so only the label side — 16-byte
      // rows — shuffles after round 0
      .repartition(col("b"))
      .localCheckpoint(true)
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(true)
    val byNode = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy(col("c").desc, col("lbl").asc)
    var i = 0
    while (i < rounds) {
      labels = und
        .join(labels.withColumnRenamed("node", "b"), Seq("b"))
        .groupBy(col("a").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(byNode))
        .filter(col("__rn") === 1)
        .select(col("node"), col("lbl"))
        .localCheckpoint(false) // lazy: one consumer until the final action
      i += 1
    }
    labels.select(col("node"), col("lbl").as("label"))
  }

  /** Newman modularity scorecard of a node labeling (Newman & Girvan
    * 2004) — "how community-like is this partition", the standard
    * quality gate on [[labelPropagation]] output before acting on it
    * (e.g. collapsing a template family).
    *
    * Over the simple undirected graph (unordered-pair dedup, self-loops
    * dropped; m edges), per community c with `e_in` intra-community
    * edges and `d_sum` total degree:
    * {{{
    *   Q = Σ_c ( e_in/m − (d_sum/2m)² )  =  Σ_c q_num_c / (4m²),
    *   q_num_c = 4·m·e_in − d_sum²       (exact BIGINT)
    * }}}
    * so the per-community evidence is pure integer arithmetic and the
    * double contribution is ONE exact IEEE division (4m² ≤ 2^53 for
    * any graph this runs on). Shuffle profile: two bounded joins of
    * edges⋈labels, map-side-combined aggregations, and one broadcast
    * one-row join for m — never an all-pairs anything.
    *
    * Output: `(label, n_nodes, e_in, d_sum, q_num, q_contrib)`, one row
    * per community; Σ q_contrib is the partition's modularity.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame): DataFrame = {
    val e = edges
      .select(col(srcCol).cast(LongType).as("s"),
        col(dstCol).cast(LongType).as("t"))
      .filter(col("s").isNotNull && col("t").isNotNull &&
        col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
      .localCheckpoint(true) // consumed by m, degrees, and both label joins
    val mRow = e.agg(count(lit(1)).as("m")) // one row, broadcast below
    val nl = labels.select(col("node"), col("label"))
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dSum = deg.join(nl, Seq("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
    val eIn = e
      .join(nl.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(nl.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("e_in"))
    dSum.join(eIn, Seq("label"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(mRow))
      .select(col("label"), col("n_nodes"), col("e_in"), col("d_sum"),
        (lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
          .as("q_num"),
        ((lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
          .cast(org.apache.spark.sql.types.DoubleType) /
          (lit(4L) * col("m") * col("m"))
            .cast(org.apache.spark.sql.types.DoubleType)).as("q_contrib"))
  }
}
