package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Chain soak for the served ANN families — [[StoreSoak]]'s 10-append
  * induction discipline (r16) applied to the vector tier (r16 verdict
  * #1/#7): ten sequential `appendToIndex` ingest steps per family with
  * the family's DRIFT WITNESS measured after every step, and the
  * rebuild RESPONSE run POLICY-ON mid-chain — when a step's report
  * flips `rebuild`, the soak runs the family's rebuild right there
  * (retrain + re-encode + re-serve), re-measures, and continues the
  * chain against the rebuilt index. The output is the witness
  * TRAJECTORY: staleness accumulating, the flag firing, recovery, and
  * the next accumulation cycle — the production loop the witnesses
  * exist for, exercised by induction rather than asserted at n=1.
  *
  * Planted drift per family rides the axis its witness watches:
  *
  *   - '''IVF-PQ''' and '''SQ8''' (trained models): each batch k is the
  *     base vector set ROTATED by a disjoint per-batch stride and
  *     SCALED by `1 + 0.3·k` — progressive range escape that leaves
  *     cosine geometry intact (scaling is conformal; see [[scale]] for
  *     why an additive shift would instead collapse the angular gaps
  *     no model can recover). IVF-PQ residuals walk out of the frozen
  *     codebooks (recall witness); SQ8 walks past the fitted per-dim
  *     range (clip witness, `maxClipRate = 0.25` so the census RAMPS
  *     across steps instead of firing at 1% immediately).
  *   - '''LSH''' (no trained model): each batch k is the base set plus
  *     deterministic pseudo-noise of amplitude `0.06·k` per dimension —
  *     a degrading upstream encoder. Neighbors drift apart angularly,
  *     hamming-1 multi-probe under the current table budget stops
  *     covering them (recall witness); the response is re-planing with
  *     MORE TABLES (the OR-construction lever), after which subsequent
  *     appends ride the new layout.
  *
  * The corpus is the sf embeddings table tiled `tile`× by small
  * deterministic jitter (±0.02 — each anchor gains `tile` siblings at
  * cosine ≈ 0.999, so top-3 recall has real neighbors to find; the raw
  * table's own neighbor structure is too weak to support a 0.9 floor
  * at any index capacity). Batches reuse the tiled base — shift-mode
  * batches are additionally rotated by a disjoint per-batch stride so
  * no two batches are cosine-near-duplicates of each other — and the
  * corpus grows linearly to `11 × tile × base`. All transforms are
  * integer-hash deterministic; no RNG state anywhere.
  *
  * One JSON line per step per family:
  * `{"soak":"ann","family":…,"step":k,"corpus":N,"append_sec":…,
  *   "report_sec":…,"recall":…,<witness cols>,"rebuild":bool,
  *   "rebuilt":bool,"rebuild_sec":…,"recall_after":…}`
  * (`rebuilt` marks the policy firing; `recall_after` is the
  * post-rebuild re-measurement — the recovery evidence.)
  *
  * Usage: `runMain graft.operators.AnnSoak <sfDir> [tile]`
  */
object AnnSoak {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Rotate a vector left by `r` positions — deterministic,
    * distance-preserving tiling.
    */
  private val rotate = udf((e: Seq[Float], r: Int) => {
    val n = e.length
    Seq.tabulate(n)(i => e((i + r) % n))
  })

  /** Scale every component by `s` — the range-escape drift axis.
    * Scaling is CONFORMAL (cosine geometry untouched), so it walks the
    * data out of the trained per-dim range / residual codebooks
    * without degrading what a retrained model can rank — an additive
    * shift instead crowds every vector toward the all-ones pole
    * (measured: by +0.6/dim ALL pairwise cosines exceed 0.965, and
    * even a fresh model's recall decays with corpus size because the
    * sibling/distractor angular gap itself has collapsed).
    */
  private val scale = udf((e: Seq[Float], s: Double) =>
    e.map(x => (x * s).toFloat))

  /** Deterministic pseudo-noise of amplitude `a` per component, keyed
    * by (id, dim, step) — the angular drift axis. Integer arithmetic
    * only; no RNG state.
    */
  private val jitter = udf((e: Seq[Float], id: Long, k: Int, a: Double) =>
    e.zipWithIndex.map { case (x, i) =>
      val h = (id * 1315423911L + i.toLong * 2654435761L +
        k.toLong * 97531L) % 1000003L
      (x + ((h.toDouble / 1000003.0) - 0.5) * 2.0 * a).toFloat
    })

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val tile = if (args.length > 1) args(1).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // tiled base: `tile` JITTERED copies (amplitude 0.02 — siblings at
    // cosine ≈ 0.999) of every testdata vector. ANN recall is only
    // measurable when near neighbors EXIST: the raw table's neighbor
    // structure is too weak to support a 0.9 floor at any index
    // capacity (measured: fresh-model calibration 0.73 at 1k vectors,
    // declining as the corpus grows), so the soak plants sibling
    // structure ON the testdata anchors and measures top-3 recall —
    // each probe's true neighbors are its tile siblings.
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = (0 until tile).map { t =>
      raw.select((col("vec_id") + lit(t * 10000L)).as("id"),
        jitter(col("embedding"), col("vec_id"), lit(1000 + t), lit(0.02))
          .as("embedding"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    val nBase = base.count()
    val scratch = java.nio.file.Files.createTempDirectory("annsoak")
      .toString

    def batchOf(k: Int, mode: String): DataFrame = {
      // scale mode also ROTATES each batch by a per-batch stride (4k —
      // disjoint from the tile rotations and from every other batch):
      // without it the batches are copies of the same directions,
      // cosine-near-duplicates of each other, and even a freshly
      // retrained model faces exact ADC ties (measured: recall_after
      // stuck at 0.1-0.8). Rotation keeps each batch a distinct
      // cluster-structured region; the scale still walks it out of the
      // trained range.
      val moved =
        if (mode == "scale") base.select(col("id"),
          scale(rotate(col("embedding"), lit(4 * k)), lit(1.0 + 0.3 * k))
            .as("embedding"))
        else base.select(col("id"),
          jitter(col("embedding"), col("id"), lit(k), lit(0.06 * k))
            .as("embedding"))
      moved.select((col("id") + lit(k * 1000000L)).as("id"),
        col("embedding"))
    }

    def runFamily(family: String, mode: String,
        init: DataFrame => Unit,
        append: DataFrame => Unit,
        report: (DataFrame, DataFrame) => (Double, Double, Boolean),
        rebuild: DataFrame => Unit): Unit = {
      var corpus = base
      val (_, initSec) = timed(init(base))
      // calibration baseline: the same report on UNDRIFTED probes right
      // after init — the recall the chain's recoveries are measured
      // against (a recovery target the family cannot hit fresh would
      // make the trajectory unreadable)
      // ~1% probe density: recall granularity at 3 probes was 1/9 —
      // too coarse to tell a miss from noise
      val calib = report(base.filter(col("id") % 101 === 0), base)
      println(s"""{"soak":"ann","family":"$family","step":"init",""" +
        s""""corpus":$nBase,"init_sec":$initSec,""" +
        s""""calib_recall":${calib._1},"calib_witness":${calib._2}}""")
      for (k <- 1 to 10) {
        val b = batchOf(k, mode).localCheckpoint(true)
        val (_, appendSec) = timed(append(b))
        corpus = corpus.unionByName(b).localCheckpoint(true)
        val nCorpus = corpus.count()
        val probes = b.filter(col("id") % 101 === 0)
          .localCheckpoint(true)
        val ((recall, witness, fire), reportSec) =
          timed(report(probes, corpus))
        // POLICY-ON: the rebuild response runs right where the witness
        // fires, mid-chain, and the chain continues against the
        // rebuilt index — the FamilyStore.maybeCompactChecked discipline
        var rebuiltSec = -1.0
        var recallAfter = -1.0
        var fireAfter = false
        if (fire) {
          val (_, rs) = timed(rebuild(corpus))
          rebuiltSec = rs
          val ((ra, _, fa), _) = timed(report(probes, corpus))
          recallAfter = ra
          fireAfter = fa
        }
        println(s"""{"soak":"ann","family":"$family","step":$k,""" +
          s""""corpus":$nCorpus,"append_sec":$appendSec,""" +
          s""""report_sec":$reportSec,"recall":$recall,""" +
          s""""witness":$witness,"rebuild":$fire,"rebuilt":$fire,""" +
          s""""rebuild_sec":$rebuiltSec,"recall_after":$recallAfter,""" +
          s""""rebuild_after":$fireAfter}""")
      }
    }

    // ---- IVF-PQ: recall witness under range-escape drift ----
    locally {
      val path = s"$scratch/ivfpq"
      // m=16 → 4-dim subvectors (the spec-calibrated granularity);
      // nlist scales with the corpus at rebuild (each batch is a NEW
      // region — the cell budget must grow with the cluster count, the
      // same sizing a production rebuild applies; a frozen nlist would
      // cap fresh-model recall below the floor by end of chain)
      val (m, ksub) = (16, 32)
      // the FAISS sizing rule of thumb: nlist ≈ 4·√N (N/50 grew to
      // 1760 cells at 88k rows — 50 rows/cell, small-file pressure on
      // every append for no recall gain)
      def cells(n: Long) = math.max(32L, 4L * math.round(math.sqrt(
        n.toDouble))).toInt
      runFamily("ivfpq", "scale",
        init = c => IvfPq.writeIndex(c,
          IvfPq.train(c, cells(nBase), m, ksub), path),
        append = b => IvfPq.appendToIndex(b, spark, path),
        report = (q, c) => {
          val r = IvfPq.driftReport(spark, path, q, c, k = 3,
              nprobe = 32, rerankFactor = 32)
            .select(col("recall"), col("rebuild"))
            .collect().head
          (r.getDouble(0), r.getDouble(0), r.getBoolean(1))
        },
        rebuild = c => {
          IvfPq.rebuildIndex(c, path, cells(c.count()), m, ksub); ()
        })
    }

    // ---- SQ8: clip witness under range-escape drift ----
    locally {
      val path = s"$scratch/sq"
      runFamily("sq", "scale",
        init = c => ScalarQuantizer.writeIndex(c,
          ScalarQuantizer.fit(c, "embedding"), path),
        append = b => ScalarQuantizer.appendToIndex(b, spark, path),
        report = (q, c) => {
          val r = ScalarQuantizer.sqDriftReport(q, c,
              ScalarQuantizer.readModel(spark, path), k = 3,
              rerankFactor = 16, maxClipRate = 0.25,
              codes = Some(spark.read.parquet(s"$path/codes")))
            .select(col("recall"), col("clip_rate"), col("rebuild"))
            .collect().head
          (r.getDouble(0), r.getDouble(1), r.getBoolean(2))
        },
        rebuild = c => { ScalarQuantizer.rebuildIndex(c, path); () })
    }

    // ---- LSH: recall witness under angular drift; response adds
    // tables (subsequent appends ride the new layout) ----
    locally {
      val path = s"$scratch/lsh"
      // 6 planes = 64 buckets/table: bounds the (table, bucket) file
      // count the per-step appends and occupancy scans pay for
      val nPlanes = 6
      var nTables = 2
      runFamily("lsh", "jitter",
        init = c => Similarity.writeLshIndex(c, path, nPlanes, nTables),
        append = b => Similarity.appendToLshIndex(b, path, nPlanes,
          nTables),
        report = (q, c) => {
          val r = Similarity.lshDriftReport(spark, path, q, c, k = 3,
              nPlanes = nPlanes, nTables = nTables)
            .select(col("recall"), col("max_bucket_share"),
              col("rebuild"))
            .collect().head
          (r.getDouble(0), r.getDouble(1), r.getBoolean(2))
        },
        rebuild = c => {
          nTables += 2
          Similarity.writeLshIndex(c, path, nPlanes, nTables)
        })
    }
    spark.stop()
  }
}
