package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale soak for the r15 APPEND lifecycles ([[FamilyStore]] /
  * [[SuffixStore]]): measures what the segmented stores buy over the
  * whole-corpus rerun a store-less pipeline pays per day, and
  * re-asserts the parity contract at tier scale (probe-after-append ≡
  * one-shot over the concatenated corpus) so the soak is a correctness
  * run, not only a stopwatch — the FamilySoak discipline applied to
  * the ingest loop.
  *
  * Split: bootstrap = doc_id % 10 ∉ {0, 9}, appended batch = % 10 = 9,
  * probe batch = % 10 = 0 (the `q_family_append` / `q_suffix_append`
  * gate shape). Timings:
  *   - `init_sec` — one-time store bootstrap (index + labels / index);
  *   - `append_sec` — processBatch: probe + eager materialize + segment
  *     append (the per-day price WITH the store);
  *   - `probe_sec` — read-only probe of the second batch against the
  *     two-segment store (the steady-state per-day price);
  *   - `rerun_sec` — the store-less baseline: whole-corpus families
  *     (suffixFamilies) / spans (duplicatedSpans) over ALL docs.
  *
  * A half-size bootstrap probed with the SAME batch isolates the
  * corpus-size dependence of one probe (`probe_half_sec` vs
  * `probe_sec` — the FamilySoak tier design at store grain: a ratio
  * ≈ 1 is the "probe never pays the corpus price" claim, measured
  * without conflating batch growth with corpus growth).
  *
  * CHAIN mode (r15 verdict #1 — the lifecycle gates all ran n=1
  * appends; production is a chain): `StoreSoak <sfDir> [minLen] chain`
  * runs TEN sequential `processBatch` appends against the family
  * store, each batch carrying a PLANTED bridging doc that merges two
  * standing planted families with descending minima — the adversarial
  * shape where every batch re-points the previous component minimum
  * and the pointer chain deepens by one generation per step. Parity
  * (`exceptAll` both ways vs the one-shot whole-corpus rerun
  * restricted to the batch) is asserted after EVERY step, the
  * auto-compaction policy runs policy-ON every step
  * ([[FamilyStore.maybeCompactChecked]] `maxDepth = 4` against a
  * scratch checkpoint that commits each step, so a firing policy
  * folds everything — it must fire mid-chain and the chain must keep
  * going), and a held-out batch is probed read-only at the END so the
  * post-chain probe cost lands beside the n=1 numbers above. The
  * SUFFIX store runs the same
  * 10-append chain afterwards (simpler semantics — counts SUM across
  * segments, no pointer topology), parity per step against
  * `duplicatedSpans` over everything appended so far, with
  * `maybeCompactChecked(maxSegments = 5)` policy-ON (fires twice across
  * 11 segments). One JSON line per step:
  * `{"mode":"chain","step":k,"docs_so_far":N,"batch":N,
  *   "append_sec":…,"parity":bool,"depth":D,"segments":S,
  *   "compacted":bool,"compact_sec":…}` plus a final
  * `{"mode":"chain","step":"probe",…}` line.
  *
  * STREAM mode (r17 committed-prefix fold): `StoreSoak <sfDir>
  * [minLen] stream` — the never-idle streaming chain where the only
  * compaction opportunity is the in-stream policy call; see
  * [[runStream]].
  *
  * Usage: `runMain graft.operators.StoreSoak <sfDir> [minLen]
  * [chain|stream]`
  * Default mode prints one JSON line per store:
  * `{"store":"family"|"suffix","docs":N,"batch":N,"init_sec":…,
  *   "append_sec":…,"probe_sec":…,"probe_half_sec":…,"rerun_sec":…,
  *   "probe_rows":N,"parity":bool}`.
  */
object StoreSoak {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val minLen = if (args.length > 1) args(1).toInt else 25
    val chainMode = args.contains("chain")
    val streamMode = args.contains("stream")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    if (streamMode) { runStream(spark, dir, minLen); return }
    if (chainMode) { runChain(spark, dir, minLen); return }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0 &&
      col("doc_id") % 10 =!= 9).localCheckpoint(true)
    val b1 = docs.filter(col("doc_id") % 10 === 9).localCheckpoint(true)
    val b2 = docs.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
    val nDocs = docs.count()
    val nBatch = b2.count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val scratch = java.nio.file.Files
      .createTempDirectory("storesoak").toString

    // half-size bootstrap with the SAME probe batch — isolates the
    // corpus-size dependence of one probe (the FamilySoak tier design,
    // here at store grain: flat probe_half/probe_full ≈ 1 is the
    // "probe never pays the corpus price" claim)
    val corpusHalf = corpus.filter(col("doc_id") % 2 === 1)
      .localCheckpoint(true)

    // ---- family store ----
    locally {
      val (idxP, lblP) = (s"$scratch/fam/idx", s"$scratch/fam/lbl")
      val (idxH, lblH) = (s"$scratch/famh/idx", s"$scratch/famh/lbl")
      FamilyStore.init(corpusHalf, "doc_id", "text", idxH, lblH, minLen)
      val (_, probeHalfSec) = timed {
        FamilyStore.probe(b2, "doc_id", "text", idxH, lblH, minLen)
          .count()
      }
      val (_, initSec) = timed {
        FamilyStore.init(corpus, "doc_id", "text", idxP, lblP, minLen)
      }
      val (_, appendSec) = timed {
        FamilyStore.processBatch(b1, 0L, "doc_id", "text", idxP, lblP,
          minLen).count()
      }
      val ((probeRows, probe), probeSec) = timed {
        val p = FamilyStore.probe(b2, "doc_id", "text", idxP, lblP,
          minLen).localCheckpoint(true)
        (p.count(), p)
      }
      // steady-state (warm) probe: the first probe pays one-time JIT +
      // codegen-cache cost; production serves probes all day — report
      // both, the cold number stays the headline
      val (_, probeWarmSec) = timed {
        FamilyStore.probe(b2, "doc_id", "text", idxP, lblP, minLen)
          .count()
      }
      val ((parity, _), rerunSec) = timed {
        val fams = SuffixDedup.suffixFamilies(docs, "doc_id", "text",
          minLen).withColumnRenamed("id", "doc_id")
        val want = b2.select(col("doc_id"))
          .join(fams, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("family"))
        (want.exceptAll(probe).isEmpty &&
          probe.exceptAll(want).isEmpty, ())
      }
      println(s"""{"store":"family","docs":$nDocs,"batch":$nBatch,""" +
        s""""init_sec":$initSec,"append_sec":$appendSec,""" +
        s""""probe_sec":$probeSec,"probe_warm_sec":$probeWarmSec,""" +
        s""""probe_half_sec":$probeHalfSec,""" +
        s""""rerun_sec":$rerunSec,""" +
        s""""probe_rows":$probeRows,"parity":$parity}""")
    }

    // ---- suffix (span-grain) store ----
    locally {
      val idxP = s"$scratch/sfx/idx"
      val idxH = s"$scratch/sfxh/idx"
      SuffixStore.init(corpusHalf, "doc_id", "text", idxH, minLen)
      val (_, probeHalfSec) = timed {
        SuffixStore.probe(b2, "doc_id", "text", idxH, minLen).count()
      }
      val (_, initSec) = timed {
        SuffixStore.init(corpus, "doc_id", "text", idxP, minLen)
      }
      val (_, appendSec) = timed {
        SuffixStore.processBatch(b1, 0L, "doc_id", "text", idxP,
          minLen).count()
      }
      val ((probeRows, probe), probeSec) = timed {
        val p = SuffixStore.probe(b2, "doc_id", "text", idxP, minLen)
          .localCheckpoint(true)
        (p.count(), p)
      }
      val ((parity, _), rerunSec) = timed {
        val want = SuffixDedup.duplicatedSpans(docs, "doc_id", "text",
          minLen).filter(col("doc_id") % 10 === 0)
        (want.exceptAll(probe).isEmpty &&
          probe.exceptAll(want).isEmpty, ())
      }
      println(s"""{"store":"suffix","docs":$nDocs,"batch":$nBatch,""" +
        s""""init_sec":$initSec,"append_sec":$appendSec,""" +
        s""""probe_sec":$probeSec,"probe_half_sec":$probeHalfSec,""" +
        s""""rerun_sec":$rerunSec,""" +
        s""""probe_rows":$probeRows,"parity":$parity}""")
    }
  }

  /** Planted-family construction shared by the chain and stream soaks.
    *
    * ISOLATION INVARIANT (r17 fix): the longest substring shared by
    * two documents of DIFFERENT planted families must be shorter than
    * the gram length, or the families merge already in the bootstrap
    * and the "bridge k merges P(k) and P(k+1)" narrative is
    * degenerate. The pre-r17 pads (`pl${i}aaaa`) violated this:
    * `"aaaa" + "PLANTED-CHAIN-FAMILY-"` is a shared 25-char substring
    * across ALL families, so every planted pair landed in ONE
    * bootstrap family (caught by the stream soak's per-step
    * merged-minimum assertion; the chain soaks' PARITY claims were
    * unaffected — the one-shot oracle merges identically — but their
    * per-step depth growth came from real-document merges, not the
    * planted bridges). The pads now carry the family digits twice, so
    * any cross-family common substring is at most
    * 1 (pad overlap) + 22 (phrase prefix through the shared decade
    * digit) = 23 < 24 <= minLen.
    */
  private[operators] val B = 1000000000000L
  private[operators] def m(i: Int) = B - 50L * i
  private[operators] def P(i: Int) =
    f"PLANTED-CHAIN-FAMILY-$i%02d-PHRASE!!"
  private[operators] def plantedPairs: Seq[(Long, String)] =
    (1 to 11).flatMap { i =>
      Seq(
        (m(i), f"x$i%02dy$i%02dz" + P(i) + f"u$i%02dv$i%02dw"),
        (m(i) + 1, f"c$i%02dd$i%02de" + P(i) + f"f$i%02dg$i%02dh"))
    }
  /** Bridge k's text: contains P(k) and P(k+1) whole (all pure-phrase
    * grams shared with both planted pairs), with k-digit pads so two
    * bridges share at most 2 + 22 = 24 < minLen... (pads `br${k}..`
    * overlap on their trailing two letters only).
    */
  private[operators] def bridgeText(k: Int): String =
    s"br${k}aa" + P(k) + s"br${k}bb" + P(k + 1) + "zz"

  /** Mark `batchId` committed in a scratch checkpoint directory, as a
    * stream's commit log does once its foreachBatch returns: the chain
    * soak appends outside a stream, and every step it finishes is
    * committed, so [[SegmentStore.checkedFold]] may fold all of it.
    */
  private def commit(ckptDir: String, batchId: Long): Unit = {
    val commits = java.nio.file.Paths.get(ckptDir, "commits")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.writeString(commits.resolve(batchId.toString),
      "v1\n{}")
  }

  /** Whether the checked policy of a committed chain step folded: with
    * every batch committed it either stays idle or folds everything.
    */
  private def foldedAll(o: SegmentStore.CompactOutcome): Boolean = {
    require(o == SegmentStore.CompactIdle || o == SegmentStore.Compacted,
      s"every chain step is committed, so the policy must not defer: $o")
    o == SegmentStore.Compacted
  }

  /** The 10-append chain soak (see object doc). */
  private def runChain(spark: org.apache.spark.sql.SparkSession,
      dir: String, minLen: Int): Unit = {
    import spark.implicits._
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val docsRaw = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    require(minLen >= 24 && minLen <= 31,
      s"planted chain phrases assume 24 <= minLen <= 31; got $minLen")
    // planted families with DESCENDING minima far above the real id
    // space: every bridge re-points the previous component minimum at
    // a new, smaller one — one extra pointer generation per step
    val planted = plantedPairs
    val bootstrap = docsRaw.filter(col("doc_id") % 25 <= 13)
      .unionByName(planted.toDF("doc_id", "text")).localCheckpoint(true)
    val scratch = java.nio.file.Files
      .createTempDirectory("chainsoak").toString
    val (idxP, lblP) = (s"$scratch/idx", s"$scratch/lbl")
    val (_, initSec) = timed {
      FamilyStore.init(bootstrap, "doc_id", "text", idxP, lblP, minLen)
    }
    val nBoot = bootstrap.count()
    println(s"""{"mode":"chain","step":"init","docs_so_far":$nBoot,""" +
      s""""init_sec":$initSec}""")
    // one-shot ground truth restricted to a batch (the oracle shape)
    def oneShot(all: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame) = {
      val fams = SuffixDedup.suffixFamilies(all, "doc_id", "text", minLen)
        .withColumnRenamed("id", "doc_id")
      batch.select(col("doc_id")).join(fams, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("family"))
    }
    var all = bootstrap
    for (k <- 1 to 10) {
      val bridge = Seq((B + 1000000L + k, bridgeText(k)))
      val batch = docsRaw.filter(col("doc_id") % 25 === (13 + k))
        .unionByName(bridge.toDF("doc_id", "text")).localCheckpoint(true)
      val (fams, appendSec) = timed {
        FamilyStore.processBatch(batch, k.toLong, "doc_id", "text",
          idxP, lblP, minLen)
      }
      all = all.unionByName(batch).localCheckpoint(true)
      val (parity, paritySec) = timed {
        val want = oneShot(all, batch).localCheckpoint(true)
        want.exceptAll(fams).isEmpty && fams.exceptAll(want).isEmpty
      }
      val (segs, depth) = FamilyStore.stats(spark, idxP, lblP)
      // policy ON every step: must fire mid-chain (depth > 4) and the
      // chain must keep going afterwards
      commit(s"$scratch/ckpt", k.toLong)
      val (outcome, compactSec) = timed {
        FamilyStore.maybeCompactChecked(spark, idxP, lblP,
          s"$scratch/ckpt", maxDepth = 4)
      }
      val fired = foldedAll(outcome)
      val nBatch = batch.count()
      val nAll = all.count()
      println(s"""{"mode":"chain","step":$k,"docs_so_far":$nAll,""" +
        s""""batch":$nBatch,"append_sec":$appendSec,"parity":$parity,""" +
        s""""parity_rerun_sec":$paritySec,"depth":$depth,""" +
        s""""segments":$segs,"compacted":$fired,""" +
        s""""compact_sec":${if (fired) compactSec else 0.0}}""")
      require(parity, s"chain parity broke at step $k")
      // the planted bridge must actually bridge: its family is the
      // MERGED minimum m(k+1), one re-point per step (the assertion
      // that caught the pre-r17 degenerate planted construction)
      val bridgeFam = fams.filter(col("doc_id") === (B + 1000000L + k))
        .select(col("family")).as[Long].head()
      require(bridgeFam == m(k + 1),
        s"chain step $k: bridge must land on ${m(k + 1)}, got $bridgeFam")
    }
    // the post-chain read-only probe: held-out class, never appended
    val probeB = docsRaw.filter(col("doc_id") % 25 === 24)
      .localCheckpoint(true)
    val ((probeRows, probe), probeSec) = timed {
      val p = FamilyStore.probe(probeB, "doc_id", "text", idxP, lblP,
        minLen).localCheckpoint(true)
      (p.count(), p)
    }
    val (parity, rerunSec) = timed {
      val want = oneShot(all.unionByName(probeB), probeB)
        .localCheckpoint(true)
      want.exceptAll(probe).isEmpty && probe.exceptAll(want).isEmpty
    }
    val (segs, depth) = FamilyStore.stats(spark, idxP, lblP)
    println(s"""{"mode":"chain","step":"probe","probe_rows":$probeRows,""" +
      s""""probe_sec":$probeSec,"parity":$parity,""" +
      s""""rerun_sec":$rerunSec,"depth":$depth,"segments":$segs}""")

    // ---- the suffix-store chain: same 10-append shape, simpler
    // semantics (counts SUM across segments — no pointer topology), so
    // parity per step is spans ≡ duplicatedSpans over everything
    // appended so far, restricted to the batch; maybeCompactChecked
    // runs policy-ON against the segment-count trigger ----
    val sfxP = s"$scratch/sfx/idx"
    val (_, sInitSec) = timed {
      SuffixStore.init(bootstrap, "doc_id", "text", sfxP, minLen)
    }
    println(s"""{"mode":"chain","store":"suffix","step":"init",""" +
      s""""docs_so_far":$nBoot,"init_sec":$sInitSec}""")
    var sAll = bootstrap
    for (k <- 1 to 10) {
      val batch = docsRaw.filter(col("doc_id") % 25 === (13 + k))
        .localCheckpoint(true)
      val (spans, appendSec) = timed {
        SuffixStore.processBatch(batch, k.toLong, "doc_id", "text",
          sfxP, minLen)
      }
      sAll = sAll.unionByName(batch).localCheckpoint(true)
      val (parityS, paritySec) = timed {
        val want = SuffixDedup.duplicatedSpans(sAll, "doc_id", "text",
            minLen)
          .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .localCheckpoint(true)
        want.exceptAll(spans).isEmpty && spans.exceptAll(want).isEmpty
      }
      commit(s"$scratch/sfx/ckpt", k.toLong)
      val (outcome, compactSec) = timed {
        SuffixStore.maybeCompactChecked(spark, sfxP, s"$scratch/sfx/ckpt",
          maxSegments = 5)
      }
      val fired = foldedAll(outcome)
      println(s"""{"mode":"chain","store":"suffix","step":$k,""" +
        s""""append_sec":$appendSec,"parity":$parityS,""" +
        s""""parity_rerun_sec":$paritySec,""" +
        s""""segments":${SegmentStore.segmentCount(spark, sfxP)},""" +
        s""""compacted":$fired,""" +
        s""""compact_sec":${if (fired) compactSec else 0.0}}""")
      require(parityS, s"suffix chain parity broke at step $k")
    }
    val ((sProbeRows, sProbe), sProbeSec) = timed {
      val p = SuffixStore.probe(probeB, "doc_id", "text", sfxP, minLen)
        .localCheckpoint(true)
      (p.count(), p)
    }
    val (sParity, sRerunSec) = timed {
      val want = SuffixDedup.duplicatedSpans(
          sAll.unionByName(probeB), "doc_id", "text", minLen)
        .join(probeB.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      want.exceptAll(sProbe).isEmpty && sProbe.exceptAll(want).isEmpty
    }
    println(s"""{"mode":"chain","store":"suffix","step":"probe",""" +
      s""""probe_rows":$sProbeRows,"probe_sec":$sProbeSec,""" +
      s""""parity":$sParity,"rerun_sec":$sRerunSec,""" +
      s""""segments":${SegmentStore.segmentCount(spark, sfxP)}}""")

    // ---- the MinHash store chain (r16 verdict #2 — the last store
    // family whose append induction was inherited, not exercised):
    // same 10-append shape with a PLANTED near-dup per batch that only
    // the previous batch's appended segment can catch, per-step parity
    // vs the one-shot batch pipeline restricted to batch-involving
    // pairs, maybeCompactChecked policy-ON against the segment-count
    // trigger (fires mid-chain, chain keeps going), and a REPLAY at
    // step 5 (the at-least-once restart shape: same batch id
    // reprocessed — pairs identical, store unchanged) ----
    import graft.streaming.StreamingMinhashDedup
    val T = ("planted minhash chain template about tungsten codegen " +
      "shuffles broadcast joins and adaptive plans ") * 4
    def plantedDoc(k: Int) = (B + 2000000L + k, s"${T.trim} step$k")
    val mhBoot = docsRaw.filter(col("doc_id") % 25 <= 13)
      .unionByName(Seq(plantedDoc(0)).toDF("doc_id", "text"))
      .localCheckpoint(true)
    val (mhIdxP, mhTxtP) = (s"$scratch/mh/idx", s"$scratch/mh/txt")
    val (_, mInitSec) = timed {
      StreamingMinhashDedup.initIndex(mhBoot, "doc_id", "text",
        mhIdxP, mhTxtP)
    }
    println(s"""{"mode":"chain","store":"minhash","step":"init",""" +
      s""""docs_so_far":${mhBoot.count()},"init_sec":$mInitSec}""")
    val threshold = 0.5
    def mhOneShot(all: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame) = {
      val pairsAll = Dedup.minhashDedupPairs(all, "doc_id", "text",
        threshold).select(col("id_a"), col("id_b"))
      val aIds = batch.select(col("doc_id").as("id_a"))
      val bIds = batch.select(col("doc_id").as("id_b"))
      pairsAll.join(aIds, Seq("id_a"), "left_semi")
        .unionByName(pairsAll.join(bIds, Seq("id_b"), "left_semi")
          .select(col("id_a"), col("id_b")))
        .distinct()
    }
    var mAll = mhBoot
    for (k <- 1 to 10) {
      val batch = docsRaw.filter(col("doc_id") % 25 === (13 + k))
        .unionByName(Seq(plantedDoc(k)).toDF("doc_id", "text"))
        .localCheckpoint(true)
      val (pairs, appendSec) = timed {
        StreamingMinhashDedup.processBatch(batch, k.toLong, "doc_id",
          "text", mhIdxP, mhTxtP, threshold)
      }
      mAll = mAll.unionByName(batch).localCheckpoint(true)
      val got = pairs.select(col("id_a"), col("id_b"))
      val (parityM, paritySec) = timed {
        val want = mhOneShot(mAll, batch).localCheckpoint(true)
        want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty
      }
      // the cross-batch window: batch k's planted doc pairs with batch
      // k-1's — only the APPENDED segment can catch it
      val crossCaught = !pairs
        .filter(col("id_a") === plantedDoc(k - 1)._1 &&
          col("id_b") === plantedDoc(k)._1).isEmpty
      var replayOk = true
      if (k == 5) {
        // at-least-once restart shape mid-chain: reprocess the SAME
        // batch id — identical pairs, store unchanged
        val idxRows = SegmentStore.read(spark, mhIdxP).count()
        val replay = StreamingMinhashDedup.processBatch(batch, k.toLong,
          "doc_id", "text", mhIdxP, mhTxtP, threshold)
          .select(col("id_a"), col("id_b"))
        replayOk = replay.exceptAll(got).isEmpty &&
          got.exceptAll(replay).isEmpty &&
          SegmentStore.read(spark, mhIdxP).count() == idxRows
        require(replayOk, s"minhash replay broke at step $k")
      }
      commit(s"$scratch/mh/ckpt", k.toLong)
      val (outcome, compactSec) = timed {
        StreamingMinhashDedup.maybeCompactChecked(spark, mhIdxP, mhTxtP,
          s"$scratch/mh/ckpt", maxSegments = 5)
      }
      val fired = foldedAll(outcome)
      println(s"""{"mode":"chain","store":"minhash","step":$k,""" +
        s""""append_sec":$appendSec,"parity":$parityM,""" +
        s""""parity_rerun_sec":$paritySec,"cross_caught":$crossCaught,""" +
        s""""replay_ok":$replayOk,""" +
        s""""segments":${SegmentStore.segmentCount(spark, mhIdxP)},""" +
        s""""compacted":$fired,""" +
        s""""compact_sec":${if (fired) compactSec else 0.0}}""")
      require(parityM, s"minhash chain parity broke at step $k")
      require(crossCaught, s"cross-batch planted pair missed at step $k")
    }
    // post-chain read-only probe (held-out class, never appended)
    val ((mProbeRows, mProbe), mProbeSec) = timed {
      val idx = SegmentStore.read(spark, mhIdxP)
      val txts = SegmentStore.read(spark, mhTxtP).drop("ingest_batch")
      val p = Dedup.incrementalMinhashPairs(probeB, txts, idx, "doc_id",
          "text", threshold)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      (p.count(), p)
    }
    val (mParity, mRerunSec) = timed {
      val want = mhOneShot(mAll.unionByName(probeB), probeB)
        .localCheckpoint(true)
      want.exceptAll(mProbe).isEmpty && mProbe.exceptAll(want).isEmpty
    }
    println(s"""{"mode":"chain","store":"minhash","step":"probe",""" +
      s""""probe_rows":$mProbeRows,"probe_sec":$mProbeSec,""" +
      s""""parity":$mParity,"rerun_sec":$mRerunSec,""" +
      s""""segments":${SegmentStore.segmentCount(spark, mhIdxP)}}""")
  }

  /** The NEVER-IDLE streaming chain soak (r17 committed-prefix fold):
    * a real `writeStream`/`foreachBatch` family-store chain at tier
    * scale where the ONLY compaction opportunity is the in-stream
    * policy call — no between-batch maintenance window exists, the
    * shape a continuously-loaded production stream is permanently in.
    * Ten micro-batches, each carrying a planted bridging doc (the
    * chain-mode adversarial shape: every batch deepens the pointer
    * chain), [[FamilyStore.maybeCompactChecked]] invoked INSIDE
    * `foreachBatch` after each processBatch (where the just-written
    * segment is uncommitted by construction — pre-r17 this could only
    * defer), a stream restart mid-chain, a post-chain probe with
    * parity vs the one-shot rerun, and a final all-committed checked
    * fold. One JSON line per batch:
    * `{"mode":"stream","step":k,"batch_sec":…,"outcome":"…",
    *   "fold_sec":…,"depth":D,"segments":S,"own_segment":bool}`.
    */
  private def runStream(spark: org.apache.spark.sql.SparkSession,
      dir: String, minLen: Int): Unit = {
    import spark.implicits._
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val docsRaw = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    require(minLen >= 24 && minLen <= 31,
      s"planted chain phrases assume 24 <= minLen <= 31; got $minLen")
    val planted = plantedPairs
    val bootstrap = docsRaw.filter(col("doc_id") % 25 <= 13)
      .unionByName(planted.toDF("doc_id", "text")).localCheckpoint(true)
    val scratch = java.nio.file.Files
      .createTempDirectory("streamsoak").toString
    val (idxP, lblP, ckpt) =
      (s"$scratch/idx", s"$scratch/lbl", s"$scratch/ckpt")
    val (_, initSec) = timed {
      FamilyStore.init(bootstrap, "doc_id", "text", idxP, lblP, minLen)
    }
    println(s"""{"mode":"stream","step":"init",""" +
      s""""docs_so_far":${bootstrap.count()},"init_sec":$initSec}""")
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val results = scala.collection.mutable.Map.empty[Long, Long]
    // per-batch observation from inside the callback:
    // (outcome, foldSec, depthAfter, segmentsAfter, ownSegmentPresent)
    val obs = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Double, Long, Long, Boolean)]
    def start() = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        results ++= FamilyStore.processBatch(b, id, "doc_id", "text",
          idxP, lblP, minLen).as[(Long, Long)].collect()
        val (o, foldSec) = timed {
          FamilyStore.maybeCompactChecked(spark, idxP, lblP, ckpt,
            maxDepth = 4)
        }
        val (segs, depth) = FamilyStore.stats(spark, idxP, lblP)
        obs += ((id, o.toString, foldSec, depth, segs,
          SegmentStore.segmentIds(spark, idxP).contains(id)))
        (): Unit
      }.start()
    var q = start()
    var all = bootstrap
    try {
      for (k <- 1 to 10) {
        if (k == 6) { q.stop(); q = start() } // restart mid-chain
        val bridge = Seq((B + 1000000L + k, bridgeText(k)))
        val batch = docsRaw.filter(col("doc_id") % 25 === (13 + k))
          .unionByName(bridge.toDF("doc_id", "text")).localCheckpoint(true)
        val (_, batchSec) = timed {
          in.addData(batch.as[(Long, String)].collect().toSeq: _*)
          q.processAllAvailable()
        }
        all = all.unionByName(batch).localCheckpoint(true)
        val (id, o, foldSec, depth, segs, own) = obs.last
        require(results(B + 1000000L + k) == m(k + 1),
          s"stream step $k: bridge must land on the merged minimum " +
            s"${m(k + 1)}, got ${results(B + 1000000L + k)} " +
            s"(batch id $id, outcome $o, depth $depth, segments $segs)")
        require(o != "Compacted",
          s"stream step $k: no in-stream call may full-fold")
        require(own,
          s"stream step $k: the replayable segment must survive a fold")
        println(s"""{"mode":"stream","step":$k,"batch_id":$id,""" +
          s""""batch_sec":$batchSec,"outcome":"$o",""" +
          s""""fold_sec":$foldSec,"depth":$depth,"segments":$segs,""" +
          s""""own_segment":$own}""")
      }
    } finally q.stop()
    val nPrefix = obs.count(_._2 == "CompactedPrefix")
    require(nPrefix >= 2,
      s"the depth trigger must fold repeatedly UNDER LOAD ($obs)")
    // post-chain read-only probe with one-shot parity
    val probeB = docsRaw.filter(col("doc_id") % 25 === 24)
      .localCheckpoint(true)
    val ((probeRows, probe), probeSec) = timed {
      val p = FamilyStore.probe(probeB, "doc_id", "text", idxP, lblP,
        minLen).localCheckpoint(true)
      (p.count(), p)
    }
    val (parity, rerunSec) = timed {
      val fams = SuffixDedup.suffixFamilies(all.unionByName(probeB),
        "doc_id", "text", minLen).withColumnRenamed("id", "doc_id")
      val want = probeB.select(col("doc_id"))
        .join(fams, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("family"))
        .localCheckpoint(true)
      want.exceptAll(probe).isEmpty && probe.exceptAll(want).isEmpty
    }
    require(parity, "stream post-chain probe parity broke")
    // the stream is stopped — everything is committed, so the SAME
    // policy entry now folds everything (Compacted) and resolution is
    // unchanged
    val (o2, finalFoldSec) = timed {
      FamilyStore.maybeCompactChecked(spark, idxP, lblP, ckpt,
        maxDepth = 0, maxSegments = 1)
    }
    val (probe2, probe2Sec) = timed {
      FamilyStore.probe(probeB, "doc_id", "text", idxP, lblP, minLen)
        .localCheckpoint(true)
    }
    val parity2 = probe2.exceptAll(probe).isEmpty &&
      probe.exceptAll(probe2).isEmpty
    require(o2 == SegmentStore.Compacted && parity2,
      s"final all-committed fold must run full and preserve results ($o2)")
    println(s"""{"mode":"stream","step":"probe","probe_rows":$probeRows,""" +
      s""""probe_sec":$probeSec,"parity":$parity,"rerun_sec":$rerunSec,""" +
      s""""prefix_folds":$nPrefix,""" +
      s""""final_fold":"$o2","final_fold_sec":$finalFoldSec,""" +
      s""""probe_after_full_fold_sec":$probe2Sec,"parity2":$parity2,""" +
      s""""segments":${SegmentStore.segmentCount(spark, idxP)}}""")

    // ---- the MINHASH never-idle stream: same shape, segment-count
    // trigger (this store's one accumulating dimension), planted
    // cross-batch near-dup per batch (the window only an appended
    // index closes — it must keep closing ACROSS in-stream folds) ----
    import graft.streaming.StreamingMinhashDedup
    val T = ("planted minhash stream template about tungsten codegen " +
      "shuffles broadcast joins and adaptive plans ") * 4
    def plantedDoc(k: Int) = (B + 2000000L + k, s"${T.trim} step$k")
    val mhBoot = docsRaw.filter(col("doc_id") % 25 <= 13)
      .unionByName(Seq(plantedDoc(0)).toDF("doc_id", "text"))
      .localCheckpoint(true)
    val (mhIdxP, mhTxtP, mhCkpt) =
      (s"$scratch/mh/idx", s"$scratch/mh/txt", s"$scratch/mh/ckpt")
    val threshold = 0.5
    val (_, mInitSec) = timed {
      StreamingMinhashDedup.initIndex(mhBoot, "doc_id", "text",
        mhIdxP, mhTxtP)
    }
    println(s"""{"mode":"stream","store":"minhash","step":"init",""" +
      s""""docs_so_far":${mhBoot.count()},"init_sec":$mInitSec}""")
    val mhIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val mhPairs = scala.collection.mutable.Set.empty[(Long, Long)]
    val mhObs = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Double, Long, Boolean)]
    def mhStart() = mhIn.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", mhCkpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        mhPairs ++= StreamingMinhashDedup.processBatch(b, id, "doc_id",
            "text", mhIdxP, mhTxtP, threshold)
          .select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
        val (o, foldSec) = timed {
          StreamingMinhashDedup.maybeCompactChecked(spark, mhIdxP,
            mhTxtP, mhCkpt, maxSegments = 3)
        }
        mhObs += ((id, o.toString, foldSec,
          SegmentStore.segmentCount(spark, mhIdxP),
          SegmentStore.segmentIds(spark, mhIdxP).contains(id)))
        (): Unit
      }.start()
    var mq = mhStart()
    var mAll = mhBoot
    try {
      for (k <- 1 to 10) {
        if (k == 6) { mq.stop(); mq = mhStart() } // restart mid-chain
        val batch = docsRaw.filter(col("doc_id") % 25 === (13 + k))
          .unionByName(Seq(plantedDoc(k)).toDF("doc_id", "text"))
          .localCheckpoint(true)
        val (_, batchSec) = timed {
          mhIn.addData(batch.as[(Long, String)].collect().toSeq: _*)
          mq.processAllAvailable()
        }
        mAll = mAll.unionByName(batch).localCheckpoint(true)
        val (id, o, foldSec, segs, own) = mhObs.last
        // the cross-batch window stays closed ACROSS in-stream folds:
        // batch k's planted doc pairs with batch k-1's
        require(mhPairs.contains(
            (plantedDoc(k - 1)._1, plantedDoc(k)._1)),
          s"minhash stream step $k: cross-batch planted pair missed")
        require(o != "Compacted" && own,
          s"minhash stream step $k: in-stream fold must spare the " +
            s"replayable segment ($o, own=$own)")
        println(s"""{"mode":"stream","store":"minhash","step":$k,""" +
          s""""batch_id":$id,"batch_sec":$batchSec,"outcome":"$o",""" +
          s""""fold_sec":$foldSec,"segments":$segs,"own_segment":$own}""")
      }
    } finally mq.stop()
    val mhFolds = mhObs.count(_._2 == "CompactedPrefix")
    require(mhFolds >= 2,
      s"the segment trigger must fold repeatedly UNDER LOAD ($mhObs)")
    // post-chain read-only probe with one-shot parity (batch-involving
    // pairs of a held-out batch)
    val ((mProbeRows, mProbe), mProbeSec) = timed {
      val p = Dedup.incrementalMinhashPairs(probeB,
          SegmentStore.read(spark, mhTxtP).drop("ingest_batch"),
          SegmentStore.read(spark, mhIdxP), "doc_id", "text", threshold)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      (p.count(), p)
    }
    val (mParity, mRerunSec) = timed {
      val pairsAll = Dedup.minhashDedupPairs(
          mAll.unionByName(probeB), "doc_id", "text", threshold)
        .select(col("id_a"), col("id_b"))
      val want = pairsAll
        .join(probeB.select(col("doc_id").as("id_a")), Seq("id_a"),
          "left_semi")
        .unionByName(pairsAll
          .join(probeB.select(col("doc_id").as("id_b")), Seq("id_b"),
            "left_semi")
          .select(col("id_a"), col("id_b")))
        .distinct().localCheckpoint(true)
      want.exceptAll(mProbe).isEmpty && mProbe.exceptAll(want).isEmpty
    }
    require(mParity, "minhash stream post-chain probe parity broke")
    println(s"""{"mode":"stream","store":"minhash","step":"probe",""" +
      s""""probe_rows":$mProbeRows,"probe_sec":$mProbeSec,""" +
      s""""parity":$mParity,"rerun_sec":$mRerunSec,""" +
      s""""prefix_folds":$mhFolds,""" +
      s""""segments":${SegmentStore.segmentCount(spark, mhIdxP)}}""")
  }
}
