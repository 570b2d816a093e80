package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** APPEND lifecycle of the standing family store: probe-after-append ≡
  * one-shot whole-corpus rerun (the StreamingAnnIngest parity shape),
  * pointer-chain resolution across bridging batches, replay
  * idempotence, and compaction (path compression + over-cap collapse)
  * preserving probe results.
  */
class FamilyStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val L = 26
  private val P1 = "FAMILY-ONE-SHARED-PHRASE!!"
  private val P2 = "FAMILY-TWO-SHARED-PHRASE!!"
  private val P3 = "FAMILY-SIX-SHARED-PHRASE!!"

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  /** Whole-corpus ground truth over `all`, restricted to `batchIds`. */
  private def oneShot(all: Seq[(Long, String)], batchIds: Set[Long],
      cap: Int = 1000): Map[Long, Long] = {
    val fams = Dedup.connectedComponents(
      SuffixDedup.spanPairs(df(all), "doc_id", "text", L,
          maxDocsPerGram = cap)
        .select($"id_a", $"id_b")).withColumnRenamed("id", "doc_id")
    df(all).select($"doc_id").join(fams, Seq("doc_id"), "left")
      .withColumn("family", coalesce($"label", $"doc_id"))
      .select($"doc_id", $"family").as[(Long, Long)].collect()
      .filter(r => batchIds(r._1)).toMap
  }

  private def tmp(tag: String): (String, String) = {
    val d = java.nio.file.Files.createTempDirectory(tag).toString
    (s"$d/idx", s"$d/lbl")
  }

  private def probeMap(batch: Seq[(Long, String)], idxP: String,
      lblP: String, cap: Int = 1000): Map[Long, Long] =
    FamilyStore.probe(df(batch), "doc_id", "text", idxP, lblP, L, cap)
      .as[(Long, Long)].collect().toMap

  test("probe after two appends equals the one-shot rerun over the " +
      "concatenated corpus (join, bridge, novel, batch-internal twins)") {
    val corpus = Seq(
      (1L, "aaaaaaaaaa" + P1 + "bbbbbbbbbb"),
      (2L, "cccccccccc" + P1 + "dddddddddd"),
      (5L, "eeeeeeeeee" + P2 + "ffffffffff"),
      (6L, "gggggggggg" + P2 + "hhhhhhhhhh"),
      (9L, "a corpus doc in no family at all......"))
    val batch1 = Seq(
      (100L, "kkkkkkkkkk" + P3 + "llllllllll"),   // new family seed
      (101L, "mmmmmmmmmm" + P1 + "nnnnnnnnnn"))   // joins family one
    val batch2 = Seq(
      (200L, "oooooooooo" + P3 + "pppppppppp"),   // joins batch1's family
      (201L, "qqqqqqqqqq" + P2 + "rrrrrrrrrr"),   // joins standing family
      (202L, "batch-two wholly novel content ..."),
      (203L, "ssssssssss" + "BATCH2-INTERNAL-TWIN-BLOCK" + "tttttttttt"),
      (204L, "uuuuuuuuuu" + "BATCH2-INTERNAL-TWIN-BLOCK" + "vvvvvvvvvv"))
    val (idxP, lblP) = tmp("famstore")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP, lblP, L)
    val f1 = FamilyStore.processBatch(df(batch1), 0L, "doc_id", "text",
      idxP, lblP, L).as[(Long, Long)].collect().toMap
    assert(f1 == oneShot(corpus ++ batch1, Set(100L, 101L)))
    val got = probeMap(batch2, idxP, lblP)
    val want = oneShot(corpus ++ batch1 ++ batch2,
      Set(200L, 201L, 202L, 203L, 204L))
    assert(got == want)
    // semantics spot checks: 200 joins the family batch1 seeded;
    // twins form their own; novel is its own
    assert(got(200L) == 100L && got(201L) == 5L)
    assert(got(203L) == 203L && got(204L) == 203L)
    assert(got(202L) == 202L)
  }

  test("a bridging batch re-points the swallowed standing label: a later " +
      "batch touching ONLY the swallowed family resolves through the " +
      "pointer chain to the merged minimum") {
    val corpus = Seq(
      (1L, "aaaaaaaaaa" + P1 + "bbbbbbbbbb"),
      (2L, "cccccccccc" + P1 + "dddddddddd"),
      (5L, "eeeeeeeeee" + P2 + "ffffffffff"),
      (6L, "gggggggggg" + P2 + "hhhhhhhhhh"))
    // bridges families one (min 1) and two (min 5) → label 5 swallowed
    val bridge = Seq(
      (100L, "mmmmmmmmmm" + P1 + "nnnnnnnnnn" + P2 + "oooooooooo"))
    // touches ONLY family two's phrase — must land on 1, not 5
    val late = Seq((200L, "pppppppppp" + P2 + "qqqqqqqqqq"))
    val (idxP, lblP) = tmp("fambridge")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP, lblP, L)
    FamilyStore.processBatch(df(bridge), 0L, "doc_id", "text", idxP,
      lblP, L)
    val got = probeMap(late, idxP, lblP)
    assert(got == oneShot(corpus ++ bridge ++ late, Set(200L)))
    assert(got(200L) == 1L,
      s"late probe must chase the 5 -> 1 pointer: $got")
  }

  test("two bridging generations build a depth-2 chain; probe still " +
      "resolves, and compact flattens it without changing results") {
    val P0 = "FAMILY-TEN-SHARED-PHRASE!!"
    val corpus = Seq(
      (10L, "aaaaaaaaaa" + P0 + "bbbbbbbbbb"),
      (11L, "cccccccccc" + P0 + "dddddddddd"),
      (20L, "eeeeeeeeee" + P1 + "ffffffffff"),
      (21L, "gggggggggg" + P1 + "hhhhhhhhhh"),
      (30L, "iiiiiiiiii" + P2 + "jjjjjjjjjj"),
      (31L, "kkkkkkkkkk" + P2 + "llllllllll"))
    // gen 1: bridge families 20 and 30 → 30's label points to 20
    val b1 = Seq((100L, "mmmmmmmmmm" + P1 + "nnnnnnnnnn" + P2 + "oooo"))
    // gen 2: bridge families 10 and 20 → 20's label points to 10;
    // now 30 resolves via 30 -> 20 -> 10
    val b2 = Seq((110L, "pppppppppp" + P0 + "qqqqqqqqqq" + P1 + "rrrr"))
    val late = Seq((200L, "ssssssssss" + P2 + "tttttttttt"))
    val (idxP, lblP) = tmp("famchain")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP, lblP, L)
    FamilyStore.processBatch(df(b1), 0L, "doc_id", "text", idxP, lblP, L)
    FamilyStore.processBatch(df(b2), 1L, "doc_id", "text", idxP, lblP, L)
    val want = oneShot(corpus ++ b1 ++ b2 ++ late, Set(200L))
    val before = probeMap(late, idxP, lblP)
    assert(before == want && before(200L) == 10L)
    FamilyStore.compactPrefix(spark, idxP, lblP, upTo = Long.MaxValue)
    val after = probeMap(late, idxP, lblP)
    assert(after == want, "compaction must not change probe results")
    // the full fold leaves ONE index segment (the bootstrap segment):
    // the combined-count formula is exact across any segmentation
    assert(SegmentStore.segmentIds(spark, idxP) == Seq(-1L),
      "the full fold must fold every index segment into -1")
    // path compression: every stored label value is final (no stored
    // row re-points it) — chains are depth 1
    val lbl = spark.read.parquet(lblP).select($"id", $"label")
    val stale = lbl.join(
      lbl.select($"id".as("label")), Seq("label"), "left_semi").count()
    assert(stale == 0L, "compact must flatten pointer chains")
  }

  test("replay idempotence: reprocessing a batch under its batchId " +
      "yields the same result and leaves the store equivalent") {
    val corpus = Seq(
      (1L, "aaaaaaaaaa" + P1 + "bbbbbbbbbb"),
      (2L, "cccccccccc" + P1 + "dddddddddd"))
    val batch = Seq((100L, "kkkkkkkkkk" + P1 + "llllllllll"))
    val late = Seq((200L, "mmmmmmmmmm" + P1 + "nnnnnnnnnn"))
    val (idxP, lblP) = tmp("famreplay")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP, lblP, L)
    def run() = FamilyStore.processBatch(df(batch), 0L, "doc_id", "text",
      idxP, lblP, L).as[(Long, Long)].collect().toMap
    val first = run()
    val idxRows = spark.read.parquet(idxP).count()
    val lblRows = spark.read.parquet(lblP).count()
    val replay = run()
    assert(replay == first)
    assert(spark.read.parquet(idxP).count() == idxRows,
      "index segment must be overwritten, not duplicated")
    assert(spark.read.parquet(lblP).count() == lblRows,
      "labels segment must be overwritten, not duplicated")
    assert(probeMap(late, idxP, lblP) ==
      oneShot(corpus ++ batch ++ late, Set(200L)))
  }

  test("a replayed DEEPENING batch does not inflate the depth bound " +
      "(ADVICE r16: the bump records its batch id and is skipped on " +
      "replay), and compact re-arms the bump for later batches") {
    val corpus = Seq(
      (1L, "aaaaaaaaaa" + P1 + "bbbbbbbbbb"),
      (2L, "cccccccccc" + P1 + "dddddddddd"),
      (5L, "eeeeeeeeee" + P2 + "ffffffffff"),
      (6L, "gggggggggg" + P2 + "hhhhhhhhhh"),
      (8L, "iiiiiiiiii" + P3 + "jjjjjjjjjj"),
      (9L, "kkkkkkkkkk" + P3 + "llllllllll"))
    // bridges P1 (min 1) and P2 (min 5): re-points corpus id 5 → deepens
    val bridge1 = Seq(
      (100L, "mmmmmmmmmm" + P1 + "nnnnnnnnnn" + P2 + "oooooooooo"))
    // bridges P1 and P3: re-points corpus id 8 → deepens again
    val bridge2 = Seq(
      (110L, "pppppppppp" + P1 + "qqqqqqqqqq" + P3 + "rrrrrrrrrr"))
    val (idxP, lblP) = tmp("famdepthreplay")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP, lblP, L)
    def run(batch: Seq[(Long, String)], id: Long) =
      FamilyStore.processBatch(df(batch), id, "doc_id", "text",
        idxP, lblP, L).as[(Long, Long)].collect().toMap
    val first = run(bridge1, 0L)
    assert(FamilyStore.stats(spark, idxP, lblP)._2 == 2L,
      "bridging batch must bump the depth bound to 2")
    // at-least-once replay: same batch id recomputes against the same
    // pre-append state and overwrites its segments — the bound must
    // NOT inflate once per restart (it would spuriously trip maxChase
    // on a restart-churny stream)
    assert(run(bridge1, 0L) == first)
    assert(FamilyStore.stats(spark, idxP, lblP)._2 == 2L,
      "replayed deepening batch must not re-bump the depth bound")
    // the full fold flattens and re-arms: a LATER deepening batch bumps
    // again
    FamilyStore.compactPrefix(spark, idxP, lblP, upTo = Long.MaxValue)
    assert(FamilyStore.stats(spark, idxP, lblP)._2 == 1L)
    run(bridge2, 1L)
    assert(FamilyStore.stats(spark, idxP, lblP)._2 == 2L,
      "post-compact deepening batch must bump the re-armed bound")
  }

  test("compact collapses a combined-over-cap gram's postings to " +
      "per-segment markers; probe exclusion is unchanged") {
    val MEGA = "UNIVERSAL-BOILERPLATE-GRAM"
    // cap=3: corpus holds MEGA in 2 docs (under cap), batch adds 2 more
    // (combined 4 > cap) — new edges on MEGA are excluded
    val corpus = Seq(
      (1L, "padpadpadpadpadpadpaAB" + MEGA),
      (2L, "padpadpadpadpadpadpaCD" + MEGA))
    val batch = Seq(
      (100L, "padpadpadpadpadpadpaEF" + MEGA),
      (101L, "padpadpadpadpadpadpaGH" + MEGA))
    val late = Seq((200L, "padpadpadpadpadpadpaIJ" + MEGA))
    val (idxP, lblP) = tmp("famcap")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP, lblP, L,
      maxDocsPerGram = 3)
    FamilyStore.processBatch(df(batch), 0L, "doc_id", "text", idxP,
      lblP, L, maxDocsPerGram = 3)
    val before = probeMap(late, idxP, lblP, cap = 3)
    // combined count 5 > 3 → no new edges: the late doc is its own
    assert(before(200L) == 200L)
    val postingsBefore = spark.read.parquet(idxP)
      .filter($"doc_id".isNotNull).count()
    FamilyStore.compactPrefix(spark, idxP, lblP, upTo = Long.MaxValue,
      maxDocsPerGram = 3)
    // the MEGA postings (4 rows across 2 segments) collapsed to markers
    val idx = spark.read.parquet(idxP)
    assert(idx.filter($"doc_id".isNotNull).count() < postingsBefore)
    val markers = idx.filter($"doc_id".isNull)
      .groupBy($"h").agg(sum($"n_docs").as("tot"))
      .as[(Long, Long)].collect()
    assert(markers.exists(_._2 == 4L),
      s"per-segment markers must sum to the combined count: " +
        markers.mkString(","))
    assert(probeMap(late, idxP, lblP, cap = 3) == before)
  }

  test("a bootstrap corpus with NO duplicate families writes a valid " +
      "EMPTY labels store: probe and processBatch serve it instead of " +
      "failing schema inference (r15 advice)") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over a lazy dog"),
      (2L, "completely different second text right here"),
      (3L, "yet another third unrelated corpus blob!"))
    val (idxP, lblP) = tmp("famempty")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP, lblP, L)
    // no families → zero label rows, depth bound 0 (chase skipped)
    assert(FamilyStore.stats(spark, idxP, lblP) == (1L, 0L))
    // a probe that FORMS the store's first family (batch doc + corpus
    // doc 1 share a gram through the index) must work against the
    // empty labels store
    val batch = Seq(
      (100L, "the quick brown fox jumps over a lazy dog plus tail"),
      (101L, "novel batch text with no match DDDDDD"))
    val got = FamilyStore.processBatch(df(batch), 0L, "doc_id", "text",
      idxP, lblP, L).as[(Long, Long)].collect().toMap
    assert(got == oneShot(corpus ++ batch, Set(100L, 101L)))
    assert(got(100L) == 1L && got(101L) == 101L)
    // the first family's rows landed; a later probe resolves them
    val late = Seq((200L, "the quick brown fox jumps over a lazy dog!!"))
    assert(probeMap(late, idxP, lblP) ==
      oneShot(corpus ++ batch ++ late, Set(200L)))
    // compaction over the young store is a no-op that keeps it valid
    FamilyStore.compactPrefix(spark, idxP, lblP, upTo = Long.MaxValue)
    assert(probeMap(late, idxP, lblP)(200L) == 1L)
  }

  test("10-append chain with a bridging merge per batch: parity vs the " +
      "one-shot rerun after EVERY batch, depth bound grows only on " +
      "bridges, compaction mid-chain flattens and the chain keeps " +
      "going (r15 verdict #1)") {
    def P(i: Int) = f"FAMILY-$i%02d-SHARED-PHRASE!!!"
    assert(P(1).length == L)
    // family i has min id 1000 - 50*i: DESCENDING minima, so every
    // bridge re-points the previous component minimum at a NEW, smaller
    // one — each batch deepens the pointer chain by exactly one
    // generation (the adversarial shape for the depth-bounded chase)
    def m(i: Int) = 1000L - 50L * i
    val corpus = (1 to 11).flatMap { i =>
      Seq((m(i), s"pad${i}aaaa" + P(i) + s"pad${i}bbbb"),
        (m(i) + 1, s"pad${i}cccc" + P(i) + s"pad${i}dddd"))
    }
    val (idxP, lblP) = tmp("famchain10")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP, lblP, L)
    // a scratch checkpoint that commits every append: the checked
    // policy may fold all of it
    val ckpt = java.nio.file.Files.createTempDirectory("famchain10ck")
    val commits = java.nio.file.Files.createDirectories(
      ckpt.resolve("commits"))
    var all = corpus
    for (i <- 1 to 10) {
      val bridge = Seq(
        (3000L + i, s"br${i}aa" + P(i) + s"br${i}bb" + P(i + 1) + "zz"))
      val got = FamilyStore.processBatch(df(bridge), i.toLong, "doc_id",
        "text", idxP, lblP, L).as[(Long, Long)].collect().toMap
      java.nio.file.Files.writeString(commits.resolve(i.toString),
        "v1\n{}")
      all = all ++ bridge
      assert(got == oneShot(all, Set(3000L + i)),
        s"chain parity broke at append $i")
      assert(got(3000L + i) == m(i + 1),
        s"append $i must land on the merged minimum ${m(i + 1)}: $got")
      if (i == 5) {
        // depth bound: init 1 + five deepening bridges
        val (segs, depth) = FamilyStore.stats(spark, idxP, lblP)
        assert(segs == 6L && depth == 6L,
          s"expected (6 segments, depth 6) mid-chain, got ($segs, $depth)")
        // threshold policy: fires on the deep chain...
        assert(FamilyStore.maybeCompactChecked(spark, idxP, lblP,
          ckpt.toString, maxDepth = 4) == SegmentStore.Compacted)
        assert(FamilyStore.stats(spark, idxP, lblP)._2 == 1L,
          "compaction must reset the depth bound")
        // ...and stays quiet right after
        assert(FamilyStore.maybeCompactChecked(spark, idxP, lblP,
          ckpt.toString, maxDepth = 4) == SegmentStore.CompactIdle)
      }
    }
    // the deep-chase finale: a probe touching ONLY family 1's phrase
    // must resolve the full post-compaction pointer chain
    // m(1) -> m(6) -> m(7) -> ... -> m(11)
    val late = Seq((5000L, "lateLateLa" + P(1) + "teLateLate"))
    val got = probeMap(late, idxP, lblP)
    assert(got == oneShot(all ++ late, Set(5000L)))
    assert(got(5000L) == m(11),
      s"deep chase must land on the final minimum ${m(11)}: $got")
  }

  test("committed-prefix fold (under-load compaction): with a " +
      "replayable tail the trigger flattens and folds ONLY the " +
      "committed segments — including INDEX segments, which the full " +
      "compact must preserve — probes and the tail's replay are " +
      "unchanged, and the depth bound tightens to prefix+tail") {
    def P(i: Int) = f"FAMILY-$i%02d-SHARED-PHRASE!!!"
    def m(i: Int) = 1000L - 50L * i
    val corpus = (1 to 4).flatMap { i =>
      Seq((m(i), s"pad${i}aaaa" + P(i) + s"pad${i}bbbb"),
        (m(i) + 1, s"pad${i}cccc" + P(i) + s"pad${i}dddd"))
    }
    val (idxP, lblP) = tmp("famprefix")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP, lblP, L)
    // three bridging batches, each deepening the chain one generation
    var all = corpus
    for (i <- 1 to 3) {
      val bridge = Seq(
        (3000L + i, s"br${i}aa" + P(i) + s"br${i}bb" + P(i + 1) + "zz"))
      FamilyStore.processBatch(df(bridge), (i - 1).toLong, "doc_id",
        "text", idxP, lblP, L)
      all = all ++ bridge
    }
    assert(FamilyStore.stats(spark, idxP, lblP) == ((4L, 4L)))
    val late = Seq((5000L, "lateLateLa" + P(1) + "teLateLate"))
    val want = oneShot(all ++ late, Set(5000L))
    assert(probeMap(late, idxP, lblP) == want)
    // batches 0,1 committed; batch 2 still replayable
    val ckpt = java.nio.file.Files.createTempDirectory("fampfxck")
      .toString
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.writeString(commits.resolve("0"), "v1\n{}")
    java.nio.file.Files.writeString(commits.resolve("1"), "v1\n{}")
    assert(FamilyStore.maybeCompactChecked(spark, idxP, lblP, ckpt,
      maxDepth = 2) == SegmentStore.CompactedPrefix)
    // the fold bounded BOTH stores' segment counts — committed index
    // segments fold freely, the replayable one stays
    assert(SegmentStore.segmentIds(spark, idxP).sorted == Seq(-1L, 2L),
      "committed index segments folded, replayable tail in place")
    assert(SegmentStore.segmentIds(spark, lblP).sorted == Seq(-1L, 2L),
      "committed label segments flattened into the bootstrap segment")
    // depth bound: flattened prefix (1) + one live label segment
    assert(FamilyStore.stats(spark, idxP, lblP)._2 == 2L,
      "depth bound must tighten to flattenedPrefix + liveSegments")
    // probe parity: the deep chase resolves to the same final minimum
    // through the flattened prefix + live tail
    val got = probeMap(late, idxP, lblP)
    assert(got == want && got(5000L) == m(4))
    // the replayable batch's exactly-once contract survived the fold:
    // reprocessing batch 2 under its id returns the same families and
    // later probes are unchanged
    val bridge3 = Seq((3003L, "br3aa" + P(3) + "br3bb" + P(4) + "zz"))
    val replayed = FamilyStore.processBatch(df(bridge3), 2L, "doc_id",
      "text", idxP, lblP, L).as[(Long, Long)].collect().toMap
    assert(replayed == oneShot(all, Set(3003L)) &&
      replayed(3003L) == m(4),
      s"post-fold replay must equal the one-shot rerun: $replayed")
    assert(probeMap(late, idxP, lblP) == want)
    // once batch 2 commits, the next trigger folds everything
    java.nio.file.Files.writeString(commits.resolve("2"), "v1\n{}")
    assert(FamilyStore.maybeCompactChecked(spark, idxP, lblP, ckpt,
      maxDepth = 0, maxSegments = 1) == SegmentStore.Compacted)
    assert(probeMap(late, idxP, lblP) == want)
  }

  test("frozen-cap semantics ACROSS segments: a gram the append pushes " +
      "over the combined cap blocks new edges, but the standing family " +
      "built under the cap keeps its labels") {
    val MEGA = "UNIVERSAL-BOILERPLATE-GRAM"
    // cap=3: bootstrap holds MEGA in 3 docs — AT cap, so the corpus
    // family {1, 2, 3} forms; the appended batch adds a 4th MEGA doc
    // (combined 4 > cap) which must NOT join, and a later probe of a
    // 5th must not either — yet a probe touching the family through a
    // DIFFERENT gram must still see label 1.
    val P = "FAMILY-TWO-SHARED-PHRASE!!"
    val corpus = Seq(
      (1L, "padpadpadpadpadpadpaAB" + MEGA),
      (2L, "padpadpadpadpadpadpaCD" + MEGA),
      (3L, "padpadpadpadpadpadpaEF" + MEGA + P))
    val appended = Seq((100L, "padpadpadpadpadpadpaGH" + MEGA))
    val probeMega = Seq((200L, "padpadpadpadpadpadpaIJ" + MEGA))
    val probeP = Seq((201L, "qqqqqqqqqqqqqqqqqqqqqq" + P))
    val (idxP_, lblP_) = tmp("famfrozen")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP_, lblP_, L,
      maxDocsPerGram = 3)
    val app = FamilyStore.processBatch(df(appended), 0L, "doc_id",
      "text", idxP_, lblP_, L, maxDocsPerGram = 3)
      .as[(Long, Long)].collect().toMap
    assert(app(100L) == 100L,
      "the batch that crosses the cap boundary gains no family")
    val m1 = probeMap(probeMega, idxP_, lblP_, cap = 3)
    assert(m1(200L) == 200L,
      "combined count 5 > cap: no new MEGA edges after the append")
    val m2 = probeMap(probeP, idxP_, lblP_, cap = 3)
    assert(m2(201L) == 1L,
      "the standing family's label (min doc 1, via doc 3's P gram) " +
        s"must survive the cap crossing untouched: $m2")
  }

  test("the appended index segment equals familyIndex over the batch " +
      "(r17 fusion: segment derived from the probe's posting frame — " +
      "posting rows AND the over-cap marker collapse)") {
    val MEGA = "UNIVERSAL-BOILERPLATE-GRAM"
    val P = "FAMILY-ONE-SHARED-PHRASE!!"
    val corpus = Seq(
      (1L, "aaaaaaaaaaaaaaaaaaaaaa" + P),
      (2L, "bbbbbbbbbbbbbbbbbbbbbb" + P))
    // batch with an internally OVER-CAP gram (MEGA in 3 docs, cap 2):
    // the fused segment write must collapse it to one marker row
    // exactly like familyIndex does, and keep under-cap postings
    val batch = Seq(
      (100L, "padpadpadpadpadpadpaAB" + MEGA),
      (101L, "padpadpadpadpadpadpaCD" + MEGA),
      (102L, "padpadpadpadpadpadpaEF" + MEGA + P),
      (103L, "a batch doc with no 26-gram dup...."))
    val (idxP_, lblP_) = tmp("famsegfused")
    FamilyStore.init(df(corpus), "doc_id", "text", idxP_, lblP_, L,
      maxDocsPerGram = 2)
    FamilyStore.processBatch(df(batch), 0L, "doc_id", "text", idxP_,
      lblP_, L, maxDocsPerGram = 2)
    val seg = spark.read.parquet(idxP_)
      .filter($"ingest_batch" === 0L)
      .select($"h", $"doc_id", $"n_docs")
    val expected = SuffixDedup.familyIndex(df(batch), "doc_id", "text",
      L, maxDocsPerGram = 2)
    assert(seg.exceptAll(expected).isEmpty &&
      expected.exceptAll(seg).isEmpty,
      "fused segment must match the direct familyIndex of the batch")
    // sanity: the expected index genuinely exercises both shapes
    assert(expected.filter($"doc_id".isNull).count() >= 1L,
      "test construction: an over-cap marker row must exist")
    assert(expected.filter($"doc_id".isNotNull).count() >= 1L,
      "test construction: under-cap posting rows must exist")
  }
}
