package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 8

  private def corpus = Seq(
    (0L, base.trim),
    (1L, base.trim), // exact duplicate of 0
    (2L, base.trim.replace("lazy dog", "sleepy dog")), // near-dup of 0
    (3L, "completely different text about spark engines and columnar data"),
    (4L, "another unrelated document mentioning parquet and shuffles only")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per content") {
    val kept = Dedup.exactDedup(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 2L, 3L, 4L))
    val groups = Dedup.exactDupGroups(corpus, "doc_id", "text")
    assert(groups.filter($"n_copies" === 2).count() == 1)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashDedupPairs(corpus, "doc_id", "text",
      threshold = 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical → certain candidate
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("exact ngram jaccard agrees: dup pair = 1.0, near-dup high, rest low") {
    val j = Dedup.ngramJaccardPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((0L, 1L)) == 1.0)
    // replacing a phrase repeated throughout the doc rewrites a large
    // share of the distinct shingle set; ~0.5 is the true jaccard
    assert(j((0L, 2L)) > 0.4)
    assert(j.getOrElse((0L, 3L), 0.0) < 0.1)
  }

  test("ngram jaccard enforces the eval-slice contract: refuses inputs " +
    "past maxDocs, accepts at the bound, raisable explicitly") {
    val docs = (0 until 10).map(i => (i.toLong, s"doc number $i words"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxDocs = 9)
    }
    assert(e.getMessage.contains("setSimilarityJoin"))
    // at the bound and above it (explicit raise): both proceed
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxDocs = 10).count()
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxDocs = 100).count()
  }

  test("simhash: identical docs distance 0, near-dups close, found by bands") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", hammingMax = 16)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(pairs((0L, 1L)) == 0L)
    assert(pairs.get((0L, 2L)).exists(_ <= 16L))
    assert(!pairs.contains((3L, 4L)))
  }

  test("cluster resolution: pairs collapse to min-id components and " +
    "dedupByPairs keeps one doc per cluster plus unpaired docs") {
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = Dedup.resolveKeepers(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 10L, 99L)) // keepers + the unpaired doc
  }

  test("keepBest arbitration: per-cluster argmax (score desc, id asc), " +
    "singletons pass through as their own keeper") {
    val scored = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.keepBest(scored, pairs, "doc_id", "quality")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // cluster 1 = {1,2,3}: max score 9 ties on 2 and 3 -> keeper 2
    assert(out == Seq((1L, 3L, 2L, 9L), (4L, 1L, 4L, 1L)))
  }

  test("confirmedNearDupPairs: identical docs confirm at exactly 1e6 ppm, " +
    "sub-threshold and disjoint pairs are rejected, and the confirmed " +
    "set is a subset of the exhaustive pairs with identical jppm") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), // identical
      (3L, "a b c d q r s t"), // jaccard 2/10 with 1,2 — below 0.6
      (4L, "m n o p u v w x")) // disjoint
      .toDF("doc_id", "text")
    val confirmed = Dedup.confirmedNearDupPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(confirmed == Seq((1L, 2L, 1000000L)))
    // at threshold 0 the confirmed set is a subset of the exhaustive
    // overlap pairs (LSH can miss low-sim pairs, never invent overlap)
    val exhaustive = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val all = Dedup.confirmedNearDupPairs(docs, "doc_id", "text",
      thresholdPpm = 0L).as[(Long, Long, Long)].collect()
    assert(all.map(p => (p._1, p._2)).toSet.subsetOf(exhaustive))
    assert(all.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("star-sparsified confirmed clusters == exhaustive-pair clusters " +
    "on a replica corpus (the semantic q_dedup_keepbest relies on)") {
    // 15 bases of 40 distinct-ish words; each base gets 2 near-copies
    // (one word swapped -> jaccard ~0.95) plus 15 unrelated docs
    def words(seed: Int, n: Int) =
      (0 until n).map(i => s"w${(seed * 131 + i * 17) % 997}").mkString(" ")
    val docs = ((0 until 15).flatMap { b =>
      val base = words(b, 40)
      val mut = base.replace(s"w${(b * 131 + 5 * 17) % 997}", "MUT")
      Seq((b * 10L, base), (b * 10L + 1, base + " tail"),
        (b * 10L + 2, mut))
    } ++ (0 until 15).map(i => (1000L + i, words(900 + i, 40))))
      .toDF("doc_id", "text")
    def components(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.resolveKeepers(pairs).as[(Long, Long)].collect()
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val exhaustive = components(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.6)
        .select("id_a", "id_b"))
    val sparsified = components(
      Dedup.confirmedNearDupPairs(docs, "doc_id", "text")
        .select("id_a", "id_b"))
    assert(exhaustive.size == 15) // one cluster per base, none merged
    assert(sparsified == exhaustive)
  }

  test("crossGroupDupMatrix: identical cross-source pair lands " +
    "off-diagonal, same-source pair on the diagonal, unordered keys") {
    val docs = Seq(
      (1L, "A", "a b c d e f g h"), (2L, "B", "a b c d e f g h"),
      (3L, "A", "p q r s t u v w"), (4L, "A", "p q r s t u v w"),
      (5L, "C", "z1 z2 z3 z4 z5 z6 z7 z8"))
      .toDF("doc_id", "src", "text")
    val m = Dedup.crossGroupDupMatrix(docs, "doc_id", "text", "src")
      .as[(String, String, Long)].collect().toSet
    assert(m == Set(("A", "B", 1L), ("A", "A", 1L)))
  }

  test("candidateQuality: exact-side tier counts are hand-checkable, " +
    "identical docs are guaranteed TPs, empty tiers null their ratios") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), // identical
      (3L, "a b c d q r s t"), // partial overlap with 1/2
      (4L, "m n o p u v w x")) // disjoint
      .toDF("doc_id", "text")
    val out = Dedup.candidateQuality(docs, "doc_id", "text",
      thresholdsPpm = Seq(100000L, 1000000L, 1000001L))
      .orderBy("t_ppm")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq
    // exact pairs: (1,2) jppm=1e6; (1,3),(2,3) share shingles abc,bcd
    // c=2, n=6,6 -> 2e6 div 10 = 200000
    assert(out.map(r => (r._1, r._2)) ==
      Seq((100000L, 3L), (1000000L, 1L), (1000001L, 0L)))
    // identical docs have identical signatures -> guaranteed candidate
    val t1m = out(1)
    assert(t1m._4 == 1L && t1m._6.contains(1000000L))
    // tier above 1e6 is empty: recall is null, not a division by zero
    assert(out(2)._4 == 0L && out(2)._6.isEmpty)
    // precision denominator is the full candidate set and is constant
    assert(out.map(_._3).distinct.size == 1 && out.head._3 >= 1L)
  }

  test("LSH bucket guard caps degenerate buckets") {
    val boiler = (0L until 50L).map(i => (i, base.trim)).toDF("doc_id", "text")
    // with maxBucketSize 10, the 50-identical-docs bucket must produce no pairs
    assert(Dedup.minhashCandidates(boiler, "doc_id", "text",
      maxBucketSize = 10).count() == 0)
    val stats = Dedup.lshBucketStats(boiler, "doc_id", "text", maxBucketSize = 10)
      .head()
    assert(stats.getAs[Long]("capped_buckets") > 0) // surfaced, not silent
  }

  test("a cap observer on a frame that never runs leaves no thread behind") {
    val boiler = (0L until 50L).map(i => (i, base.trim)).toDF("doc_id", "text")
    // built, never executed: its observation never completes
    Dedup.minhashCandidates(boiler, "doc_id", "text", maxBucketSize = 10)
    val observers = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.matches("graft-.*-cap-observer"))
    assert(observers.isEmpty,
      s"parked cap observers: ${observers.map(_.getName).toSeq}")
  }

  test("simhash band guard caps degenerate buckets, pairs stay bounded") {
    // 50 identical docs land on one key in EVERY band — unguarded this is
    // O(n²) = 1225 pairs; with the cap they are excluded and reported
    val boiler = (0L until 50L).map(i => (i, base.trim)).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(boiler, "doc_id", "text",
      maxBucketSize = 10).count() == 0)
    val stats = Dedup.simhashBucketStats(boiler, "doc_id", "text",
      maxBucketSize = 10).head()
    assert(stats.getAs[Long]("capped_buckets") > 0) // surfaced, not silent
    // below the cap the same corpus yields exactly the n*(n-1)/2 hamming-0
    // pairs — the guard does not perturb non-degenerate output
    val small = (0L until 5L).map(i => (i, base.trim)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(small, "doc_id", "text")
    assert(pairs.count() == 10)
    assert(pairs.filter($"hamming" =!= 0).count() == 0)
  }

  test("simhashPairs hammingMax=0 keys on the full sketch (width-64 band " +
    "mask), not bucket 0") {
    // (1L << 64) - 1 is 0 on the JVM (shifts are mod 64): before the
    // full-width special case, EVERY sketch keyed to bucket 0, so >cap
    // docs meant zero pairs. 1100 distinct docs + 1 duplicate must yield
    // exactly the one exact-sketch pair under the default cap of 1000.
    // per-doc token vocabulary → per-doc shingle sets are disjoint, so
    // sketches are distinct (up to a 64-bit hash collision) except for
    // the planted duplicate
    val docs = (0L until 1100L)
      .map(i => (i, Seq.tabulate(6)(j => s"w${i}x$j").mkString(" "))) :+
      (2000L, Seq.tabulate(6)(j => s"w7x$j").mkString(" "))
    val pairs = Dedup.simhashPairs(docs.toDF("doc_id", "text"),
      "doc_id", "text", hammingMax = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((7L, 2000L)))
  }

  test("relational simhash sketches null and empty docs like the HOF form") {
    val edge = Seq((0L, Option(base.trim)), (1L, None: Option[String]),
      (2L, Option("")), (3L, Option("one two three")))
      .toDF("doc_id", "text")
    val rel = Dedup.simhashSketches(edge, "doc_id", "text")
      .select("id", "sketch").as[(Long, Long)].collect().toMap
    val hof = edge.select($"doc_id",
        graft.functions.TextFunctions.simhash64($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(rel == hof)
    assert(rel(1L) == 0L) // null text sketches to 0, not xxhash64's seed
  }

  test("resolveKeepers throws on non-convergence instead of returning " +
    "inconsistent labels") {
    // a 6-hop chain cannot converge in 2 rounds
    val chain = (1L to 6L).sliding(2).map(w => (w.head, w.last)).toSeq
      .toDF("id_a", "id_b")
    assertThrows[IllegalStateException] {
      Dedup.resolveKeepers(chain, maxIter = 2).collect()
    }
    // and with enough rounds the same chain resolves to one keeper
    val labels = Dedup.resolveKeepers(chain).as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(1L))
  }

  test("incremental dedup vs a prebuilt index equals the full pipeline " +
    "restricted to batch-involving pairs") {
    // corpus 0-4, batch 10-12: 10 duplicates 0, 11 near-dups 2, 12 is
    // novel; 11-12 unrelated inside the batch
    val batch = Seq(
      (10L, base.trim),
      (11L, base.trim.replace("lazy dog", "sleepy dog")
        .replace("quick brown", "fast brown")),
      (12L, "a fresh document with entirely novel content and no overlap")
    ).toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
    val inc = Dedup.incrementalMinhashPairs(batch, corpus, idx,
        "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashDedupPairs(corpus.unionByName(batch),
        "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => p._1 >= 10L || p._2 >= 10L)
    assert(inc == full, s"incremental $inc != full-restricted $full")
    assert(inc.exists(p => (p._1, p._2) == (0L, 10L) && p._3 == 1.0))
    assert(!inc.exists(p => p._1 == 12L || p._2 == 12L))
  }

  test("winnowing: docs sharing a long token run share a fingerprint; " +
    "unrelated docs share none; short docs emit none; density is sparse") {
    val shared = "the licensed boilerplate notice appears verbatim in " +
      "both documents exactly"
    val docs = Seq(
      (1L, s"first document unique preamble words here $shared tail one"),
      (2L, s"totally different opening sentence material $shared other end"),
      (3L, "no overlap with anything else at all in this entire text body"),
      (4L, "too few")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text",
        shingleN = 3, window = 4)
      .as[(Long, Long)].collect()
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // shared run of 10 tokens >= window + n - 1 = 6 → guaranteed overlap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    assert(!byDoc.contains(4L)) // 2 tokens → no complete window
    // all-min winnowing stays sparse: well under one fingerprint per gram
    val grams1 = docs.filter($"doc_id" === 1L).select($"text").as[String]
      .head().split(" ").length - 2
    assert(byDoc(1L).size < grams1,
      s"${byDoc(1L).size} fingerprints for $grams1 grams is not a sketch")
  }

  test("winnowPairs finds locally-overlapping docs and caps degenerate " +
    "fingerprint buckets (boilerplate corpus emits zero pairs at low cap)") {
    val shared = "the licensed boilerplate notice appears verbatim in " +
      "both documents exactly"
    val docs = Seq(
      (1L, s"first document unique preamble words here $shared tail one"),
      (2L, s"totally different opening sentence material $shared other end"),
      (3L, "no overlap with anything else at all in this entire text body")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", minShared = 1)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // 50 identical docs share every fingerprint → every bucket holds 50
    // members; at cap 10 no pairs may be emitted
    val boiler = (1L to 50L).map((_, "all rights reserved copy " * 6))
      .toDF("doc_id", "text")
    val capped = Dedup.winnowPairs(boiler, "doc_id", "text",
      minShared = 1, maxBucketSize = 10)
    assert(capped.count() == 0)
    // and uncapped the same corpus emits all n(n-1)/2 pairs
    val full = Dedup.winnowPairs(boiler, "doc_id", "text", minShared = 1)
    assert(full.count() == 50L * 49 / 2)
  }

  test("incrementalDedup keeps only novel batch docs; corpus untouched") {
    val batch = Seq(
      (10L, base.trim), // duplicates corpus doc 0 → dropped
      (11L, "a genuinely new document with original content here"),
      (12L, base.trim)  // duplicates 0 AND 10 → dropped
    ).toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, corpus, idx, "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L), s"expected only the novel doc, got $kept")
  }

  test("incremental dedup works against an index round-tripped through " +
    "a band-partitioned parquet table (the materialized shape)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("idx").toString
    Dedup.minhashIndex(corpus, "doc_id", "text")
      .write.partitionBy("band").mode("overwrite").parquet(path)
    val batch = Seq((10L, base.trim)).toDF("doc_id", "text")
    val live = Dedup.incrementalMinhashPairs(batch, corpus,
        Dedup.minhashIndex(corpus, "doc_id", "text"),
        "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val loaded = Dedup.incrementalMinhashPairs(batch, corpus,
        spark.read.parquet(path), "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(live == loaded && live.nonEmpty)
  }

  test("portable minhash pairs: exact dups match every band, unrelated " +
    "docs pair with nothing, and the bucket cap excludes degenerate docs") {
    val pairs = Dedup.portableMinhashPairs(corpus, "doc_id", "text",
        k = 8, bands = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L, 4L))) // identical → all 4 bands
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // 3 copies of one text with cap=2: every bucket holds all 3 → capped
    val degenerate = Seq((0L, base.trim), (1L, base.trim), (2L, base.trim))
      .toDF("doc_id", "text")
    assert(Dedup.portableMinhashPairs(degenerate, "doc_id", "text",
      k = 8, bands = 4, maxBucketSize = 2).count() == 0L)
  }

  test("cdc chunking: boundaries move WITH content — a prefix insertion " +
    "leaves downstream chunk hashes intact, and shared fragments are " +
    "keyed across documents") {
    val rnd = new scala.util.Random(3)
    val words = (0 until 200).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
    val docs = Seq(
      (0L, words),
      (1L, "inserted " + words), // prefix edit: everything shifts by one
      (2L, "wholly different content " + (0 until 50)
        .map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text")
      .select("id", "chunk_hash").as[(Long, Long)].collect()
    val h0 = ch.filter(_._1 == 0L).map(_._2).toSet
    val h1 = ch.filter(_._1 == 1L).map(_._2).toSet
    val h2 = ch.filter(_._1 == 2L).map(_._2).toSet
    // content-defined: only the chunk containing the edit differs — the
    // overwhelming majority of doc 0's chunks survive verbatim in doc 1
    // (a fixed-width blocker would share ZERO blocks after the shift)
    val shared = (h0 intersect h1).size
    assert(shared * 10 >= h0.size * 8,
      s"only $shared/${h0.size} chunks survived a prefix insertion")
    assert((h0 intersect h2).isEmpty)
    // the fragment keyer surfaces exactly the cross-doc shared chunks
    val frags = Dedup.cdcDupFragments(docs, "doc_id", "text")
      .select("chunk_hash").as[Long].collect().toSet
    assert(frags.nonEmpty && frags.subsetOf(h0 union h1 union h2))
  }

  test("cdcStrip: the globally-first occurrence of a duplicated fragment " +
    "survives verbatim, later occurrences drop, novel content is " +
    "untouched, and a fully-duplicated doc survives as an empty row") {
    val rnd = new scala.util.Random(5)
    val frag = (0 until 80).map(_ => s"f${rnd.nextInt(300)}").mkString(" ")
    val novel = (0 until 40).map(i => s"unique$i").mkString(" ")
    val docs = Seq(
      (0L, frag),                  // first owner of every frag chunk
      (1L, novel + " " + frag),    // novel prefix + duplicated fragment
      (2L, frag)                   // fully duplicated
    ).toDF("doc_id", "text")
    val out = Dedup.cdcStrip(docs, "doc_id", "text")
      .select("id", "n_tokens_kept", "text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._3 == frag, "first owner must survive verbatim")
    // doc 1 keeps its novel prefix; the duplicated tail mostly drops
    // (boundary chunks straddling the prefix/frag seam may differ)
    assert(out(1L)._3.startsWith(novel))
    assert(out(1L)._2 < 40 + 80 && out(1L)._2 >= 40)
    // doc 2 is byte-identical to doc 0 → identical chunks → all stripped
    // (short sub-minTokens chunks excepted)
    assert(out(2L)._2 < 10, s"doc 2 kept ${out(2L)._2} tokens")
    assert(out.contains(2L), "fully-stripped doc must still emit a row")
  }

  test("cdc chunking property: over 100 seeded random documents " +
    "(including 1- and 2-token edge cases below the gram window), the " +
    "chunks tile each token stream exactly — dense ids, contiguous " +
    "[start, end] spans, token counts summing to the document length") {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 100).map { i =>
      val n = rnd.nextInt(60) + 1 // 1..60 tokens
      (i.toLong, (0 until n).map(_ => s"t${rnd.nextInt(40)}").mkString(" "))
    }.toDF("doc_id", "text")
    val lens = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").length }.toMap
    val ch = Dedup.cdcChunks(docs, "doc_id", "text")
      .select("id", "chunk_id", "start_pos", "end_pos", "n_tokens")
      .as[(Long, Long, Int, Int, Long)].collect()
      .groupBy(_._1)
    assert(ch.keySet == lens.keySet)
    ch.foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq,
        s"doc $id: chunk ids not dense")
      assert(sorted.head._3 == 1 && sorted.last._4 == lens(id),
        s"doc $id: span does not cover [1, ${lens(id)}]")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 == a._4 + 1, s"doc $id: gap between chunks")
        case _ =>
      }
      assert(sorted.map(_._5).sum == lens(id).toLong)
      sorted.foreach(r => assert(r._5 == r._4 - r._3 + 1))
    }
  }

  test("portable simhash: identical docs share the sketch, near-dups are " +
    "hamming-close, unrelated docs are hamming-far, sketches fit 52 bits") {
    val sk = Dedup.portableSimhash(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sk(0L) == sk(1L))
    assert(ham(sk(0L), sk(2L)) <= 8)
    assert(ham(sk(0L), sk(3L)) > 8)
    assert(sk.values.forall(s => s >= 0 && s < (1L << 52)))
  }

  test("fused incremental pair generator equals cross ∪ bandPairs row " +
    "for row, n_bands_matched included, and both caps still WARN") {
    val cap = 4
    val boilerA = "standing boilerplate footer that every corpus filing " +
      "repeats word for word at the bottom of the page " * 3
    val boilerB = "batch boilerplate header copied verbatim into every " +
      "document of the arriving slice of the stream " * 3
    val corpusDocs = ((0L until 6L).map(i => (i, boilerA.trim)) ++ Seq(
      (10L, base.trim),
      (11L, "completely different text about spark engines and columnar data")
    )).toDF("doc_id", "text")
    val batchDocs = ((100L until 105L).map(i => (i, boilerB.trim)) ++ Seq(
      (110L, base.trim.replace("lazy dog", "sleepy dog")),
      (111L, base.trim.replace("quick brown", "slow brown")
        .replace("lazy dog", "sleepy dog")),
      (112L, "a fresh document with entirely novel content and no overlap")
    )).toDF("doc_id", "text")
    val cIdx = Dedup.minhashIndex(corpusDocs, "doc_id", "text")
      .localCheckpoint(true)
    val bIdx = Dedup.minhashIndex(batchDocs, "doc_id", "text")
      .localCheckpoint(true)
    // the input really has an over-cap bucket on each side
    assert(!cIdx.filter($"bucket_sz" > cap).isEmpty)
    assert(!bIdx.filter($"bucket_sz" > cap).isEmpty)
    // reference: the pre-fusion pair expression, a corpus probe against
    // the broadcast batch index UNION the window + collect_list
    // expansion of the batch index alone
    val probe = bIdx.filter($"bucket_sz" <= cap)
      .select($"id".as("id_new"), $"band", $"bucket")
    val cross = cIdx.filter($"bucket_sz" <= cap)
      .select($"id".as("id_old"), $"band", $"bucket")
      .join(broadcast(probe), Seq("band", "bucket"))
      .select(least($"id_old", $"id_new").as("id_a"),
        greatest($"id_old", $"id_new").as("id_b"))
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("n_bands_matched"))
    val internal = bIdx.select($"id", $"band", $"bucket")
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter($"sz" <= cap)
      .groupBy($"band", $"bucket").agg(collect_list($"id").as("ids"))
      .select(explode($"ids").as("id_a"), $"ids")
      .select($"id_a", explode($"ids").as("id_b"))
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("n_bands_matched"))
    val want = cross.unionByName(internal).localCheckpoint(true)
    // threshold 0: every candidate pair survives verification
    var got: DataFrame = null
    val warnings = graft.LogCapture.warnings("graft.operators.Dedup",
        expect = 2) {
      got = Dedup.incrementalMinhashPairsFromIndex(
          batchDocs.unionByName(corpusDocs), cIdx, bIdx, "doc_id", "text",
          threshold = 0.0, maxBucketSize = cap)
        .select($"id_a", $"id_b", $"n_bands_matched")
        .localCheckpoint(true)
    }
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty,
      s"fused ${got.collect().toSeq} != reference ${want.collect().toSeq}")
    // both pair classes and partial band matches are exercised
    val rows = got.as[(Long, Long, Long)].collect()
    assert(rows.exists(r => r._1 < 100L && r._2 >= 100L))
    assert(rows.exists(r => r._1 >= 100L))
    assert(rows.exists(_._3 < 16L))
    // capped boilerplate pairs on neither side
    assert(!rows.exists(r => r._1 < 6L || (r._1 >= 100L && r._2 < 105L)))
    assert(warnings.exists(_.startsWith("incrementalMinhashPairs:")),
      s"corpus-side cap must WARN: $warnings")
    assert(warnings.exists(_.startsWith("minhashCandidates:")),
      s"batch-side cap must WARN: $warnings")
  }

  test("verifyJaccard lets the planner choose: the shingle frame is " +
    "broadcast from small-store statistics and never with broadcast " +
    "joins disabled") {
    def shingleBroadcasts(s: org.apache.spark.sql.SparkSession): Int = {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_vj").toString
      corpus.write.mode("overwrite").parquet(s"$dir/docs")
      val docs = s.read.parquet(s"$dir/docs")
      val out = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        threshold = 0.5)
      assert(out.select($"id_a", $"id_b").as[(Long, Long)].collect()
        .contains((0L, 1L)))
      collect(out.queryExecution.executedPlan) {
        case b: BroadcastExchangeExec if b.output.exists(_.name == "__sh") => b
      }.size
    }
    assert(shingleBroadcasts(spark.newSession()) > 0,
      "a small store's shingle frame should broadcast without a hint")
    val noBroadcast = spark.newSession()
    noBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(shingleBroadcasts(noBroadcast) == 0,
      "with broadcast joins disabled the shingle frame must be shuffled")
  }
}
