package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** Deduplication operators for the training-data pipeline tier (north star
  * in BASELINE.json): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB):
  *   - exact dedup is one hash-groupBy — map-side partial agg, one shuffle
  *     on the content hash;
  *   - candidate generation never does an all-pairs join: MinHash bands /
  *     SimHash bands are inverted-index equi-joins whose output is bounded
  *     by bucket sizes, with an explicit `maxBucketSize` guard against
  *     degenerate buckets (boilerplate/empty docs) — capped buckets are
  *     *counted and surfaced*, not silently dropped;
  *   - exact verification joins shingle sets back only for surviving
  *     candidate pairs.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** Run `warn` once the caller's first action on a frame observed by
    * `obs` completes, with a reader of its Long metrics (null reads 0). A
    * callback on the observation's future, not a waiting thread: a frame
    * that is built but never executed leaves nothing behind. It runs on
    * the thread that completes the observation, so `warn` only logs.
    */
  private[operators] def onObserved(obs: org.apache.spark.sql.Observation)(
      warn: (String => Long) => Unit): Unit =
    obs.future.foreach { row =>
      warn(k => Option(row.getAs[java.lang.Long](k)).fold(0L)(_.longValue))
    }(scala.concurrent.ExecutionContext.parasitic)

  /** Attach a `CollectMetrics` node counting index rows that fall in
    * over-cap buckets, and WARN from the pair generator ITSELF (through
    * [[onObserved]], as soon as the caller's first action on the result
    * completes) whenever any bucket was excluded. The cap changes
    * results, so it must be loud at the point of use — mirroring how Bench
    * surfaces per-query errors — not only visible to callers who know to
    * run the separate `*BucketStats` diagnostic. Accumulator-backed: adds
    * no shuffle and no extra job.
    */
  private[operators] def observeCaps(indexed: DataFrame, szCol: String,
      maxBucketSize: Int, opName: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val out = indexed.observe(obs,
      sum(when(col(szCol) > maxBucketSize, 1L).otherwise(0L))
        .as("rows_in_capped_buckets"))
    onObserved(obs) { cnt =>
      val capped = cnt("rows_in_capped_buckets")
      if (capped > 0)
        log.warn(s"$opName: $capped index rows fell in (band, key) buckets " +
          s"larger than maxBucketSize=$maxBucketSize and were EXCLUDED from " +
          s"pairing; true near-dup pairs inside those buckets are not " +
          s"emitted. Run the matching bucket-stats function to size the cap.")
    }
    out
  }

  /** [[observeCaps]] with the over-cap drops SPLIT into their two
    * classes (r13 verdict #1): `szCol` > cap with `gramsCol` == 1 is an
    * INTENTIONAL exclusion (one gram, genuinely shared past the cap);
    * `gramsCol` >= 2 is COLLISION SHRAPNEL — ≥ 2 distinct grams merged
    * into one hash bucket (each possibly under-cap on its own) whose
    * postings are all dropped, the accepted ~2⁻⁶⁴ trade. The two
    * counters make that trade OBSERVABLE per run instead of folded
    * into one number: shrapnel > 0 is the signal to re-examine the
    * hash width, intentional > 0 is the signal to size the cap.
    * Classification columns are [[capDropClasses]], spec-covered on
    * synthetic counts (a true 64-bit collision is not constructible).
    */
  private[operators] def observeCapsSplit(indexed: DataFrame, szCol: String,
      gramsCol: String, maxBucketSize: Int, opName: String): DataFrame = {
    val (intentionalCol, shrapnelCol) =
      capDropClasses(col(szCol), col(gramsCol), maxBucketSize)
    val obs = org.apache.spark.sql.Observation()
    val out = indexed.observe(obs,
      sum(intentionalCol).as("buckets_capped_intentional"),
      sum(shrapnelCol).as("buckets_capped_collision"))
    onObserved(obs) { cnt =>
      val intentional = cnt("buckets_capped_intentional")
      val shrapnel = cnt("buckets_capped_collision")
      if (intentional > 0)
        log.warn(s"$opName: $intentional gram buckets exceeded " +
          s"maxDocsPerGram=$maxBucketSize and were EXCLUDED from pairing " +
          s"(intentional over-cap class); true shared-gram pairs inside " +
          s"them are not emitted — size the cap deliberately.")
      if (shrapnel > 0)
        log.warn(s"$opName: $shrapnel dropped buckets held >= 2 DISTINCT " +
          s"grams merged by a 64-bit hash collision (collision shrapnel): " +
          s"member grams may be individually under-cap but ALL their " +
          s"postings were dropped with the bucket.")
    }
    out
  }

  /** The two drop-class indicator columns behind [[observeCapsSplit]]
    * (1L when the bucket is dropped in that class, else 0L) — pure
    * expressions so the classification is unit-testable without
    * manufacturing a real 64-bit collision.
    */
  private[operators] def capDropClasses(sz: org.apache.spark.sql.Column,
      nGrams: org.apache.spark.sql.Column,
      maxBucketSize: Int): (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) = (
    when(sz > maxBucketSize && nGrams <= 1L, 1L).otherwise(0L),
    when(sz > maxBucketSize && nGrams >= 2L, 1L).otherwise(0L))

  /** Exact dedup groups: one row per distinct content, lowest id kept.
    * (`md5` over utf-8 bytes; switch to `xxhash64` for cheaper 100 TB runs
    * when a 64-bit fingerprint is acceptable.)
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(to_binary(col(textCol), lit("utf-8"))).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Rows that survive exact dedup (keep lowest id per content). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactDupGroups(df, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Per-doc MinHash signatures as a relational aggregation: explode the
    * shingle set once, hash each (seed, shingle) pair once, take k map-side
    * `min`s. Returns (id, sig: array<long>).
    *
    * This shape matters twice over: (a) the map-side partial aggregation
    * makes the shuffle O(docs × k), independent of document length; (b) a
    * single-projection HOF formulation (minhash inside band-key inside one
    * select) re-inlines the whole signature expression per band — Spark
    * does no cross-lambda subexpression elimination — costing
    * O(bands × k × shingles) hashes per document instead of
    * O(k × shingles). Measured 708s → sub-second at sf0.1.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32): DataFrame = {
    // hash the shingle STRING once; per-seed hashes mix the resulting
    // long with the seed (hashing 2 longs ≈ 30× cheaper than re-hashing
    // the string k times)
    val inv = df.select(col(idCol).as("id"),
        explode(TextFunctions.wordShingles(col(textCol), shingleN)).as("s"))
      .select(col("id"), xxhash64(col("s")).as("hb"))
    val aggs = (0 until k).map(i =>
      min(xxhash64(lit(i), col("hb"))).as(s"__h$i"))
    inv.groupBy("id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** LSH band keys over materialized signatures, exploded to
    * (id, band, bucket) — the inverted index.
    */
  def lshIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16): DataFrame =
    minhashSignatures(df, idCol, textCol, shingleN, k)
      .select(col("id"),
        explode(TextFunctions.lshBandKeys(col("sig"), k, bands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))

  /** Candidate pairs from the LSH index: docs sharing any band bucket.
    * Buckets larger than `maxBucketSize` are excluded from pairing (their
    * count is reported via the `capped_buckets` accumulator column of
    * [[lshBucketStats]]) — a mandatory guard at scale, where one viral
    * boilerplate bucket would otherwise emit O(n²) pairs.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame =
    bandPairs(lshIndex(df, idCol, textCol, shingleN, k, bands),
      maxBucketSize, "minhashCandidates")

  /** Single-branch pair generation over a banded `(id, band, bucket)`
    * index — no self-join, no persist: after the window's size filter
    * each surviving bucket collapses to an id array (bounded by
    * `maxBucketSize`, so agg buffers are safe), and pairs come from a
    * double explode within the row. The groupBy and collect_list reuse
    * the window's (band, bucket) partitioning, so the whole candidate
    * step is ONE shuffle of the index and nothing is left pinned in the
    * cache manager afterwards. Shared by the xxhash64 and portable-hash
    * MinHash faces — cap accounting and pair semantics cannot diverge.
    */
  private def bandPairs(idx: DataFrame, maxBucketSize: Int,
      opName: String): DataFrame = {
    val sized = idx.withColumn("sz", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
    observeCaps(sized, "sz", maxBucketSize, opName)
      .filter(col("sz") <= maxBucketSize)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("id")).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_bands_matched"))
  }

  /** Bucket-size distribution (for tuning bands / maxBucketSize). */
  def lshBucketStats(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame =
    lshIndex(df, idCol, textCol, shingleN, k, bands)
      .groupBy("band", "bucket").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_buckets"), max(col("sz")).as("max_bucket"),
        sum(when(col("sz") > maxBucketSize, 1).otherwise(0)).as("capped_buckets"))

  /** Exact n-gram Jaccard for candidate pairs: join each side's distinct
    * shingle set back and compute |∩| / |∪| with integer arithmetic.
    *
    * Each candidate document is shingled ONCE: the texts are
    * semi-joined to the ids the pairs mention, and that shingle frame is
    * eagerly materialized before both pair sides join it. No join here
    * carries a hint — the planner picks each one from the size
    * statistics of the materialized frames (a shingle frame cut from a
    * small store broadcasts; one cut from a large store falls back to a
    * shuffle join).
    */
  def verifyJaccard(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3): DataFrame = {
    // the candidate set feeds the id semi-join and the final pair joins:
    // one computation, RDD-level blocks that the ContextCleaner frees on
    // GC (nothing pinned in the cache manager, unlike persist). Lazy:
    // adaptive execution already runs its shuffle stages here, and its
    // last stage runs inside the semi-join's first job instead of a job
    // of its own
    val p = pairs.localCheckpoint(false)
    // shingle only the docs that actually appear in a candidate pair — at
    // scale that's the small fraction surviving LSH, not the corpus
    val ids = p.select(explode(array(col("id_a"), col("id_b"))).as("__id"))
    // shingles travel as xxhash64 longs, not n-gram strings: |∩| and |∪|
    // are unchanged (wordShingles is already distinct; a within-pair
    // 64-bit collision needs ~2^32 shingles in one document), and the
    // pair joins below move ~8 bytes per shingle instead of the text
    val sh = df.join(ids, col(idCol) === col("__id"), "left_semi")
      .select(col(idCol).as("__id"),
        transform(TextFunctions.wordShingles(col(textCol), shingleN),
          x => xxhash64(x)).as("__sh"))
      .localCheckpoint(true)
    // both sides join the SAME unrenamed frame, so a broadcast of it is
    // built once and reused by the second join
    val (a, b) = (sh.as("__a"), sh.as("__b"))
    p.join(a, col("id_a") === col("__a.__id"))
      .join(b, col("id_b") === col("__b.__id"))
      .select(p.columns.map(c => p(c)).toIndexedSeq :+
        (size(array_intersect(col("__a.__sh"), col("__b.__sh")))
          .cast(DoubleType) /
          size(array_union(col("__a.__sh"), col("__b.__sh")))
            .cast(DoubleType)).as("jaccard"): _*)
  }

  /** Full MinHash+LSH near-dup pipeline: candidates → exact verification →
    * threshold. This is the scale path; [[ngramJaccardPairs]] is the exact
    * (bounded-input) baseline it is validated against.
    */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame =
    verifyJaccard(
      minhashCandidates(df, idCol, textCol, shingleN, k, bands, maxBucketSize),
      df, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)

  /** Exact all-pairs n-gram Jaccard via an inverted shingle index: explode
    * distinct shingles, equi-join on shingle, count common per pair, join
    * per-doc set sizes. Output bounded by co-occurrence, never a cross
    * join — but still quadratic in degenerate corpora; intended for
    * bounded inputs or as the verifier behind LSH candidates.
    *
    * The eval-slice contract is ENFORCED, not advisory: the call refuses
    * inputs above `maxDocs` (same pattern as the ANN faces'
    * `maxProbeQueries`) so a corpus-sized call can never wander into the
    * deliberate quadratic — route production corpora through
    * [[FuzzyJoin.setSimilarityJoin]] (prefix-filtered) or
    * [[confirmedNearDupPairs]] (LSH-candidate-bounded) instead. Raise
    * `maxDocs` explicitly only for a deliberately larger eval slice.
    *
    * The gate COUNTS the input eagerly (`limit(maxDocs + 1).count()`),
    * which evaluates the input lineage one extra time before the join
    * does: for a NON-DETERMINISTIC input (`sample()`, a re-evaluated
    * `rand()` filter) the counted slice can differ from the rows the
    * quadratic join later processes, so the guard could pass while the
    * joined data exceeds the cap. Callers passing non-deterministic
    * inputs must pin them first (`df.localCheckpoint()` / persist) —
    * the same contract every multi-action consumer of such inputs has.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.0,
      maxDocs: Int = 100000): DataFrame = {
    require(df.limit(maxDocs + 1).count() <= maxDocs,
      s"ngramJaccardPairs is the exact (quadratic-capable) EVAL face and " +
        s"accepts at most $maxDocs docs per call; for production corpora " +
        s"use FuzzyJoin.setSimilarityJoin or Dedup.confirmedNearDupPairs, " +
        s"or pass a larger maxDocs explicitly for a bigger eval slice")
    val sh = df.select(col(idCol).as("id"),
      TextFunctions.wordShingles(col(textCol), shingleN).as("sh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val inv = sh.select(col("id"), explode(col("sh")).as("s"))
    // single-branch co-occurrence: group the posting list per shingle
    // (singletons — the vast majority — generate no pairs and drop before
    // pair expansion), pairs via double explode within the row. One
    // shuffle of the inverted index instead of a two-branch self-join.
    // Still exact and still quadratic per degenerate shingle, as the
    // operator's bounded-input contract states.
    val common = inv.groupBy(col("s"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Production near-dup pair generation: portable MinHash/LSH
    * candidates CONFIRMED by exact n-gram Jaccard computed for the
    * candidate pairs only — `(id_a, id_b, jppm)` with the all-integer
    * `|∩|·10⁶ div |∪|` at or above `thresholdPpm`. This is the
    * composition a 100 TB dedup run actually executes: by default the
    * candidate graph is the [[starCandidateEdges]] sparsification
    * (O(size) edges per bucket — dense replica clusters stay linear;
    * `starEdges = false` restores the all-in-bucket-pairs graph), and
    * the exact confirm touches only `O(|candidates|)` posting rows —
    * [[ngramJaccardPairs]]' exhaustive posting-list expansion is the
    * EVAL face ([[candidateQuality]] measures exactly what the LSH
    * recall gives up; at the default k=32/bands=16, P(miss) at
    * j ≥ 0.6 is (1−j²)¹⁶ < 8·10⁻⁴ per pair).
    *
    * Confirm shape: candidates joined to the per-doc distinct-shingle
    * posting list on BOTH sides, intersection counted per pair, sizes
    * re-attached — three equi-joins, all keyed on doc ids, each bounded
    * by candidate count × doc shingle count.
    */
  def confirmedNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 1000, thresholdPpm: Long = 600000L,
      starEdges: Boolean = true): DataFrame = {
    val cand =
      if (starEdges) starCandidateEdges(df, idCol, textCol, shingleN, k,
        bands, maxBucketSize)
      else portableMinhashPairs(df, idCol, textCol, shingleN, k,
        bands, maxBucketSize).select(col("id_a"), col("id_b"))
    val sh = df.select(col(idCol).as("id"),
      TextFunctions.wordShingles(col(textCol), shingleN).as("sh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val inv = sh.select(col("id"), explode(col("sh")).as("s"))
    cand
      .join(inv.select(col("id").as("id_a"), col("s")), Seq("id_a"))
      .join(inv.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jppm",
        expr("n_common * 1000000L div (n_a + n_b - n_common)"))
      .filter(col("jppm") >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("jppm"))
  }

  /** Cross-group duplicate-leakage matrix: confirmed near-dup pairs
    * rolled up to unordered group pairs —
    * `(group_a, group_b, n_pairs)` with `group_a <= group_b`. The
    * provenance audit behind leakage-safe splits: a heavy off-diagonal
    * cell means two sources share boilerplate/mirrored content, so a
    * source-level train/test split leaks (the doc-level complement of
    * [[graft.operators.CorpusOps]]' family split). Same scale shape as
    * [[confirmedNearDupPairs]] plus two id-keyed group-attach joins
    * and a tiny matrix groupBy.
    */
  def crossGroupDupMatrix(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 1000, thresholdPpm: Long = 600000L): DataFrame = {
    val pairs = confirmedNearDupPairs(df, idCol, textCol, shingleN, k,
      bands, maxBucketSize, thresholdPpm)
    val g = df.select(col(idCol).as("__gid"), col(groupCol).as("__g"))
    pairs
      .join(g.select(col("__gid").as("id_a"), col("__g").as("ga")), Seq("id_a"))
      .join(g.select(col("__gid").as("id_b"), col("__g").as("gb")), Seq("id_b"))
      .select(least(col("ga"), col("gb")).as("group_a"),
        greatest(col("ga"), col("gb")).as("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Sketch-calibration report: precision/recall of the portable
    * MinHash/LSH candidate set against exact n-gram Jaccard, one row
    * per similarity tier — the PR curve an operator reads BEFORE
    * committing (k, bands, cap) to a production dedup run. One row per
    * `thresholdsPpm` entry:
    * `(t_ppm, n_exact, n_candidates, n_tp, precision_ppm, recall_ppm)`
    * where exact similarity is the ALL-INTEGER
    * `|∩|·10⁶ div |∪|` (no double compares anywhere), `n_candidates`
    * counts every LSH pair (band collisions with zero real overlap
    * included — they charge precision), and empty tiers yield null
    * ratios rather than dividing by zero.
    *
    * Eval-harness contract: the exact side is the quadratic-per-shingle
    * [[ngramJaccardPairs]] machinery — at 100 TB this runs on a SAMPLE
    * (the calibration estimate needs thousands of pairs, not all of
    * them); the candidate side is the production-shaped banded join.
    * Tiers attach via a broadcast nested-loop over a literal handful of
    * rows — the only non-equi join, over `|tiers|` rows.
    */
  def candidateQuality(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4,
      maxBucketSize: Int = 1000,
      thresholdsPpm: Seq[Long] = Seq(200000L, 400000L, 600000L, 800000L))
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sh = df.select(col(idCol).as("id"),
      TextFunctions.wordShingles(col(textCol), shingleN).as("sh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val inv = sh.select(col("id"), explode(col("sh")).as("s"))
    val common = inv.groupBy(col("s"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    val cand = portableMinhashPairs(df, idCol, textCol, shingleN, k,
      bands, maxBucketSize)
      .select(col("id_a"), col("id_b"), lit(true).as("is_cand"))
      .localCheckpoint(true) // consumed by the tier join AND the total
    val exact = common
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jppm",
        expr("n_common * 1000000L div (n_a + n_b - n_common)"))
      .join(cand, Seq("id_a", "id_b"), "left")
      .withColumn("is_cand", coalesce(col("is_cand"), lit(false)))
    val tiers = thresholdsPpm.toDF("t_ppm")
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    // inner theta join so the broadcast side is the |tiers| literal rows
    // (a left-outer would have to build the pair table instead); empty
    // tiers re-attach with zero counts afterwards
    val perTier = exact.join(broadcast(tiers), col("jppm") >= col("t_ppm"))
      .groupBy(col("t_ppm"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("is_cand"), 1L).otherwise(0L)).as("n_tp"))
    tiers.join(perTier, Seq("t_ppm"), "left")
      .select(col("t_ppm"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_tp"), lit(0L)).as("n_tp"))
      .crossJoin(broadcast(nCand))
      .select(col("t_ppm"), col("n_exact"), col("n_candidates"), col("n_tp"),
        when(col("n_candidates") > 0,
          expr("n_tp * 1000000L div n_candidates")).as("precision_ppm"),
        when(col("n_exact") > 0,
          expr("n_tp * 1000000L div n_exact")).as("recall_ppm"))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS sketch):
    * per document, the DISTINCT window-minimum hashes over consecutive
    * word n-grams — any two documents sharing a run of at least
    * `window + n − 1` tokens are guaranteed to share a fingerprint, and
    * the expected fingerprint density is ~2/(window+1), so the sketch is
    * a tunable-size LOCALIZED near-dup signal (unlike MinHash, which
    * sketches whole-document similarity).
    *
    * Relational all-min variant: every position achieving its window's
    * minimum is selected (the classic rightmost-tie rule needs argmin
    * state; selecting all minima keeps the guarantee and stays a pure
    * window aggregate). Gram hash = lower 52 bits of md5 — deterministic
    * and oracle-expressible. Per-doc windows partition by doc id: one
    * shuffle of (id, pos, 8-byte hash), sorts bounded by document
    * length.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, window: Int = 4): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos").rowsBetween(-(window - 1), 0)
    df.select(col(idCol).as("id"),
        posexplode(TextFunctions.wordShinglesAll(col(textCol), shingleN))
          .as(Seq("pos", "g")))
      .select(col("id"), col("pos"),
        conv(substring(md5(to_binary(col("g"), lit("utf-8"))), 20, 13),
          16, 10).cast(LongType).as("h"))
      .withColumn("__c", count(lit(1)).over(w))
      .withColumn("__m", min(col("h")).over(w))
      .filter(col("__c") === window)
      .select(col("id").as(idCol), col("__m").as("fingerprint"))
      .distinct()
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints: docs
    * sharing at least `minShared` window-min hashes. Same
    * single-branch, capped-bucket pair generation as
    * [[minhashCandidates]] — a fingerprint shared by thousands of docs
    * (boilerplate) is excluded and counted, never exploded.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, window: Int = 4, minShared: Int = 2,
      maxBucketSize: Int = 1000): DataFrame = {
    val fp = winnowFingerprints(df, idCol, textCol, shingleN, window)
    val sized = fp.withColumn("sz", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")))
    observeCaps(sized, "sz", maxBucketSize, "winnowPairs")
      .filter(col("sz") <= maxBucketSize && col("sz") >= 2)
      .groupBy(col("fingerprint"))
      .agg(collect_list(col(idCol)).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Materialized MinHash LSH index of a corpus: `(id, band, bucket,
    * bucket_sz)`. `bucket_sz` is frozen at build time so later
    * incremental probes apply the `maxBucketSize` guard as a plain scan
    * filter (parquet predicate pushdown) instead of re-aggregating the
    * corpus. `band` is a plain data column: an incremental probe
    * broadcasts a batch index that covers every band, so partitioning a
    * stored index by band prunes nothing and only multiplies its files.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16): DataFrame =
    lshIndex(df, idCol, textCol, shingleN, k, bands)
      .withColumn("bucket_sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))

  /** Incremental near-dup dedup: a NEW batch of documents against an
    * EXISTING corpus whose [[minhashIndex]] was built once — the daily
    * shape of a 100 TB pipeline, where re-running [[minhashDedupPairs]]
    * over corpus+batch would re-shingle and re-shuffle the whole corpus
    * for a 0.1% increment.
    *
    * What touches what:
    *   - the corpus INDEX is only scanned (filtered by its frozen
    *     `bucket_sz`, then hash-joined against the BROADCAST batch index)
    *     — the corpus is never re-signed and never shuffled;
    *   - corpus TEXTS are scanned once and semi-joined to the ids that
    *     survive candidate generation; only those documents are
    *     shingled ([[verifyJaccard]]). The scan still covers the whole
    *     text store: texts are keyed by id, not by bucket;
    *   - batch-internal pairs come from the same probe: the batch index
    *     joins its own broadcast, with the [[minhashCandidates]] pair
    *     semantics, cap and WARN.
    *
    * Returns verified pairs `(id_a, id_b, n_bands_matched, jaccard)`
    * with `jaccard >= threshold`, `id_a < id_b`, covering every pair
    * that involves at least one batch document. Requires batch and
    * corpus id spaces to be disjoint. Same miss model as the batch
    * pipeline (a true pair at jaccard ≥ 0.4 escapes k=32/bands=16 with
    * P < 1e-18); over-cap corpus buckets are excluded and WARNed exactly
    * like [[minhashCandidates]].
    */
  def incrementalMinhashPairs(batch: DataFrame, corpus: DataFrame,
      corpusIndex: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame =
    incrementalMinhashPairsFromIndex(
      batch.select(col(idCol), col(textCol))
        .unionByName(corpus.select(col(idCol), col(textCol))),
      corpusIndex, minhashIndex(batch, idCol, textCol, shingleN, k, bands),
      idCol, textCol, threshold, shingleN, maxBucketSize)

  /** [[incrementalMinhashPairs]] over a PRE-BUILT batch [[minhashIndex]]
    * (r17 fusion): the append lifecycle
    * ([[graft.streaming.StreamingMinhashDedup.processBatch]]) signs the
    * batch ONCE, checkpoints the 16-rows/doc index frame, probes through
    * this entry point, and appends the same frame as the batch's
    * segment — where the unfused form signed the batch once for the
    * probe's broadcast side, once for its batch-internal candidates,
    * and once more for the segment write. `docs` holds the texts of
    * every batch and corpus document (the store passes its text store,
    * into which the batch's texts have already landed). `batchIndex`
    * must be the [[minhashIndex]] of the batch with the same
    * `shingleN`/k/bands (its per-batch `bucket_sz` IS the size window
    * of [[minhashCandidates]], which the batch-internal pairs rely on).
    */
  def incrementalMinhashPairsFromIndex(docs: DataFrame,
      corpusIndex: DataFrame, batchIndex: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleN: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val bIdx = batchIndex
      .filter(col("bucket_sz") <= maxBucketSize)
      .select(col("id").as("id_new"), col("band"), col("bucket"))
    // ONE pair generator for both pair classes: the corpus index and the
    // batch index (flagged) probe the same broadcast batch index. Batch
    // rows keep only `id_old < id_new`, which yields each batch-internal
    // pair once per shared band — the count the window + collect_list
    // pair expansion gave, since the batch's frozen `bucket_sz` is that
    // window's size. Each side keeps its own cap accounting and op name.
    def side(idx: DataFrame, opName: String, inBatch: Boolean) =
      observeCaps(idx, "bucket_sz", maxBucketSize, opName)
        .filter(col("bucket_sz") <= maxBucketSize)
        .select(col("id").as("id_old"), col("band"), col("bucket"),
          lit(inBatch).as("__in_batch"))
    // broadcast the (small) batch index: the corpus index streams through
    // a map-side join — no corpus shuffle; output is bounded by batch
    // bucket membership, and the pair-count shuffle that follows carries
    // only matches
    val pairs = side(corpusIndex, "incrementalMinhashPairs", inBatch = false)
      .unionByName(side(batchIndex, "minhashCandidates", inBatch = true))
      .join(broadcast(bIdx), Seq("band", "bucket"))
      .filter(!col("__in_batch") || col("id_old") < col("id_new"))
      .select(least(col("id_old"), col("id_new")).as("id_a"),
        greatest(col("id_old"), col("id_new")).as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_bands_matched"))
    verifyJaccard(pairs, docs, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
  }

  /** The incremental dedup DECISION: which batch documents survive
    * against the standing corpus. Composes [[incrementalMinhashPairs]]
    * with [[dedupByPairs]] applied to the batch only — corpus documents
    * are never dropped (they are the standing keepers), and since batch
    * ids are REQUIRED to be larger than corpus ids (the natural
    * monotonically-assigned shape), min-id component resolution can
    * never crown a batch doc over a corpus doc it duplicates.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
      corpusIndex: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    val pairs = incrementalMinhashPairs(batch, corpus, corpusIndex, idCol,
      textCol, threshold, shingleN, k, bands, maxBucketSize)
      .select(col("id_a"), col("id_b"))
    dedupByPairs(batch, idCol, pairs)
  }

  /** Connected-component resolution over near-dup pairs — the step that
    * turns pair lists (from [[minhashDedupPairs]], SimHash, or
    * embedding near-dup) into a dedup DECISION: every document in a
    * connected cluster adopts the cluster's minimum id as its label.
    *
    * Min-label propagation: each round every node takes the min of its
    * own label and its neighbors' labels; converges in O(cluster
    * diameter) rounds — shallow in practice for dedup graphs. Each round
    * eagerly localCheckpoints (iterative lineage must be truncated) and
    * stops as soon as a round changes nothing.
    *
    * Returns (id, label); rows with label != id are the duplicates to
    * drop ([[dedupByPairs]] applies that to the corpus).
    *
    * If `maxIter` rounds pass without convergence (a component whose
    * diameter exceeds `maxIter`), the labels returned are NOT final —
    * some clusters would carry multiple keepers. That case throws rather
    * than silently returning inconsistent labels; raise `maxIter` for
    * pathologically chain-shaped dup graphs.
    */
  def resolveKeepers(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(false)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nlabel"))
      // changed-label count rides the checkpoint's own action
      // (Materialize.observed): the r16 loop paid a second join+action
      // per round for the same convergence boolean. `__old` is dropped
      // after the checkpoint so the metric can be recounted over it.
      val (ck, nchg) = Materialize.observed(
        labels.withColumnRenamed("label", "__old")
          .join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("__old"), coalesce(col("nlabel"), col("__old")))
              .as("label"),
            col("__old")),
        "Dedup.resolveKeepers",
        coalesce(sum(when(col("label") =!= col("__old"), 1L)
          .otherwise(0L)), lit(0L)).as("nchg"))
      converged = nchg.getLong(0) == 0L
      labels = ck.drop("__old")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"resolveKeepers did not converge in $maxIter rounds — a connected " +
          "component has diameter > maxIter and labels are inconsistent; " +
          "re-run with a larger maxIter")
    labels
  }

  /** Near-dup arbitration: resolve `pairs` to clusters and keep the
    * BEST-scoring member of each — score desc, id asc on ties — rather
    * than the first (RefinedWeb keeps the longest copy, reference-free
    * quality filters keep the highest-scoring one; keep-lowest-id is
    * [[exactDedup]]'s policy). Docs in no pair pass through as their
    * own singleton cluster. One row per cluster:
    * `(label, n_members, keeper_id, keeper_score)`.
    *
    * 100 TB shape: cluster labels come from [[resolveKeepers]] (swap in
    * [[connectedComponents]] upstream for chain-shaped graphs) and the
    * label table is only the docs that appear in a pair — tiny next to
    * the corpus, so the attach join broadcasts under AQE. Arbitration is
    * a single `max(struct(score, -id))` groupBy: the lexicographic
    * struct max IS the total keeper order, no window sort over members.
    */
  def keepBest(scored: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val labels = resolveKeepers(pairs)
    scored.select(col(idCol).as("id"), col(scoreCol).as("score"))
      .join(labels, Seq("id"), "left")
      .withColumn("label", coalesce(col("label"), col("id")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score"), (-col("id")).as("negid"))).as("b"))
      .select(col("label"), col("n_members"),
        (-col("b.negid")).as("keeper_id"), col("b.score").as("keeper_score"))
  }

  /** Connected components by alternating large-star / small-star — the
    * SCALE path beside [[resolveKeepers]] (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond", the algorithm behind GraphFrames'
    * production CC). Same contract: pairs in, (id, label = component min)
    * out.
    *
    * Why a second algorithm: min-label propagation runs O(component
    * diameter) rounds, shuffling the FULL edge list each round — a
    * chain-shaped dup cluster of depth 10k (boilerplate pages that mutate
    * gradually) needs 10k shuffles and [[resolveKeepers]] rightly throws.
    * Large-star/small-star converges in O(log n) rounds regardless of
    * topology, and each step REWRITES edges toward the component minimum
    * instead of carrying labels beside a static edge set, so the edge count
    * shrinks geometrically toward one star per component.
    *
    *   - large-star: every node connects its strictly-LARGER neighbors to
    *     the minimum of its neighborhood — long tails collapse toward small
    *     ids without growing any adjacency;
    *   - small-star: every node connects its smaller-or-equal neighbors to
    *     that side's minimum — hubs hand their followers to the true min.
    *
    * Both steps are one groupBy(min) + one equi-join on the node id —
    * map-side partial aggs, no collect, no per-node state. Convergence is
    * detected EXACTLY (set equality of the canonicalized edge lists via
    * `except`, not a hash/count heuristic), and each round eagerly
    * localCheckpoints to truncate iterative lineage.
    *
    * At the fixpoint the edge set is one star per component centered at
    * its min, so labels read off directly; isolated convergence in
    * O(log n) is spec-pinned against a 64-deep chain that min-label
    * propagation at the same round budget cannot finish.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    // canonical orientation (big, small), self-loops dropped — the
    // INITIAL pass only; the star passes below emit canonically by
    // construction, so re-canonicalizing them per round would pay a
    // greatest/least projection plus a (u,v)-keyed dedup exchange for
    // rows that provably already satisfy u > v (r18, guide §2.4)
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()

    // SHUFFLE SHAPE PER ROUND (r17 verdict #2 — the r17 form paid four
    // shuffle exchanges per alternation round: a groupBy(u) and a
    // distinct-by-(u,v) in EACH star pass): the round now dedups ONCE.
    // Large-star's dedup is gone outright — its only consumer is
    // small-star, whose groupBy(u).min is duplicate-blind and whose own
    // dedup collapses the duplicates large-star may emit (two neighbors
    // of y sharing one min); large-star output stays |e| rows exactly
    // (the 1:min join emits one row per input edge), so carrying the
    // duplicates one hop grows nothing. Both passes' re-canonicalization
    // (greatest/least/filter projections) is also gone: large-star
    // emits (y, m(x)) with m(x) <= x < y and small-star emits (v, m)
    // with m = min of u's smaller neighbors (m <= v < u, v = m
    // filtered), so every emission is already canonically oriented and
    // self-loop-free — re-deriving that per round paid expression work
    // for provably no-op values (guide §2.4/§1.2.1). Three exchanges
    // per round instead of four; each is AQE-sized (no fixed partition
    // count anywhere), so the shape is scale-adaptive, not a local[32]
    // constant. (An explicit repartition-by-u feeding both consumers of
    // each pass was ALSO tried here (r18): at gate scale AQE plans the
    // min-side as a broadcast join, the repartitions became pure extra
    // stages — measured +9 stage-jobs on q_cc_components at equal wall
    // — and it was reverted; the dedup cut below measures strictly
    // fewer jobs on the same A/B.)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is canonically oriented (u > v everywhere), possibly with
      // duplicate rows from largeStar — mins is duplicate-blind
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val rewired = e.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      rewired.union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // cheap per-round fingerprint (count, order-free hash sum); the exact
    // set-equality check (`except`) runs ONCE, when the fingerprint first
    // repeats — so convergence is still decided exactly, without paying a
    // full anti-join shuffle every round. The fingerprint rides the
    // checkpoint's own materialization (Materialize.observed, r15): one
    // job per round computes next-edges AND their fingerprint, where the
    // separate post-checkpoint agg cost a second job per round — pure
    // fixed-overhead, but CC fixed overhead is the floor under every
    // family/dedup/graph probe. Round edge lists are corpus-scale on the
    // distributed path, so they take the size-tiered materialization
    // (r18, §5: reliable checkpoint above the threshold so a lost
    // executor can't kill the round lineage).
    // DECIMAL(38,0) sum: ANSI-overflow-proof for full-range 64-bit hashes
    def ckptFp(e: DataFrame): (DataFrame, org.apache.spark.sql.Row) =
      Materialize.observed(e, "Dedup.connectedComponents",
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v"))
          .cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))).as("hs"))
    var (edges, fp) = ckptFp(
      canon(pairs.select(col("id_a").as("u"), col("id_b").as("v"))))
    if (fp.getLong(0) == 0L) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", LongType), StructField("label", LongType))))
    }
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val (next, nfp) = ckptFp(smallStar(largeStar(edges)))
      converged = nfp == fp && next.except(edges).isEmpty
      edges = next
      fp = nfp
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter alternation " +
          "rounds — raise maxIter (O(log n) rounds suffice; hitting this " +
          "bound suggests ids that do not total-order consistently)")
    // fixpoint = one star per component: (member, min); centers label themselves
    edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")).distinct())
      .distinct()
  }

  /** Which path [[connectedComponentsBounded]] took on its most recent
    * call, with the observed edge count, the effective cap, and the
    * caller's tag — the chooser's audit witness. `nEdges` on the
    * distributed path is the truncated `cap + 1` observation ("more
    * than cap"), not the true count: counting exactly would cost the
    * full pass the cap exists to avoid.
    */
  final case class CcDecision(path: String, nEdges: Long, cap: Long,
    tag: String)

  private val ccLog =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")
  private val lastCc =
    new java.util.concurrent.atomic.AtomicReference[CcDecision]()

  /** The most recent [[CcDecision]] in this JVM (None before any call). */
  def lastCcDecision: Option[CcDecision] = Option(lastCc.get)

  private def recordCcDecision(path: String, nEdges: Long, cap: Long,
      tag: String): Unit = {
    lastCc.set(CcDecision(path, nEdges, cap, tag))
    ccLog.info(s"connectedComponentsBounded path=$path edges=$nEdges " +
      s"cap=$cap tag=$tag")
  }

  /** [[connectedComponents]] with a GUARDED small-graph fast path — the
    * serving shape for batch-scale contracted graphs (the
    * [[FamilyStore]] probe, the [[CrossModal]] channel arbitrations),
    * where the distributed alternating algorithm's wall is pure
    * scheduler latency: each large-star/small-star round is ~6-10 AQE
    * stage-jobs, and a 3-4 round run over a few thousand edges spends
    * seconds scheduling sub-100ms jobs (the r15 verdict's fixed-phase
    * floor, measured at ~60 of the probe's 72 jobs).
    *
    * The edge list is fetched through ONE `limit(cap+1)` collect via a
    * primitive tuple encoder (an `Array[(Long,Long)]` costs ~40 bytes
    * per edge — tuple object + two primitive fields + array ref; the
    * boxed-`Row` collect it replaced cost 100+) and solved with
    * union-find + min-relabel in one pass, returning the exact
    * [[connectedComponents]] result (label = component minimum over
    * the edge node set) as a local relation. Above the cap the partial
    * collect is discarded and the distributed path runs — correctness
    * never depends on the graph fitting the driver, only the floor
    * does. The result is EAGER on both paths (a local relation, or a
    * checkpointed distributed result): callers on ingest paths rely on
    * components reflecting pre-append state.
    *
    * '''Honest driver budget.''' The dominant term is not the edge
    * array but the union-find maps: up to 2 nodes/edge, each a boxed
    * `HashMap` node (~80 bytes) plus a `HashSet` entry (~60), so the
    * worst case is ~300 bytes/edge all-in. The EFFECTIVE cap is
    * therefore `min(maxDriverEdges, maxMemory/4 ÷ 300)` — a quarter of
    * the driver heap at the worst-case rate — so the default 2M cap
    * (≈600 MB worst case) degrades gracefully to the distributed path
    * on small drivers instead of OOMing them.
    *
    * '''Auditability (r16 verdict #5).''' Every call records WHICH
    * path ran, the observed edge count, the effective cap, and the
    * caller's `tag` — as a structured log line on both paths and in
    * [[lastCcDecision]] — so a "bounded by construction" edge list
    * that silently crosses the cap at scale surfaces in the logs
    * instead of just changing the plan shape.
    *
    * `eagerInput = true` checkpoints the edge list BEFORE deciding the
    * path — one extra job, but the fallback then re-reads the
    * materialization instead of RE-DERIVING the edges from scratch.
    * Callers whose edge derivation is corpus-scale and plausibly
    * above-cap ([[SuffixDedup.familyLabels]],
    * [[SuffixDedup.suffixFamilies]]) pass true: at 100 TB the wasted
    * partial execution of a corpus-wide gram pass would dwarf the job
    * it saves. ([[FamilyStore.compactPrefix]] used to pass true; since
    * r17 it localCheckpoints its `latest` table upstream — a
    * checkpointed INPUT gives the fallback the same
    * re-read-not-re-derive property with a materialization the caller
    * reuses anyway, so eagerInput would only duplicate it.) Callers whose graphs are
    * batch/pair-scale BY CONSTRUCTION (the family probe, the
    * CrossModal arbitrations) keep the default — the fallback is a
    * contract violation there, not a plan.
    */
  def connectedComponentsBounded(pairs: DataFrame,
      maxDriverEdges: Int = 2000000,
      eagerInput: Boolean = false,
      tag: String = ""): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val sel0 = pairs.select(col("id_a").cast(LongType).as("id_a"),
      col("id_b").cast(LongType).as("id_b"))
    val sel = if (eagerInput) Materialize.eager(sel0) else sel0
    // effective cap: never budget more than a quarter of the driver
    // heap at the worst-case ~300 bytes/edge rate (see scaladoc)
    val heapCap = ((Runtime.getRuntime.maxMemory() / 4L) / 300L)
      .min(Int.MaxValue.toLong).toInt
    val cap = math.min(maxDriverEdges, math.max(1, heapCap))
    // primitive tuple collect (ADVICE r16: boxed Row collect cost 100+
    // bytes/edge); null endpoints contribute no edge on either path,
    // so dropping them pre-collect preserves exact parity.
    // coalesce(1) before the limit (r18): executeTake's scale-up scans
    // 1 partition, comes up short of cap+1 (always, on the driver
    // path), and pays a SECOND job for the rest — every bounded-CC
    // call sites two scheduled jobs where one suffices. One narrow
    // partition makes the take single-job; the row set collected is
    // identical, and on the over-cap path the take still stops at
    // cap+1 rows (iterator-lazy), so the discarded partial stays
    // bounded at scale too.
    val edges = sel
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .coalesce(1)
      .limit(cap + 1).as[(Long, Long)].collect()
    if (edges.length > cap) {
      recordCcDecision("distributed", edges.length.toLong, cap, tag)
      return Materialize.eager(connectedComponents(sel))
    }
    recordCcDecision("driver", edges.length.toLong, cap, tag)
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    // self-loops contribute no edge and no node — the distributed
    // path's canon() drops them before anything sees them, and parity
    // is exact, not approximate (nulls were dropped pre-collect)
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    // label every node in the edge set with its component MINIMUM (the
    // union-by-smaller-root rule above already makes each root the min)
    val nodes = new java.util.HashSet[Long]()
    edges.foreach { case (a, b) =>
      if (a != b) { nodes.add(a); nodes.add(b) }
    }
    import scala.jdk.CollectionConverters._
    val rows = nodes.asScala.toSeq.map(n =>
      org.apache.spark.sql.Row(n, find(n)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList,
        math.max(1, math.min(rows.size / 10000 + 1, 32))),
      StructType(Seq(StructField("id", LongType),
        StructField("label", LongType))))
  }

  /** Corpus minus near-dup losers: keep every row whose id is its
    * cluster's minimum (or is in no pair at all).
    */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = resolveKeepers(pairs)
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Relational SimHash (the scale path for
    * [[graft.functions.TextFunctions.simhash64]]): explode tokens, hash
    * each string ONCE, then 64 bit-vote sums as map-side partial
    * aggregations — fully codegen'd, no higher-order functions, shuffle of
    * 64 counters per doc. The Column HOF form re-evaluates the token hash
    * per bit (64× the string hashing; HOFs are interpreted and share no
    * subexpressions across lambdas — the same trap measured in
    * [[minhashSignatures]]). Values are identical: same per-token
    * xxhash64 votes, same sign rule, null/empty docs sketch to 0.
    *
    * Null handling: `explode_outer` keeps a row (with a null token) for
    * docs whose token array is null, and the hash is null-gated —
    * `xxhash64(NULL)` would otherwise return its seed (42) and vote, where
    * the HOF form aggregates a null array to a null vote and sketches 0.
    * A null hash makes every `sum` vote null, and `when(null > 0, ..)`
    * takes the 0 branch per bit, so both forms sketch null docs to 0.
    */
  def simhashSketches(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val inv = df
      .select(col(idCol).as("id"),
        explode_outer(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"),
        when(col("t").isNotNull, xxhash64(col("t"))).as("h"))
    val votes = (0 until 64).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .as(s"__v$b"))
    inv.groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(b =>
          when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a, x) => a.bitwiseOR(x)).as("sketch"))
  }

  /** Banded SimHash inverted index: (id, sketch, band, key) with the
    * 64-bit sketch split into `hammingMax + 1` bands — pigeonhole
    * guarantees any pair within `hammingMax` agrees on at least one exact
    * band key.
    */
  private def simhashBanded(df: DataFrame, idCol: String, textCol: String,
      hammingMax: Int): DataFrame = {
    require(hammingMax >= 0 && hammingMax < 64,
      s"hammingMax must be in [0, 63], got $hammingMax")
    val nBands = hammingMax + 1
    val width = 64 / nBands
    // full-width band (hammingMax=0 → width=64): (1L << 64) - 1 is 0 on
    // the JVM (shifts are mod 64), which would key every sketch to bucket
    // 0 — the mask must be all-ones there, i.e. exact-sketch match
    val bandMask = if (width == 64) -1L else (1L << width) - 1
    simhashSketches(df, idCol, textCol).select(col("id"), col("sketch"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sketch"), b * width)
            .bitwiseAND(lit(bandMask)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("sketch"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** SimHash near-dup pairs with a hamming bound: band the sketch
    * ([[simhashBanded]]), join per band key, verify hamming on the full
    * sketch. Linear index, no all-pairs — and, like
    * [[minhashCandidates]], band buckets larger than `maxBucketSize` are
    * excluded from pairing (counted by [[simhashBucketStats]], not
    * silently lost): a corpus with thousands of identical boilerplate
    * docs puts them all in the same key in EVERY band, and an unguarded
    * join would emit O(n²) pairs before any distinct. Same single-branch
    * shape too: the window's size filter and the bucket collapse reuse
    * one (band, key) shuffle, pairs come from a double explode within the
    * row, and nothing is left pinned.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      hammingMax: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val sized = simhashBanded(df, idCol, textCol, hammingMax)
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "key")))
    observeCaps(sized, "sz", maxBucketSize, "simhashPairs")
      .filter(col("sz") <= maxBucketSize && col("sz") >= 2)
      .groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("id"), col("sketch"))).as("xs"))
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        TextFunctions.hamming64(col("a.sketch"), col("b.sketch")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= hammingMax)
  }

  /** SimHash band-bucket distribution (mirror of [[lshBucketStats]]): how
    * many (band, key) buckets exist, the largest, and how many
    * [[simhashPairs]] would cap at `maxBucketSize`.
    */
  def simhashBucketStats(df: DataFrame, idCol: String, textCol: String,
      hammingMax: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    simhashBanded(df, idCol, textCol, hammingMax)
      .groupBy("band", "key").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_buckets"), max(col("sz")).as("max_bucket"),
        sum(when(col("sz") > maxBucketSize, 1).otherwise(0)).as("capped_buckets"))

  /** ENGINE-PORTABLE HASH FACES =============================================
    * [[minhashSignatures]] / [[simhashSketches]] ride on `xxhash64`, which
    * no other SQL engine ships as a builtin — so their registry queries are
    * golden-pinned and what the DuckDB oracle certifies there is the
    * exact-Jaccard VERIFIER, not the sketch machinery itself. These
    * variants swap in the md5-derived 52-bit hash the winnowing sketch
    * already oracle-certifies (`('0x' || substr(md5(x), 20, 13))::BIGINT`
    * on the DuckDB side — `q_winnow`), keeping every other moving part
    * identical: min-over-shingles signatures, banded bucket keys,
    * size-capped single-branch pair generation, bit-vote sign rule. The
    * result is the FULL sketch pipeline oracle-checked end-to-end
    * (`q_minhash_portable`, `q_simhash_portable`); the xxhash64 forms stay
    * the production path (one cheap long-mix per seed instead of k string
    * md5s per shingle).
    */

  /** 52-bit md5-derived hash of a string column — the engine-portable hash
    * family ([[winnowFingerprints]]' gram hash; fold a seed in as a string
    * prefix so any ANSI engine reproduces the whole family).
    */
  private def md5Hash52(c: Column): Column =
    conv(substring(md5(to_binary(c, lit("utf-8"))), 20, 13), 16, 10)
      .cast(LongType)

  /** MinHash+LSH candidate pairs over the portable hash family:
    * `(id_a, id_b, n_bands_matched)`, bit-for-bit reproducible in DuckDB.
    * Same plan shape as [[minhashCandidates]] — per-shingle hashes,
    * map-side partial `min` per seed (shuffle O(docs × k), independent of
    * document length), banded bucket strings, one (band, bucket) shuffle
    * for the size cap AND the bucket collapse, pairs via double explode
    * within the row.
    */
  def portableMinhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4,
      maxBucketSize: Int = 1000): DataFrame =
    bandPairs(portableBandKeys(df, idCol, textCol, shingleN, k, bands),
      maxBucketSize, "portableMinhashPairs")

  /** (id, band, bucket) rows of the portable-hash banded signature —
    * the shared front half of [[portableMinhashPairs]] and
    * [[starCandidateEdges]]. `doubleHash = false` is the original
    * per-seed-md5 family (one md5 per shingle PER SEED — the
    * `q_minhash_portable` gate pins it); `true` is the
    * Kirsch–Mitzenmacher construction `h_i = (h1 + i·h2) mod 2⁶¹−1`
    * (two md5s per shingle TOTAL, then k pure-long ops — i < 64 and
    * h2 < 2⁵² keep i·h2 + h1 under 2⁶³, so the arithmetic is exact
    * 64-bit integer in every engine, no decimal/HUGEINT): the k-seed
    * signature cost stops scaling with k, which the r10 profile showed
    * was ~90 % of the near-dup pipeline at sf1.
    */
  private def portableBandKeys(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int, bands: Int,
      doubleHash: Boolean = false): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    require(!doubleHash || k < 64, s"doubleHash caps k at 63, got $k")
    val rows = k / bands
    val inv0 = df.select(col(idCol).as("id"),
      explode(TextFunctions.wordShingles(col(textCol), shingleN)).as("s"))
    val inv =
      if (doubleHash)
        inv0.select(col("id"), md5Hash52(col("s")).as("__h1"),
          md5Hash52(concat(lit("B|"), col("s"))).as("__h2"))
      else inv0
    def seedHash(i: Int) =
      if (doubleHash)
        expr(s"(__h1 + ${i}L * __h2) % ${ImportanceResampling.ModP}L")
      else md5Hash52(concat(lit(i.toString), lit("|"), col("s")))
    val aggs = (0 until k).map(i => min(seedHash(i)).as(s"__h$i"))
    val sig = inv.groupBy("id").agg(aggs.head, aggs.tail: _*)
    sig.select(col("id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until rows).map(j =>
            col(s"__h${b * rows + j}").cast(StringType)): _*).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Sparsified LSH candidate graph: each capped (band, bucket) emits a
    * STAR — every member paired with the bucket minimum — instead of
    * all in-bucket pairs: O(size) edges per bucket, not O(size²), the
    * sparsification that keeps dense near-dup clusters (boilerplate
    * replicas, the common 100 TB pathology) from exploding candidate
    * generation. Connectivity within a bucket is preserved (every
    * member reaches the min), so downstream connected components see
    * the same clusters for mutually-similar groups; what it gives up
    * vs [[portableMinhashPairs]] is pairs between two members that are
    * BOTH dissimilar to the bucket min yet similar to each other — a
    * confirm-stage filter can therefore split such a cluster, which is
    * the standard sparsification trade.
    */
  def starCandidateEdges(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    val bk = portableBandKeys(df, idCol, textCol, shingleN, k, bands,
      doubleHash = true)
    bk.groupBy(col("band"), col("bucket"))
      .agg(min(col("id")).as("id_a"), collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /** Content-defined chunking (the rsync/LBFS boundary rule, on word
    * n-grams): a chunk ends wherever the hash of the last `window` tokens
    * satisfies `h % avgChunkGrams == 0` — so boundaries move WITH the
    * content, and inserting one sentence into a 10k-token document
    * changes O(1) chunk hashes instead of shifting every fixed-size
    * block (the failure mode that makes fixed-window fragment dedup
    * useless under edits). Output: `(id, chunk_id, start_pos, end_pos,
    * n_tokens, chunk_hash)`, positions 1-based, `chunk_hash` the md5-52
    * of the chunk's space-joined tokens — the engine-portable family, so
    * the whole boundary-rule → prefix-sum → chunk-hash pipeline is
    * DuckDB-reproducible (`q_cdc_chunks`).
    *
    * Scale shape: one equi-join of the token stream against the gram-cut
    * stream on (id, pos) — never an inequality join — and the chunk-id
    * assignment is a per-document EXCLUSIVE prefix sum (`rows unbounded
    * preceding to 1 preceding`), document-bounded like the winnowing
    * window. Production would clamp chunk sizes to [min, max] like LBFS;
    * the expected size is `avgChunkGrams` grams as-is.
    */
  /** The shared CDC lattice: `(id, t, tok, chunk_id)` — every token with
    * its 1-based position and content-defined chunk assignment.
    */
  private def cdcChunkedTokens(df: DataFrame, idCol: String,
      textCol: String, window: Int, avgChunkGrams: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("t"), col("tok"))
    // gram starting at 1-based p covers tokens p .. p+window-1; its CUT
    // lands on the END token e = p+window-1
    val cuts = df.select(col(idCol).as("id"),
        posexplode(TextFunctions.wordShinglesAll(col(textCol), window))
          .as(Seq("p0", "g")))
      .select(col("id"), (col("p0") + lit(window)).as("e"),
        (md5Hash52(col("g")) % avgChunkGrams === 0).cast("int").as("cut"))
    val marked = toks.join(cuts, toks("id") === cuts("id") &&
        col("t") === col("e"), "left")
      .select(toks("id"), col("t"), col("tok"),
        coalesce(col("cut"), lit(0)).as("cut"))
    marked.withColumn("chunk_id",
      coalesce(sum(col("cut")).over(w.partitionBy("id").orderBy("t")
        .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .drop("cut")
  }

  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 3, avgChunkGrams: Int = 8): DataFrame =
    cdcChunkedTokens(df, idCol, textCol, window, avgChunkGrams)
      .groupBy(col("id"), col("chunk_id"))
      .agg(min(col("t")).as("start_pos"), max(col("t")).as("end_pos"),
        count(lit(1)).as("n_tokens"),
        md5Hash52(array_join(transform(
          sort_array(collect_list(struct(col("t"), col("tok")))),
          x => x.getField("tok")), " ")).as("chunk_hash"))

  /** Strip duplicated FRAGMENTS, the action [[cdcDupFragments]] measures
    * (the fragment-grain analog of `CorpusOps.stripSpans`): every chunk
    * whose content hash occurs more than once in the corpus keeps only
    * its globally-FIRST occurrence (lowest id, then chunk_id — exact,
    * engine-independent keeper rule); all later occurrences drop, and
    * each document is rebuilt from its surviving chunks in position
    * order. Chunks below `minTokens` are never stripped (short chunks
    * collide semantically — articles, connectives). Output: `(id,
    * n_tokens_kept, n_chunks_kept, text)` — documents whose every chunk
    * was stripped survive with empty text (the row is the signal).
    *
    * Scale shape: [[cdcChunks]] + ONE extra shuffle on the 8-byte chunk
    * hash (the keeper window), then an (id, chunk_id) equi-join back to
    * the token stream; rebuild is the per-document sorted fold the chunk
    * hash already paid for.
    */
  def cdcStrip(df: DataFrame, idCol: String, textCol: String,
      window: Int = 3, avgChunkGrams: Int = 8,
      minTokens: Int = 2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // ONE lattice: the chunk aggregation below derives from the same
    // `chunked` frame the keeper join consumes — the tokenize/hash/
    // prefix-sum pipeline runs once, not once per consumer
    val chunked = cdcChunkedTokens(df, idCol, textCol, window, avgChunkGrams)
    val chunks = chunked.groupBy(col("id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        md5Hash52(array_join(transform(
          sort_array(collect_list(struct(col("t"), col("tok")))),
          x => x.getField("tok")), " ")).as("chunk_hash"))
    val keep = chunks
      .withColumn("occ", row_number().over(
        w.partitionBy("chunk_hash").orderBy("id", "chunk_id")))
      .filter(col("occ") === 1 || col("n_tokens") < minTokens)
      .select(col("id"), col("chunk_id"))
    chunked.join(keep, Seq("id", "chunk_id"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens_kept"),
        countDistinct(col("chunk_id")).as("n_chunks_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("t"), col("tok")))),
          x => x.getField("tok")), " ").as("text"))
      .join(df.select(col(idCol).as("id")), Seq("id"), "right")
      .select(col("id"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("n_chunks_kept"), lit(0L)).as("n_chunks_kept"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** Cross-document duplicate FRAGMENTS over [[cdcChunks]]: chunk hashes
    * seen in ≥ `minDocs` distinct documents, with occurrence counts —
    * sub-document dedup at the fragment grain (boilerplate paragraphs,
    * quoted blocks), which whole-document sketches cannot see and
    * duplicate-SPAN accounting prices but does not key. One content-hash
    * groupBy, 8-byte keys through the exchange.
    */
  def cdcDupFragments(df: DataFrame, idCol: String, textCol: String,
      window: Int = 3, avgChunkGrams: Int = 8, minDocs: Int = 2,
      minTokens: Int = 2): DataFrame =
    cdcChunks(df, idCol, textCol, window, avgChunkGrams)
      .filter(col("n_tokens") >= minTokens)
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") >= minDocs)

  /** 52-bit SimHash over the portable hash family — [[simhashSketches]]'
    * vote rule (per bit, sign of the ±1 token votes; tied bits sketch
    * to 0) with the md5-52 token hash, so the whole tokenize → hash →
    * vote → sign path is DuckDB-reproducible. 52 bits (not 64) because
    * the portable hash is 52 bits wide. Null-text docs emit NO row —
    * matching the oracle's inner `unnest` exactly ([[simhashSketches]],
    * by contrast, sketches null docs to 0 via `explode_outer`).
    */
  def portableSimhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val inv = df
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"), md5Hash52(col("t")).as("h"))
    val votes = (0 until 52).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .as(s"__v$b"))
    inv.groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 52).map(b =>
          when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a, x) => a.bitwiseOR(x)).as("sketch"))
  }
}
