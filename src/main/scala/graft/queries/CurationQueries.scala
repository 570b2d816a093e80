package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Q._

/** Corpus-curation queries: proportionally-exact stratified sampling,
  * χ²-keyness domain signatures, and the eval-leakage audit — the
  * curation faces a mixture designer runs before/after cutting a
  * training corpus.
  *
  * All four are fully oracle-checked — including `q_keyness`'s χ²
  * doubles, which are pure rational functions of exact integer counts
  * evaluated in an identical IEEE association order on both engines.
  */
object CurationQueries {

  val queries: Map[String, QueryFn] = Map(
    // Hamilton apportionment evidence: per (lang, source) stratum its
    // size, floor share, remainder, and final quota for a 100-doc draw.
    "q_strat_alloc" -> ((s, dir) =>
      graft.operators.Stratified.allocate(
        t(s, dir, "documents"), Seq("lang", "source"), total = 100L)
        .orderBy("lang", "source")),

    // the draw itself: per stratum, the quota rows with the smallest
    // portable md5-52 hash of doc_id — Σ rows == 100 exactly, stratum
    // proportions within one row of exact.
    "q_strat_sample" -> ((s, dir) =>
      graft.operators.Stratified.sample(
        t(s, dir, "documents"), "doc_id", Seq("lang", "source"),
        total = 100L)
        .select(col("doc_id"), col("lang"), col("source"),
          col("strat_rank"))
        .orderBy("doc_id")),

    // temperature-flattened (α = 1/2) quotas: weight = exact ⌊√n⌋, the
    // multilingual low-resource up-weighting rule, Hamilton over weights.
    "q_strat_temperature" -> ((s, dir) =>
      graft.operators.Stratified.temperatureAllocate(
        t(s, dir, "documents"), Seq("lang", "source"), total = 100L)
        .orderBy("lang", "source")),

    // PPS order sample (sequential Poisson): 120 docs drawn with
    // probability ∝ a 16-char-block length weight — the weighted analog
    // of q_strat_sample. Integer-quantized keys, global k-smallest via
    // TakeOrderedAndProject (no sort shuffle).
    "q_pps_sample" -> ((s, dir) =>
      graft.operators.Stratified.ppsSample(
        t(s, dir, "documents"), "doc_id",
        expr("greatest(1, (length(text) + 15) div 16)"), k = 120)
        .select(col("doc_id"), col("w"), col("pps_key"))
        .orderBy("doc_id")),

    // per-lang PPS draw: the 25 smallest sequential-Poisson keys WITHIN
    // each language — per-key top-k windowed inside the stratum, no
    // global sort.
    "q_pps_stratum" -> ((s, dir) =>
      graft.operators.Stratified.ppsSamplePerStratum(
        t(s, dir, "documents"), "doc_id", Seq("lang"),
        expr("greatest(1, (length(text) + 15) div 16)"), k = 25)
        .select(col("lang"), col("doc_id"), col("w"), col("pps_key"),
          col("pps_rank"))
        .orderBy("lang", "pps_rank")),

    // per-source domain-signature tokens by Pearson χ² over the exact
    // 2×2 contingency (over-representation gated by integer
    // cross-multiplication, not a float compare).
    "q_keyness" -> ((s, dir) =>
      graft.operators.Keyness.chiSquareKeyness(
        t(s, dir, "documents"), "source", "text",
        minCount = 5L, topN = 10)
        .orderBy("source", "rank")),

    // eval-set leakage audit: near-dup pairs (prefix-filtered exact
    // Jaccard ≥ 0.8 — the deterministic whole-corpus path, same engine
    // as q_ppjoin) that straddle the content-hash train/val/test
    // boundary. The pair table is tiny next to the corpus, so AQE
    // broadcasts it into both split-label joins.
    "q_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.FuzzyJoin.setSimilarityJoin(
        docs, "doc_id", "text", shingleN = 3, tauPpm = 800000L)
      val splits = graft.operators.CorpusOps.splitAssign(docs, "doc_id",
          Seq(("train", 90), ("val", 5), ("test", 5)))
        .select(col("doc_id"), col("split"))
      pairs
        .join(splits.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // contrastive negatives: 4 deterministic out-of-source draws per
    // anchor doc by pure hash-coordinate lookup (no cross join, no
    // global sort) — the offline in-batch-negatives replacement.
    "q_contrastive_pairs" -> ((s, dir) =>
      graft.operators.Contrastive.negativePairs(
        t(s, dir, "documents"), "doc_id", "source", k = 4, buckets = 64)
        .orderBy("anchor_id", "j")),

    // distribution drift (PSI + KL) of each source's doc-length profile
    // vs the src0 baseline: ONE (group, bin) count pass over the corpus,
    // Laplace-1 smoothing, bin-ordered double fold. Gate face emits the
    // metrics quantized to parts-per-billion BIGINTs: JVM Math.log and
    // libm ln disagree by 1 ulp on some inputs (the q_dsir_weights
    // finding), and ppb integers absorb that while still pinning 9
    // significant decimals of the metric.
    "q_drift_psi" -> ((s, dir) =>
      graft.operators.Drift.psiKl(t(s, dir, "documents"), "source",
        baseline = "src0", expr("n_chars div 50"))
        .select(col("group"), asLong(col("n_bins")).as("n_bins"),
          asLong(col("n_base")).as("n_base"),
          asLong(col("n_cmp")).as("n_cmp"),
          Q.ppb(col("psi")).as("psi_ppb"),
          Q.ppb(col("kl")).as("kl_ppb"))
        .orderBy("group")),

    // ExactSubstr dedup (Lee et al. 2022) re-expressed relationally:
    // every MAXIMAL character span ≥ 25 chars that occurs at ≥ 2
    // positions corpus-wide, found by the two-stage 8-byte-hash
    // prefilter + exact-gram confirm and merged per doc in one window
    // pass — the exact intervals the paper's suffix array returns.
    "q_suffix_spans" -> ((s, dir) =>
      graft.operators.SuffixDedup.duplicatedSpans(
        t(s, dir, "documents"), "doc_id", "text", minLen = 25)
        .select(col("doc_id"), col("span_start"), col("span_len"),
          asLong(col("n_positions")).as("n_positions"))
        .orderBy("doc_id", "span_start")),

    // the strip ledger over those spans (remove-every-occurrence
    // policy): per doc, how many chars the duplicated spans cover and
    // how many survive — spans are disjoint by construction, so
    // covered = Σ span_len exactly; span-free docs pass through with
    // zeros via the left join.
    "q_suffix_strip" -> ((s, dir) =>
      graft.operators.SuffixDedup.stripStats(
        t(s, dir, "documents"), "doc_id", "text", minLen = 25)
        .orderBy("doc_id")),

    // the same ledger under the paper's KEEP-FIRST policy: the
    // globally first copy of each duplicated gram survives, so only
    // redundant occurrences count as covered — kept_chars here is what
    // an ExactSubstr pass actually leaves in the corpus.
    "q_suffix_keepfirst" -> ((s, dir) =>
      graft.operators.SuffixDedup.stripStats(
        t(s, dir, "documents"), "doc_id", "text", minLen = 25,
        keepFirst = true)
        .orderBy("doc_id")),

    // the daily-increment shape: every 10th doc is the new batch, the
    // rest the indexed corpus (suffixIndex scanned map-side through
    // the batch-key broadcast, corpus text never re-grammed) — result
    // equals duplicatedSpans over corpus+batch restricted to batch
    // docs, which is exactly what the oracle replays. (Was a fixed
    // docs<250 corpus, which INVERTED the increment at higher SFs —
    // a 49,750-doc "batch" against a 250-doc corpus at sf1; the %10
    // split keeps batch:corpus at 1:9 at every SF, the q_family
    // _incremental convention.)
    "q_suffix_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.operators.SuffixDedup.suffixIndex(
        d.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", minLen = 25)
      graft.operators.SuffixDedup.incrementalSpans(
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text", idx,
        minLen = 25)
        .select(col("doc_id"), col("span_start"), col("span_len"),
          asLong(col("n_positions")).as("n_positions"))
        .orderBy("doc_id", "span_start")
    }),

    // per-source Gini concentration of doc lengths: exact-integer
    // evidence (2Σr·x − (n+1)Σx over the sorted ranks; ties are
    // rank-interchangeable) plus the single-division double — the
    // balance check beside Hamilton allocation.
    "q_gini" -> ((s, dir) =>
      graft.operators.CorpusOps.giniByGroup(
        t(s, dir, "documents"), "source", "n_chars")
        .select(col("group"), asLong(col("n_items")).as("n_items"),
          asLong(col("sum_val")).as("sum_val"),
          asLong(col("gini_num")).as("gini_num"),
          asLong(col("gini_den")).as("gini_den"), col("gini"))
        .orderBy("group")),

    // per-source 10%-trimmed mean length: integer-exact cut points,
    // exact decimal sum over the kept middle, one division — the
    // robust location estimate beside q_mad_outliers.
    "q_trimmed_mean" -> ((s, dir) =>
      graft.operators.CorpusOps.trimmedMeanByGroup(
        t(s, dir, "documents"), "source", "n_chars")
        .select(col("group"), asLong(col("n_items")).as("n_items"),
          asLong(col("n_kept")).as("n_kept"), col("trimmed_mean"))
        .orderBy("group")),

    // cross-source quantile normalization of doc length onto the
    // global distribution: integer-exact percentile→rank mapping
    // (round-half-up via 2x-scaled div), so a harsh source's scores
    // become globally comparable before one threshold is applied.
    "q_quantile_norm" -> ((s, dir) =>
      graft.operators.CorpusOps.quantileNormalize(
        t(s, dir, "documents"), "source", "doc_id", "n_chars")
        .select(col("id"), col("group"), asLong(col("val")).as("val"),
          asLong(col("src_rank")).as("src_rank"),
          asLong(col("n_group")).as("n_group"),
          asLong(col("target_rank")).as("target_rank"),
          asLong(col("norm_val")).as("norm_val"))
        .orderBy("id")),

    // embedding-space drift: per label, the scaled squared distance of
    // its centroid from label-0's — quantized coordinates, exact
    // BIGINT sums, DECIMAL(38,0) cross-multiplied evidence; catches the
    // semantic shift scalar histograms (q_drift_psi) can't see. The
    // gate face carries drift_mod (numerator mod 2^61-1, BIGINT) —
    // DECIMAL(38,0) was the registry's only decimal output and its
    // rendering varies across DuckDB versions (r9/r10 red); the
    // full-width decimal stays spec-pinned in DriftSpec.
    "q_embedding_drift" -> ((s, dir) =>
      graft.operators.Drift.centroidDrift(
        t(s, dir, "embeddings"), "embedding", "label", baseline = 0L)
        .select(col("group"), asLong(col("n_vecs")).as("n_vecs"),
          asLong(col("n_base")).as("n_base"),
          asLong(col("n_dims")).as("n_dims"),
          asLong(col("drift_mod")).as("drift_mod"))
        .orderBy("group")),

    // template-family resolution: docs connected by any shared
    // duplicated 25-gram collapse into min-label components — the
    // "same boilerplate family" signal that pairwise whole-doc
    // near-dup scoring misses. Hash-only path (r14): gram strings
    // never materialize, one 16-byte exchange + cap-bounded star
    // edges; ≡ spanPairs+CC modulo the documented ~2⁻⁶⁴ class
    // (spec-pinned).
    "q_suffix_families" -> ((s, dir) =>
      graft.operators.SuffixDedup.suffixFamilies(
        t(s, dir, "documents"), "doc_id", "text", minLen = 25)
        .orderBy("id")),

    // leakage-safe split assignment: the WHOLE template family lands
    // in one split (split = hash of the family's min-label, docs with
    // no family are their own), so near-identical docs can never
    // straddle train/test — the group-aware split decontamination
    // best practice, as a first-class face.
    "q_family_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fams = graft.operators.SuffixDedup.suffixFamilies(
        docs, "doc_id", "text", minLen = 25)
        .withColumnRenamed("id", "doc_id")
      val withFam = docs.select(col("doc_id"))
        .join(fams, Seq("doc_id"), "left")
        .withColumn("family", coalesce(col("label"), col("doc_id")))
        .select(col("doc_id"), col("family"))
      graft.operators.CorpusOps.splitAssign(withFam, "family",
        Seq(("train", 90), ("val", 5), ("test", 5)))
        .select(col("doc_id"), asLong(col("family")).as("family"),
          col("split"))
        .orderBy("doc_id")
    }),

    // the deduplicated corpus ITSELF under keep-first: per doc, the
    // text with redundant spans spliced out (one gap-concat expression
    // over the sorted span array) — the oracle rebuilds every kept
    // string character-for-character via per-gap rows + ordered
    // string_agg, so the hash compare covers the actual surgery.
    "q_suffix_rewrite" -> ((s, dir) =>
      graft.operators.SuffixDedup.stripText(
        t(s, dir, "documents"), "doc_id", "text", minLen = 25,
        keepFirst = true)
        .orderBy("doc_id")),

    // incremental template families: a batch (every 10th doc) probes the
    // standing familyIndex + component labels of the REST of the corpus —
    // the corpus is never re-grammed, never re-paired, and CC runs on the
    // batch-scale contracted graph. The standing (index, labels) pair
    // costs ONE corpus gram pass: labels derive FROM the index
    // (familyLabels), and the index is checkpointed as the local
    // stand-in for its production write-once parquet form, so the probe
    // join scans the materialized index instead of re-deriving it.
    // FULL-equality oracle: the result must equal the whole-corpus
    // spanPairs+CC rerun restricted to batch docs (no cap boundary is
    // crossed at cap=1000 on this data; the frozen-cap corner is
    // spec-pinned in SuffixDedupSpec).
    "q_family_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val idx = graft.operators.SuffixDedup.familyIndex(
          corpus, "doc_id", "text", minLen = 25)
        .localCheckpoint(true) // the standing index: built once, scanned
      val labels = graft.operators.SuffixDedup.familyLabels(idx)
      graft.operators.SuffixDedup.incrementalFamilies(
          batch, "doc_id", "text", idx, labels, minLen = 25)
        .select(col("doc_id"), asLong(col("family")).as("family"))
        .orderBy("doc_id")
    }),

    // the SERVED contract, SPLIT into its two production jobs (r14
    // verdict #3: the combined face buried the flat probe cost — the
    // number the index exists to showcase — under the one-time build +
    // parquet write). Fixed 2000-doc slice (the q_minhash_containment
    // adjudication): these gates check serving fidelity, which is
    // per-row; the full-corpus cost lives in q_family_incremental.
    //
    // BUILD face: familyIndex + familyLabels over the corpus slice,
    // written once in their standing parquet forms (band-partitioned
    // index, plain labels) — the output is the hash-free index census
    // (gram hashes never leave the engine): distinct grams, posting
    // rows, over-cap markers and their doc mass, labeled docs. DuckDB
    // replays the census from exact gram strings — equal modulo the
    // documented ~2⁻⁶⁴ hash-merge class.
    "q_family_index_build" -> ((s, dir) => {
      val census = servedFamilyBuild(s, dir, force = true)
      census
    }),

    // PROBE face: the batch probes the STANDING files written by the
    // build face (lazily built if this face runs first — Verify's map
    // order is arbitrary; Bench's name sort runs build before probe, so
    // this line times the probe alone: read band-partitioned parquet,
    // broadcast batch keys, contract against served labels). Same
    // oracle shape as q_family_incremental on the slice, certifying the
    // parquet round-trip end-to-end.
    "q_family_probe_served" -> ((s, dir) => {
      servedFamilyBuild(s, dir, force = false)
      val base = servedFamilyDir(s, dir)
      val batch = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("doc_id") % 10 === 0)
      val served = graft.operators.SuffixDedup.readFamilyIndex(
        s, s"$base/idx")
      val labels = s.read.parquet(s"$base/lbl")
        .select(col("id"), col("label"))
      graft.operators.SuffixDedup.incrementalFamilies(
          batch, "doc_id", "text", served, labels, minLen = 25)
        .select(col("doc_id"), asLong(col("family")).as("family"))
        .orderBy("doc_id")
    }),

    // the span-grain APPEND lifecycle gate (the SuffixStore half of
    // r14 verdict #1): bootstrap the two-longs suffix index from 80%
    // of the corpus, append a 10% batch through processBatch (probe +
    // segment write, exactly-once layout), COMPACT (fold segments to
    // one row per hash — the maintenance job is inside the driver
    // gate, not only spec-pinned; the pre-compact probe path is gated
    // by q_stream_family's store sibling and SuffixStoreSpec), then
    // probe the final 10% — counts SUM across segments, so the result
    // must equal duplicatedSpans over ALL documents restricted to the
    // probe batch (the q_suffix_incremental oracle shape). Fixed
    // 2000-doc slice (the q_minhash_containment adjudication:
    // lifecycle fidelity is per-row; tier-scale parity + cost live in
    // StoreSoak, which re-asserts probe ≡ one-shot at 50k docs).
    "q_suffix_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0 &&
        col("doc_id") % 10 =!= 9)
      val appended = docs.filter(col("doc_id") % 10 === 9)
      val probe = docs.filter(col("doc_id") % 10 === 0)
      val base = System.getProperty("java.io.tmpdir") +
        s"/graft_sfxstore_${s.sparkContext.applicationId}/idx"
      graft.operators.SuffixStore.init(corpus, "doc_id", "text", base,
        minLen = 25)
      graft.operators.SuffixStore.processBatch(appended, 0L, "doc_id",
        "text", base, minLen = 25)
      graft.operators.SuffixStore.compactPrefix(s, base,
        upTo = Long.MaxValue)
      graft.operators.SuffixStore.probe(probe, "doc_id", "text", base,
        minLen = 25)
        .select(col("doc_id"), col("span_start"), col("span_len"),
          asLong(col("n_positions")).as("n_positions"))
        .orderBy("doc_id", "span_start")
    }),

    // the STREAMING face of the family store, oracle-gated end-to-end:
    // a MemoryStream drives StreamingFamilyDedup's foreachBatch loop —
    // bootstrap corpus, then batch 1 (%10=9) and batch 2 (%10=0) land
    // as micro-batches, each probing the standing store and appending
    // its segments. Each batch's families reflect the corpus AS OF its
    // processing (batch 1 cannot see batch 2), so the oracle is the
    // union of two whole-corpus chains: over corpus∪b1 restricted to
    // b1, and over corpus∪b1∪b2 restricted to b2. Fixed 2000-doc slice
    // (the served-face convention — per-row fidelity; full-corpus cost
    // lives in q_family_append).
    "q_stream_family" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0 &&
        col("doc_id") % 10 =!= 9)
      def batchRows(m: Int) = docs.filter(col("doc_id") % 10 === m)
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val base = System.getProperty("java.io.tmpdir") +
        s"/graft_streamfam_${s.sparkContext.applicationId}/r"
      // fresh store + checkpoint per invocation: a reused streaming
      // checkpoint would skip the already-committed batches on re-run
      // (deleted on the path's OWN filesystem — FileSystem.get resolves
      // the default fs, the wrong target when they differ)
      graft.operators.SegmentStore.wipe(s, base)
      val (idxP, lblP) = (s"$base/idx", s"$base/lbl")
      graft.operators.FamilyStore.init(corpus, "doc_id", "text", idxP,
        lblP, minLen = 25)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = graft.streaming.StreamingFamilyDedup.attach(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", idxP, lblP,
        minLen = 25, checkpointDir = s"$base/ckpt") { f =>
        sink ++= f.as[(Long, Long)].collect()
      }
      try {
        in.addData(batchRows(9): _*); q.processAllAvailable()
        in.addData(batchRows(0): _*); q.processAllAvailable()
      } finally q.stop()
      s.createDataFrame(s.sparkContext.parallelize(sink.toSeq, 1))
        .toDF("doc_id", "family")
        .select(col("doc_id"), asLong(col("family")).as("family"))
        .orderBy("doc_id")
    }),

    // the APPEND lifecycle gate (r14 verdict #1, the last missing
    // production loop): bootstrap the FamilyStore from 80% of the
    // corpus, APPEND a 10% batch through processBatch (probe + index
    // segment + label-update segment, exactly-once layout), then probe
    // the final 10% against the two-segment store. The oracle replays
    // the ONE-SHOT whole-corpus family chain restricted to the probe
    // batch — a hash match proves probe-after-append ≡ full rebuild
    // (the StreamingAnnIngest parity shape), covering the segmented
    // combined-count formula AND the label pointer-chase end-to-end.
    // Fixed 2000-doc slice (the q_minhash_containment adjudication:
    // lifecycle fidelity is per-row; tier-scale parity + cost live in
    // StoreSoak, which re-asserts probe ≡ one-shot at 50k docs).
    "q_family_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0 &&
        col("doc_id") % 10 =!= 9)
      val appended = docs.filter(col("doc_id") % 10 === 9)
      val probe = docs.filter(col("doc_id") % 10 === 0)
      val base = System.getProperty("java.io.tmpdir") +
        s"/graft_famstore_${s.sparkContext.applicationId}/r"
      val (idxP, lblP) = (s"$base/idx", s"$base/lbl")
      graft.operators.FamilyStore.init(corpus, "doc_id", "text",
        idxP, lblP, minLen = 25)
      graft.operators.FamilyStore.processBatch(appended, 0L, "doc_id",
        "text", idxP, lblP, minLen = 25)
      // the full fold INSIDE the gate (label path compression +
      // over-cap collapse + both stores folded to one segment must
      // preserve the one-shot equality; the pre-compact probe path
      // stays gated by q_stream_family + FamilyStoreSpec)
      graft.operators.FamilyStore.compactPrefix(s, idxP, lblP,
        upTo = Long.MaxValue)
      graft.operators.FamilyStore.probe(probe, "doc_id", "text",
        idxP, lblP, minLen = 25)
        .select(col("doc_id"), asLong(col("family")).as("family"))
        .orderBy("doc_id")
    }),

    // the MULTI-append chain gate (r15 verdict #1: every lifecycle gate
    // ran exactly one append, leaving the induction over A1..An
    // asserted but unexercised): bootstrap from 60% of the slice, then
    // THREE sequential processBatch appends (%10 = 7, 8, 9 — production
    // is a chain of daily batches, not one append), COMPACT mid-chain
    // (after append 2: label path compression + over-cap collapse must
    // compose with later appends), then probe the final 10% against the
    // four-segment store. Oracle: the one-shot whole-slice family chain
    // restricted to the probe batch — a hash match proves
    // probe-after-chain ≡ full rebuild through segment accumulation,
    // pointer-chain deepening, AND a mid-chain flatten. (The 10-batch
    // adversarial chain with per-step parity lives in FamilyStoreSpec +
    // StoreSoak's chain mode; this face puts a ≥3-append chain under
    // the driver's DuckDB oracle.)
    "q_family_chain" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val corpus = docs.filter(col("doc_id") % 10 >= 1 &&
        col("doc_id") % 10 <= 6)
      val probe = docs.filter(col("doc_id") % 10 === 0)
      val base = System.getProperty("java.io.tmpdir") +
        s"/graft_famchain_${s.sparkContext.applicationId}/r"
      val (idxP, lblP) = (s"$base/idx", s"$base/lbl")
      graft.operators.FamilyStore.init(corpus, "doc_id", "text",
        idxP, lblP, minLen = 25)
      for (m <- Seq(7, 8, 9)) {
        graft.operators.FamilyStore.processBatch(
          docs.filter(col("doc_id") % 10 === m), (m - 7).toLong,
          "doc_id", "text", idxP, lblP, minLen = 25)
        if (m == 8)
          graft.operators.FamilyStore.compactPrefix(s, idxP, lblP,
            upTo = Long.MaxValue)
      }
      graft.operators.FamilyStore.probe(probe, "doc_id", "text",
        idxP, lblP, minLen = 25)
        .select(col("doc_id"), asLong(col("family")).as("family"))
        .orderBy("doc_id")
    }),

    // the UNDER-LOAD fold gate (r17: committed-prefix fold — the
    // standing headroom item after r16 closed the fold-everything
    // safety rule, whose in-stream calls could only DEFER): bootstrap
    // from 60%, append batches 0 and 1, then fold in the state a
    // never-idle stream is permanently in — batch 0 committed, batch 1
    // still replayable. maybeCompactChecked must take the
    // CompactedPrefix path (folding index AND label segments <= 0 into
    // the bootstrap segment through the staged marker protocol), after
    // which batch 1 REPLAYS against the folded store (the at-least-once
    // restart shape) and the chain continues with batch 2. Oracle: the
    // one-shot whole-slice family chain restricted to the probe batch
    // — a hash match proves fold-under-load ∘ replay ∘ append ≡ full
    // rebuild. The outcome is require-checked so the gate cannot pass
    // trivially by never folding.
    "q_family_fold_live" -> ((s, dir) => {
      // half the chain gate's slice: the fold gate runs FIVE lifecycle
      // phases (two appends, the under-load fold, a replay, a third
      // append) on top of init + probe, so the fixed slice is halved
      // to keep the line's cost at the chain gate's scale
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val corpus = docs.filter(col("doc_id") % 10 >= 1 &&
        col("doc_id") % 10 <= 6)
      val probe = docs.filter(col("doc_id") % 10 === 0)
      val base = System.getProperty("java.io.tmpdir") +
        s"/graft_famfold_${s.sparkContext.applicationId}/r"
      val (idxP, lblP) = (s"$base/idx", s"$base/lbl")
      graft.operators.FamilyStore.init(corpus, "doc_id", "text",
        idxP, lblP, minLen = 25)
      for (m <- Seq(7, 8))
        graft.operators.FamilyStore.processBatch(
          docs.filter(col("doc_id") % 10 === m), (m - 7).toLong,
          "doc_id", "text", idxP, lblP, minLen = 25)
      val ckpt = java.nio.file.Files.createTempDirectory("famfoldck")
      java.nio.file.Files.createDirectories(ckpt.resolve("commits"))
      java.nio.file.Files.writeString(
        ckpt.resolve("commits").resolve("0"), "v1\n{}")
      val o = graft.operators.FamilyStore.maybeCompactChecked(s, idxP,
        lblP, ckpt.toString, maxSegments = 1)
      require(o == graft.operators.SegmentStore.CompactedPrefix,
        s"q_family_fold_live: expected CompactedPrefix, got $o")
      // at-least-once: the replayable batch reprocesses under its id
      // against the folded store, then the chain continues
      graft.operators.FamilyStore.processBatch(
        docs.filter(col("doc_id") % 10 === 8), 1L,
        "doc_id", "text", idxP, lblP, minLen = 25)
      graft.operators.FamilyStore.processBatch(
        docs.filter(col("doc_id") % 10 === 9), 2L,
        "doc_id", "text", idxP, lblP, minLen = 25)
      graft.operators.FamilyStore.probe(probe, "doc_id", "text",
        idxP, lblP, minLen = 25)
        .select(col("doc_id"), asLong(col("family")).as("family"))
        .orderBy("doc_id")
    })
  )

  /** Session-scoped standing family artifacts for the served faces:
    * deterministic WITHIN a session (one directory, overwrite mode),
    * unique ACROSS sessions (application id keys the path, so
    * concurrent JVMs never clobber each other's index mid-read) AND
    * across datasets (a digest of the dataset dir keys the path too —
    * without it, a second dataset in the same session would silently
    * reuse the first dataset's `_built` index and labels).
    */
  private def servedFamilyDir(s: SparkSession, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map("%02x".format(_)).mkString
    System.getProperty("java.io.tmpdir") +
      s"/graft_famidx_served_${s.sparkContext.applicationId}_$digest"
  }

  /** Build (or reuse) the served family index + labels pair and return
    * the build census. `force` rebuilds unconditionally (the build
    * face); otherwise an existing pair is reused so the probe face
    * times the probe, not a rebuild.
    */
  private def servedFamilyBuild(s: SparkSession, dir: String,
      force: Boolean): DataFrame = {
    val base = servedFamilyDir(s, dir)
    val done = new java.io.File(s"$base/_built")
    if (force || !done.exists()) {
      val corpus = t(s, dir, "documents")
        .filter(col("doc_id") < 2000 && col("doc_id") % 10 =!= 0)
      val idx = graft.operators.SuffixDedup.familyIndex(
        corpus, "doc_id", "text", minLen = 25).localCheckpoint(true)
      graft.operators.SuffixDedup.writeFamilyIndex(idx, s"$base/idx")
      graft.operators.SuffixDedup.familyLabels(idx)
        .write.mode("overwrite").parquet(s"$base/lbl")
      done.getParentFile.mkdirs()
      java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    }
    val served = graft.operators.SuffixDedup.readFamilyIndex(
      s, s"$base/idx")
    val labels = s.read.parquet(s"$base/lbl")
    served.agg(
      countDistinct(col("h")).as("n_grams"),
      sum(when(col("doc_id").isNotNull, 1L).otherwise(0L))
        .as("n_postings"),
      sum(when(col("doc_id").isNull, 1L).otherwise(0L))
        .as("n_overcap_grams"),
      coalesce(sum(when(col("doc_id").isNull, col("n_docs"))), lit(0L))
        .as("n_overcap_docs"))
      .crossJoin(labels.agg(count(lit(1)).as("n_labeled")))
      .select(asLong(col("n_grams")).as("n_grams"),
        asLong(col("n_postings")).as("n_postings"),
        asLong(col("n_overcap_grams")).as("n_overcap_grams"),
        asLong(col("n_overcap_docs")).as("n_overcap_docs"),
        asLong(col("n_labeled")).as("n_labeled"))
  }

  /** Shared Hamilton-quota CTE chain (sizes → floor shares → leftover →
    * remainder ranking), mirroring [[graft.operators.Stratified]] term
    * for term.
    */
  private val QuotaCte =
    """s AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM documents GROUP BY 1, 2),
      |tt AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM s),
      |b AS (SELECT lang, source, n_rows, n_rows AS w,
      |    CAST((100 * n_rows) // n_total AS BIGINT) AS base,
      |    CAST((100 * n_rows) % n_total AS BIGINT) AS rem
      |  FROM s, tt),
      |l AS (SELECT 100 - CAST(sum(base) AS BIGINT) AS leftover FROM b),
      |r AS (SELECT *, row_number()
      |    OVER (ORDER BY rem DESC, lang ASC, source ASC) AS rk FROM b),
      |q AS (SELECT lang, source, n_rows, w, base, rem,
      |    CAST(base + CASE WHEN rk <= (SELECT leftover FROM l)
      |      THEN 1 ELSE 0 END AS BIGINT) AS quota
      |  FROM r)""".stripMargin

  /** Shared duplicated-span CTE chain (L-gram positions → duplicated
    * grams → surviving positions, ranked per gram in global
    * `(doc_id, pos)` order → equal-length interval merge), mirroring
    * [[graft.operators.SuffixDedup]] step for step; the NULL lag on
    * each doc's first row falls to the ELSE branch exactly like
    * Spark's `when(...).otherwise(1)`. With `keepFirst` the mark step
    * drops each gram's rank-1 occurrence — the copy the paper's
    * keep-first policy retains.
    */
  private def suffixSpanCte(keepFirst: Boolean,
      hitsWhere: String = "", corpusWhere: String = ""): String = {
    val conds = Seq(
      if (keepFirst) Some("occ >= 2") else None,
      if (hitsWhere.nonEmpty) Some(hitsWhere) else None).flatten
    val markFilter =
      if (conds.isEmpty) "" else "\n  WHERE " + conds.mkString(" AND ")
    val corpusFilter =
      if (corpusWhere.isEmpty) "" else s" AND $corpusWhere"
    s"""pos0 AS (
       |  SELECT doc_id,
       |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
       |  FROM documents WHERE length(text) >= 25$corpusFilter),
       |pos AS (SELECT doc_id, pos,
       |    substr(text, CAST(pos AS INT), 25) AS gram FROM pos0),
       |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
       |hits AS (SELECT doc_id, pos, row_number() OVER (
       |    PARTITION BY gram ORDER BY doc_id, pos) AS occ
       |  FROM pos JOIN dup USING (gram)),
       |mark AS (SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |           <= 25
       |         THEN 0 ELSE 1 END AS brk
       |  FROM hits$markFilter),
       |isl AS (SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM mark),
       |sp AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       |    CAST(MAX(pos) + 25 - MIN(pos) AS BIGINT) AS span_len,
       |    CAST(count(*) AS BIGINT) AS n_positions
       |  FROM isl GROUP BY doc_id, island)""".stripMargin
  }

  private val SuffixSpanCte = suffixSpanCte(keepFirst = false)

  /** The per-doc strip ledger over a span CTE chain. */
  private def suffixStripSql(cte: String): String =
    s"""WITH $cte,
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(span_len) AS BIGINT) AS covered_chars
       |  FROM sp GROUP BY doc_id)
       |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
       |  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(COALESCE(a.covered_chars, 0) AS BIGINT) AS covered_chars,
       |  CAST(length(d.text) - COALESCE(a.covered_chars, 0) AS BIGINT)
       |    AS kept_chars
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_suffix_spans" ->
      s"""WITH $SuffixSpanCte
         |SELECT doc_id, span_start, span_len, n_positions
         |FROM sp ORDER BY doc_id, span_start""".stripMargin,

    "q_suffix_strip" -> suffixStripSql(SuffixSpanCte),

    "q_suffix_keepfirst" -> suffixStripSql(suffixSpanCte(keepFirst = true)),

    // norm_val is deterministic even though global row_number breaks
    // value-ties arbitrarily: every rank inside a tie block carries the
    // same value, and target_rank itself is a pure integer formula
    "q_quantile_norm" ->
      """WITH b AS (SELECT doc_id AS id, source AS "group",
        |    CAST(n_chars AS BIGINT) AS val
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT id, "group", val,
        |    row_number() OVER (PARTITION BY "group" ORDER BY val, id)
        |      AS src_rank,
        |    count(*) OVER (PARTITION BY "group") AS n_group FROM b),
        |g AS (SELECT val AS norm_val,
        |    row_number() OVER (ORDER BY val) AS target_rank FROM b),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b),
        |tr AS (SELECT id, "group", val,
        |    CAST(src_rank AS BIGINT) AS src_rank,
        |    CAST(n_group AS BIGINT) AS n_group,
        |    CASE WHEN n_group = 1
        |      THEN 1 + ((SELECT n_total FROM nt) - 1) // 2
        |      ELSE 1 + (2 * (src_rank - 1) * ((SELECT n_total FROM nt) - 1)
        |        + (n_group - 1)) // (2 * (n_group - 1)) END AS target_rank
        |  FROM r)
        |SELECT t.id, t."group", t.val, t.src_rank, t.n_group,
        |  CAST(t.target_rank AS BIGINT) AS target_rank,
        |  CAST(g.norm_val AS BIGINT) AS norm_val
        |FROM tr t JOIN g ON g.target_rank = t.target_rank
        |ORDER BY t.id""".stripMargin,

    "q_gini" ->
      """WITH b AS (SELECT source AS "group", CAST(n_chars AS BIGINT) AS x
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
        |r AS (SELECT "group", x, row_number() OVER (
        |    PARTITION BY "group" ORDER BY x) AS r FROM b),
        |a AS (SELECT "group", CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(x) AS BIGINT) AS sum_val,
        |    CAST(sum(r * x) AS BIGINT) AS rx
        |  FROM r GROUP BY 1)
        |SELECT "group", n_items, sum_val,
        |  CAST(2 * rx - (n_items + 1) * sum_val AS BIGINT) AS gini_num,
        |  CAST(n_items * sum_val AS BIGINT) AS gini_den,
        |  CASE WHEN sum_val = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(2 * rx - (n_items + 1) * sum_val AS DOUBLE)
        |      / CAST(n_items * sum_val AS DOUBLE) END AS gini
        |FROM a ORDER BY "group"""".stripMargin,

    "q_trimmed_mean" ->
      """WITH b AS (SELECT source AS "group",
        |    CAST(n_chars AS DECIMAL(18,4)) AS x
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT "group", x,
        |    row_number() OVER (PARTITION BY "group" ORDER BY x) AS r,
        |    count(*) OVER (PARTITION BY "group") AS n FROM b),
        |k AS (SELECT "group", x, n FROM r
        |  WHERE r > (n * 100000) // 1000000
        |    AND r <= n - (n * 100000) // 1000000)
        |SELECT "group", CAST(max(n) AS BIGINT) AS n_items,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS trimmed_mean
        |FROM k GROUP BY 1 ORDER BY "group"""".stripMargin,

    // same quantize → BIGINT sums → HUGEINT cross-multiply chain; each
    // per-dim square is reduced mod 2^61-1 BEFORE the sum (residues
    // < 2^61, the HUGEINT sum is exact), then the sum is reduced again
    // — (Σ sq) mod p ≡ (Σ (sq mod p)) mod p, so drift_mod is a plain
    // BIGINT on both engines with no DECIMAL rendering in the compare.
    "q_embedding_drift" ->
      """WITH q AS (SELECT CAST(label AS BIGINT) AS grp, dim,
        |    CAST(floor(CAST(embedding[CAST(dim AS INT)] AS DOUBLE)
        |      * 1000000 + 0.5) AS BIGINT) AS qv
        |  FROM (SELECT label, embedding,
        |      unnest(range(1, len(embedding) + 1)) AS dim
        |    FROM embeddings)),
        |s AS (SELECT grp, dim, CAST(sum(qv) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1, 2),
        |ns AS (SELECT grp, max(n) AS n FROM s GROUP BY 1),
        |b AS (SELECT dim, s AS s_b FROM s WHERE grp = 0),
        |nb AS (SELECT n AS n_b FROM ns WHERE grp = 0)
        |SELECT s.grp AS "group", ns.n AS n_vecs,
        |  (SELECT n_b FROM nb) AS n_base,
        |  CAST(count(*) AS BIGINT) AS n_dims,
        |  CAST(CAST(sum(((CAST(s.s AS HUGEINT) * (SELECT n_b FROM nb)
        |      - CAST(b.s_b AS HUGEINT) * ns.n)
        |    * (CAST(s.s AS HUGEINT) * (SELECT n_b FROM nb)
        |      - CAST(b.s_b AS HUGEINT) * ns.n))
        |    % 2305843009213693951) AS HUGEINT)
        |    % 2305843009213693951 AS BIGINT) AS drift_mod
        |FROM s JOIN b USING (dim) JOIN ns USING (grp)
        |WHERE s.grp <> 0
        |GROUP BY s.grp, ns.n
        |ORDER BY "group"""".stripMargin,

    // the family chain again, then the q_split_assign md5 rule keyed by
    // the family label — every member of a family shares its bucket
    "q_family_split" ->
      """WITH RECURSIVE pos0 AS (
        |  SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents WHERE length(text) >= 25),
        |pos AS (SELECT doc_id, pos,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM pos0),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dg AS (SELECT DISTINCT gram, doc_id FROM pos JOIN dup USING (gram)),
        |keep AS (SELECT gram FROM dg GROUP BY gram
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |prs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM dg a JOIN keep USING (gram) JOIN dg b USING (gram)
        |  WHERE a.doc_id < b.doc_id),
        |edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
        |fam AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS family
        |  FROM reach GROUP BY id),
        |alldocs AS (SELECT d.doc_id, COALESCE(f.family, d.doc_id) AS family
        |  FROM documents d LEFT JOIN fam f USING (doc_id))
        |SELECT doc_id, family,
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, family,
        |    ('0x' || substr(md5(CAST(family AS VARCHAR)), 18, 15))::BIGINT
        |      % 100 AS b
        |  FROM alldocs)
        |ORDER BY doc_id""".stripMargin,

    // the whole-corpus family chain (corpus + batch TOGETHER), restricted
    // to batch docs — the incremental probe must reproduce it exactly:
    // index-probe ≡ whole-corpus rerun restricted to the batch
    "q_family_incremental" ->
      """WITH RECURSIVE pos0 AS (
        |  SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents WHERE length(text) >= 25),
        |pos AS (SELECT doc_id, pos,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM pos0),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dg AS (SELECT DISTINCT gram, doc_id FROM pos JOIN dup USING (gram)),
        |keep AS (SELECT gram FROM dg GROUP BY gram
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |prs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM dg a JOIN keep USING (gram) JOIN dg b USING (gram)
        |  WHERE a.doc_id < b.doc_id),
        |edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
        |fam AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS family
        |  FROM reach GROUP BY id)
        |SELECT d.doc_id, COALESCE(f.family, d.doc_id) AS family
        |FROM documents d LEFT JOIN fam f USING (doc_id)
        |WHERE d.doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin,

    // the build census replayed from exact gram strings: distinct
    // grams, under-cap posting mass, over-cap markers, and docs in any
    // kept pair (the familyLabels row count) — equal to the hash-keyed
    // engine census modulo the documented ~2⁻⁶⁴ collision class
    "q_family_index_build" ->
      """WITH pos0 AS (
        |  SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents
        |  WHERE length(text) >= 25 AND doc_id < 2000 AND doc_id % 10 <> 0),
        |pos AS (SELECT doc_id,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM pos0),
        |dg AS (SELECT DISTINCT gram, doc_id FROM pos),
        |g AS (SELECT gram, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY 1),
        |lab AS (SELECT DISTINCT d.doc_id FROM dg d JOIN g USING (gram)
        |  WHERE g.n BETWEEN 2 AND 1000)
        |SELECT CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(sum(CASE WHEN n <= 1000 THEN n END), 0) AS BIGINT)
        |    AS n_postings,
        |  CAST(COALESCE(sum(CASE WHEN n > 1000 THEN 1 END), 0) AS BIGINT)
        |    AS n_overcap_grams,
        |  CAST(COALESCE(sum(CASE WHEN n > 1000 THEN n END), 0) AS BIGINT)
        |    AS n_overcap_docs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lab) AS n_labeled
        |FROM g""".stripMargin,

    // each micro-batch's families reflect the corpus AS OF processing:
    // batch 1 against corpus∪b1, batch 2 against everything — two
    // whole-corpus chains, restricted and unioned
    "q_stream_family" ->
      """WITH RECURSIVE
        |p1 AS (SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents
        |  WHERE length(text) >= 25 AND doc_id < 2000 AND doc_id % 10 <> 0),
        |g1 AS (SELECT doc_id,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM p1),
        |dup1 AS (SELECT gram FROM g1 GROUP BY gram HAVING count(*) >= 2),
        |dg1 AS (SELECT DISTINCT gram, doc_id FROM g1 JOIN dup1 USING (gram)),
        |keep1 AS (SELECT gram FROM dg1 GROUP BY gram
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |prs1 AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM dg1 a JOIN keep1 USING (gram) JOIN dg1 b USING (gram)
        |  WHERE a.doc_id < b.doc_id),
        |e1 AS (SELECT u, v FROM prs1 UNION SELECT v, u FROM prs1),
        |r1(id, r) AS (SELECT u, u FROM e1
        |  UNION SELECT e.u, r1.r FROM e1 e JOIN r1 ON e.v = r1.id),
        |f1 AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS family
        |  FROM r1 GROUP BY id),
        |p2 AS (SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents WHERE length(text) >= 25 AND doc_id < 2000),
        |g2 AS (SELECT doc_id,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM p2),
        |dup2 AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |dg2 AS (SELECT DISTINCT gram, doc_id FROM g2 JOIN dup2 USING (gram)),
        |keep2 AS (SELECT gram FROM dg2 GROUP BY gram
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |prs2 AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM dg2 a JOIN keep2 USING (gram) JOIN dg2 b USING (gram)
        |  WHERE a.doc_id < b.doc_id),
        |e2 AS (SELECT u, v FROM prs2 UNION SELECT v, u FROM prs2),
        |r2(id, r) AS (SELECT u, u FROM e2
        |  UNION SELECT e.u, r2.r FROM e2 e JOIN r2 ON e.v = r2.id),
        |f2 AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS family
        |  FROM r2 GROUP BY id)
        |SELECT doc_id, family FROM (
        |  SELECT d.doc_id, COALESCE(f1.family, d.doc_id) AS family
        |  FROM documents d LEFT JOIN f1 USING (doc_id)
        |  WHERE d.doc_id < 2000 AND d.doc_id % 10 = 9
        |  UNION ALL
        |  SELECT d.doc_id, COALESCE(f2.family, d.doc_id) AS family
        |  FROM documents d LEFT JOIN f2 USING (doc_id)
        |  WHERE d.doc_id < 2000 AND d.doc_id % 10 = 0)
        |ORDER BY doc_id""".stripMargin,

    // probe-after-append ≡ one-shot rebuild: the whole-corpus family
    // chain over ALL documents (bootstrap ∪ appended ∪ probe batches),
    // restricted to the probe batch — identical contract to
    // q_family_incremental, now THROUGH the two-segment store
    "q_family_append" ->
      """WITH RECURSIVE pos0 AS (
        |  SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents WHERE length(text) >= 25 AND doc_id < 2000),
        |pos AS (SELECT doc_id, pos,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM pos0),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dg AS (SELECT DISTINCT gram, doc_id FROM pos JOIN dup USING (gram)),
        |keep AS (SELECT gram FROM dg GROUP BY gram
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |prs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM dg a JOIN keep USING (gram) JOIN dg b USING (gram)
        |  WHERE a.doc_id < b.doc_id),
        |edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
        |fam AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS family
        |  FROM reach GROUP BY id)
        |SELECT d.doc_id, COALESCE(f.family, d.doc_id) AS family
        |FROM documents d LEFT JOIN fam f USING (doc_id)
        |WHERE d.doc_id % 10 = 0 AND d.doc_id < 2000
        |ORDER BY doc_id""".stripMargin,

    // probe-after-THREE-appends (compaction mid-chain) ≡ one-shot
    // rebuild: same whole-slice contract as q_family_append — every
    // sliced doc is in the store (bootstrap ∪ A1..A3) or the probe
    // batch, so the rerun restricted to the probe batch IS the oracle
    "q_family_chain" ->
      """WITH RECURSIVE pos0 AS (
        |  SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents WHERE length(text) >= 25 AND doc_id < 2000),
        |pos AS (SELECT doc_id, pos,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM pos0),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dg AS (SELECT DISTINCT gram, doc_id FROM pos JOIN dup USING (gram)),
        |keep AS (SELECT gram FROM dg GROUP BY gram
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |prs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM dg a JOIN keep USING (gram) JOIN dg b USING (gram)
        |  WHERE a.doc_id < b.doc_id),
        |edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
        |fam AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS family
        |  FROM reach GROUP BY id)
        |SELECT d.doc_id, COALESCE(f.family, d.doc_id) AS family
        |FROM documents d LEFT JOIN fam f USING (doc_id)
        |WHERE d.doc_id % 10 = 0 AND d.doc_id < 2000
        |ORDER BY doc_id""".stripMargin,

    // probe after (append, append, UNDER-LOAD committed-prefix fold,
    // replay, append) ≡ one-shot rebuild: same whole-slice contract as
    // q_family_chain on HALF the slice (five lifecycle phases — the
    // line's cost is kept at the chain gate's scale) — the fold
    // changes the store's layout, never its resolution
    "q_family_fold_live" ->
      """WITH RECURSIVE pos0 AS (
        |  SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents WHERE length(text) >= 25 AND doc_id < 1000),
        |pos AS (SELECT doc_id, pos,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM pos0),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dg AS (SELECT DISTINCT gram, doc_id FROM pos JOIN dup USING (gram)),
        |keep AS (SELECT gram FROM dg GROUP BY gram
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |prs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM dg a JOIN keep USING (gram) JOIN dg b USING (gram)
        |  WHERE a.doc_id < b.doc_id),
        |edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
        |fam AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS family
        |  FROM reach GROUP BY id)
        |SELECT d.doc_id, COALESCE(f.family, d.doc_id) AS family
        |FROM documents d LEFT JOIN fam f USING (doc_id)
        |WHERE d.doc_id % 10 = 0 AND d.doc_id < 1000
        |ORDER BY doc_id""".stripMargin,

    // identical contract to q_family_incremental on the fixed slice —
    // the served face must reproduce the whole-corpus rerun THROUGH the
    // parquet round-trip
    "q_family_probe_served" ->
      """WITH RECURSIVE pos0 AS (
        |  SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents WHERE length(text) >= 25 AND doc_id < 2000),
        |pos AS (SELECT doc_id, pos,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM pos0),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dg AS (SELECT DISTINCT gram, doc_id FROM pos JOIN dup USING (gram)),
        |keep AS (SELECT gram FROM dg GROUP BY gram
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |prs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM dg a JOIN keep USING (gram) JOIN dg b USING (gram)
        |  WHERE a.doc_id < b.doc_id),
        |edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
        |fam AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS family
        |  FROM reach GROUP BY id)
        |SELECT d.doc_id, COALESCE(f.family, d.doc_id) AS family
        |FROM documents d LEFT JOIN fam f USING (doc_id)
        |WHERE d.doc_id % 10 = 0 AND d.doc_id < 2000
        |ORDER BY doc_id""".stripMargin,

    // doc-gram pairs (≥2 distinct docs, ≤1000 cap) → symmetric edges →
    // recursive-CTE reachability with min-label (the q_cc_components
    // oracle shape, UNION-dedup bounds the row space)
    "q_suffix_families" ->
      """WITH RECURSIVE pos0 AS (
        |  SELECT doc_id,
        |    unnest(range(1, CAST(length(text) AS BIGINT) - 23)) AS pos, text
        |  FROM documents WHERE length(text) >= 25),
        |pos AS (SELECT doc_id, pos,
        |    substr(text, CAST(pos AS INT), 25) AS gram FROM pos0),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dg AS (SELECT DISTINCT gram, doc_id FROM pos JOIN dup USING (gram)),
        |keep AS (SELECT gram FROM dg GROUP BY gram
        |  HAVING count(*) >= 2 AND count(*) <= 1000),
        |prs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM dg a JOIN keep USING (gram) JOIN dg b USING (gram)
        |  WHERE a.doc_id < b.doc_id),
        |edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id)
        |SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS label
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // keep-first span chain → per-gap segment rows (lag for interior
    // gaps, max-end for the tail) → ordered string_agg rebuilds each
    // kept string; span-free docs fall through the left join verbatim,
    // fully-covered docs coalesce to ''
    "q_suffix_rewrite" ->
      s"""WITH ${suffixSpanCte(keepFirst = true)},
         |sp2 AS (SELECT doc_id, span_start AS s,
         |    span_start + span_len - 1 AS e FROM sp),
         |gaps AS (SELECT doc_id,
         |    COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
         |      AS gs,
         |    s - 1 AS ge
         |  FROM sp2),
         |tails AS (SELECT doc_id, MAX(e) + 1 AS gs FROM sp2 GROUP BY doc_id),
         |segs AS (SELECT doc_id, gs, ge FROM gaps WHERE ge >= gs
         |  UNION ALL
         |  SELECT t.doc_id, t.gs, CAST(length(d.text) AS BIGINT) AS ge
         |  FROM tails t JOIN documents d USING (doc_id)
         |  WHERE length(d.text) >= t.gs),
         |sa AS (SELECT s.doc_id,
         |    string_agg(substr(d.text, CAST(s.gs AS INT),
         |      CAST(s.ge - s.gs + 1 AS INT)), '' ORDER BY s.gs) AS txt
         |  FROM segs s JOIN documents d USING (doc_id) GROUP BY s.doc_id),
         |cov AS (SELECT DISTINCT doc_id FROM sp2)
         |SELECT d.doc_id,
         |  CASE WHEN c.doc_id IS NULL THEN d.text
         |       ELSE COALESCE(sa.txt, '') END AS kept_text,
         |  CAST(length(CASE WHEN c.doc_id IS NULL THEN d.text
         |       ELSE COALESCE(sa.txt, '') END) AS BIGINT) AS kept_chars
         |FROM documents d LEFT JOIN cov c USING (doc_id)
         |LEFT JOIN sa USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // incremental = whole-corpus spans restricted to batch documents
    // (the equality contract in the query comment)
    "q_suffix_incremental" ->
      s"""WITH ${suffixSpanCte(keepFirst = false, hitsWhere = "doc_id % 10 = 0")}
         |SELECT doc_id, span_start, span_len, n_positions
         |FROM sp ORDER BY doc_id, span_start""".stripMargin,

    // probe-after-append ≡ one-shot: every sliced document is in the
    // store (bootstrap ∪ appended) or the probe batch, so the
    // whole-slice span chain restricted to the probe batch IS the
    // contract — the q_suffix_incremental replay, now through the
    // segmented store's summed counts
    "q_suffix_append" ->
      s"""WITH ${suffixSpanCte(keepFirst = false,
              hitsWhere = "doc_id % 10 = 0",
              corpusWhere = "doc_id < 2000")}
         |SELECT doc_id, span_start, span_len, n_positions
         |FROM sp ORDER BY doc_id, span_start""".stripMargin,

    // the PSI/KL replay: same Laplace-1 terms from exact counts, same
    // ln-of-quotient form, bin-ordered sequential list_reduce fold;
    // output quantized to ppb BIGINTs because engine ln implementations
    // differ by 1 ulp on some term inputs (see the query comment).
    "q_drift_psi" ->
      """WITH b AS MATERIALIZED (
        |  SELECT source AS g, n_chars // 50 AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        |base AS (SELECT bin, c AS cb FROM b WHERE g = 'src0'),
        |cmp AS (SELECT g, bin, c AS cc FROM b WHERE g <> 'src0'),
        |nb AS (SELECT CAST(COALESCE(sum(cb), 0) AS BIGINT) AS n_base
        |  FROM base),
        |gs AS (SELECT DISTINCT g FROM cmp),
        |ab AS (SELECT g, bin FROM gs CROSS JOIN (SELECT bin FROM base) bb
        |  UNION SELECT g, bin FROM cmp),
        |prof AS (SELECT ab.g, ab.bin, COALESCE(base.cb, 0) AS cb,
        |    COALESCE(cmp.cc, 0) AS cc
        |  FROM ab LEFT JOIN base USING (bin) LEFT JOIN cmp USING (g, bin)),
        |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n_bins,
        |    CAST(sum(cc) AS BIGINT) AS n_cmp FROM prof GROUP BY g),
        |terms AS (SELECT p.g, p.bin,
        |    CAST(p.cb + 1 AS DOUBLE) / CAST(n.n_base + t.n_bins AS DOUBLE)
        |      AS pp,
        |    CAST(p.cc + 1 AS DOUBLE) / CAST(t.n_cmp + t.n_bins AS DOUBLE)
        |      AS qq
        |  FROM prof p JOIN tot t USING (g), nb n),
        |sums AS (SELECT g,
        |    list_reduce(list((pp - qq) * ln(pp / qq) ORDER BY bin),
        |      (a, b) -> a + b) AS psi,
        |    list_reduce(list(pp * ln(pp / qq) ORDER BY bin),
        |      (a, b) -> a + b) AS kl
        |  FROM terms GROUP BY g)
        |SELECT s.g AS "group", t.n_bins,
        |  (SELECT n_base FROM nb) AS n_base, t.n_cmp,
        |  CAST(floor(s.psi * 1e9 + 0.5) AS BIGINT) AS psi_ppb,
        |  CAST(floor(s.kl * 1e9 + 0.5) AS BIGINT) AS kl_ppb
        |FROM sums s JOIN tot t USING (g) ORDER BY "group"""".stripMargin,

    // the SQL image of Contrastive.negativePairs(k=4, buckets=64):
    // same md5-52 hash, same golden-ratio bucket stride, same prime
    // slot stride — the draw is a pure integer function of doc_id.
    "q_contrastive_pairs" ->
      """WITH cand AS MATERIALIZED (
        |  SELECT doc_id AS neg_id, source AS neg_group,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 20, 13))::BIGINT
        |      AS h
        |  FROM documents),
        |ranked AS MATERIALIZED (
        |  SELECT neg_id, neg_group, h % 64 AS bucket,
        |    CAST(row_number() OVER (PARTITION BY h % 64 ORDER BY h, neg_id)
        |      AS BIGINT) AS slot
        |  FROM cand),
        |cnts AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ranked GROUP BY bucket),
        |anchors AS (
        |  SELECT doc_id AS anchor_id, source AS anchor_group,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 20, 13))::BIGINT
        |      AS ah
        |  FROM documents),
        |picks AS (
        |  SELECT a.anchor_id, a.anchor_group, CAST(t.j AS BIGINT) AS j,
        |    a.ah, (a.ah + t.j * 2654435761) % 64 AS bucket
        |  FROM anchors a CROSS JOIN generate_series(1, 4) t(j)),
        |p2 AS (
        |  SELECT p.anchor_id, p.anchor_group, p.j, p.bucket,
        |    1 + ((p.ah // 997 + p.j * 1000003) % c.cnt) AS slot
        |  FROM picks p JOIN cnts c USING (bucket))
        |SELECT p.anchor_id, p.j, r.neg_id, r.neg_group
        |FROM p2 p JOIN ranked r USING (bucket, slot)
        |WHERE r.neg_id <> p.anchor_id AND r.neg_group <> p.anchor_group
        |ORDER BY anchor_id, j""".stripMargin,

    "q_strat_alloc" ->
      s"""WITH $QuotaCte
         |SELECT lang, source, n_rows, w, base, rem, quota FROM q
         |ORDER BY lang, source""".stripMargin,

    "q_strat_temperature" ->
      """WITH s AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM documents GROUP BY 1, 2),
        |sq AS (SELECT *, CAST(floor(sqrt(CAST(n_rows AS DOUBLE)))
        |    AS BIGINT) AS s0 FROM s),
        |sq2 AS (SELECT lang, source, n_rows,
        |    s0 - CASE WHEN s0 * s0 > n_rows THEN 1 ELSE 0 END AS s1
        |  FROM sq),
        |wt AS (SELECT lang, source, n_rows,
        |    s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= n_rows THEN 1 ELSE 0 END
        |      AS w
        |  FROM sq2),
        |tt AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM wt),
        |b AS (SELECT lang, source, n_rows, w,
        |    CAST((100 * w) // w_total AS BIGINT) AS base,
        |    CAST((100 * w) % w_total AS BIGINT) AS rem
        |  FROM wt, tt),
        |l AS (SELECT 100 - CAST(sum(base) AS BIGINT) AS leftover FROM b),
        |r AS (SELECT *, row_number()
        |    OVER (ORDER BY rem DESC, lang ASC, source ASC) AS rk FROM b)
        |SELECT lang, source, n_rows, w, base, rem,
        |  CAST(base + CASE WHEN rk <= (SELECT leftover FROM l)
        |    THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r ORDER BY lang, source""".stripMargin,

    "q_strat_sample" ->
      s"""WITH $QuotaCte,
         |h AS (SELECT doc_id, lang, source,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 20, 13))::BIGINT
         |      AS hv
         |  FROM documents),
         |rk2 AS (SELECT doc_id, lang, source,
         |    CAST(row_number() OVER (PARTITION BY lang, source
         |      ORDER BY hv ASC, doc_id ASC) AS BIGINT) AS strat_rank
         |  FROM h)
         |SELECT doc_id, lang, source, strat_rank
         |FROM rk2 JOIN q USING (lang, source)
         |WHERE strat_rank <= quota
         |ORDER BY doc_id""".stripMargin,

    "q_pps_sample" ->
      """WITH h AS (SELECT doc_id,
        |    CAST(greatest(1, (length(text) + 15) // 16) AS BIGINT) AS w,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 20, 13))::BIGINT
        |      AS u
        |  FROM documents),
        |k AS (SELECT doc_id, w, (u * 2048) // w AS pps_key FROM h
        |  WHERE w >= 1)
        |SELECT doc_id, w, pps_key FROM
        |  (SELECT * FROM k ORDER BY pps_key ASC, doc_id ASC LIMIT 120)
        |ORDER BY doc_id""".stripMargin,

    "q_pps_stratum" ->
      """WITH h AS (SELECT doc_id, lang,
        |    CAST(greatest(1, (length(text) + 15) // 16) AS BIGINT) AS w,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 20, 13))::BIGINT
        |      AS u
        |  FROM documents),
        |k AS (SELECT doc_id, lang, w, (u * 2048) // w AS pps_key FROM h
        |  WHERE w >= 1),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY pps_key ASC, doc_id ASC) AS BIGINT) AS pps_rank
        |  FROM k)
        |SELECT lang, doc_id, w, pps_key, pps_rank FROM r
        |WHERE pps_rank <= 25 ORDER BY lang, pps_rank""".stripMargin,

    "q_keyness" ->
      """WITH tok AS (SELECT source, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'),
        |    x -> x != '')) AS token
        |  FROM documents),
        |gt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS a
        |  FROM tok GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(a) AS BIGINT) AS grp_tokens
        |  FROM gt GROUP BY 1),
        |ttk AS (SELECT token, CAST(sum(a) AS BIGINT) AS tok_tokens
        |  FROM gt GROUP BY 1),
        |n AS (SELECT CAST(sum(a) AS BIGINT) AS n_tokens FROM gt),
        |ct AS (SELECT gt.source, gt.token, a,
        |    tok_tokens - a AS b, grp_tokens - a AS c,
        |    n_tokens - tok_tokens - grp_tokens + a AS d, n_tokens
        |  FROM gt JOIN g USING (source) JOIN ttk USING (token), n),
        |sc AS (SELECT source, token, a, b, c, d,
        |    ((CAST(n_tokens AS DOUBLE) * CAST(a*d - b*c AS DOUBLE))
        |       * CAST(a*d - b*c AS DOUBLE))
        |      / (CAST((a+b)*(c+d) AS DOUBLE) * CAST((a+c)*(b+d) AS DOUBLE))
        |      AS chi2
        |  FROM ct WHERE a >= 5 AND a*(b+d) > b*(a+c)),
        |rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY chi2 DESC, token ASC) AS BIGINT) AS rnk FROM sc)
        |SELECT source, token, a, b, c, d, chi2, rnk AS "rank"
        |FROM rr WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin,

    "q_split_leakage" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh
        |  GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pr AS (SELECT o.id_a, o.id_b,
        |    CAST(o.n_common AS DOUBLE) /
        |      CAST(sa.n + sb.n - o.n_common AS DOUBLE) AS jaccard
        |  FROM ov o JOIN sz sa ON sa.doc_id = o.id_a
        |    JOIN sz sb ON sb.doc_id = o.id_b
        |  WHERE o.n_common * 1000000 >= 800000 * (sa.n + sb.n - o.n_common)),
        |sp AS (SELECT doc_id,
        |    CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 18, 15))::BIGINT
        |        % 100 AS bk
        |    FROM documents))
        |SELECT p.id_a, p.id_b, a.split AS split_a, b.split AS split_b,
        |  p.jaccard
        |FROM pr p JOIN sp a ON a.doc_id = p.id_a
        |  JOIN sp b ON b.doc_id = p.id_b
        |WHERE a.split != b.split
        |ORDER BY p.id_a, p.id_b""".stripMargin
  )
}
