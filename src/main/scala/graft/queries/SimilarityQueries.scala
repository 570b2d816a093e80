package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, SemanticDedup, Similarity}
import graft.queries.Q._

/** Oracle-checked + rows-only queries for the similarity-search and
  * near-dup tier (north star): brute-force cosine top-k, LSH ANN,
  * embedding near-dup, MinHash+LSH and SimHash document dedup.
  *
  * Cosine parity with the DuckDB oracle is exact: floats widen to double
  * before multiplying (exact products) and both engines accumulate
  * sequentially, so the doubles agree bitwise (see
  * [[graft.functions.VectorFunctions]]).
  */
object SimilarityQueries {

  private def emb(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"), col("label"))

  val queries: Map[String, QueryFn] = Map(
    // edit-distance entity resolution: ed<=1 customer-name pairs via
    // q-gram prefix filtering + exact levenshtein verify — the oracle's
    // brute-force join empirically proves the prefix filter missed
    // nothing (key-capped so the quadratic ORACLE stays bounded; the
    // operator itself never goes all-pairs)
    "q_fuzzy_join" -> ((s, dir) =>
      graft.operators.FuzzyJoin.fuzzySelfJoin(
        t(s, dir, "customer").filter(col("c_custkey") <= 2000)
          .select(col("c_custkey").as("id"), col("c_name").as("nm")),
        "id", "nm", q = 2, maxDist = 1)
        .orderBy("id_a", "id_b")),

    // brute-force exact cosine top-k (the ANN correctness baseline).
    "q_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e.filter(col("id") < 5), e, 5)
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // SemDeDup: k-means semantic clusters → within-cluster cosine pairs →
    // one keeper per semantic group. Seeded k-means + exact verification
    // + large-star/small-star resolution: deterministic → golden-pinned
    // (the k-means step has no SQL oracle).
    "q_semantic_dedup" -> ((s, dir) =>
      SemanticDedup.semDedup(emb(s, dir), "id", "embedding",
        nClusters = 16, threshold = 0.3)
        .select(col("id"), asLong(col("label")).as("label"))
        .orderBy("id")),

    // embedding-cosine near-dup pairs, blocked by label.
    "q_embedding_dedup" -> ((s, dir) =>
      Similarity.cosineDupPairs(emb(s, dir), "label", 0.3)
        .orderBy("id_a", "id_b")),

    // the portable SemDeDup face: fixture centroids through the
    // semDedupPairs reuse seam — k-means cell assignment, within-cell
    // exact pairing, and the threshold filter ALL replayed by DuckDB
    // (the trained q_semantic_dedup stays pinned + planted-pair gated).
    "q_semantic_dedup_portable" -> ((s, dir) => {
      val e = emb(s, dir)
      val centIds = (0 until 8).map(_ * 7L)
      val cents = e.filter(col("id").isin(centIds: _*)).orderBy("id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      SemanticDedup.semDedupPairs(e, "id", "embedding",
        nClusters = 8, threshold = 0.3, centroids = Some(cents))
        .orderBy("id_a", "id_b")
    }),

    // LSH-bucketed ANN (multi-probe, exact rerank) — the scale path; no
    // SQL oracle (bucket keys are xxhash64-based), recall vs brute force
    // is asserted in ScalaTest.
    "q_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e.filter(col("id") < 5), e, 5, nPlanes = 6)
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // IVF ANN (k-means coarse quantizer, nprobe cells, exact rerank) —
    // the second scale path; no SQL oracle (iterative float means), recall
    // vs brute force asserted in ScalaTest.
    "q_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.operators.IvfAnn.ivfTopK(e.filter(col("id") < 5), e, 5,
        nlist = 16, nprobe = 6)
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // PQ ANN (product-quantized codes, ADC scan, exact rerank) — the
    // compressed-index scale path; no SQL oracle (iterative float
    // k-means), recall + monotonicity asserted in ProductQuantizerSpec.
    "q_ann_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.operators.ProductQuantizer.pqTopK(e.filter(col("id") < 5), e, 5,
        m = 4, ksub = 16, rerankFactor = 4)
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // SQ8 ANN (per-dim int8 affine codes, exact rerank) — the third
    // compression point (float32 → dim bytes); min/max fit is exactly
    // deterministic, golden-pinned; recall spec-gated.
    "q_ann_sq" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.operators.ScalarQuantizer.sqTopK(e.filter(col("id") < 5), e, 5,
        rerankFactor = 4)
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ ANN (coarse cells route, PQ residual codes compress, exact
    // rerank) — the composed 100 TB index shape; no SQL oracle (iterative
    // float k-means at both stages), recall + monotonicity asserted in
    // IvfPqSpec, output golden-pinned.
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.operators.IvfPq.ivfPqTopK(e.filter(col("id") < 5), e, 5,
        nlist = 16, nprobe = 6, m = 4, ksub = 16, rerankFactor = 4)
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // OPQ: eigenvalue-allocated rotation (balances variance across the
    // PQ sub-spaces) + the standard ADC scan/rerank — deterministic
    // seeded pipeline, golden-pinned (iterative float eigen + k-means
    // have no SQL oracle); isometry, MSE-improvement, and recall gates
    // live in OpqSpec.
    "q_ann_opq" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.operators.Opq.opqTopK(e.filter(col("id") < 5), e, 5,
        m = 4, ksub = 32, rerankFactor = 8)
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // MinHash+LSH near-dup candidates, exact-Jaccard verified. xxhash64
    // signatures are not SQL-expressible → rows-only; the *verifier*
    // (exact Jaccard) is oracle-checked via q_ngram_jaccard below.
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashDedupPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.01, k = 32, bands = 16, maxBucketSize = 200)
        .select(col("id_a"), col("id_b"), asLong(col("n_bands_matched"))
          .as("n_bands_matched"), col("jaccard"))
        .orderBy("id_a", "id_b")),

    // incremental dedup: a new batch (every 10th doc) against the
    // pre-built MinHash index of the rest of the corpus. FULL-equality
    // oracle, not containment: candidates cover every true pair at
    // jaccard >= 0.4 (P(miss) < 1e-18 at k=32/bands=16) and verification
    // is exact integer arithmetic, so the output IS the set of
    // batch-involving near-dup pairs.
    "q_minhash_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
      Dedup.incrementalMinhashPairs(batch, corpus, idx, "doc_id", "text",
          threshold = 0.4, maxBucketSize = 200)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // the minhash store's APPEND-CHAIN gate at oracle grain (r17 — the
    // q_family_chain discipline applied to the last store family whose
    // chain evidence was soak/spec-only): bootstrap 60% of the corpus
    // into the standing store, THREE sequential processBatch appends,
    // the full fold (compactPrefix up to Long.MaxValue) fired MID-chain
    // (global bucket-size re-freeze + fold to one segment), then a
    // READ-ONLY probe of a held-out slice. The oracle never sees the
    // chain: it replays the exact whole-corpus shingle-Jaccard pairs
    // restricted to probe-involving pairs — chain-of-appends +
    // mid-chain compaction ≡ one-shot, as an oracle fact rather than a
    // spec assertion.
    "q_minhash_chain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val boot = docs.filter(col("doc_id") % 10 =!= 0 &&
        col("doc_id") % 10 =!= 5 && col("doc_id") % 10 =!= 7 &&
        col("doc_id") % 10 =!= 8)
      val scratch = java.nio.file.Files
        .createTempDirectory("mhchain").toString
      val (idxP, txtP) = (s"$scratch/idx", s"$scratch/txt")
      graft.streaming.StreamingMinhashDedup.initIndex(boot, "doc_id",
        "text", idxP, txtP)
      Seq(7L, 8L).zipWithIndex.foreach { case (m, i) =>
        graft.streaming.StreamingMinhashDedup.processBatch(
          docs.filter(col("doc_id") % 10 === m), i.toLong, "doc_id",
          "text", idxP, txtP, threshold = 0.4, maxBucketSize = 200)
      }
      graft.streaming.StreamingMinhashDedup.compactPrefix(s, idxP, txtP,
        upTo = Long.MaxValue)
      graft.streaming.StreamingMinhashDedup.processBatch(
        docs.filter(col("doc_id") % 10 === 0), 2L, "doc_id", "text",
        idxP, txtP, threshold = 0.4, maxBucketSize = 200)
      val probe = docs.filter(col("doc_id") % 10 === 5)
      val idx = s.read.parquet(idxP)
      val txts = s.read.parquet(txtP).drop("ingest_batch")
      Dedup.incrementalMinhashPairs(probe, txts, idx, "doc_id", "text",
          threshold = 0.4, maxBucketSize = 200)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // exact n-gram Jaccard pairs on a bounded slice (inverted-index join,
    // no cross join) — the oracle-checked ground truth for MinHash.
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", shingleN = 3, threshold = 0.02)
        .orderBy("id_a", "id_b")),

    // prefix-filtered set-similarity join over the WHOLE corpus (no
    // slice cap — the prefix filter is the scale path): deterministic
    // complete where minhash is probabilistic, pruned where the
    // inverted-index all-pairs is quadratic. Integer ppm threshold.
    "q_ppjoin" -> ((s, dir) =>
      graft.operators.FuzzyJoin.setSimilarityJoin(
        t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, tauPpm = 800000L)
        .orderBy("id_a", "id_b")),

    // SimHash sketches (banded for hamming-bounded joins); rows-only —
    // pair semantics asserted in ScalaTest with constructed near-dups.
    "q_simhash_sketch" -> ((s, dir) =>
      Dedup.simhashSketches(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("sketch").as("simhash"))
        .withColumn("band0", col("simhash").bitwiseAND(lit(0xffffL)))
        .orderBy("doc_id")),

    // the portable-hash LSH ANN face: md5-52-derived ±1 hyperplane signs
    // → bucket → exact cosine rerank. Every stage is DuckDB-expressible,
    // so the ANN bucketing machinery itself is oracle-checked end-to-end
    // (the production xxhash64 lshTopK stays recall-gated).
    "q_ann_lsh_portable" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.portableLshTopK(e.filter(col("id") < 5), e, 5, nPlanes = 4)
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // the LSH OCCUPANCY census as an oracle face (r16): the exact
    // integer machinery behind [[Similarity.lshDriftReport]]'s
    // occupancy witness — bucket → vector count over the corpus, plus
    // the share evidence as integers (max_bucket · 10⁶ div n_vecs,
    // the ppm convention) — on the ENGINE-PORTABLE md5-52 hyperplane
    // family so DuckDB replays bucket assignment bit-for-bit (the
    // q_ann_lsh_portable sign matrix). The production witness stays
    // [[Similarity.lshDriftReport]] over the served xxhash64 index
    // (spec-gated both ways); this face puts the census arithmetic
    // under the driver's oracle.
    "q_lsh_occupancy" -> ((s, dir) => {
      val e = emb(s, dir)
      val bucketed = e.select(
        graft.functions.VectorFunctions
          .portableHyperplaneKey(col("embedding"), 4).as("bucket"))
      val occ = bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
      occ.crossJoin(
          occ.agg(max(col("n_vecs")).as("max_bucket"),
            sum(col("n_vecs")).as("n_total")))
        .select(asLong(col("bucket")).as("bucket"),
          asLong(col("n_vecs")).as("n_vecs"),
          asLong(col("max_bucket")).as("max_bucket"),
          expr("max_bucket * 1000000 div n_total").as("max_share_ppm"))
        .orderBy("bucket")
    }),

    // the SQ8 CLIP census as an oracle face (r16): the cheap witness
    // behind [[ScalarQuantizer.sqDriftReport]] — fit the affine
    // codebook on the STANDING 90% (vec_id % 10 ≠ 0), count vectors
    // whose nearest code clips outside [0, 255] over the FULL corpus
    // (the appended 10% holds some per-dim extremes the standing fit
    // never saw, so the census is non-trivially non-zero) — exact
    // integer arithmetic end-to-end: min/max fit, floor(x+0.5)
    // rounding, boundary compares, ppm share by integer division.
    "q_sq_clip_census" -> ((s, dir) => {
      val e = emb(s, dir)
      val m = graft.operators.ScalarQuantizer.fit(
        e.filter(col("id") % 10 =!= 0), "embedding")
      graft.operators.ScalarQuantizer.clipCensus(e, m)
        .select(asLong(col("n_vecs")).as("n_vecs"),
          asLong(col("n_clipped")).as("n_clipped"),
          expr("n_clipped * 1000000 div n_vecs").as("clip_ppm"))
    }),

    // the REBUILD response under the oracle (r17 — the r16 verdict's
    // top item asked for the drift loop's response, not only its
    // witness): the STALE codebook (fit on the standing 90%, the
    // pre-drift state [[ScalarQuantizer.sqDriftReport]] measures) clips
    // the appended extremes; the REFIT codebook (fit over the full
    // corpus — exactly what [[ScalarQuantizer.rebuildIndex]] trains)
    // clips NOTHING by construction. Both censuses integer-exact and
    // replayed end-to-end by DuckDB — before/after of the production
    // loop as an oracle face, beside AnnDriftRebuildSpec's full-loop
    // spec (recall + served-vs-fresh parity need the index artifacts,
    // which stay spec-grain).
    "q_sq_rebuild_census" -> ((s, dir) => {
      val e = emb(s, dir)
      def census(m: graft.operators.ScalarQuantizer.Model,
          phase: String) =
        graft.operators.ScalarQuantizer.clipCensus(e, m)
          .select(lit(phase).as("phase"),
            asLong(col("n_vecs")).as("n_vecs"),
            asLong(col("n_clipped")).as("n_clipped"),
            expr("n_clipped * 1000000 div n_vecs").as("clip_ppm"))
      val stale = graft.operators.ScalarQuantizer.fit(
        e.filter(col("id") % 10 =!= 0), "embedding")
      val refit = graft.operators.ScalarQuantizer.fit(e, "embedding")
      census(stale, "stale").unionByName(census(refit, "rebuilt"))
        .orderBy("phase")
    }),

    // ENGINE-PORTABLE IVF face: fixture centroids — the exact
    // float→double images of vec_id 0,7,…,49 — injected through
    // ivfTopK's reuse seam instead of k-means, so cell assignment,
    // nprobe routing, and the exact rerank are ALL replayed by DuckDB
    // end-to-end (the trained q_ann_ivf stays recall-gated). The 8
    // collected vectors are dim-bounded driver state, same class as a
    // trained quantizer.
    "q_ann_ivf_portable" -> ((s, dir) => {
      val e = emb(s, dir)
      val centIds = (0 until 8).map(_ * 7L)
      val cents = e.filter(col("id").isin(centIds: _*)).orderBy("id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      graft.operators.IvfAnn.ivfTopK(e.filter(col("id") < 5), e, 5,
        nlist = 8, nprobe = 3, centroids = Some(cents))
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // retrieval-quality scorecard: recall@10 / MRR / nDCG@10 of the
    // fixture-centroid IVF serving path against the brute-force truth
    // — the eval harness behind every ANN quality/latency trade-off.
    // recall and MRR are exact small-integer divisions; nDCG is an
    // ascending-rank log2 fold quantized to ppb (the q_drift_psi ulp
    // finding).
    "q_retrieval_eval" -> ((s, dir) => {
      val e = emb(s, dir)
      val centIds = (0 until 8).map(_ * 7L)
      val cents = e.filter(col("id").isin(centIds: _*)).orderBy("id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val truth = graft.operators.Similarity.bruteForceTopK(
        e.filter(col("id") < 5), e, 10)
      val run = graft.operators.IvfAnn.ivfTopK(e.filter(col("id") < 5),
        e, 10, nlist = 8, nprobe = 3, centroids = Some(cents))
      graft.operators.Retrieval.evalTopK(truth, run, k = 10)
        .select(col("query_id"), asLong(col("n_truth")).as("n_truth"),
          asLong(col("n_run")).as("n_run"),
          asLong(col("n_hits")).as("n_hits"),
          col("recall"), col("mrr"),
          Q.ppb(col("ndcg")).as("ndcg_ppb"))
        .orderBy("query_id")
    }),

    // rank-biased overlap between the brute-force and IVF top-10
    // rankings (truncated RBO@10, p=0.9) — the rank-SENSITIVE agreement
    // measure beside q_retrieval_eval's set metrics; ppb-quantized.
    "q_rbo" -> ((s, dir) => {
      val e = emb(s, dir)
      val centIds = (0 until 8).map(_ * 7L)
      val cents = e.filter(col("id").isin(centIds: _*)).orderBy("id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val truth = graft.operators.Similarity.bruteForceTopK(
        e.filter(col("id") < 5), e, 10)
      val run = graft.operators.IvfAnn.ivfTopK(e.filter(col("id") < 5),
        e, 10, nlist = 8, nprobe = 3, centroids = Some(cents))
      graft.operators.Retrieval.rankBiasedOverlap(truth, run, k = 10)
        .select(col("query_id"), asLong(col("n_common")).as("n_common"),
          Q.ppb(col("rbo")).as("rbo_ppb"))
        .orderBy("query_id")
    }),

    // MMR diversified retrieval: greedy λ=0.5 relevance-vs-redundancy
    // top-5 over a 20-candidate pool — near-dup-aware result lists.
    // Bounded pairwise table, kOut−1 join+window rounds, no driver loop
    // over data; the oracle unrolls the same greedy rounds.
    "q_mmr_diversify" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.operators.Retrieval.mmrDiversify(e.filter(col("id") < 5), e,
        kCand = 20, kOut = 5)
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("mmr_rank")).as("mmr_rank"), col("score"))
        .orderBy("query_id", "mmr_rank")
    }),

    // FILTERED vector search: the IVF probe with a metadata predicate
    // (label ≤ 4 — "only the allowed half of the corpus") applied over
    // the probed posting lists before rerank — the standard
    // post-filtering strategy; recall compensation is nprobe/k, not a
    // per-predicate index. Fixture centroids keep it oracle-replayable.
    "q_ann_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val centIds = (0 until 8).map(_ * 7L)
      val cents = e.filter(col("id").isin(centIds: _*)).orderBy("id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      graft.operators.IvfAnn.ivfTopK(e.filter(col("id") < 5), e, 5,
        nlist = 8, nprobe = 3, centroids = Some(cents),
        metaCols = Seq("label"),
        candidateFilter = Some(col("label") <= 4))
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // ENGINE-PORTABLE OPQ face: a PERMUTATION rotation (exactly
    // orthonormal; the projection fold degenerates to an exact element
    // pick, so the rotated floats are bit-identical in both engines)
    // plus fixture codebooks trained-by-fixture on the ROTATED seeds —
    // the rotate→encode→ADC→rerank pipeline replayed end-to-end in the
    // rotated space (the eigen-allocated q_ann_opq stays pinned).
    "q_ann_opq_portable" -> ((s, dir) => {
      val e = emb(s, dir)
      val dim = 64
      val rot = graft.operators.EmbeddingPca.Model(
        mean = new Array[Double](dim),
        components = Array.tabulate(dim, dim)((r, c) =>
          if (c == dim - 1 - r) 1.0 else 0.0),
        eigenvalues = Array.fill(dim)(1.0))
      val (m, ksub, dsub) = (4, 8, 16)
      val seedIds = (0 until ksub).map(i => 3L + i * 7)
      val seeds = e.filter(col("id").isin(seedIds: _*)).orderBy("id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.reverse.map(_.toDouble))
      val cb = Array.tabulate(m, ksub, dsub)((sub, c, j) =>
        seeds(c)(sub * dsub + j))
      graft.operators.Opq.opqTopK(e.filter(col("id") < 5), e, 5,
        m = m, ksub = ksub, rerankFactor = 4,
        model = Some(graft.operators.Opq.Model(rot, cb)))
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // ENGINE-PORTABLE IVF-PQ face: the COMPOSED flagship through both
    // fixture seams at once — fixture coarse centroids (cell routing +
    // the per-cell centroid dot) and fixture residual codebooks (encode
    // runs on the float-ROUNDED residual v−centroid, which DuckDB
    // replays via CAST(… AS FLOAT)); the ADC fold seeds at the centroid
    // dot. Every stage of the 100 TB index shape engine-cross-checked.
    "q_ann_ivfpq_portable" -> ((s, dir) => {
      val e = emb(s, dir)
      val centIds = (0 until 8).map(_ * 7L)
      val cents = e.filter(col("id").isin(centIds: _*)).orderBy("id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val (m, ksub, dsub) = (4, 8, 16)
      val seedIds = (0 until ksub).map(i => 3L + i * 7)
      val seeds = e.filter(col("id").isin(seedIds: _*)).orderBy("id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val cb = Array.tabulate(m, ksub, dsub)((sub, c, j) =>
        seeds(c)(sub * dsub + j))
      graft.operators.IvfPq.ivfPqTopK(e.filter(col("id") < 5), e, 5,
        nprobe = 3, rerankFactor = 4,
        model = Some(graft.operators.IvfPq.Model(cents, cb)))
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // ENGINE-PORTABLE PQ face: fixture codebooks — subspace slices of
    // vec_id 3,10,…,52's embeddings — injected through pqTopK's reuse
    // seam, so encoding (per-subspace argmin), the ADC dot/norm table
    // lookups, the shortlist, and the exact rerank are ALL replayed by
    // DuckDB end-to-end (the trained q_ann_pq stays recall-gated).
    "q_ann_pq_portable" -> ((s, dir) => {
      val e = emb(s, dir)
      val (m, ksub, dsub) = (4, 8, 16)
      val seedIds = (0 until ksub).map(i => 3L + i * 7)
      val seeds = e.filter(col("id").isin(seedIds: _*)).orderBy("id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val cb = Array.tabulate(m, ksub, dsub)((sub, c, j) =>
        seeds(c)(sub * dsub + j))
      graft.operators.ProductQuantizer.pqTopK(e.filter(col("id") < 5), e, 5,
        m = m, ksub = ksub, rerankFactor = 4, codebooks = Some(cb))
        .select(col("query_id"), col("neighbor_id"),
          asLong(col("rank")).as("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // hybrid retrieval: sparse (batch BM25, one inverted-index pass for
    // the whole query table) + dense (brute-force cosine) arms fused by
    // reciprocal-rank fusion. Both arms' ranks are bitwise-certified
    // elsewhere (q_bm25, q_cosine_topk), and RRF consumes only the
    // integer ranks, so the WHOLE hybrid pipeline is oracle-checked.
    "q_hybrid_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          slice(filter(split(lower(col("text")), "[^a-z]+"),
            t => t =!= lit("")), 1, 5).as("terms"))
      val sparse = graft.operators.Retrieval.bm25Batch(
        docs, "doc_id", "text", queries, "query_id", "terms", topN = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val e = emb(s, dir)
      val dense = Similarity.bruteForceTopK(e.filter(col("id") < 5), e, 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(sparse, dense), kRrf = 60,
        topN = 10)
        .select(col("query_id"), col("doc_id"), col("rrf"),
          asLong(col("n_arms")).as("n_arms"),
          asLong(col("fused_rank")).as("fused_rank"))
        .orderBy("query_id", "fused_rank")
    }),

    // the portable-hash MinHash face: the FULL sketch pipeline (seeded
    // min-over-shingles signatures → banded buckets → size-capped pair
    // generation) on the md5-52 hash family, oracle-checked end-to-end —
    // the machinery q_dedup_minhash's xxhash64 form can only pin.
    "q_minhash_portable" -> ((s, dir) =>
      Dedup.portableMinhashPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", shingleN = 3, k = 8, bands = 4,
        maxBucketSize = 200)
        .select(col("id_a"), col("id_b"),
          asLong(col("n_bands_matched")).as("n_bands_matched"))
        .orderBy("id_a", "id_b")),

    // content-defined chunking: gram-hash boundary rule → exclusive
    // prefix-sum chunk ids → per-chunk content hash, all on the md5-52
    // family — boundaries move with the content, so the whole CDC
    // pipeline is oracle-checked end-to-end.
    "q_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunks(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text")
        .select(col("id").as("doc_id"), col("chunk_id"),
          asLong(col("start_pos")).as("start_pos"),
          asLong(col("end_pos")).as("end_pos"),
          col("n_tokens"), col("chunk_hash"))
        .orderBy("doc_id", "chunk_id")),

    // cross-document duplicate fragments at the CDC-chunk grain — the
    // sub-document dedup signal whole-document sketches cannot key.
    "q_cdc_fragments" -> ((s, dir) =>
      Dedup.cdcDupFragments(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text")
        .select(col("chunk_hash"), asLong(col("n_docs")).as("n_docs"),
          col("n_occurrences"), col("n_tokens"))
        .orderBy("chunk_hash")),

    // fragment STRIPPING, the action the fragment keyer measures: every
    // duplicated chunk keeps its globally-first occurrence, later ones
    // drop, documents rebuilt from surviving chunks — oracle-green.
    "q_cdc_strip" -> ((s, dir) =>
      Dedup.cdcStrip(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens_kept"),
          asLong(col("n_chunks_kept")).as("n_chunks_kept"), col("text"))
        .orderBy("doc_id")),

    // the portable-hash SimHash face: tokenize → hash → bit votes → sign,
    // all md5-52, oracle-checked bit-for-bit (52-bit sketch as BIGINT).
    "q_simhash_portable" -> ((s, dir) =>
      Dedup.portableSimhash(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text")
        .select(col("id").as("doc_id"), col("sketch").as("simhash52"))
        .orderBy("doc_id")),

    // winnowing fingerprints (MOSS): distinct window-min gram hashes per
    // doc — localized near-dup sketch, md5-hash oracle-exact.
    "q_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", shingleN = 3, window = 4)
        .orderBy("doc_id", "fingerprint")),

    // winnowing candidate pairs: docs sharing >= 2 window-min hashes
    // (localized overlap, boilerplate buckets capped).
    "q_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", shingleN = 3, window = 4, minShared = 2)
        .select(col("id_a"), col("id_b"), asLong(col("n_shared")).as("n_shared"))
        .orderBy("id_a", "id_b")),

    // near-dup cluster resolution: pair list → min-id label per connected
    // component (label propagation; oracle = recursive-CTE transitive
    // closure over the same inline pair fixture).
    "q_dedup_clusters" -> ((s, _) => {
      import s.implicits._
      val pairs = Seq(
        (1L, 2L), (2L, 3L), (3L, 4L), // chain → all label 1
        (10L, 11L), // pair → label 10
        (20L, 22L), (21L, 22L), // star via 22 → label 20
        (30L, 31L), (31L, 32L), (30L, 32L)) // triangle → label 30
        .toDF("id_a", "id_b")
      Dedup.resolveKeepers(pairs).orderBy("id")
    }),

    // sketch calibration: the PR curve of the portable MinHash/LSH
    // candidate set vs exact Jaccard per similarity tier, all-integer
    // ppm arithmetic — the report read before committing (k, bands,
    // cap) to a production dedup run. Band collisions with zero real
    // overlap still charge precision via the standalone candidate
    // count.
    "q_sketch_pr" -> ((s, dir) =>
      Dedup.candidateQuality(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", shingleN = 3, k = 8, bands = 4,
        maxBucketSize = 200)
        .select(col("t_ppm"), col("n_exact"), col("n_candidates"),
          col("n_tp"), col("precision_ppm"), col("recall_ppm"))
        .orderBy("t_ppm")),

    // near-dup arbitration end-to-end on the real corpus, the
    // PRODUCTION composition: capped portable-LSH candidates →
    // exact-Jaccard confirm on candidates only (>= 0.6, integral ppm) →
    // min-label clusters → keep the LONGEST member (n_chars desc, id
    // asc), not the first — the RefinedWeb keeper policy. No all-pairs
    // stage anywhere (the r10 soak caught the exhaustive-pair face at
    // 13x on the 90%-dup sf1 corpus); q_sketch_pr quantifies the LSH
    // recall this path trades. Singletons pass through; the oracle
    // replays candidates + confirm + recursive closure + the argmax.
    "q_dedup_keepbest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.confirmedNearDupPairs(docs, "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, maxBucketSize = 200,
        thresholdPpm = 600000L).select(col("id_a"), col("id_b"))
      Dedup.keepBest(docs.select(col("doc_id"), col("n_chars")),
        pairs, "doc_id", "n_chars")
        .select(asLong(col("label")).as("label"),
          asLong(col("n_members")).as("n_members"),
          asLong(col("keeper_id")).as("keeper_id"),
          asLong(col("keeper_score")).as("keeper_score"))
        .orderBy("label")
    }),

    // provenance-leakage audit: confirmed near-dup pairs rolled up to
    // an unordered source-pair matrix — a heavy off-diagonal cell
    // means a source-level split leaks shared content across the
    // boundary. Same production candidate path as q_dedup_keepbest.
    "q_cross_source_dups" -> ((s, dir) =>
      Dedup.crossGroupDupMatrix(
        t(s, dir, "documents"), "doc_id", "text", "source",
        shingleN = 3, k = 32, bands = 16, maxBucketSize = 200,
        thresholdPpm = 600000L)
        .select(col("group_a"), col("group_b"),
          asLong(col("n_pairs")).as("n_pairs"))
        .orderBy("group_a", "group_b")),

    // the SCALE path for cluster resolution: alternating large-star /
    // small-star (O(log n) rounds vs min-label's O(diameter)) on a graph
    // whose 17-deep chain makes the difference observable; same
    // (id, label=component min) contract, same recursive-CTE oracle shape.
    "q_cc_components" -> ((s, _) => {
      import s.implicits._
      val chain = (100L until 117L).map(i => (i, i + 1))
      val pairs = (Seq(
        (1L, 2L), (2L, 3L), // path → 1
        (10L, 11L), // pair → 10
        (20L, 22L), (21L, 22L), (23L, 22L), (24L, 22L), // hub star → 20
        (30L, 31L), (31L, 32L), (30L, 32L)) ++ chain) // chain → 100
        .toDF("id_a", "id_b")
      Dedup.connectedComponents(pairs).orderBy("id")
    }),

    // containment gate for the xxhash64-based MinHash sketch: every exact
    // n-gram-Jaccard pair >= 0.4 must appear in the LSH candidate set
    // (P(miss) < 1e-18 per pair at k=32, bands=16 — misses mean a broken
    // sketch, not bad luck). The oracle pins the exact pairs AND
    // covered=true, turning the rows-only sketch into a checked
    // guarantee. BOUNDED EVAL SLICE (r13 verdict #4, adjudicated): the
    // exact ground truth is the designed-exhaustive calibration read —
    // its cost grows quadratically with the corpus, so the face runs on
    // a FIXED 2000-doc slice (whole table at sf<=0.04; SF-independent
    // cost above — the candidateQuality / ngramJaccardPairs eval-slice
    // semantics). The sketch's probabilistic guarantee is per-pair, so a
    // slice check certifies it identically; production coverage stays
    // with the scale faces (q_minhash_portable, q_ppjoin).
    "q_minhash_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val gt = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.4)
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, maxBucketSize = 200)
        .select(col("id_a"), col("id_b"), lit(true).as("covered"))
      gt.join(cand, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          coalesce(col("covered"), lit(false)).as("covered"))
        .orderBy("id_a", "id_b")
    }),

    // containment gate for SimHash: exact-duplicate docs (constructed by
    // re-keying a copy of five docs, plus any organic dups) have identical
    // sketches, so the banded join MUST find them at hamming 0 — the
    // pigeonhole guarantee the operator is built on, oracle-pinned.
    "q_simhash_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = docs.unionByName(docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      // join on the content hash, not the text — shuffles 16 bytes per
      // row instead of whole documents (pair set is identical)
      val hashed = all.select(col("doc_id"),
        md5(to_binary(col("text"), lit("utf-8"))).as("ch"))
      val gt = hashed.select(col("doc_id").as("id_a"), col("ch"))
        .join(hashed.select(col("doc_id").as("id_b"), col("ch")), Seq("ch"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val sp = Dedup.simhashPairs(all, "doc_id", "text", hammingMax = 3)
        .select(col("id_a"), col("id_b"), lit(true).as("covered"),
          col("hamming").cast(LongType).as("hamming"))
      gt.join(sp, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"),
          coalesce(col("covered"), lit(false)).as("covered"),
          col("hamming"))
        .orderBy("id_a", "id_b")
    })
  )

  /** Unrolled greedy-MMR replay (q_mmr_diversify): candidate pool +
    * pairwise sims MATERIALIZED once, then `kOut − 1` rounds of
    * (max-sim-to-selected → 0.5·rel − 0.5·mx → per-query argmax),
    * cumulative selection unioned per round. Same IEEE op order as the
    * operator (two multiplies and a subtract on engine-identical sims),
    * same (score desc, neighbor asc) tie rule.
    */
  private def mmrOracle(kCand: Int, kOut: Int): String = {
    val head =
      s"""WITH e AS MATERIALIZED (SELECT vec_id,
         |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_inner_product(q.v, c.v) /
         |    (sqrt(list_inner_product(q.v, q.v)) *
         |     sqrt(list_inner_product(c.v, c.v))) AS rel
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 5),
         |cand AS MATERIALIZED (SELECT query_id, neighbor_id, rel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, neighbor_id) AS rn FROM p)
         |  WHERE rn <= $kCand),
         |ps AS MATERIALIZED (SELECT a.query_id, a.neighbor_id AS cand_id,
         |    b.neighbor_id AS other_id,
         |    list_inner_product(ea.v, eb.v) /
         |    (sqrt(list_inner_product(ea.v, ea.v)) *
         |     sqrt(list_inner_product(eb.v, eb.v))) AS psim
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id
         |    AND a.neighbor_id <> b.neighbor_id
         |  JOIN e ea ON ea.vec_id = a.neighbor_id
         |  JOIN e eb ON eb.vec_id = b.neighbor_id),
         |sel1 AS (SELECT query_id, neighbor_id, 1 AS mmr_rank,
         |    rel AS score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, neighbor_id) AS rn FROM cand) WHERE rn = 1),
         |selu1 AS MATERIALIZED (SELECT * FROM sel1)""".stripMargin
    val rounds = (2 to kOut).map { r =>
      s"""sc$r AS (SELECT c.query_id, c.neighbor_id,
         |    0.5 * c.rel - 0.5 * m.mx AS score
         |  FROM cand c
         |  JOIN (SELECT ps.query_id, ps.cand_id, max(ps.psim) AS mx
         |    FROM ps JOIN selu${r - 1} s ON s.query_id = ps.query_id
         |      AND s.neighbor_id = ps.other_id
         |    GROUP BY 1, 2) m
         |    ON m.query_id = c.query_id AND m.cand_id = c.neighbor_id
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} s2
         |    WHERE s2.query_id = c.query_id
         |      AND s2.neighbor_id = c.neighbor_id)),
         |sel$r AS (SELECT query_id, neighbor_id, $r AS mmr_rank, score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS rn FROM sc$r)
         |  WHERE rn = 1),
         |selu$r AS MATERIALIZED (SELECT * FROM selu${r - 1}
         |  UNION ALL SELECT * FROM sel$r)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"""
         |SELECT query_id, neighbor_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
         |  score FROM selu$kOut ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** Shared brute-force-truth + fixture-centroid-IVF-run CTE chain
    * (ends with `truth` and `run`, both `(query_id, neighbor_id,
    * rank)` top-10) — the common front of the retrieval-quality
    * oracles (`q_retrieval_eval`, `q_rbo`).
    */
  private val TruthRunCte =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |bq AS (SELECT * FROM e WHERE vec_id < 5),
      |bp AS (SELECT bq.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_inner_product(bq.v, c.v) /
      |    (sqrt(list_inner_product(bq.v, bq.v)) *
      |     sqrt(list_inner_product(c.v, c.v))) AS sim
      |  FROM bq JOIN e c ON c.vec_id <> bq.vec_id),
      |truth AS (SELECT query_id, neighbor_id, rank FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rank FROM bp)
      |  WHERE rank <= 10),
      |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
      |    v AS c
      |  FROM e WHERE vec_id IN (0, 7, 14, 21, 28, 35, 42, 49)),
      |d AS (SELECT e.vec_id, c.cell,
      |    list_aggregate(list_transform(range(1, len(e.v) + 1),
      |      i -> (c.c[i] - e.v[i]) * (c.c[i] - e.v[i])), 'sum') AS dist
      |  FROM e CROSS JOIN cents c),
      |assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
      |      AS rn FROM d) WHERE rn = 1),
      |probes AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
      |      AS rn FROM d WHERE vec_id < 5) WHERE rn <= 3),
      |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
      |    list_inner_product(qe.v, ce.v) /
      |    (sqrt(list_inner_product(qe.v, qe.v)) *
      |     sqrt(list_inner_product(ce.v, ce.v))) AS sim
      |  FROM probes p
      |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
      |  JOIN e qe ON qe.vec_id = p.vec_id
      |  JOIN e ce ON ce.vec_id = a.vec_id),
      |run AS (SELECT query_id, neighbor_id, rank FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rank FROM cand)
      |  WHERE rank <= 10)""".stripMargin

  val oracles: Map[String, String] = Map(
    // common-item entry depth m = max(rank_a, rank_b); the d-ordered
    // list_reduce fold and the double SUBTRACTION for 1−p mirror the
    // engine exactly (pow is libm territory → ppb quantization)
    "q_rbo" ->
      s"""WITH $TruthRunCte,
         |cm AS (SELECT t.query_id, greatest(t.rank, r.rank) AS m
         |  FROM truth t JOIN run r USING (query_id, neighbor_id)),
         |ds AS (SELECT unnest(range(1, 11)) AS d),
         |xd AS (SELECT query_id, d, CAST(count(*) AS BIGINT) AS x
         |  FROM cm JOIN ds ON cm.m <= ds.d GROUP BY 1, 2),
         |qq AS (SELECT DISTINCT query_id FROM truth),
         |grid AS (SELECT qq.query_id, ds.d, COALESCE(xd.x, 0) AS x
         |  FROM qq CROSS JOIN ds LEFT JOIN xd USING (query_id, d)),
         |sm AS (SELECT query_id, CAST(max(x) AS BIGINT) AS n_common,
         |    list_reduce(
         |      list(pow(CAST(0.9 AS DOUBLE), d - 1) * x / d ORDER BY d),
         |      (u, v) -> u + v) AS s
         |  FROM grid GROUP BY 1)
         |SELECT query_id, n_common,
         |  CAST(floor((CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE)) * s * 1e9
         |    + 0.5) AS BIGINT) AS rbo_ppb
         |FROM sm ORDER BY query_id""".stripMargin,

    "q_mmr_diversify" -> mmrOracle(kCand = 20, kOut = 5),

    "q_ppjoin" ->
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
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT o.id_a, o.id_b, sa.n AS n_a, sb.n AS n_b, o.n_common,
        |  CAST(o.n_common AS DOUBLE) /
        |    CAST(sa.n + sb.n - o.n_common AS DOUBLE) AS jaccard
        |FROM ov o JOIN sz sa ON sa.doc_id = o.id_a
        |  JOIN sz sb ON sb.doc_id = o.id_b
        |WHERE o.n_common * 1000000 >= 800000 * (sa.n + sb.n - o.n_common)
        |ORDER BY o.id_a, o.id_b""".stripMargin,

    "q_fuzzy_join" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS nm FROM customer
        |  WHERE c_custkey <= 2000)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE abs(length(a.nm) - length(b.nm)) <= 1
        |  AND levenshtein(a.nm, b.nm) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "q_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_inner_product(q.v, c.v) /
        |    (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS sim
        |  FROM q JOIN e c ON c.vec_id <> q.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank FROM p)
        |SELECT query_id, neighbor_id, rank, sim FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_embedding_dedup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_inner_product(a.v, b.v) /
        |  (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_inner_product(a.v, b.v) /
        |  (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // fixture-centroid SemDeDup replay: argmin assignment (first index
    // wins ties), within-cell pairs id_a < id_b, exact cosine + the
    // same threshold comparison.
    "q_semantic_dedup_portable" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |    v AS c
        |  FROM e WHERE vec_id IN (0, 7, 14, 21, 28, 35, 42, 49)),
        |d AS (SELECT e.vec_id, c.cell,
        |    list_aggregate(list_transform(range(1, len(e.v) + 1),
        |      i -> (c.c[i] - e.v[i]) * (c.c[i] - e.v[i])), 'sum') AS dist
        |  FROM e CROSS JOIN cents c),
        |assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
        |      AS rn FROM d) WHERE rn = 1),
        |ec AS (SELECT e.vec_id, e.v, a.cell FROM e
        |  JOIN assign a USING (vec_id)),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_inner_product(a.v, b.v) /
        |    (sqrt(list_inner_product(a.v, a.v)) *
        |     sqrt(list_inner_product(b.v, b.v))) AS sim
        |  FROM ec a JOIN ec b ON a.cell = b.cell AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "q_cc_components" ->
      """WITH RECURSIVE p(a, b) AS (
        |  SELECT * FROM (VALUES (1, 2), (2, 3), (10, 11),
        |    (20, 22), (21, 22), (23, 22), (24, 22),
        |    (30, 31), (31, 32), (30, 32)) t(a, b)
        |  UNION ALL
        |  SELECT i, i + 1 FROM range(100, 117) r(i)),
        |edges(src, dst) AS (
        |  SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS label
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "q_dedup_clusters" ->
      """WITH RECURSIVE p(a, b) AS (
        |  SELECT * FROM (VALUES (1, 2), (2, 3), (3, 4), (10, 11),
        |    (20, 22), (21, 22), (30, 31), (31, 32), (30, 32)) t(a, b)),
        |edges(src, dst) AS (
        |  SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS label
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // the q_ngram_jaccard exact pairs (integral ppm) + the
    // q_minhash_portable candidate replay, tier counts via a theta
    // join, guarded integral ratios
    "q_sketch_pr" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 500),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |hx AS (SELECT doc_id, seed,
        |    min(('0x' || substr(md5(seed::VARCHAR || '|' || s), 20, 13))::BIGINT) AS h
        |  FROM sh, range(0, 8) r(seed) GROUP BY doc_id, seed),
        |bk AS (SELECT doc_id, seed // 2 AS band,
        |    string_agg(h::VARCHAR, ',' ORDER BY seed) AS bucket
        |  FROM hx GROUP BY doc_id, seed // 2),
        |bsz AS (SELECT band, bucket, count(*) AS sz FROM bk GROUP BY 1, 2),
        |ok AS (SELECT bk.doc_id, bk.band, bk.bucket FROM bk
        |  JOIN bsz USING (band, bucket) WHERE sz <= 200),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
        |ex AS (SELECT common.id_a, common.id_b,
        |    c * 1000000 // (sa.n + sb.n - c) AS jppm,
        |    CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
        |  FROM common
        |  JOIN sizes sa ON sa.doc_id = common.id_a
        |  JOIN sizes sb ON sb.doc_id = common.id_b
        |  LEFT JOIN cand ON cand.id_a = common.id_a
        |    AND cand.id_b = common.id_b),
        |tiers AS (SELECT unnest([200000, 400000, 600000, 800000]) AS t_ppm),
        |pt AS (SELECT t_ppm, CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(sum(is_cand) AS BIGINT) AS n_tp
        |  FROM tiers JOIN ex ON ex.jppm >= tiers.t_ppm GROUP BY t_ppm)
        |SELECT CAST(t.t_ppm AS BIGINT) AS t_ppm,
        |  CAST(COALESCE(pt.n_exact, 0) AS BIGINT) AS n_exact,
        |  (SELECT n_candidates FROM nc) AS n_candidates,
        |  CAST(COALESCE(pt.n_tp, 0) AS BIGINT) AS n_tp,
        |  CASE WHEN (SELECT n_candidates FROM nc) > 0
        |    THEN CAST(COALESCE(pt.n_tp, 0) * 1000000
        |      // (SELECT n_candidates FROM nc) AS BIGINT) END AS precision_ppm,
        |  CASE WHEN COALESCE(pt.n_exact, 0) > 0
        |    THEN CAST(COALESCE(pt.n_tp, 0) * 1000000 // pt.n_exact AS BIGINT)
        |    END AS recall_ppm
        |FROM tiers t LEFT JOIN pt ON pt.t_ppm = t.t_ppm
        |ORDER BY t_ppm""".stripMargin,

    // capped portable-LSH candidates (k=32, 16 bands — the
    // q_minhash_portable machinery) → candidate-bound exact confirm at
    // integral ppm >= 600000 → recursive transitive closure →
    // per-cluster argmax (n_chars desc, id asc)
    // the q_dedup_keepbest candidate+confirm chain (no closure),
    // rolled up to the unordered source-pair matrix
    "q_cross_source_dups" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |bh AS (SELECT doc_id,
        |    ('0x' || substr(md5(s), 20, 13))::BIGINT AS h1,
        |    ('0x' || substr(md5('B|' || s), 20, 13))::BIGINT AS h2
        |  FROM sh),
        |hx AS (SELECT doc_id, seed,
        |    min((h1 + seed * h2) % 2305843009213693951) AS h
        |  FROM bh, range(0, 32) r(seed) GROUP BY doc_id, seed),
        |bk AS (SELECT doc_id, seed // 2 AS band,
        |    string_agg(h::VARCHAR, ',' ORDER BY seed) AS bucket
        |  FROM hx GROUP BY doc_id, seed // 2),
        |grp AS (SELECT band, bucket, min(doc_id) AS id_a, count(*) AS sz
        |  FROM bk GROUP BY band, bucket),
        |cand AS (SELECT DISTINCT g.id_a, o.doc_id AS id_b
        |  FROM grp g JOIN bk o ON o.band = g.band AND o.bucket = g.bucket
        |    AND o.doc_id > g.id_a
        |  WHERE g.sz BETWEEN 2 AND 200),
        |common AS (SELECT cand.id_a, cand.id_b, count(*) AS c
        |  FROM cand
        |  JOIN sh a ON a.doc_id = cand.id_a
        |  JOIN sh b ON b.doc_id = cand.id_b AND b.s = a.s
        |  GROUP BY 1, 2),
        |p AS (SELECT common.id_a, common.id_b FROM common
        |  JOIN sizes sa ON sa.doc_id = common.id_a
        |  JOIN sizes sb ON sb.doc_id = common.id_b
        |  WHERE c * 1000000 // (sa.n + sb.n - c) >= 600000),
        |m AS (SELECT least(a.source, b.source) AS group_a,
        |    greatest(a.source, b.source) AS group_b
        |  FROM p
        |  JOIN documents a ON a.doc_id = p.id_a
        |  JOIN documents b ON b.doc_id = p.id_b)
        |SELECT group_a, group_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dedup_keepbest" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |bh AS (SELECT doc_id,
        |    ('0x' || substr(md5(s), 20, 13))::BIGINT AS h1,
        |    ('0x' || substr(md5('B|' || s), 20, 13))::BIGINT AS h2
        |  FROM sh),
        |hx AS (SELECT doc_id, seed,
        |    min((h1 + seed * h2) % 2305843009213693951) AS h
        |  FROM bh, range(0, 32) r(seed) GROUP BY doc_id, seed),
        |bk AS (SELECT doc_id, seed // 2 AS band,
        |    string_agg(h::VARCHAR, ',' ORDER BY seed) AS bucket
        |  FROM hx GROUP BY doc_id, seed // 2),
        |grp AS (SELECT band, bucket, min(doc_id) AS id_a, count(*) AS sz
        |  FROM bk GROUP BY band, bucket),
        |cand AS (SELECT DISTINCT g.id_a, o.doc_id AS id_b
        |  FROM grp g JOIN bk o ON o.band = g.band AND o.bucket = g.bucket
        |    AND o.doc_id > g.id_a
        |  WHERE g.sz BETWEEN 2 AND 200),
        |common AS (SELECT cand.id_a, cand.id_b, count(*) AS c
        |  FROM cand
        |  JOIN sh a ON a.doc_id = cand.id_a
        |  JOIN sh b ON b.doc_id = cand.id_b AND b.s = a.s
        |  GROUP BY 1, 2),
        |p AS (SELECT common.id_a, common.id_b FROM common
        |  JOIN sizes sa ON sa.doc_id = common.id_a
        |  JOIN sizes sb ON sb.doc_id = common.id_b
        |  WHERE c * 1000000 // (sa.n + sb.n - c) >= 600000),
        |edges(src, dst) AS (
        |  SELECT id_a, id_b FROM p UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
        |m AS (SELECT COALESCE(lab.label, d.doc_id) AS label, d.doc_id AS id,
        |    d.n_chars
        |  FROM documents d LEFT JOIN lab ON lab.id = d.doc_id),
        |rk AS (SELECT label, id, n_chars,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY n_chars DESC, id) AS rn,
        |    count(*) OVER (PARTITION BY label) AS nm
        |  FROM m)
        |SELECT CAST(label AS BIGINT) AS label, CAST(nm AS BIGINT) AS n_members,
        |  CAST(id AS BIGINT) AS keeper_id, CAST(n_chars AS BIGINT) AS keeper_score
        |FROM rk WHERE rn = 1 ORDER BY label""".stripMargin,

    "q_winnow" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 100),
        |sh AS (SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> struct_pack(pos := i,
        |      h := ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
        |        20, 13))::BIGINT))) AS s
        |  FROM toks),
        |flat AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM sh),
        |win AS (SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS c
        |  FROM flat)
        |SELECT DISTINCT doc_id, m AS fingerprint FROM win WHERE c = 4
        |ORDER BY doc_id, fingerprint""".stripMargin,

    "q_winnow_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 100),
        |sh AS (SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> struct_pack(pos := i,
        |      h := ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
        |        20, 13))::BIGINT))) AS s
        |  FROM toks),
        |flat AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM sh),
        |win AS (SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS c
        |  FROM flat),
        |fp AS (SELECT DISTINCT doc_id, m FROM win WHERE c = 4)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM fp a JOIN fp b ON a.m = b.m AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_minhash_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 2000),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard, TRUE AS covered
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q_simhash_containment" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 5)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, TRUE AS covered,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM d a JOIN d b ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    "q_minhash_incremental" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE (id_a % 10 = 0 OR id_b % 10 = 0)
        |  AND CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q_minhash_chain" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE (id_a % 10 = 5 OR id_b % 10 = 5)
        |  AND CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ann_lsh_portable" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |proj AS (SELECT vec_id, p,
        |    list_aggregate(list_transform(range(1, len(v) + 1),
        |      d -> v[d] * (CASE WHEN ('0x' || substr(
        |          md5(p::VARCHAR || ':' || (d - 1)::VARCHAR),
        |          20, 13))::BIGINT & 1 = 1
        |        THEN 1.0 ELSE -1.0 END)), 'sum') AS pr
        |  FROM e, range(0, 4) r(p)),
        |keys AS (SELECT vec_id, CAST(sum(
        |    CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
        |  AS BIGINT) AS bucket FROM proj GROUP BY vec_id),
        |ek AS (SELECT e.vec_id, e.v, k.bucket FROM e
        |  JOIN keys k USING (vec_id)),
        |q AS (SELECT * FROM ek WHERE vec_id < 5),
        |p2 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_inner_product(q.v, c.v) /
        |    (sqrt(list_inner_product(q.v, q.v)) *
        |     sqrt(list_inner_product(c.v, c.v))) AS sim
        |  FROM q JOIN ek c ON c.bucket = q.bucket
        |    AND c.vec_id <> q.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank FROM p2)
        |SELECT query_id, neighbor_id, rank, sim FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the occupancy census: same portable sign matrix, bucket counts +
    // the ppm share evidence as pure integer arithmetic
    "q_lsh_occupancy" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |proj AS (SELECT vec_id, p,
        |    list_aggregate(list_transform(range(1, len(v) + 1),
        |      d -> v[d] * (CASE WHEN ('0x' || substr(
        |          md5(p::VARCHAR || ':' || (d - 1)::VARCHAR),
        |          20, 13))::BIGINT & 1 = 1
        |        THEN 1.0 ELSE -1.0 END)), 'sum') AS pr
        |  FROM e, range(0, 4) r(p)),
        |keys AS (SELECT vec_id, CAST(sum(
        |    CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
        |  AS BIGINT) AS bucket FROM proj GROUP BY vec_id),
        |occ AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM keys GROUP BY bucket),
        |tot AS (SELECT CAST(max(n_vecs) AS BIGINT) AS max_bucket,
        |    CAST(sum(n_vecs) AS BIGINT) AS n_total FROM occ)
        |SELECT o.bucket, o.n_vecs, t.max_bucket,
        |  CAST(t.max_bucket * 1000000 // t.n_total AS BIGINT)
        |    AS max_share_ppm
        |FROM occ o, tot t
        |ORDER BY o.bucket""".stripMargin,

    // the clip census: fit on the standing 90%, census over the full
    // corpus — the same floor(x+0.5) rounding as q_ann_sq, compared
    // UNCLAMPED against the [0, 255] boundary
    "q_sq_clip_census" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |st AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
        |dims AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
        |mm AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        |  FROM st, dims GROUP BY i),
        |sc AS (SELECT i, mn,
        |    CASE WHEN mx - mn > 0 THEN (mx - mn) / 255.0 ELSE 1.0 END AS sl
        |  FROM mm),
        |cq AS (SELECT e.vec_id, c.i,
        |    CAST(floor((e.v[c.i] - c.mn) / c.sl + 0.5) AS BIGINT) AS q
        |  FROM e CROSS JOIN sc c),
        |cl AS (SELECT vec_id,
        |    max(CASE WHEN q < 0 OR q > 255 THEN 1 ELSE 0 END) AS clipped
        |  FROM cq GROUP BY vec_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(clipped) AS BIGINT) AS n_clipped,
        |  CAST(sum(clipped) * 1000000 // count(*) AS BIGINT) AS clip_ppm
        |FROM cl""".stripMargin,

    "q_sq_rebuild_census" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |dims AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
        |st AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
        |mms AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        |  FROM st, dims GROUP BY i),
        |scs AS (SELECT i, mn,
        |    CASE WHEN mx - mn > 0 THEN (mx - mn) / 255.0 ELSE 1.0 END AS sl
        |  FROM mms),
        |mmr AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        |  FROM e, dims GROUP BY i),
        |scr AS (SELECT i, mn,
        |    CASE WHEN mx - mn > 0 THEN (mx - mn) / 255.0 ELSE 1.0 END AS sl
        |  FROM mmr),
        |cls AS (SELECT e.vec_id,
        |    max(CASE WHEN CAST(floor((e.v[c.i] - c.mn) / c.sl + 0.5)
        |      AS BIGINT) NOT BETWEEN 0 AND 255 THEN 1 ELSE 0 END)
        |      AS clipped
        |  FROM e CROSS JOIN scs c GROUP BY e.vec_id),
        |clr AS (SELECT e.vec_id,
        |    max(CASE WHEN CAST(floor((e.v[c.i] - c.mn) / c.sl + 0.5)
        |      AS BIGINT) NOT BETWEEN 0 AND 255 THEN 1 ELSE 0 END)
        |      AS clipped
        |  FROM e CROSS JOIN scr c GROUP BY e.vec_id)
        |SELECT * FROM (
        |  SELECT 'stale' AS phase, CAST(count(*) AS BIGINT) AS n_vecs,
        |    CAST(sum(clipped) AS BIGINT) AS n_clipped,
        |    CAST(sum(clipped) * 1000000 // count(*) AS BIGINT) AS clip_ppm
        |  FROM cls
        |  UNION ALL
        |  SELECT 'rebuilt', CAST(count(*) AS BIGINT),
        |    CAST(sum(clipped) AS BIGINT),
        |    CAST(sum(clipped) * 1000000 // count(*) AS BIGINT)
        |  FROM clr)
        |ORDER BY phase""".stripMargin,

    // SQ8 is fully oracle-able with NO fixture: the min/max fit is exact
    // order-free arithmetic, encode is floor(x+0.5) (= Math.round) with
    // clamp, and the ADC fold replays as [base] ++ terms summed in index
    // order. Flipped from no_oracle in round 8.
    "q_ann_sq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |dims AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
        |mm AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        |  FROM e, dims GROUP BY i),
        |sc AS (SELECT i, mn,
        |    CASE WHEN mx - mn > 0 THEN (mx - mn) / 255.0 ELSE 1.0 END AS sl
        |  FROM mm),
        |cd AS (SELECT e.vec_id, c.i, least(255, greatest(0,
        |    CAST(floor((e.v[c.i] - c.mn) / c.sl + 0.5) AS BIGINT))) AS b
        |  FROM e CROSS JOIN sc c),
        |qb AS (SELECT q.vec_id AS query_id,
        |    list_aggregate(list(q.v[c.i] * c.mn ORDER BY c.i), 'sum')
        |      AS base
        |  FROM e q CROSS JOIN sc c WHERE q.vec_id < 5 GROUP BY q.vec_id),
        |nrm AS (SELECT vec_id, sqrt(list_inner_product(v, v)) AS nr
        |  FROM e),
        |ad AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |    list_aggregate(list_prepend(b.base,
        |      list(q.v[d.i] * c.sl * d.b ORDER BY d.i)), 'sum') AS dot
        |  FROM e q JOIN qb b ON b.query_id = q.vec_id
        |  CROSS JOIN cd d JOIN sc c ON c.i = d.i
        |  WHERE d.vec_id <> q.vec_id
        |  GROUP BY q.vec_id, d.vec_id, b.base),
        |ascore AS (SELECT a.query_id, a.neighbor_id,
        |    CASE WHEN qn.nr * cn.nr > 0
        |      THEN a.dot / (qn.nr * cn.nr) ELSE 0.0 END AS asim
        |  FROM ad a
        |  JOIN nrm qn ON qn.vec_id = a.query_id
        |  JOIN nrm cn ON cn.vec_id = a.neighbor_id),
        |short AS (SELECT query_id, neighbor_id FROM (SELECT query_id,
        |    neighbor_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY asim DESC, neighbor_id) AS rn FROM ascore)
        |  WHERE rn <= 20),
        |exact AS (SELECT s.query_id, s.neighbor_id,
        |    list_inner_product(qe.v, ce.v) /
        |    (sqrt(list_inner_product(qe.v, qe.v)) *
        |     sqrt(list_inner_product(ce.v, ce.v))) AS sim
        |  FROM short s
        |  JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ce ON ce.vec_id = s.neighbor_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank FROM exact)
        |SELECT query_id, neighbor_id, rank, sim FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // brute-force truth top-10 ⋈ fixture-centroid IVF run top-10, then
    // the scorecard: recall/MRR as exact divisions, nDCG as the same
    // ascending-rank `1/log2(rank+1)` fold as the engine (list_reduce
    // with no seed == Spark's 0.0-seeded fold bitwise, since 0.0 + x
    // is exact), quantized to ppb BIGINTs for the ulp gap.
    "q_retrieval_eval" ->
      s"""WITH $TruthRunCte,
        |mk AS (SELECT r.query_id, r.rank,
        |    CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END AS rel
        |  FROM run r LEFT JOIN truth t USING (query_id, neighbor_id)),
        |pr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_run,
        |    CAST(sum(rel) AS BIGINT) AS n_hits,
        |    min(CASE WHEN rel = 1 THEN rank END) AS fhr,
        |    COALESCE(list_reduce(
        |      list(CAST(1 AS DOUBLE) / log2(CAST(rank AS DOUBLE) + 1.0)
        |        ORDER BY rank) FILTER (rel = 1),
        |      (a, b) -> a + b), CAST(0 AS DOUBLE)) AS dcg
        |  FROM mk GROUP BY query_id),
        |pt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
        |  FROM truth GROUP BY query_id),
        |m AS (SELECT pt.query_id, pt.n_truth,
        |    COALESCE(pr.n_run, 0) AS n_run,
        |    COALESCE(pr.n_hits, 0) AS n_hits,
        |    CAST(COALESCE(pr.n_hits, 0) AS DOUBLE) / pt.n_truth AS recall,
        |    CASE WHEN pr.fhr IS NULL THEN CAST(0 AS DOUBLE)
        |         ELSE CAST(1 AS DOUBLE) / pr.fhr END AS mrr,
        |    COALESCE(pr.dcg, CAST(0 AS DOUBLE)) /
        |      list_reduce(list_transform(range(1, least(pt.n_truth, 10) + 1),
        |        i -> CAST(1 AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1.0)),
        |        (a, b) -> a + b) AS ndcg
        |  FROM pt LEFT JOIN pr USING (query_id))
        |SELECT query_id, n_truth, n_run, n_hits, recall, mrr,
        |  CAST(floor(ndcg * 1e9 + 0.5) AS BIGINT) AS ndcg_ppb
        |FROM m ORDER BY query_id""".stripMargin,

    // fixture-centroid IVF replay: same sequential (c-v)² accumulation,
    // same first-index-wins argmin (ORDER BY dist, cell), same
    // (sim DESC, neighbor_id) top-k tie rule as the engine.
    "q_ann_ivf_portable" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |    v AS c
        |  FROM e WHERE vec_id IN (0, 7, 14, 21, 28, 35, 42, 49)),
        |d AS (SELECT e.vec_id, c.cell,
        |    list_aggregate(list_transform(range(1, len(e.v) + 1),
        |      i -> (c.c[i] - e.v[i]) * (c.c[i] - e.v[i])), 'sum') AS dist
        |  FROM e CROSS JOIN cents c),
        |assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
        |      AS rn FROM d) WHERE rn = 1),
        |probes AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
        |      AS rn FROM d WHERE vec_id < 5) WHERE rn <= 3),
        |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
        |    list_inner_product(qe.v, ce.v) /
        |    (sqrt(list_inner_product(qe.v, qe.v)) *
        |     sqrt(list_inner_product(ce.v, ce.v))) AS sim
        |  FROM probes p
        |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
        |  JOIN e qe ON qe.vec_id = p.vec_id
        |  JOIN e ce ON ce.vec_id = a.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank FROM cand)
        |SELECT query_id, neighbor_id, rank, sim FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the IVF replay with the label predicate applied to candidates
    // between the posting-list probe and the rank window — the exact
    // SQL image of the post-filtering strategy.
    "q_ann_filtered" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |    v AS c
        |  FROM e WHERE vec_id IN (0, 7, 14, 21, 28, 35, 42, 49)),
        |d AS (SELECT e.vec_id, c.cell,
        |    list_aggregate(list_transform(range(1, len(e.v) + 1),
        |      i -> (c.c[i] - e.v[i]) * (c.c[i] - e.v[i])), 'sum') AS dist
        |  FROM e CROSS JOIN cents c),
        |assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
        |      AS rn FROM d) WHERE rn = 1),
        |probes AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
        |      AS rn FROM d WHERE vec_id < 5) WHERE rn <= 3),
        |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
        |    list_inner_product(qe.v, ce.v) /
        |    (sqrt(list_inner_product(qe.v, qe.v)) *
        |     sqrt(list_inner_product(ce.v, ce.v))) AS sim
        |  FROM probes p
        |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
        |  JOIN e qe ON qe.vec_id = p.vec_id
        |  JOIN e ce ON ce.vec_id = a.vec_id
        |  WHERE ce.label <= 4),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank FROM cand)
        |SELECT query_id, neighbor_id, rank, sim FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // OPQ replay: the permutation rotation is an exact element pick
    // (pv[i] = v[65−i]), then the PQ pipeline verbatim in rotated space
    // — encode, ADC, shortlist, and the rerank's rotated-order dot.
    "q_ann_opq_portable" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(range(1, 65),
        |      i -> CAST(embedding[65 - i] AS DOUBLE)) AS v
        |  FROM embeddings),
        |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
        |    v FROM e WHERE vec_id IN (3, 10, 17, 24, 31, 38, 45, 52)),
        |cb AS (SELECT sub, code, v[(sub * 16 + 1):(sub * 16 + 16)] AS c
        |  FROM seeds, range(0, 4) r(sub)),
        |enc0 AS (SELECT e.vec_id, b.sub, b.code,
        |    list_aggregate(list_transform(range(1, 17),
        |      j -> (b.c[j] - e.v[b.sub * 16 + j]) *
        |           (b.c[j] - e.v[b.sub * 16 + j])), 'sum') AS dist
        |  FROM e CROSS JOIN cb b),
        |codes AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, code) AS rn FROM enc0) WHERE rn = 1),
        |nrm2 AS (SELECT sub, code,
        |    list_aggregate(list_transform(c, x -> x * x), 'sum') AS n2
        |  FROM cb),
        |qtab AS (SELECT q.vec_id AS query_id, b.sub, b.code,
        |    list_aggregate(list_transform(range(1, 17),
        |      j -> b.c[j] * q.v[b.sub * 16 + j]), 'sum') AS dt
        |  FROM e q CROSS JOIN cb b WHERE q.vec_id < 5),
        |qn AS (SELECT vec_id AS query_id,
        |    sqrt(list_inner_product(v, v)) AS q_nrm
        |  FROM e WHERE vec_id < 5),
        |approx AS (SELECT t.query_id, c.vec_id AS neighbor_id,
        |    list_aggregate(list(t.dt ORDER BY t.sub), 'sum') AS dot,
        |    list_aggregate(list(n.n2 ORDER BY t.sub), 'sum') AS nn2
        |  FROM codes c
        |  JOIN qtab t ON t.sub = c.sub AND t.code = c.code
        |  JOIN nrm2 n ON n.sub = c.sub AND n.code = c.code
        |  WHERE c.vec_id <> t.query_id
        |  GROUP BY t.query_id, c.vec_id),
        |ascore AS (SELECT a.query_id, a.neighbor_id,
        |    CASE WHEN q.q_nrm * sqrt(a.nn2) > 0
        |      THEN a.dot / (q.q_nrm * sqrt(a.nn2)) ELSE 0.0 END AS asim
        |  FROM approx a JOIN qn q USING (query_id)),
        |short AS (SELECT query_id, neighbor_id FROM (SELECT query_id,
        |    neighbor_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY asim DESC, neighbor_id) AS rn FROM ascore)
        |  WHERE rn <= 20),
        |exact AS (SELECT s.query_id, s.neighbor_id,
        |    list_inner_product(qe.v, ce.v) /
        |    (sqrt(list_inner_product(qe.v, qe.v)) *
        |     sqrt(list_inner_product(ce.v, ce.v))) AS sim
        |  FROM short s
        |  JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ce ON ce.vec_id = s.neighbor_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank FROM exact)
        |SELECT query_id, neighbor_id, rank, sim FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // composed IVF-PQ replay: coarse argmin assignment, float-rounded
    // residual (CAST AS FLOAT), per-subspace argmin encode on the
    // residual, ADC fold seeded at the (query·centroid) dot, shortlist,
    // exact rerank.
    "q_ann_ivfpq_portable" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |    v AS c
        |  FROM e WHERE vec_id IN (0, 7, 14, 21, 28, 35, 42, 49)),
        |d AS (SELECT e.vec_id, c.cell,
        |    list_aggregate(list_transform(range(1, len(e.v) + 1),
        |      i -> (c.c[i] - e.v[i]) * (c.c[i] - e.v[i])), 'sum') AS dist
        |  FROM e CROSS JOIN cents c),
        |assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
        |      AS rn FROM d) WHERE rn = 1),
        |res AS (SELECT e.vec_id, a.cell,
        |    list_transform(range(1, 65), i ->
        |      CAST(CAST(e.v[i] - c.c[i] AS FLOAT) AS DOUBLE)) AS r
        |  FROM e JOIN assign a USING (vec_id)
        |  JOIN cents c ON c.cell = a.cell),
        |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
        |    v FROM e WHERE vec_id IN (3, 10, 17, 24, 31, 38, 45, 52)),
        |cb AS (SELECT sub, code, v[(sub * 16 + 1):(sub * 16 + 16)] AS c
        |  FROM seeds, range(0, 4) rr(sub)),
        |enc0 AS (SELECT t.vec_id, b.sub, b.code,
        |    list_aggregate(list_transform(range(1, 17),
        |      j -> (b.c[j] - t.r[b.sub * 16 + j]) *
        |           (b.c[j] - t.r[b.sub * 16 + j])), 'sum') AS dist
        |  FROM res t CROSS JOIN cb b),
        |codes AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, code) AS rn FROM enc0) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cell, qc_dot FROM (
        |  SELECT d.vec_id, d.cell, d.dist,
        |    list_aggregate(list_transform(range(1, 65),
        |      i -> c.c[i] * e.v[i]), 'sum') AS qc_dot,
        |    row_number() OVER (PARTITION BY d.vec_id
        |      ORDER BY d.dist, d.cell) AS rn
        |  FROM d JOIN cents c ON c.cell = d.cell
        |  JOIN e ON e.vec_id = d.vec_id
        |  WHERE d.vec_id < 5) WHERE rn <= 3),
        |qtab AS (SELECT q.vec_id AS query_id, b.sub, b.code,
        |    list_aggregate(list_transform(range(1, 17),
        |      j -> b.c[j] * q.v[b.sub * 16 + j]), 'sum') AS dt
        |  FROM e q CROSS JOIN cb b WHERE q.vec_id < 5),
        |nrm AS (SELECT vec_id, sqrt(list_inner_product(v, v)) AS nr
        |  FROM e),
        |ad AS (SELECT p.query_id, cv.vec_id AS neighbor_id,
        |    list_aggregate(list_prepend(p.qc_dot,
        |      list(t.dt ORDER BY t.sub)), 'sum') AS dot
        |  FROM probes p
        |  JOIN assign cv ON cv.cell = p.cell
        |    AND cv.vec_id <> p.query_id
        |  JOIN codes cd ON cd.vec_id = cv.vec_id
        |  JOIN qtab t ON t.query_id = p.query_id AND t.sub = cd.sub
        |    AND t.code = cd.code
        |  GROUP BY p.query_id, cv.vec_id, p.qc_dot),
        |ascore AS (SELECT a.query_id, a.neighbor_id,
        |    CASE WHEN qn.nr * cn.nr > 0
        |      THEN a.dot / (qn.nr * cn.nr) ELSE 0.0 END AS asim
        |  FROM ad a
        |  JOIN nrm qn ON qn.vec_id = a.query_id
        |  JOIN nrm cn ON cn.vec_id = a.neighbor_id),
        |short AS (SELECT query_id, neighbor_id FROM (SELECT query_id,
        |    neighbor_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY asim DESC, neighbor_id) AS rn FROM ascore)
        |  WHERE rn <= 20),
        |exact AS (SELECT s.query_id, s.neighbor_id,
        |    list_inner_product(qe.v, ce.v) /
        |    (sqrt(list_inner_product(qe.v, qe.v)) *
        |     sqrt(list_inner_product(ce.v, ce.v))) AS sim
        |  FROM short s
        |  JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ce ON ce.vec_id = s.neighbor_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank FROM exact)
        |SELECT query_id, neighbor_id, rank, sim FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // fixture-codebook PQ replay: per-subspace argmin encode, the ADC
    // dot/||c||² tables summed in subspace order, k·rerankFactor
    // shortlist, exact-cosine rerank — each stage the engine's exact
    // arithmetic.
    "q_ann_pq_portable" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
        |    v FROM e WHERE vec_id IN (3, 10, 17, 24, 31, 38, 45, 52)),
        |cb AS (SELECT sub, code, v[(sub * 16 + 1):(sub * 16 + 16)] AS c
        |  FROM seeds, range(0, 4) r(sub)),
        |enc0 AS (SELECT e.vec_id, b.sub, b.code,
        |    list_aggregate(list_transform(range(1, 17),
        |      j -> (b.c[j] - e.v[b.sub * 16 + j]) *
        |           (b.c[j] - e.v[b.sub * 16 + j])), 'sum') AS dist
        |  FROM e CROSS JOIN cb b),
        |codes AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, code) AS rn FROM enc0) WHERE rn = 1),
        |nrm2 AS (SELECT sub, code,
        |    list_aggregate(list_transform(c, x -> x * x), 'sum') AS n2
        |  FROM cb),
        |qtab AS (SELECT q.vec_id AS query_id, b.sub, b.code,
        |    list_aggregate(list_transform(range(1, 17),
        |      j -> b.c[j] * q.v[b.sub * 16 + j]), 'sum') AS dt
        |  FROM e q CROSS JOIN cb b WHERE q.vec_id < 5),
        |qn AS (SELECT vec_id AS query_id,
        |    sqrt(list_inner_product(v, v)) AS q_nrm
        |  FROM e WHERE vec_id < 5),
        |approx AS (SELECT t.query_id, c.vec_id AS neighbor_id,
        |    list_aggregate(list(t.dt ORDER BY t.sub), 'sum') AS dot,
        |    list_aggregate(list(n.n2 ORDER BY t.sub), 'sum') AS nn2
        |  FROM codes c
        |  JOIN qtab t ON t.sub = c.sub AND t.code = c.code
        |  JOIN nrm2 n ON n.sub = c.sub AND n.code = c.code
        |  WHERE c.vec_id <> t.query_id
        |  GROUP BY t.query_id, c.vec_id),
        |ascore AS (SELECT a.query_id, a.neighbor_id,
        |    CASE WHEN q.q_nrm * sqrt(a.nn2) > 0
        |      THEN a.dot / (q.q_nrm * sqrt(a.nn2)) ELSE 0.0 END AS asim
        |  FROM approx a JOIN qn q USING (query_id)),
        |short AS (SELECT query_id, neighbor_id FROM (SELECT query_id,
        |    neighbor_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY asim DESC, neighbor_id) AS rn FROM ascore)
        |  WHERE rn <= 20),
        |exact AS (SELECT s.query_id, s.neighbor_id,
        |    list_inner_product(qe.v, ce.v) /
        |    (sqrt(list_inner_product(qe.v, qe.v)) *
        |     sqrt(list_inner_product(ce.v, ce.v))) AS sim
        |  FROM short s
        |  JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ce ON ce.vec_id = s.neighbor_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank FROM exact)
        |SELECT query_id, neighbor_id, rank, sim FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_hybrid_rrf" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x != '')) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |  FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |avg_dl AS (SELECT CAST((SELECT COALESCE(sum(dl), 0) FROM dl) AS DOUBLE)
        |    / (SELECT n FROM n) AS avgdl),
        |td AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS dfr,
        |    ln((CAST(((SELECT n FROM n) - count(*)) AS DOUBLE) + 0.5) /
        |       (CAST(count(*) AS DOUBLE) + 0.5) + 1.0) AS idf
        |  FROM td GROUP BY token),
        |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(list_distinct(
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x != '')[1:5])) AS token
        |  FROM documents WHERE doc_id < 5),
        |contrib AS (SELECT q.query_id, d.doc_id, d.token,
        |    f.idf * (CAST(d.tf AS DOUBLE) * 2.2) /
        |      (CAST(d.tf AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl)) AS c
        |  FROM qt q
        |  JOIN td d USING (token)
        |  JOIN dfreq f USING (token)
        |  JOIN dl l USING (doc_id), avg_dl s),
        |sagg AS (SELECT query_id, doc_id,
        |    list_aggregate(list(c ORDER BY token), 'sum') AS score
        |  FROM contrib GROUP BY 1, 2),
        |sarm AS (SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM sagg QUALIFY rank <= 20),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dq AS (SELECT * FROM e WHERE vec_id < 5),
        |p AS (SELECT dq.vec_id AS query_id, c.vec_id AS doc_id,
        |    list_inner_product(dq.v, c.v) /
        |    (sqrt(list_inner_product(dq.v, dq.v)) *
        |     sqrt(list_inner_product(c.v, c.v))) AS sim
        |  FROM dq JOIN e c ON c.vec_id <> dq.vec_id),
        |darm AS (SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
        |  FROM p QUALIFY rank <= 20),
        |arms AS (SELECT 0 AS arm, query_id, doc_id, rank FROM sarm
        |  UNION ALL SELECT 1, query_id, doc_id, rank FROM darm),
        |fused AS (SELECT query_id, doc_id,
        |    list_aggregate(list(1.0 / (60.0 + CAST(rank AS DOUBLE))
        |      ORDER BY arm), 'sum') AS rrf,
        |    CAST(count(*) AS BIGINT) AS n_arms
        |  FROM arms GROUP BY 1, 2)
        |SELECT query_id, doc_id, rrf, n_arms,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank
        |FROM fused QUALIFY fused_rank <= 10
        |ORDER BY query_id, fused_rank""".stripMargin,

    "q_minhash_portable" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 500),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM toks),
        |hx AS (SELECT doc_id, seed,
        |    min(('0x' || substr(md5(seed::VARCHAR || '|' || s), 20, 13))::BIGINT) AS h
        |  FROM sh, range(0, 8) r(seed) GROUP BY doc_id, seed),
        |bk AS (SELECT doc_id, seed // 2 AS band,
        |    string_agg(h::VARCHAR, ',' ORDER BY seed) AS bucket
        |  FROM hx GROUP BY doc_id, seed // 2),
        |bsz AS (SELECT band, bucket, count(*) AS sz FROM bk GROUP BY 1, 2),
        |ok AS (SELECT bk.doc_id, bk.band, bk.bucket FROM bk
        |  JOIN bsz USING (band, bucket) WHERE sz <= 200)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS n_bands_matched
        |FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket
        |  AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin,

    "q_cdc_chunks" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, s.t AS t, s.tok AS tok FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |    i -> struct_pack(t := i, tok := w[i]))) AS s FROM toks)),
        |cut AS (SELECT doc_id, s.e AS e, s.cut AS cut FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> struct_pack(e := i + 2,
        |      cut := CASE WHEN ('0x' || substr(
        |          md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
        |          20, 13))::BIGINT % 8 = 0 THEN 1 ELSE 0 END))) AS s
        |  FROM toks)),
        |marked AS (SELECT tok.doc_id, tok.t, tok.tok,
        |    COALESCE(cut.cut, 0) AS cut
        |  FROM tok LEFT JOIN cut
        |    ON cut.doc_id = tok.doc_id AND cut.e = tok.t),
        |chunked AS (SELECT doc_id, t, tok,
        |    COALESCE(sum(cut) OVER (PARTITION BY doc_id ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS chunk_id
        |  FROM marked)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(min(t) AS BIGINT) AS start_pos,
        |  CAST(max(t) AS BIGINT) AS end_pos,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY t)),
        |    20, 13))::BIGINT AS chunk_hash
        |FROM chunked GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q_cdc_fragments" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 500),
        |tok AS (SELECT doc_id, s.t AS t, s.tok AS tok FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |    i -> struct_pack(t := i, tok := w[i]))) AS s FROM toks)),
        |cut AS (SELECT doc_id, s.e AS e, s.cut AS cut FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> struct_pack(e := i + 2,
        |      cut := CASE WHEN ('0x' || substr(
        |          md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
        |          20, 13))::BIGINT % 8 = 0 THEN 1 ELSE 0 END))) AS s
        |  FROM toks)),
        |marked AS (SELECT tok.doc_id, tok.t, tok.tok,
        |    COALESCE(cut.cut, 0) AS cut
        |  FROM tok LEFT JOIN cut
        |    ON cut.doc_id = tok.doc_id AND cut.e = tok.t),
        |chunked AS (SELECT doc_id, t, tok,
        |    COALESCE(sum(cut) OVER (PARTITION BY doc_id ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS chunk_id
        |  FROM marked),
        |chunks AS (SELECT doc_id, chunk_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY t)),
        |      20, 13))::BIGINT AS chunk_hash
        |  FROM chunked GROUP BY doc_id, chunk_id)
        |SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(min(n_tokens) AS BIGINT) AS n_tokens
        |FROM chunks WHERE n_tokens >= 2
        |GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY chunk_hash""".stripMargin,

    "q_cdc_strip" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 200),
        |tok AS (SELECT doc_id, s.t AS t, s.tok AS tok FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |    i -> struct_pack(t := i, tok := w[i]))) AS s FROM toks)),
        |cut AS (SELECT doc_id, s.e AS e, s.cut AS cut FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> struct_pack(e := i + 2,
        |      cut := CASE WHEN ('0x' || substr(
        |          md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
        |          20, 13))::BIGINT % 8 = 0 THEN 1 ELSE 0 END))) AS s
        |  FROM toks)),
        |marked AS (SELECT tok.doc_id, tok.t, tok.tok,
        |    COALESCE(cut.cut, 0) AS cut
        |  FROM tok LEFT JOIN cut
        |    ON cut.doc_id = tok.doc_id AND cut.e = tok.t),
        |chunked AS (SELECT doc_id, t, tok,
        |    COALESCE(sum(cut) OVER (PARTITION BY doc_id ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS chunk_id
        |  FROM marked),
        |chunks AS (SELECT doc_id, chunk_id, count(*) AS n_tokens,
        |    ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY t)),
        |      20, 13))::BIGINT AS chunk_hash
        |  FROM chunked GROUP BY doc_id, chunk_id),
        |keep AS (SELECT doc_id, chunk_id FROM (
        |    SELECT doc_id, chunk_id, n_tokens, row_number() OVER (
        |      PARTITION BY chunk_hash ORDER BY doc_id, chunk_id) AS occ
        |    FROM chunks) WHERE occ = 1 OR n_tokens < 2),
        |kept AS (SELECT c.doc_id, c.t, c.tok, c.chunk_id
        |  FROM chunked c JOIN keep USING (doc_id, chunk_id)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_kept,
        |    CAST(count(DISTINCT chunk_id) AS BIGINT) AS n_chunks_kept,
        |    string_agg(tok, ' ' ORDER BY t) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(a.n_tokens_kept, 0) AS n_tokens_kept,
        |  COALESCE(a.n_chunks_kept, 0) AS n_chunks_kept,
        |  COALESCE(a.text, '') AS text
        |FROM (SELECT DISTINCT doc_id FROM toks) d
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_simhash_portable" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents WHERE doc_id < 200),
        |th AS (SELECT doc_id,
        |    ('0x' || substr(md5(t), 20, 13))::BIGINT AS h FROM toks),
        |votes AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v
        |  FROM th, range(0, 52) r(b) GROUP BY doc_id, b)
        |SELECT doc_id, CAST(sum(
        |    CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
        |  AS BIGINT) AS simhash52
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id < 100),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w) - 1, 1)),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.02
        |ORDER BY id_a, id_b""".stripMargin
  )
}
