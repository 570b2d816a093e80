package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** ExactSubstr-style duplicate-substring detection (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better"): find
  * every maximal character span of length ≥ `minLen` that occurs at
  * two or more positions anywhere in the corpus, then account for (or
  * strip) the covered text per document.
  *
  * The paper builds one giant suffix array; the relational reduction
  * is exact and shuffles far less: a span of length ≥ L is duplicated
  * iff every fixed-length L-gram inside it is duplicated, so
  * duplicated-span detection ≡ "which L-gram start positions have a
  * gram occurring ≥ `minOcc` times", followed by a per-document merge
  * of the (equal-length, hence sorted-by-end) surviving intervals.
  *
  * Scale shape for 100 TB:
  *   - stage 1 groups positions by the 8-byte `xxhash64` of the gram —
  *     map-side combined, so the shuffle carries one (hash, partial
  *     count) row per DISTINCT gram per partition, never L raw chars
  *     per corpus position;
  *   - stage 2 re-keys only the CANDIDATE positions (those whose hash
  *     survived) by the real gram string to confirm — hash collisions
  *     can only create candidates, never drop a true duplicate, and
  *     the confirm join touches the duplicated sliver, not the corpus;
  *   - the interval merge is one window pass keyed by doc id, sort
  *     bounded by per-document duplicated-position count.
  *
  * Unlike [[Dedup.winnowFingerprints]] (sampled sketch, probabilistic
  * localization) and [[CorpusOps.dupSpans]] (per-position word-gram
  * accounting), this returns the exact MAXIMAL character intervals the
  * suffix-array method returns.
  */
object SuffixDedup {

  /** Maximal duplicated spans `(doc_id, span_start, span_len,
    * n_positions)`: `span_start` is 1-based, spans are disjoint per
    * document, every span has `span_len >= minLen`, and `n_positions`
    * counts the duplicated L-gram start positions merged into the span.
    * A gram is duplicated when it occurs at ≥ `minOcc` positions
    * corpus-wide (two occurrences inside one document count — the
    * paper's within-doc repeats are duplicates too).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, minOcc: Long = 2L): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(minOcc >= 2L, s"minOcc must be >= 2, got $minOcc")
    mergeSpans(
      duplicatedPositions(docs, idCol, textCol, minLen, minOcc), minLen)
  }

  /** Like [[duplicatedSpans]], but under the paper's KEEP-FIRST policy:
    * the globally first occurrence of each duplicated gram (smallest
    * `(doc_id, pos)`) is not a removal candidate, so the returned spans
    * cover only the REDUNDANT copies — strip them and each duplicated
    * substring survives in the corpus. Caveat (shared with the
    * ExactSubstr paper's suffix-array variant): when occurrences
    * OVERLAP — including a string overlapping itself, e.g. text `aaaa`
    * with L=3 keeps `[1,3]` but strips the overlapping `[2,4]` —
    * stripping a redundant span may truncate part of the retained
    * first copy, so overlapping duplicates are not guaranteed to
    * survive byte-intact.
    */
  def redundantSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, minOcc: Long = 2L): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(minOcc >= 2L, s"minOcc must be >= 2, got $minOcc")
    mergeSpans(
      duplicatedPositions(docs, idCol, textCol, minLen, minOcc)
        .filter(col("occ") >= 2), minLen)
  }

  /** Merge equal-length hit intervals into maximal disjoint spans.
    * Equal-length intervals sorted by start are sorted by end too, so
    * the classic running-max-of-end island rule degenerates to "break
    * when the gap to the previous start exceeds L" (lag = null on the
    * first row → otherwise-branch → new island).
    */
  private def mergeSpans(hits: DataFrame, minLen: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= minLen, lit(0))
          .otherwise(lit(1)))
      .withColumn("__island", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(
        min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(minLen))
          .cast(LongType).as("span_len"),
        count(lit(1)).as("n_positions"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_positions"))
  }

  /** Per-document strip accounting `(doc_id, n_chars, n_spans,
    * covered_chars, kept_chars)`. With `keepFirst = false` (default)
    * every occurrence of a duplicated substring counts as covered (the
    * conservative remove-all variant); with `keepFirst = true` only
    * the REDUNDANT copies from [[redundantSpans]] do (the paper's
    * policy — each duplicated substring survives once). Spans are
    * disjoint either way, so covered = Σ span_len exactly; documents
    * with no covered span pass through with zeros.
    */
  def stripStats(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, minOcc: Long = 2L,
      keepFirst: Boolean = false): DataFrame = {
    val spans =
      if (keepFirst) redundantSpans(docs, idCol, textCol, minLen, minOcc)
      else duplicatedSpans(docs, idCol, textCol, minLen, minOcc)
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__ns"), sum(col("span_len")).as("__cov"))
    docs
      .select(col(idCol).as("doc_id"),
        length(col(textCol)).cast(LongType).as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("__ns"), lit(0L)).as("n_spans"),
        coalesce(col("__cov"), lit(0L)).as("covered_chars"),
        (col("n_chars") - coalesce(col("__cov"), lit(0L))).as("kept_chars"))
  }

  /** The deduplicated corpus itself: each document's text with its
    * covered spans REMOVED — `(doc_id, kept_text, kept_chars)`. Under
    * `keepFirst` (the production policy) each duplicated substring
    * survives exactly once corpus-wide; otherwise every occurrence is
    * cut. Span-free documents pass through verbatim; fully-covered
    * documents yield the empty string (filter on `kept_chars` to drop
    * them).
    *
    * The surgery is ONE expression per document: spans collect into a
    * sorted per-doc array (bounded by doc length / L), and the kept
    * text is the concatenation of the n+1 gap substrings around n
    * spans — no per-segment row explosion, no extra pass over the
    * span subtree.
    */
  def stripText(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, minOcc: Long = 2L,
      keepFirst: Boolean = false): DataFrame = {
    val spans =
      if (keepFirst) redundantSpans(docs, idCol, textCol, minLen, minOcc)
      else duplicatedSpans(docs, idCol, textCol, minLen, minOcc)
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"),
        (col("span_start") + col("span_len") - 1).as("e")))).as("__sp"))
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        length(col(textCol)).cast(LongType).as("__n"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("__sp",
        coalesce(col("__sp"), expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)")))
      .withColumn("kept_text", expr(
        """array_join(transform(sequence(0, size(__sp)), i -> substring(__t,
          |  CASE WHEN i = 0 THEN 1L ELSE element_at(__sp, i).e + 1L END,
          |  greatest(0L,
          |    (CASE WHEN i = size(__sp) THEN __n
          |          ELSE element_at(__sp, i + 1).s - 1L END)
          |    - (CASE WHEN i = 0 THEN 1L
          |            ELSE element_at(__sp, i).e + 1L END) + 1L))), '')"""
          .stripMargin))
      .select(col("doc_id"), col("kept_text"),
        length(col("kept_text")).cast(LongType).as("kept_chars"))
  }

  /** Materialized gram index of a corpus: `(h, n_occ)`, one TWO-LONGS
    * row per distinct gram-hash with its corpus-wide occurrence count —
    * the [[familyIndex]] hash-only shape (r14 verdict #1: through r14
    * this index carried the 25-char gram STRING beside the hash, and at
    * sf1 d90 the string exchange was 28 s of the 31.6 s composite; keying
    * the standing state on `xxhash64(gram)` alone accepts the same
    * documented ~2⁻⁶⁴-per-gram-pair collision class the span pre-cap
    * and [[familyIndex]] already accept — a collision can only MERGE two
    * grams' counts, inflating a candidate that the probe then treats as
    * duplicated, never dropping a true duplicate... and for this index
    * the inflation IS the accepted error, since no exact-confirm string
    * survives to re-split the bucket). Build cost is one 8-byte-key
    * map-side-combined exchange over the zero-allocation
    * [[graft.expressions.GramHashes]] scan; no gram string is ever
    * allocated. The 100 TB shape: write it once partitioned by a band
    * of `h` (e.g. `pmod(h, 1024)`), and [[incrementalSpans]]' probe join
    * prunes to matching bands instead of re-scanning the corpus — the
    * same index-once/probe-increment contract as `Dedup.minhashIndex`.
    */
  def suffixIndex(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    gramHashes(docs, idCol, textCol, minLen)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"))
  }

  /** Duplicated spans of a NEW batch against an existing corpus
    * [[suffixIndex]] — the daily-increment shape: a batch position is
    * duplicated when its gram's batch count plus indexed corpus count
    * reaches `minOcc`, so the result equals [[duplicatedSpans]] over
    * corpus + batch RESTRICTED to batch documents, without touching
    * corpus text (the index is scanned, the corpus never re-grammed),
    * modulo the index's documented ~2⁻⁶⁴ hash-merge class. Batch and
    * corpus id spaces must be disjoint, and the batch must be
    * increment-sized: its distinct hash set (8 bytes per key) is
    * BROADCAST against the index, and that contract is ENFORCED, not
    * comment-only — the key count is counted off the checkpointed key
    * frame (no recompute) and a batch past `maxBatchKeys` fails loudly
    * with the re-index advice instead of dying in a driver-OOM
    * broadcast (r14 advice: the old left join silently degraded to a
    * corpus-index shuffle; the guard keeps the failure mode explicit).
    */
  def incrementalSpans(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, minLen: Int, minOcc: Long = 2L,
      maxBatchKeys: Long = 10000000L): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(minOcc >= 2L, s"minOcc must be >= 2, got $minOcc")
    incrementalSpansFromCounts(batch, idCol, textCol,
      batchGramCounts(batch, idCol, textCol, minLen).localCheckpoint(true),
      index, minLen, minOcc, maxBatchKeys)
  }

  /** The batch's own [[suffixIndex]] — `(h, n_occ)`, key grain. Exposed
    * inside the package so [[SuffixStore.processBatch]] computes it
    * ONCE (checkpointed) and feeds BOTH the probe
    * ([[incrementalSpansFromCounts]]) and the segment append: through
    * r17 the store paid a second full gram scan + count exchange to
    * re-derive exactly this frame for the write (r17 verdict #3 — the
    * key-grain fusion; the position-grain variant was tried in r17 and
    * measured worse, this frame is the aggregated one).
    */
  private[operators] def batchGramCounts(batch: DataFrame, idCol: String,
      textCol: String, minLen: Int): DataFrame =
    suffixIndex(batch, idCol, textCol, minLen)

  /** [[incrementalSpans]] with the batch's key-grain gram counts
    * precomputed (and expected EAGER — the guard below counts them).
    *
    * Shuffle shape (r18, guide §2.3/§2.4): the r17 form ran a
    * count-over-window BY HASH across the batch's full position-grain
    * gram stream — an exchange + sort of every position — plus a
    * separate distinct-keys exchange for the broadcast guard. The
    * duplicated/not decision only needs KEY-grain counts, so it now
    * rides the map-side-combined `groupBy(h)` frame, and positions
    * never shuffle at all: the duplicated key set (batch count +
    * broadcast-pruned corpus count >= minOcc, batch-scale by the
    * `maxBatchKeys` contract) broadcasts back against a second
    * zero-allocation gram scan, so the only position-grain exchange
    * left is [[mergeSpans]]' by-doc window over the duplicated SLIVER.
    * One key-grain exchange replaces two position/key exchanges; the
    * extra text scan is the trade (in-place byte scan, no shuffle).
    */
  private[operators] def incrementalSpansFromCounts(batch: DataFrame,
      idCol: String, textCol: String, bcounts: DataFrame,
      index: DataFrame, minLen: Int, minOcc: Long,
      maxBatchKeys: Long): DataFrame = {
    val nKeys = bcounts.count()
    require(nKeys <= maxBatchKeys,
      s"incrementalSpans: batch carries $nKeys distinct gram hashes > " +
        s"maxBatchKeys=$maxBatchKeys — this batch is not increment-sized " +
        "relative to the broadcast budget; re-run duplicatedSpans over " +
        "corpus + batch and re-index instead (or raise maxBatchKeys " +
        "deliberately if the driver can hold the broadcast)")
    // corpus counts relevant to the batch: stream the standing index
    // through a BROADCAST inner join on the batch hash set — the index
    // is scanned map-side, never shuffled (a direct left join against
    // the index cannot broadcast its left side, so it was shuffling
    // the corpus-sized index per probe — exactly the cost the index
    // exists to avoid; r14). Hash-only keys since r15: the broadcast
    // carries 8 bytes/key, never 25-char gram strings. Summed per hash
    // AFTER the batch-key prune: occurrence counts are mergeable, so a
    // SEGMENTED store ([[SuffixStore]] — one suffixIndex per ingest
    // batch) probes through the same code path as the canonical
    // one-row-per-hash index.
    val cHits = index.select(col("h"), col("n_occ"))
      .join(broadcast(bcounts.select(col("h"))), Seq("h"))
      .groupBy(col("h"))
      .agg(sum(col("n_occ")).as("n_occ"))
    val dupKeys = bcounts.select(col("h"), col("n_occ").as("__nb"))
      .join(cHits, Seq("h"), "left")
      .filter(col("__nb") + coalesce(col("n_occ"), lit(0L)) >= minOcc)
      .select(col("h"))
    val hits = gramHashes(batch, idCol, textCol, minLen)
      .join(broadcast(dupKeys), Seq("h"))
      .select(col("doc_id"), col("pos"))
    mergeSpans(hits, minLen)
  }

  /** Document pairs `(id_a, id_b, n_shared)` connected by at least one
    * duplicated gram — the edge list behind template-FAMILY resolution
    * (feed it to `Dedup.connectedComponents`; a boilerplate header
    * shared by 500 docs makes them one family even though no two are
    * whole-document near-dups).
    *
    * Same two-stage shape as span detection, then pairing follows the
    * `Dedup.winnowPairs` recipe: per gram the DISTINCT doc list,
    * bucket-capped at `maxDocsPerGram` — a gram shared by more
    * documents than the cap (universal boilerplate) is EXCLUDED rather
    * than exploded into O(n²) pairs (and the exclusion is loud:
    * [[Dedup.observeCaps]] WARNs with the over-cap bucket count);
    * lower the gram length or raise the cap deliberately, never
    * implicitly.
    *
    * Shuffle shape: the string-carrying exchange happens ONCE —
    * distinct `(gram, doc)` postings aggregate into per-hash buckets
    * keyed by the 8-byte `h` (`collect_set` partials dedup repeats
    * map-side), and the exact-gram split into per-gram doc lists
    * happens INSIDE the (one gram per hash, barring 64-bit collisions)
    * bucket with array expressions — no window sort. A MANDATORY
    * hash-only corpus pass first (the zero-allocation
    * [[graft.expressions.GramHashes]] kernel, 8-byte rows, map-side
    * deduped `(h, doc)` → per-hash distinct-doc counts) drops every
    * singleton gram AND every bucket past the cap, so the cap is
    * enforced BEFORE any agg buffer fills: the `collect_set` buffer is
    * bounded by `maxDocsPerGram` DISTINCT DOCS per hash — i.e.
    * ≤ (#colliding grams in the bucket) × cap structs; single-gram
    * buckets (the non-collision case, effectively all of them under
    * xxhash64) are ≤ cap structs — never by the most-shared gram's
    * true doc count. (Through r11 the cap filtered AFTER the
    * collect — a boilerplate gram present in 10M docs would have built
    * a 10M-struct buffer in one aggregation task; the pre-cap closes
    * that executor-OOM path, which is why the formerly optional
    * `prefilter` flag is gone: the count pass is now load-bearing for
    * memory safety, not just a pruning optimization.) The pre-cap
    * keeps hash buckets with distinct-doc count ≤ cap EXACTLY — a
    * hash's distinct-doc count equals its single gram's barring 64-bit
    * collisions, so the bound is the per-gram cap itself. Collision
    * trade (accepted r12 at >2×cap, extended r13 to >cap): a 64-bit
    * collision whose MERGED distinct-doc count exceeds the cap drops
    * BOTH grams' postings even when one is legitimately under-cap —
    * probability ~2⁻⁶⁴ per gram pair, loud via the observation. The
    * r12 shape kept (cap, 2×cap] as collision headroom; the r13 sf1
    * soak measured that headroom shuffling + collecting 1.08M doomed
    * buckets (10× the useful posting volume at replica densities just
    * past the cap), ALL discarded by the downstream exact per-gram
    * filter — a bad buy against a ~2⁻⁶⁴ event, so the headroom is
    * gone and the buffer bound halves. The downstream
    * `size(ds) <= maxDocsPerGram` filter still decides per-GRAM for
    * every bucket that arrives. Only the duplicated under-cap
    * sliver's strings ever cross the wire; the bucket `groupBy(h)`
    * reuses the join's clustering.
    *
    * Edge generation is STAR by default (`starEdges = true`): each doc
    * in a gram's list pairs with the list's MIN doc_id only — O(size)
    * edges per gram instead of O(size²), the
    * [[Dedup.starCandidateEdges]] sparsification back-ported. Connected
    * components over star edges are IDENTICAL to components over
    * all-pairs (every member reaches the min, so the gram's whole doc
    * list stays one component — StarVsAllPairsSpec pins the equality);
    * at the 1000-doc cap that's 999 edge rows per boilerplate gram
    * instead of 499,500 through the one string-free exchange. Set
    * `starEdges = false` only when the exhaustive PAIR LIST itself is
    * the product; `n_shared` counts shared grams per emitted edge in
    * both modes.
    */
  def spanPairs(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, maxDocsPerGram: Int = 1000,
      starEdges: Boolean = true): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxDocsPerGram >= 2,
      s"maxDocsPerGram must be >= 2, got $maxDocsPerGram")
    cappedPostings(docs, idCol, textCol, minLen, maxDocsPerGram)
      .groupBy(col("h")) // reuses the pre-cap join's clustering
      .agg(collect_set(struct(col("gram"), col("doc_id"))).as("__items"))
      .filter(size(col("__items")) >= 2)
      .select(explode(expr(
        s"""filter(
           |  transform(array_distinct(transform(__items, x -> x.gram)),
           |    gg -> array_sort(transform(
           |      filter(__items, x -> x.gram = gg), x -> x.doc_id))),
           |  ds -> size(ds) >= 2 AND size(ds) <= $maxDocsPerGram)"""
          .stripMargin)).as("__ids"))
      .select(
        (if (starEdges) col("__ids")(0) else explode(col("__ids")))
          .as("id_a"),
        col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Standing TEMPLATE-FAMILY index of a corpus — the
    * index-once/probe-increment treatment ([[graft.operators.Dedup
    * .minhashIndex]] pattern) for the suffix-family chain, so a daily
    * batch never re-runs [[spanPairs]] + connected components over the
    * whole corpus (r13 verdict #1: `q_family_split` was the costliest
    * registry line at every SF because families were recomputed
    * corpus-wide per run).
    *
    * One row per `(h, doc)` posting — `h` the kernel's 64-bit
    * `xxhash64(gram)`; the gram STRING never enters the index (keying
    * the standing state on the hash is the same documented ~2⁻⁶⁴
    * collision class [[spanPairs]]' pre-cap already accepts, and it
    * shrinks every index row to three longs) — for grams whose
    * corpus-wide DISTINCT-DOC count `n_docs` is within
    * `[1, maxDocsPerGram]`, plus ONE `doc_id = null` marker row per
    * OVER-CAP gram carrying its count: the probe needs the frozen cap
    * decision (a gram over-cap in the corpus alone must stay excluded
    * from batch pairing — with the marker absent, a batch would see
    * count 0 and happily pair on universal boilerplate). Singleton
    * grams (`n_docs = 1`) keep their posting: one more occurrence in a
    * batch makes a real pair.
    *
    * 100 TB shape: write once `partitionBy(pmod(h, nBands))`; the
    * probe join ([[incrementalFamilies]]) broadcasts the BATCH hash
    * set against this index, so the corpus is never re-grammed and the
    * index is never shuffled — scanned only. Build cost is ONE
    * 16-byte-row exchange + one sort over the corpus gram-hash stream
    * (the in-place [[graft.expressions.GramHashes]] scan allocates no
    * gram strings at all; the inherent materialize-once price, probes
    * amortize it).
    */
  def familyIndex(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, maxDocsPerGram: Int = 1000): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxDocsPerGram >= 2,
      s"maxDocsPerGram must be >= 2, got $maxDocsPerGram")
    // ONE exchange, ONE sort, ONE pass (r14; the original
    // groupBy+self-join shape shuffled 25-char gram strings three
    // times and was the registry's costliest line at sf0.1):
    // - the explicit h repartition satisfies the duplicate drop's
    //   ClusteredDistribution((h, doc_id)) — partitioning on a key
    //   subset co-locates every group — and both windows';
    // - the row_number sort on (h, doc_id) is a superset of the count
    //   window's (h) requirement, so the planner reuses it;
    // - over-cap grams collapse to their one marker row via rn = 1
    //   IN the same pass (no union branch re-deriving the gram
    //   stream, no marker distinct).
    val byH = Window.partitionBy("h")
    gramHashes(docs, idCol, textCol, minLen)
      .select(col("h"), col("doc_id"))
      .repartition(col("h"))
      .dropDuplicates("h", "doc_id")
      .withColumn("__rn", row_number().over(byH.orderBy("doc_id")))
      .withColumn("n_docs", count(lit(1)).over(byH))
      .filter(col("n_docs") <= maxDocsPerGram || col("__rn") === 1)
      .select(col("h"),
        when(col("n_docs") <= maxDocsPerGram, col("doc_id"))
          .otherwise(lit(null).cast(LongType)).as("doc_id"),
        col("n_docs"))
  }

  /** One-shot template-family resolution over a corpus: min-label
    * connected components over "shares a duplicated `minLen`-gram"
    * edges — [[spanPairs]] + CC's result, computed on the HASH-ONLY
    * path (the [[familyIndex]] shape without the standing-state rows):
    * in-place gram-hash scan, ONE 16-byte-row exchange + one sort,
    * per-hash distinct-doc window count, `[2, cap]` filter BEFORE the
    * star-edge `collect_set` (buffer hard-bounded by the cap), CC.
    * Gram strings never materialize anywhere. Identical to the
    * spanPairs chain except under a real 64-bit collision (~2⁻⁶⁴, the
    * documented class — spanPairs' own pre-cap already drops whole
    * hash buckets); over-cap drops stay loud via [[Dedup.observeCaps]].
    * Prefer this for whole-corpus family queries; use
    * [[spanPairs]] when the pair LIST (or `n_shared`) is the product.
    */
  def suffixFamilies(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, maxDocsPerGram: Int = 1000): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxDocsPerGram >= 2,
      s"maxDocsPerGram must be >= 2, got $maxDocsPerGram")
    val counted = gramHashes(docs, idCol, textCol, minLen)
      .select(col("h"), col("doc_id"))
      .repartition(col("h"))
      .dropDuplicates("h", "doc_id")
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("h")))
    val edges = Dedup.observeCaps(counted, "n_docs", maxDocsPerGram,
        "suffixFamilies")
      .filter(col("n_docs") >= 2 && col("n_docs") <= maxDocsPerGram)
      .groupBy(col("h"))
      .agg(collect_set(col("doc_id")).as("__ds"))
      .select(array_min(col("__ds")).as("id_a"),
        explode(col("__ds")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // star sparsification + cap bound the edge list well below the doc
    // count, so the bounded components path (guarded driver union-find,
    // distributed fallback past the cap) is the right default strategy
    // — the same adaptive chooser a broadcast-vs-shuffle join uses.
    // eagerInput: corpus-scale edge derivation — the fallback must
    // re-read a materialization, never re-derive the gram pass
    Dedup.connectedComponentsBounded(edges, eagerInput = true,
      tag = "SuffixDedup.familyLabels")
  }

  /** Write a [[familyIndex]] in its production standing form: parquet
    * partitioned by `pmod(h, nBands)` — a daily pipeline builds this
    * ONCE, then every batch probes it with [[incrementalFamilies]]
    * (index scanned, never shuffled) and appends its own postings.
    * Band partitioning keeps individual files bounded and lets a
    * targeted re-index touch one band at a time.
    */
  def writeFamilyIndex(index: DataFrame, path: String,
      nBands: Int = 64): Unit = {
    require(nBands >= 1, s"nBands must be >= 1, got $nBands")
    index
      .withColumn("band", pmod(col("h"), lit(nBands.toLong)))
      // co-locate each band before the partitioned write: one file per
      // band instead of (#shuffle-partitions × #bands) shards (set
      // spark.sql.files.maxRecordsPerFile to re-split giant bands)
      .repartition(col("band"))
      .write.partitionBy("band").mode("overwrite").parquet(path)
  }

  /** Read a [[writeFamilyIndex]] layout back into the probe-ready
    * `(h, doc_id, n_docs)` shape.
    */
  def readFamilyIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("h"), col("doc_id"), col("n_docs"))

  /** Standing component labels derived FROM a [[familyIndex]] — the
    * label side of the index-once pair, so building (index, labels)
    * costs ONE corpus gram pass total instead of familyIndex +
    * a separate whole-corpus [[spanPairs]] rerun. Edges are the
    * spanPairs star sparsification read off the index postings
    * (hashes with `n_docs` in `[2, maxDocsPerGram]`, min-id star);
    * components and labels (= component minimum) are identical to the
    * spanPairs-derived run except under a ~2⁻⁶⁴ 64-bit hash collision
    * (spanPairs resolves grams exactly WITHIN a hash bucket, the index
    * keys on the hash alone — they differ only when a real collision
    * merges two grams, the documented shrapnel class). The
    * `collect_set` buffer is bounded by the cap: over-cap hashes carry
    * only their marker row, which the `doc_id` filter drops.
    */
  def familyLabels(index: DataFrame,
      maxDocsPerGram: Int = 1000): DataFrame = {
    val edges = index
      .filter(col("doc_id").isNotNull &&
        col("n_docs") >= 2 && col("n_docs") <= maxDocsPerGram)
      .groupBy(col("h"))
      .agg(collect_set(col("doc_id")).as("__ds"))
      .select(array_min(col("__ds")).as("id_a"),
        explode(col("__ds")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // bounded components (the suffixFamilies rationale): star-sparse,
    // cap-bounded edges — driver union-find under the cap, distributed
    // fallback past it; eagerInput because the index-derived edge pass
    // is corpus-scale
    Dedup.connectedComponentsBounded(edges, eagerInput = true,
      tag = "SuffixDedup.suffixFamilies")
  }

  /** Family labels of a NEW batch against a standing corpus: probes
    * the [[familyIndex]] and the standing component `labels`
    * (`(id, label)` from `Dedup.connectedComponents` over the corpus
    * [[spanPairs]]) and returns `(doc_id, family)` for every BATCH
    * document — `family` equals what a whole-corpus
    * [[spanPairs]] + connected-components run over corpus + batch
    * would assign to that batch doc, WITHOUT touching corpus text:
    * the corpus is never re-grammed, never re-paired, and the
    * component resolution runs on the CONTRACTED graph (batch docs +
    * standing labels), whose size is batch-scale, not corpus-scale.
    *
    * Equality argument: a standing label is its corpus component's
    * MINIMUM id, so replacing each corpus endpoint of a new edge by
    * its label preserves both connectivity and the component minimum —
    * the contracted CC's min over (batch ids ∪ touched labels) IS the
    * merged graph's min. Two standing families bridged by one batch
    * doc merge correctly (both labels land in one contracted
    * component). Requires batch and corpus id spaces DISJOINT (the
    * `incrementalMinhashPairs` contract).
    *
    * Cap semantics are FROZEN at index time for corpus-side topology
    * (the standing labels keep every corpus-corpus edge the corpus-only
    * run admitted), while NEW edges apply the cap to the COMBINED
    * distinct-doc count `n_docs + batch docs`: a gram the batch pushes
    * over the cap contributes no new edges but does not retroactively
    * unlink standing families — the production semantics (a daily
    * increment must not rewrite standing decisions; re-index to apply
    * current counts corpus-wide). On any batch that crosses no cap
    * boundary the result is EXACTLY the whole-corpus rerun restricted
    * to batch docs — the oracle gate (`q_family_incremental`) proves
    * that end-to-end; the boundary corner is spec-pinned.
    */
  def incrementalFamilies(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame, labels: DataFrame, minLen: Int,
      maxDocsPerGram: Int = 1000): DataFrame = {
    val edges = batchProbeEdges(batch, idCol, textCol, index, minLen,
      maxDocsPerGram)
    val comps = contractedComponents(edges, labels)
    batch.select(col(idCol).as("doc_id"))
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("family"))
  }

  /** The edge half of [[incrementalFamilies]]: star edges over
    * batch ∪ touched-corpus member lists, combined-cap filtered. Shared
    * with the APPEND lifecycle ([[FamilyStore]]), which must see the raw
    * edges to write label updates, not just the batch projection.
    *
    * SEGMENTED-index capable (r15): the corpus side of the combined
    * count is `count(posting rows) + Σ marker n_docs` instead of
    * `max(n_docs)` — on the canonical one-segment [[familyIndex]] the
    * two are identical (an under-cap hash carries exactly `n_docs`
    * posting rows; an over-cap hash carries one marker holding its
    * count), and on a multi-segment [[FamilyStore]] index (disjoint doc
    * spaces per segment, so postings never repeat across segments) the
    * row-count form is the EXACT combined corpus count where a
    * per-segment `max` would undercount. Marker `n_docs` is always
    * "docs represented by THIS marker row" — per segment, never global —
    * which is what makes the sum correct in both layouts.
    */
  private[operators] def batchProbeEdges(batch: DataFrame, idCol: String,
      textCol: String, index: DataFrame, minLen: Int,
      maxDocsPerGram: Int, maxBatchKeys: Long = 10000000L): DataFrame =
    batchProbeEdgesWithPosts(batch, idCol, textCol, index, minLen,
      maxDocsPerGram, maxBatchKeys)._1

  /** [[batchProbeEdges]] plus the batch's deduplicated `(h, doc_id)`
    * posting frame it derives them from (eagerly checkpointed,
    * hash(h)-partitioned). The APPEND lifecycle ([[FamilyStore
    * .processBatch]]) derives the batch's index SEGMENT from this frame
    * instead of re-running [[familyIndex]] over the batch — the segment
    * write previously re-grammed and re-shuffled text the probe had
    * already reduced to this exact frame (one gram-hash scan + one
    * exchange per append, saved outright; the family posting frame is
    * KEY grain, which is why this fusion holds where the position-grain
    * suffix-span variant was measured slower and reverted — see
    * SOAK_r17 §3).
    */
  private[operators] def batchProbeEdgesWithPosts(batch: DataFrame,
      idCol: String, textCol: String, index: DataFrame, minLen: Int,
      maxDocsPerGram: Int,
      maxBatchKeys: Long = 10000000L): (DataFrame, DataFrame) = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxDocsPerGram >= 2,
      s"maxDocsPerGram must be >= 2, got $maxDocsPerGram")
    // batch postings (hash-keyed like the index, no gram strings
    // anywhere — batch-scale, the increment's price). Checkpointed at
    // THIS grain (r16): the posting frame feeds the key broadcast, the
    // per-gram counts, and the member lists below, and an un-pinned
    // lineage gram-hashed the batch once per consumer — the probe's
    // two heaviest jobs were the same scan twice.
    //
    // ONE exchange serves everything downstream (r16 verdict #3, the
    // fixed-phase floor): hash(h) satisfies the (h, doc_id) clustering
    // the dedup requires (partitioning by a subset of the grouping
    // keys), where the planner's bottom-up default inserted
    // exchange(h, doc_id) — and the checkpoint preserves the
    // partitioning, so the per-gram count aggregate below stays
    // map-side too.
    val (bposts, bstats) = Materialize.observed(
      gramHashes(batch, idCol, textCol, minLen)
        .select(col("h"), col("doc_id"))
        .repartition(col("h"))
        .dropDuplicates(Seq("h", "doc_id")),
      "SuffixDedup.batchProbeEdges", count(lit(1)).as("rows"))
    // per-gram batch doc counts as a MAP-SIDE aggregate off the
    // checkpoint (hash(h) partitioning satisfied — no exchange): the
    // previous window form paid a WindowExec SORT of the whole posting
    // frame for the same counts
    val bnb = bposts.groupBy(col("h"))
      .agg(count(lit(1)).as("__nb"))
    // corpus postings relevant to the batch: stream the standing index
    // through a BROADCAST semi-join on the batch hash set — no index
    // shuffle, no corpus re-gram. Marker rows (doc_id null) ride along
    // to carry the frozen over-cap counts. The broadcast contract is
    // enforced via a TWO-TIER guard (r16 verdict #3: the separate
    // distinct-count job was a fixed term of every probe): rows ≥
    // distinct keys, and the row count rides the checkpoint's own
    // action as an observation (Materialize.observed) — an
    // increment-sized batch clears with ZERO extra jobs; only a batch
    // past maxBatchKeys ROWS pays the exact key-count job before the
    // refuse decision.
    val bkeys = bnb
    val nRows = bstats.getLong(0)
    if (nRows > maxBatchKeys) {
      val nKeys = bkeys.count()
      require(nKeys <= maxBatchKeys,
        s"batchProbeEdges: batch carries $nKeys distinct gram hashes > " +
          s"maxBatchKeys=$maxBatchKeys — not increment-sized for the " +
          "broadcast probe; rebuild the family index over corpus + " +
          "batch instead (or raise maxBatchKeys deliberately)")
    }
    val hits = index.join(broadcast(bkeys), Seq("h"))
    // combined cap per gram: corpus count (0 when the gram is new)
    // + batch distinct docs, in [2, maxDocsPerGram]
    val knownTotals = hits
      .groupBy(col("h"))
      .agg(sum(when(col("doc_id").isNotNull, 1L).otherwise(0L)).as("__np"),
        coalesce(sum(when(col("doc_id").isNull, col("n_docs"))),
          lit(0L)).as("__nm"),
        max(col("__nb")).as("__nbc"))
      .select(col("h"),
        (col("__np") + col("__nm") + col("__nbc")).as("__tot"))
    // grams NEW to the corpus: anti-join against the (batch-scale) hit
    // keys, never against the full index
    val newGrams = bkeys
      .join(knownTotals.select(col("h")), Seq("h"), "left_anti")
      .select(col("h"), col("__nb").as("__tot"))
    val gramTotals = knownTotals.unionByName(newGrams)
      .filter(col("__tot") >= 2 && col("__tot") <= maxDocsPerGram)
      .select(col("h"))
    // member lists per surviving gram (batch docs + corpus postings;
    // bounded by the cap BEFORE the collect buffer fills), star edges
    // to the member min — the spanPairs sparsification, identical
    // components guaranteed
    val members = bposts.select(col("h"), col("doc_id"))
      .unionByName(hits.filter(col("doc_id").isNotNull)
        .select(col("h"), col("doc_id")))
      .join(gramTotals, Seq("h"))
    val edges = members
      .groupBy(col("h"))
      .agg(collect_set(col("doc_id")).as("__ds"))
      .select(array_min(col("__ds")).as("id_a"),
        explode(col("__ds")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    (edges, bposts)
  }

  /** The [[familyIndex]] of a batch, derived from its already-computed
    * deduplicated `(h, doc_id)` posting frame
    * ([[batchProbeEdgesWithPosts]]) instead of the batch text: exactly
    * [[familyIndex]]'s tail after its `dropDuplicates` — identical
    * output by construction (same per-hash distinct-doc window count,
    * same over-cap marker collapse), minus the gram-hash scan and the
    * `repartition(h)` exchange the checkpoint already paid.
    */
  private[operators] def familyIndexFromPosts(bposts: DataFrame,
      maxDocsPerGram: Int = 1000): DataFrame = {
    // same precondition familyIndex enforces (r17 advice): at 0/1 the
    // filter below would silently collapse EVERY gram to a marker row
    // instead of failing fast
    require(maxDocsPerGram >= 2,
      s"maxDocsPerGram must be >= 2, got $maxDocsPerGram")
    val byH = Window.partitionBy("h")
    bposts
      .withColumn("__rn", row_number().over(byH.orderBy("doc_id")))
      .withColumn("n_docs", count(lit(1)).over(byH))
      .filter(col("n_docs") <= maxDocsPerGram || col("__rn") === 1)
      .select(col("h"),
        when(col("n_docs") <= maxDocsPerGram, col("doc_id"))
          .otherwise(lit(null).cast(LongType)).as("doc_id"),
        col("n_docs"))
  }

  /** The contraction half of [[incrementalFamilies]]: replace each edge
    * endpoint by its standing label (endpoints in no standing pair keep
    * themselves), then min-label CC over the contracted batch-scale
    * graph. Returns the component table over ALL contracted nodes —
    * batch ids, touched standing labels, and previously-unlabeled corpus
    * ids — which is exactly the label-update set the append lifecycle
    * persists ([[FamilyStore]]); [[incrementalFamilies]] projects it to
    * batch docs.
    */
  private[operators] def contractedComponents(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    // prune the (corpus-scale) labels table by the batch-scale endpoint
    // set BEFORE the contraction joins: a broadcast semi-join keeps the
    // labels scan map-side, where a direct left join would shuffle the
    // whole labels table per probe (r15; the store path resolves
    // touched labels the same way)
    val touched = edges.select(col("id_a").as("id"))
      .unionByName(edges.select(col("id_b").as("id"))).distinct()
    val lbl = labels.join(broadcast(touched), Seq("id"), "left_semi")
    val lblA = lbl.select(col("id").as("__ida"), col("label").as("__la"))
    val lblB = lbl.select(col("id").as("__idb"), col("label").as("__lb"))
    val cEdges = edges
      .join(lblA, col("id_a") === col("__ida"), "left")
      .join(lblB, col("id_b") === col("__idb"), "left")
      .select(coalesce(col("__la"), col("id_a")).as("id_a"),
        coalesce(col("__lb"), col("id_b")).as("id_b"))
    // the contracted graph is batch-scale by construction — the
    // bounded components path applies (guarded driver union-find,
    // distributed fallback above the cap)
    Dedup.connectedComponentsBounded(cEdges,
      tag = "SuffixDedup.incrementalFamilies")
  }

  /** [[spanPairs]]' string-carrying postings AFTER the mandatory
    * pre-cap: `(h, gram, doc_id)` rows whose hash bucket has a
    * distinct-doc count in `[2, maxDocsPerGram]`. Exposed at
    * package level so the mega-gram spec can assert the over-cap
    * bucket never REACHES the `collect_set` buffer (not merely that it
    * is absent from the output). The distinct-doc count pass is
    * hash-only (no gram string allocated or shuffled): map-side
    * `(h, doc)` dedup, then an 8-byte-row count exchange — two small
    * exchanges buying a hard `cap` bound on every downstream agg
    * buffer. Over-cap buckets are surfaced via [[Dedup.observeCaps]]
    * at the exact `maxDocsPerGram` threshold — every dropped bucket
    * trips the observation, including the ~2⁻⁶⁴-probability collision
    * merge documented on [[spanPairs]].
    */
  private[operators] def cappedPostings(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int, maxDocsPerGram: Int): DataFrame = {
    val g = grams(docs, idCol, textCol, minLen)
      .select(col("h"), col("gram"), col("doc_id"))
    val keep = Dedup.observeCapsSplit(
        gramBucketStats(docs, idCol, textCol, minLen),
        "__nd", "__ng", maxDocsPerGram, "spanPairs")
      .filter(col("__nd") >= 2L &&
        col("__nd") <= maxDocsPerGram)
      .select(col("h"))
    g.join(keep, Seq("h"))
  }

  /** The pre-cap's per-bucket census: for every gram-hash bucket `h`,
    * `__nd` = corpus-wide DISTINCT-DOC count (the quantity the cap
    * filters on) and `__ng` = distinct second-seed hashes in the
    * bucket — `__ng >= 2` means the bucket holds ≥ 2 DISTINCT GRAMS
    * merged by a 64-bit collision (the [[graft.expressions
    * .GramHashPairs]] discriminator), so an over-cap drop of such a
    * bucket is COLLISION SHRAPNEL (each member gram may be
    * legitimately under-cap) rather than an intentional exclusion.
    * Still hash-only: no gram string is allocated or shuffled; the
    * rows are 24 bytes and map-side deduped, same shape as the r12
    * count pass plus one extra XXH64 per position in the same byte
    * scan.
    */
  private[operators] def gramBucketStats(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int): DataFrame =
    docs
      .filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"),
        explode(org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.expressions.GramHashPairs(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              col(textCol)), minLen, SecondSeed))).as("__hp"))
      .select(col("__hp.h").as("h"), col("__hp.h2").as("h2"),
        col("doc_id"))
      .distinct()
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("__nd"),
        countDistinct(col("h2")).as("__ng"))

  /** Seed of the collision-discriminator hash in [[gramBucketStats]] —
    * any fixed value ≠ 42 (the pairing seed) works; results never
    * depend on it (it only classifies drops in the observation).
    */
  private val SecondSeed = 0x5EEDC0DEL

  /** Every L-gram start position: `(doc_id, pos, gram, h)`. The hash
    * comes from the one-pass [[graft.expressions.GramHashes]] kernel
    * (bitwise `xxhash64(gram)`), so only the gram STRING costs an
    * allocation here — consumers that need just the hash use
    * [[gramHashes]] instead and skip that cost entirely.
    */
  private def grams(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame =
    docs
      .filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .select(col("doc_id"), col("__t"),
        posexplode(gramHashCol(col("__t"), minLen)).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        expr(s"substring(__t, pos0 + 1, $minLen)").as("gram"), col("h"))

  /** Hash-only L-gram positions `(doc_id, pos, h)` — the prefilter
    * projection: no gram string is ever allocated, the corpus pass is
    * one in-place byte scan per document.
    */
  private def gramHashes(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame =
    docs
      .filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"),
        posexplode(gramHashCol(col(textCol), minLen)).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))

  private def gramHashCol(text: org.apache.spark.sql.Column,
      minLen: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.GramHashes(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text),
        minLen))

  /** Duplicated L-gram start positions `(doc_id, pos, occ)` — the
    * two-stage hash-prefilter + exact-gram confirm described in the
    * object doc; `occ` is the position's 1-based rank in its gram's
    * global `(doc_id, pos)` occurrence order (1 = the copy keep-first
    * retains).
    *
    * No stage ever shuffles a full-corpus gram string: stage 1 counts
    * 8-byte hashes from the zero-allocation in-place scan; stage 2
    * joins the CANDIDATE `(doc_id, pos, h)` longs (never text) against
    * the survivors, folds each doc's candidate positions into one
    * sorted array (a 16-byte-row exchange), re-attaches the document
    * text ONCE per doc, and only then materializes gram strings — for
    * candidate positions only — feeding the exact-confirm window. A
    * same-JVM A/B at sf1 against the explode-strings-then-join shape
    * measured this ~2× faster at both 90 % and 30 % duplicate density
    * (SOAK_r10); outputs are identical (hash collisions only ever ADD
    * candidates, and the gram-keyed window removes them exactly).
    */
  private def duplicatedPositions(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int, minOcc: Long): DataFrame = {
    // Stage 1: candidate hashes (8-byte shuffle keys, partial-agg'd —
    // the shuffle carries one (hash, count) row per distinct gram per
    // partition, never the positions).
    val dupHash = gramHashes(docs, idCol, textCol, minLen)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("__nh"))
      .filter(col("__nh") >= minOcc)
      .select(col("h"))

    // Stage 2: candidate positions as longs → per-doc position arrays →
    // one text re-attach → substrings for the duplicated sliver only →
    // exact-gram count + keep-first rank in one window exchange.
    val cand = gramHashes(docs, idCol, textCol, minLen)
      .join(dupHash, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
    val byGram = Window.partitionBy("gram")
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .join(cand, Seq("doc_id"))
      .select(col("doc_id"), explode(col("__ps")).as("pos"), col("__t"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(__t, pos, $minLen)").as("gram"))
      .withColumn("__ng", count(lit(1)).over(byGram))
      .filter(col("__ng") >= minOcc)
      .withColumn("occ",
        row_number().over(byGram.orderBy("doc_id", "pos")))
      .select(col("doc_id"), col("pos"), col("occ"))
  }
}
