package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Lexical, SegmentStore}

/** Streaming corpus-card store — the per-source "datasheet" (docs,
  * exact-dup ppm, token/vocab totals, TTR, word-distribution entropy)
  * kept current over an unbounded document stream with BOUNDED work per
  * batch: each micro-batch appends only its OWN (group, word) counts
  * and (group, content-md5) dup ledger, and the report folds the merged
  * standing tables.
  *
  * Both state tables are ADDITIVE (the table of a concatenated corpus
  * is the per-key sum of the parts' tables), so the incremental card
  * equals the batch-mode [[Lexical.corpusCard]] of everything ingested
  * BIT-FOR-BIT — including the entropy double, because the fold runs
  * over the merged exact counts in the same word order, not over
  * per-batch partial entropies (entropy itself is NOT additive).
  * Proven in StreamingLexicalSpec.
  *
  * EXACTLY-ONCE: each state table is a [[SegmentStore]] keyed by
  * `ingest_batch` — a foreachBatch replay overwrites its own segment,
  * and the merge partition-prunes the current batch id out of the
  * standing read. Store growth per batch is the batch's OWN
  * vocab/distinct-text size; [[compact]] folds history back to the
  * bootstrap segment — by additivity, compaction cannot move any card
  * value.
  */
object StreamingLexical {

  /** One-time bootstrap: card + growth tables of the standing corpus
    * (`ingest_batch = -1`). `idCol` feeds the first-occurrence table
    * behind [[heapsReport]] (first = per-key MIN, additive like the
    * counts).
    */
  def initStore(corpus: DataFrame, groupCol: String, idCol: String,
      textCol: String, path: String): Unit = {
    SegmentStore.writeSegment(Lexical.wordCounts(corpus, groupCol,
      textCol), -1L, s"$path/wc")
    SegmentStore.writeSegment(Lexical.dupLedger(corpus, groupCol,
      textCol), -1L, s"$path/dl")
    SegmentStore.writeSegment(Lexical.wordFirstDoc(corpus, groupCol, idCol,
      textCol), -1L, s"$path/fw")
    SegmentStore.writeSegment(Lexical.docTokenCounts(corpus, groupCol,
      idCol, textCol), -1L, s"$path/dt")
  }

  /** The foreachBatch body: append this batch's tables idempotently and
    * return the card INCLUDING the batch (eager, so the caller sees the
    * post-ingest state even if the append is replayed later).
    */
  def processBatch(batch: DataFrame, batchId: Long, groupCol: String,
      idCol: String, textCol: String, path: String): DataFrame = {
    val spark = batch.sparkSession
    val wc = Lexical.wordCounts(batch, groupCol, textCol)
      .localCheckpoint(true) // consumed by the report AND the append
    val dl = Lexical.dupLedger(batch, groupCol, textCol)
      .localCheckpoint(true)
    val card = Lexical.corpusCard(
      SegmentStore.read(spark, s"$path/wc", Some(batchId))
        .drop("ingest_batch").unionByName(wc),
      SegmentStore.read(spark, s"$path/dl", Some(batchId))
        .drop("ingest_batch").unionByName(dl))
      .localCheckpoint(true) // eager: card before this batch lands
    SegmentStore.writeSegment(wc, batchId, s"$path/wc", dynamic = true)
    SegmentStore.writeSegment(dl, batchId, s"$path/dl", dynamic = true)
    SegmentStore.writeSegment(Lexical.wordFirstDoc(batch, groupCol, idCol,
      textCol), batchId, s"$path/fw", dynamic = true)
    SegmentStore.writeSegment(Lexical.docTokenCounts(batch, groupCol,
      idCol, textCol), batchId, s"$path/dt", dynamic = true)
    card
  }

  /** The store's current card (all standing batches merged). */
  def report(spark: SparkSession, path: String): DataFrame =
    Lexical.corpusCard(
      SegmentStore.read(spark, s"$path/wc").drop("ingest_batch"),
      SegmentStore.read(spark, s"$path/dl").drop("ingest_batch"))

  /** Zipf rank-frequency fit straight off the store's merged word
    * counts — equal to the batch [[Lexical.zipfSlope]] of everything
    * ingested (counts are additive; the fit reads only exact merged
    * counts).
    */
  def zipfReport(spark: SparkSession, path: String,
      topV: Int = 64): DataFrame =
    Lexical.zipfSlopeFromCounts(
      SegmentStore.read(spark, s"$path/wc").drop("ingest_batch"), topV)

  /** Heaps'-law vocabulary-growth fit off the store's merged
    * first-occurrence and doc-token tables — equal to the batch
    * [[Lexical.heapsLaw]] of everything ingested (first occurrence
    * merges by MIN, token counts by SUM; the fit reads only the exact
    * merged tables).
    */
  def heapsReport(spark: SparkSession, path: String,
      points: Int = 10): DataFrame =
    Lexical.heapsLawFromTables(
      SegmentStore.read(spark, s"$path/fw").drop("ingest_batch"),
      SegmentStore.read(spark, s"$path/dt").drop("ingest_batch"), points)

  /** Fold every standing segment of each table back into
    * `ingest_batch = -1` ([[SegmentStore.foldPrefix]] with
    * `upTo = Long.MaxValue`).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    def fold(table: String, keys: Seq[String], valueCol: String,
        agg: org.apache.spark.sql.Column): Unit =
      SegmentStore.foldPrefix(spark, s"$path/$table", Long.MaxValue,
        SegmentStore.read(spark, s"$path/$table")
          .groupBy(keys.map(col): _*)
          .agg(agg.as(valueCol))
          .localCheckpoint(true)) // read fully before the fold swaps it in
    fold("wc", Seq("group", "w"), "c", sum(col("c")))
    fold("dl", Seq("group", "h"), "c", sum(col("c")))
    fold("fw", Seq("group", "w"), "fd", min(col("fd")))
    fold("dt", Seq("group", "__id"), "t", sum(col("t")))
  }
}
