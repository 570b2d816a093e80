package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF-PQ — the composed 100 TB ANN architecture (FAISS's `IVFx,PQy`
  * shape; Jégou et al. 2011 §V): [[IvfAnn]]'s coarse cells route the
  * search, [[ProductQuantizer]] codes compress what each cell stores.
  *
  *   1. a coarse quantizer (k-means, [[IvfAnn.trainCentroids]]) splits
  *      the corpus into `nlist` cells;
  *   2. each vector is stored as its cell id + an `m`-byte PQ code of its
  *      RESIDUAL (vector − cell centroid) + its exact float norm.
  *      Residual coding is what makes the composition better than either
  *      part alone: residuals concentrate near 0, so the same `ksub`
  *      codebook spends its precision on a much smaller volume than raw
  *      vectors would need;
  *   3. a query probes its `nprobe` nearest cells and scores ONLY those
  *      cells' codes by asymmetric distance — `dot(q, x) ≈ dot(q, cent) +
  *      ADCtable[code]`, O(m) lookups per candidate. The stored exact
  *      norm keeps the cosine denominator exact, so the only
  *      approximation is the residual dot;
  *   4. the top `k × rerankFactor` shortlist reranks against raw
  *      embeddings exactly.
  *
  * At 100 TB: the index is `(cell, code[m], nrm)` — written once
  * partitioned by `cell`, a probe reads `nprobe/nlist` of the partitions
  * (partition pruning) and each scanned row costs m byte-lookups, not a
  * dim-float dot. The residual codebooks are global (shared across
  * cells), so one `m × ksub` ADC table per query serves every probed
  * cell. Recall levers: `nprobe` (cells searched) and `rerankFactor`
  * (shortlist depth), both monotone.
  */
object IvfPq {

  /** Trained index model: coarse centroids + global residual codebooks. */
  final case class Model(centroids: Array[Array[Double]],
      codebooks: ProductQuantizer.Codebooks)

  /** Residual of `e` against centroid `cell` as floats (PQ trains/encodes
    * on these).
    */
  private def residual(cents: Array[Array[Double]], cell: Int,
      e: Seq[Float]): Array[Float] = {
    val c = cents(cell)
    val out = new Array[Float](c.length)
    var i = 0
    while (i < c.length) { out(i) = (e(i) - c(i)).toFloat; i += 1 }
    out
  }

  /** Train coarse quantizer + residual codebooks. Training data for the
    * PQ stage is the residual stream of the (sampled) corpus — both
    * stages deterministic (xxhash64-ranked seeds, no RNG).
    */
  def train(corpus: DataFrame, nlist: Int, m: Int, ksub: Int,
      iters: Int = 2, pqIters: Int = 3,
      trainFraction: Double = 1.0): Model = {
    val spark = corpus.sparkSession
    val cents = IvfAnn.trainCentroids(corpus, nlist, iters, trainFraction)
    val bc = spark.sparkContext.broadcast(cents)
    val res = udf((e: Seq[Float]) =>
      residual(bc.value, IvfAnn.nearestCell(bc.value, e), e))
    val residuals = corpus.select(col("id"), res(col("embedding")).as("embedding"))
    val cb = ProductQuantizer.trainCodebooks(residuals, m, ksub, pqIters,
      trainFraction)
    Model(cents, cb)
  }

  /** The compressed index: `(id, cell, code binary, nrm)`. Write it
    * `partitionBy("cell")` for pruned probes at scale; `nrm` is the exact
    * vector norm (4 bytes) so cosine denominators never degrade.
    */
  def encode(corpus: DataFrame, model: Model): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(model)
    val enc = udf((e: Seq[Float]) => {
      val mdl = bc.value
      val cell = IvfAnn.nearestCell(mdl.centroids, e)
      (cell, ProductQuantizer.encodeVec(mdl.codebooks,
        residual(mdl.centroids, cell, e)))
    })
    corpus.select(col("id"), enc(col("embedding")).as("cc"),
        VectorFunctions.l2Norm(col("embedding")).as("nrm"))
      .select(col("id"), col("cc._1").as("cell"), col("cc._2").as("code"),
        col("nrm"))
  }

  /** Materialize the index at `path`: codes partitioned by `cell` (so
    * probes prune to `nprobe/nlist` of the files) plus the model
    * (centroids + codebooks) serialized beside them for self-contained
    * reloads.
    */
  def writeIndex(corpus: DataFrame, model: Model, path: String): Unit = {
    encode(corpus, model).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/codes")
    writeModel(corpus.sparkSession, model, path)
  }

  /** Serialize just the model (centroids + codebooks) beside a codes
    * store — the piece of [[writeIndex]] layouts with a different codes
    * partitioning (e.g. the streaming ingest store) reuse.
    */
  def writeModel(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    val cents = model.centroids.zipWithIndex
      .map { case (c, i) => (0, i, c.toSeq) }.toSeq
    val books = for {
      (sub, si) <- model.codebooks.zipWithIndex.toSeq
      (cent, ci) <- sub.zipWithIndex
    } yield (1, si * 65536 + ci, cent.toSeq)
    (cents ++ books).toDF("kind", "idx", "vec")
      .repartition(1).write.mode("overwrite").parquet(s"$path/model")
  }

  /** Append a batch of NEW vectors to a materialized [[writeIndex]] index
    * — the daily-ingest shape (the ANN mirror of the MinHash
    * index-append in [[graft.streaming.StreamingMinhashDedup]]): the
    * model (centroids + codebooks) is FROZEN at build time, the batch is
    * encoded against it executor-side, and the resulting codes land as
    * new files inside their existing `cell=` partitions — the standing
    * codes are never rewritten or reshuffled, and static partition
    * pruning over the index is unchanged. Centroids drifting from the
    * true data distribution over many appends degrades recall, not
    * correctness (ADC distances stay exact w.r.t. the frozen model);
    * rebuild the index when recall gates say so.
    *
    * Append atomicity is parquet's (job-level temp-dir commit): a failed
    * job leaves no partial files, and a caller-level replay of the same
    * batch is the caller's to dedup — same contract as the streaming
    * minhash store, which handles replay by batch-id manifest.
    */
  def appendToIndex(batch: DataFrame, spark: SparkSession,
      path: String): Unit = {
    val mdl = readModel(spark, path)
    encode(batch, mdl).write.mode("append")
      .partitionBy("cell").parquet(s"$path/codes")
  }

  /** The rebuild RESPONSE to a [[driftReport]] `rebuild = true` (r16
    * verdict #1: every served family measured staleness, none rehearsed
    * the response): retrain the coarse quantizer + residual codebooks
    * over the GROWN corpus (bootstrap + every appended batch — the
    * caller supplies it; the index stores codes, not raw vectors),
    * re-encode everything against the new model, and re-serve by
    * overwriting the codes and model in place. Training is
    * deterministic (xxhash64-ranked seeds), so the rebuilt index is
    * bit-identical to a fresh [[writeIndex]] over the same corpus —
    * the served-vs-fresh parity the drift loop's gate asserts. Returns
    * the new model so a long-running server can swap its frozen copy.
    *
    * Not atomic against concurrent probes (the overwrite replaces
    * `codes/` then `model/`): run it on the maintenance cadence, like
    * [[FamilyStore.compactPrefix]].
    */
  def rebuildIndex(corpus: DataFrame, path: String, nlist: Int, m: Int,
      ksub: Int, iters: Int = 2, pqIters: Int = 3,
      trainFraction: Double = 1.0): Model = {
    val mdl = train(corpus, nlist, m, ksub, iters, pqIters, trainFraction)
    writeIndex(corpus, mdl, path)
    mdl
  }

  /** Reload a [[writeIndex]] model. */
  def readModel(spark: SparkSession, path: String): Model = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/model")
      .as[(Int, Int, Seq[Double])].collect()
    val cents = rows.filter(_._1 == 0).sortBy(_._2).map(_._3.toArray)
    val bookRows = rows.filter(_._1 == 1)
    val nSub = bookRows.map(_._2 / 65536).max + 1
    val books = Array.tabulate(nSub) { si =>
      bookRows.filter(_._2 / 65536 == si).sortBy(_._2 % 65536)
        .map(_._3.toArray)
    }
    Model(cents, books)
  }

  /** IVF-PQ top-k over a materialized [[writeIndex]] index: the probe
    * cell set (|Q| × nprobe, tiny) is computed driver-side against the
    * reloaded model and pushed as a STATIC partition filter on the codes
    * scan — guaranteed pruning, like the LSH and BM25 indexes. `corpus`
    * supplies raw embeddings ONLY for the exact rerank of the shortlist
    * (a broadcast-semi-join-shaped read of |Q|·k·rerankFactor rows).
    * Results are identical to [[ivfPqTopK]] with the same model.
    *
    * CONTRACT: this is the SERVING path — driver memory is O(|Q|)
    * (query vectors are collected to compute the static prune), so |Q|
    * is capped at `maxProbeQueries` and the call refuses larger sets
    * rather than OOMing mid-job. For a corpus-sized query set, static
    * pruning is the wrong plan anyway (every cell gets probed): call
    * [[ivfPqTopK]] with `codes = spark.read.parquet(s"$path/codes")` and
    * `model = Some(readModel(...))` — cell assignment runs executor-side
    * there and the full codes scan is the correct plan at that
    * selectivity.
    */
  def ivfPqTopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int = 4,
      rerankFactor: Int = 4, excludeSelf: Boolean = true,
      maxProbeQueries: Int = 65536): DataFrame = {
    val mdl = readModel(spark, path)
    import spark.implicits._
    require(queries.limit(maxProbeQueries + 1).count() <= maxProbeQueries,
      s"ivfPqTopKFromIndex serves at most $maxProbeQueries queries per " +
        "call (driver collects the query set for static partition " +
        "pruning); for corpus-sized query sets use ivfPqTopK against a " +
        "direct codes read — see the Scaladoc contract")
    val qVecs = queries.select(col("id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val probeCells = qVecs
      .flatMap { case (_, e) => IvfAnn.nearestCells(mdl.centroids, e, nprobe) }
      .distinct.toSeq
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(probeCells: _*))
      .select(col("id"), col("cell"), col("code"), col("nrm"))
    ivfPqTopK(queries, corpus, k, nprobe = nprobe,
      rerankFactor = rerankFactor, excludeSelf = excludeSelf,
      model = Some(mdl), codes = Some(codes))
  }

  /** IVF-PQ top-k with exact rerank. Pass `model`/`codes` to reuse a
    * built index across query batches (encode once, probe many — the
    * production shape).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4, ksub: Int = 32,
      rerankFactor: Int = 4, iters: Int = 2, pqIters: Int = 3,
      excludeSelf: Boolean = true,
      model: Option[Model] = None,
      codes: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    val mdl = model.getOrElse(train(corpus, nlist, m, ksub, iters, pqIters))
    val bc = spark.sparkContext.broadcast(mdl)
    val codeDf = codes.getOrElse(encode(corpus, mdl))
      .select(col("id").as("neighbor_id"), col("cell"), col("code"),
        col("nrm").as("c_nrm"))

    // per-query probe list with the centroid dot folded in: the numerator
    // decomposes as dot(q, cent_cell) + dot(q, residual); the first term
    // is per (query, cell), the second is O(m) ADC lookups per candidate
    val kk = mdl.codebooks(0).length
    val probeTab = udf((e: Seq[Float], np: Int) => {
      val md = bc.value
      val cells = IvfAnn.nearestCells(md.centroids, e, np)
      cells.map { cell =>
        val c = md.centroids(cell)
        var s = 0.0
        var i = 0
        while (i < c.length) { s += c(i) * e(i); i += 1 }
        (cell, s)
      }
    })
    val adcTab = udf((e: Seq[Float]) => {
      val cb = bc.value.codebooks
      val dsub = cb(0)(0).length
      val t = new Array[Double](cb.length * kk)
      for (sub <- cb.indices; cc <- 0 until kk) {
        var s = 0.0
        var j = 0
        while (j < dsub) { s += cb(sub)(cc)(j) * e(sub * dsub + j); j += 1 }
        t(sub * kk + cc) = s
      }
      t
    })
    val q = broadcast(queries.select(col("id").as("query_id"),
      VectorFunctions.l2Norm(col("embedding")).as("q_nrm"),
      adcTab(col("embedding")).as("q_tab"),
      explode(probeTab(col("embedding"), lit(nprobe))).as("probe"))
      .select(col("query_id"), col("q_nrm"), col("q_tab"),
        col("probe._1").as("cell"), col("probe._2").as("qc_dot")))

    val score = udf((code: Array[Byte], tab: Seq[Double], qcDot: Double,
        qnrm: Double, cnrm: Double) => {
      var dot = qcDot
      var sub = 0
      while (sub < code.length) {
        dot += tab(sub * kk + (code(sub) & 0xff))
        sub += 1
      }
      val den = qnrm * cnrm
      if (den > 0) dot / den else 0.0
    })
    // the join key is the cell — over a partitionBy("cell") index this is
    // the partition-pruned probe; only nprobe/nlist of the codes scan
    val approx = codeDf.join(q, Seq("cell"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("sim", score(col("code"), col("q_tab"), col("qc_dot"),
        col("q_nrm"), col("c_nrm")))
    val shortlist = Similarity.topKMerge(approx, k * rerankFactor)
      .select(col("query_id"), col("neighbor_id"))

    // exact rerank (shortlist is |Q|·k·rerankFactor rows — broadcast side)
    val c = corpus.select(col("id").as("neighbor_id"),
      col("embedding").as("c_emb"),
      VectorFunctions.l2Norm(col("embedding")).as("c_nrm"))
    val qe = broadcast(queries.select(col("id").as("query_id"),
      col("embedding").as("q_emb"),
      VectorFunctions.l2Norm(col("embedding")).as("q_nrm")))
    val exact = c.join(broadcast(shortlist), Seq("neighbor_id"))
      .join(qe, Seq("query_id"))
      .withColumn("sim", VectorFunctions.dot(col("q_emb"), col("c_emb")) /
        (col("q_nrm") * col("c_nrm")))
    Similarity.topKMerge(exact, k)
  }

  /** Index-maintenance gate (r14 verdict #6): [[appendToIndex]]
    * documents that centroid drift under many appends degrades RECALL,
    * not correctness — this face MEASURES it and flips the rebuild
    * flag, so the decision is a gate, not a comment. Shape: recall@k of
    * the frozen-model index probe against the exact brute-force answer
    * over a HELD-OUT probe slice (the [[Dedup.candidateQuality]]
    * calibration pattern — run the expensive exact baseline on a slice
    * you can afford, gate the cheap path with it).
    *
    * `probeQueries` is the held-out slice (driver-collected for the
    * static partition prune, so the [[ivfPqTopKFromIndex]]
    * `maxProbeQueries` cap applies); `corpus` supplies raw embeddings
    * for ground truth and rerank and must cover the appended batches —
    * drifted vectors missing from ground truth would hide exactly the
    * drift this gate exists to catch. One row out:
    * `(n_queries, k, n_expected, n_hits, recall, rebuild)` with
    * `rebuild = recall < recallFloor`.
    *
    * Why recall drops under drift: appended vectors far from every
    * frozen centroid produce residuals outside the codebooks' trained
    * range, so their codes collapse toward the extreme codewords and
    * ADC can no longer rank within the drifted region — the shortlist
    * becomes near-arbitrary there, and the exact rerank cannot recover
    * neighbors the shortlist never surfaced. Recall on undrifted
    * regions stays at the build-time calibration (spec-pinned both
    * ways in IvfPqSpec).
    */
  def driftReport(spark: SparkSession, path: String,
      probeQueries: DataFrame, corpus: DataFrame, k: Int = 10,
      nprobe: Int = 4, rerankFactor: Int = 4, recallFloor: Double = 0.9,
      maxProbeQueries: Int = 65536): DataFrame = {
    require(recallFloor > 0.0 && recallFloor <= 1.0,
      s"recallFloor must be in (0, 1], got $recallFloor")
    val approx = ivfPqTopKFromIndex(spark, path, probeQueries, corpus, k,
        nprobe, rerankFactor, excludeSelf = true, maxProbeQueries)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1L))
    val exact = Similarity.bruteForceTopK(probeQueries, corpus, k)
      .select(col("query_id"), col("neighbor_id"))
    val nq = probeQueries.select(col("id")).distinct().count()
    exact
      .join(approx, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_expected"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .select(lit(nq).as("n_queries"), lit(k.toLong).as("k"),
        col("n_expected"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_expected").cast("double"))
          .as("recall"))
      .withColumn("rebuild", col("recall") < recallFloor)
  }
}
