package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * IVFADC — the IVF coarse quantizer composed with PQ ADC scoring
 * (Jégou et al. 2011 §IV: "inverted file with asymmetric distance
 * computation"): a query probes the `nprobe` cells whose centroids
 * score highest, then ADC-scores ONLY the PQ codes inside those cells.
 * Scanned fraction ≈ nprobe/nlist of an already ~16×-compressed corpus
 * — the two tiers' savings multiply, which is the published serving
 * shape for billion-scale ANN.
 *
 * Both published coding compositions ship, behind `byResidual`:
 *
 * - `byResidual = false` (default): codes are PQ(raw vector) — FAISS's
 *   `IndexIVFPQ(by_residual=false)`. The exactness workhorse: the
 *   distinct-set codebook property holds for raw subvectors (the
 *   provably-exact `ann_ivfpq_exact` gate row), and a cell renumbering
 *   never invalidates a code (repair without re-encode).
 * - `byResidual = true` (round 16, r15 VERDICT #2): codes are
 *   PQ(x − centroid(cell)) — the paper's §IV.A default. Residuals
 *   cluster far tighter than raw vectors (every cell's mass centers at
 *   the origin), so at equal m the codebooks spend their k codewords
 *   on a smaller ball — the recall lever (residual ≥ raw recall at
 *   equal m on the clustered fixture, measured at r16 by the removed
 *   ScaleProbe `ivfpqresidual` mode,
 *   `git show e105133:src/main/scala/graft/ScaleProbe.scala`). Scoring
 *   needs no per-cell code tables: codebooks are pooled across cells
 *   (the FAISS layout), so one m·k ADC table per query still serves
 *   every probed cell — the residual identity
 *   q·x = q·centroid(cell) + q·(x − centroid) just adds one per-CELL
 *   scalar (≤ nprobe driver dots, broadcast on the cell key). The
 *   stored norm stays ‖x‖ (raw), so the cosine contract is unchanged.
 *   The trade: hot-cell repair cannot renumber coded rows (a residual
 *   code is minted against its cell's centroid) — `repairSavedFrom`
 *   refuses, re-fit instead.
 *
 * Scale shape: the cell id is a plain int column, so a saved index
 * (cell-partitioned parquet) gets FILE-level partition pruning on the
 * probe filter; the rows that survive carry m·codeBytes+8 bytes of
 * payload, not 4·dim — at 100 TB of raw vectors a 16-cell probe of a
 * 256-cell index touches ~0.4% of the compressed bytes. Vectors stop
 * existing at rest: `build` drops the embedding column after encode.
 *
 * The reference has no index at all (exact scan per query,
 * /root/reference/R/core.R:287-292, "consider FAISS" at README.md:22).
 */
class IvfPqIndex private (
    val centroidVectors: Array[Array[Float]], // index = cell id
    val model: PqModel,
    /** original columns minus the embedding, plus `cell: int`,
      * `pq_codes: binary`, `emb_norm: double`. */
    val encoded: DataFrame,
    val codesCol: String,
    val normCol: String,
    val byResidual: Boolean = false) extends AnnIndex {

  override def dim: Int = model.dim
  override def nlist: Int = centroidVectors.length

  /** nlist × dim centroid frame: (cell: int, centroid: array<float>). */
  lazy val centroids: DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    centroidVectors.zipWithIndex.map { case (v, i) => (i, v) }
      .toSeq.toDF("cell", "centroid")
  }

  /** Cells a query would probe, best centroid first (driver-local — no
    * Spark job; single-query `search` plans exactly one job). */
  def probeCells(queryVec: Array[Float], nprobe: Int): Array[Int] =
    IvfIndex.probe(centroidVectors, queryVec, nprobe)

  /** ANN top-k: ADC scoring restricted to the probed cells. The cell
    * filter is a pushable int predicate (file-pruning on the saved
    * cell-partitioned layout); the ADC tail is [[PqIndex.search]]'s
    * `TakeOrderedAndProject` shape — one m·k dot table per query, m
    * byte-indexed lookups per surviving row, no decompression.
    * At nprobe = nlist AND a lossless codebook this is provably the
    * exact brute-force result (both tiers' degenerates compose). */
  override def search(queryVec: Array[Float], k: Int, nprobe: Int,
      simCol: String, tieBreakers: Seq[Column]): DataFrame = {
    val cells = probeCells(queryVec, nprobe)
    val subset = encoded.where(col("cell").isin(cells.toIndexedSeq.map(Int.box): _*))
    if (!byResidual)
      PqIndex.search(subset, queryVec, k, model, codesCol, normCol, simCol, tieBreakers)
    else {
      // residual identity: q·x = q·centroid(cell) + q·r̂ — the same
      // pooled-codebook ADC table scores every probed cell, completed
      // by one per-cell scalar (≤ nprobe rows, broadcast on cell)
      val spark = encoded.sparkSession
      import spark.implicits._
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val qc = cells.toIndexedSeq
        .map(c => (c, IvfIndex.dotLocal(centroidVectors(c), queryVec)))
        .toDF("cell", "__qc")
      val table = PqIndex.adcTable(queryVec, model)
      val dot = ColumnBridge.column(graft.expressions.PqAdcDot(
        ColumnBridge.expression(col(codesCol)), model.m, table, model.offsets,
        model.codeBytes)) + col("__qc")
      val qnorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
      val sim = if (qnorm == 0.0) lit(0.0)
        else coalesce(when(col(normCol) === 0.0, lit(0.0))
          .otherwise(dot / (lit(qnorm) * col(normCol))), lit(0.0))
      subset.join(broadcast(qc), Seq("cell"), "left")
        .withColumn(simCol, sim)
        .drop("__qc")
        .orderBy(desc(simCol) +: tieBreakers: _*)
        .limit(k)
    }
  }

  /**
   * Batch ANN over the coded corpus: top-k for a whole TABLE of
   * queries, fully distributed — [[IvfIndex.searchMany]]'s plan shape
   * (map-side probe assignment → broadcast → join corpus ON CELL →
   * score → bounded-heap top-k per query) with one structural
   * difference that is the point: the corpus side of the cell join
   * carries m·codeBytes-byte CODES, not 4d-byte vectors, so the
   * join/shuffle bytes drop ~16× at d=64/m=8. The broadcast side is
   * [[IvfIndex.probedQueries]]: each query row once per probed cell,
   * carrying under residual coding its per-(query, cell) `q·centroid`
   * addend (`__qc`, computed once per probe row, never per candidate).
   * Scoring indexes the codebooks per (query, code) pair
   * ([[graft.expressions.PqQueryDot]] — same FLOPs as a full dot; the
   * batch win is bytes). Same zero-norm/NULL → score-0 rule as
   * [[PqIndex.search]]; at nprobe = nlist with a lossless codebook
   * this provably equals the exact k-NN join.
   */
  override def searchMany(queries: DataFrame, queryIdCol: String,
      queryEmbCol: String, corpusIdCol: String, k: Int, nprobe: Int,
      simCol: String): DataFrame = {
    import graft.functions.TopKScored
    import graft.functions.vectors
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = encoded.schema(corpusIdCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"searchMany buffers corpus ids as long, but '$corpusIdCol' is ${idType.simpleString}")
    val candidates = encoded.join(broadcast(IvfIndex.probedQueries(queries,
      queryIdCol, queryEmbCol, centroidVectors, nprobe, withAddend = byResidual)),
      Seq("cell"))
    val adc = ColumnBridge.column(graft.expressions.PqQueryDot(
      ColumnBridge.expression(col(codesCol)),
      ColumnBridge.expression(col(queryEmbCol)),
      model.m, model.sub, model.flatCodewords, model.offsets, model.codeBytes))
    // the raw path keeps its exact expression (`adc`, no addend) so
    // the lossless-degenerate gate rows stay bit-identical
    val dot = if (byResidual) adc + col("__qc") else adc
    val qnorm = vectors.vector_norm(col(queryEmbCol))
    val sim = coalesce(
      when(col(normCol) === 0.0 || qnorm === 0.0, lit(0.0))
        .otherwise(dot / (qnorm * col(normCol))), lit(0.0))
    candidates
      .select(col(queryIdCol), col(corpusIdCol).cast("long").as(corpusIdCol),
        sim.as(simCol))
      .groupBy(col(queryIdCol))
      .agg(TopKScored.column(k)(col(simCol), col(corpusIdCol)).as("__topk"))
      .select(col(queryIdCol), explode(col("__topk")).as("__e"))
      .select(col(queryIdCol), col("__e.id").as(corpusIdCol), col("__e.score").as(simCol))
  }

  /**
   * Incremental maintenance: assign a NEW batch to the FROZEN coarse
   * quantizer, encode it with the FROZEN PQ codebooks, and fold the
   * coded rows in — both artifacts stay fixed (a per-append refit
   * would re-code the whole corpus), so
   * `buildWith(a ∪ b) == buildWith(a).addBatch(b)` row-for-row (the ⊕
   * `ann_ivfpq_incremental_exact` proof). Map-side only: assignment is
   * [[graft.expressions.NearestCell]], encoding is
   * [[graft.expressions.PqEncode]] — nothing shuffles, only the batch
   * scans, and the batch's vectors stop existing after encode. Appends
   * drift-monitor via [[cellSizeStats]]/[[driftGuard]] like the plain
   * IVF tier; codebook staleness shows up as recall loss, the same way.
   */
  def addBatch(newDf: DataFrame, embCol: String): IvfPqIndex =
    new IvfPqIndex(centroidVectors, model,
      encoded.unionByName(encodeBatch(newDf, embCol)), codesCol, normCol,
      byResidual)

  /** [[addBatch]] straight into a SAVED layout: coded rows append as
    * new files under their `cell=` partitions; existing files never
    * rewrite and a reopened index serves the union (spec'd). */
  def appendToSaved(path: String, newDf: DataFrame, embCol: String): Unit =
    encodeBatch(newDf, embCol)
      .write.mode("append").partitionBy("cell").parquet(s"$path/data")

  private def encodeBatch(newDf: DataFrame, embCol: String): DataFrame =
    IvfPqIndex.encodeAssigned(
      IvfIndex.assignWithCentroids(newDf, embCol, centroidVectors),
      embCol, centroidVectors, model, codesCol, normCol, byResidual)

  /** Write a batch's CODED cell files at an arbitrary (staging) path —
    * the stage half of [[IvfIndex.ingestBatchSkeleton]]'s
    * stage-then-promote protocol, shared with the OPQ stack's ingest
    * (which stages through its rotation seam). */
  private[operators] def stageEncoded(stagingPath: String, newDf: DataFrame,
      embCol: String): Unit =
    encodeBatch(newDf, embCol)
      .write.mode("overwrite").partitionBy("cell").parquet(stagingPath)

  /** Per-cell coded-row counts — the drift gauge for appends, and the
    * metadata half of the [[AnnIndex]] serving-cost seam. */
  override def cellSizeStats: DataFrame =
    encoded.groupBy("cell").agg(count(lit(1)).as("n"))

  /** The (queryId, cell) probe assignment [[searchMany]] plans at
    * `nprobe` — the IDENTICAL [[IvfIndex.probedQueries]] block it
    * broadcasts, so costs priced from it are the costs the serving plan
    * pays. Map-side over the query table; plans no corpus scan. */
  override def probesMany(queries: DataFrame, queryIdCol: String,
      queryEmbCol: String, nprobe: Int): DataFrame =
    IvfIndex.probedQueries(queries, queryIdCol, queryEmbCol, centroidVectors,
      nprobe).select(queryIdCol, "cell")

  /** Mean CODEC self-similarity of `df` under THIS tier's frozen
    * codebooks — cos(v, q(v)) over the deterministic hash-ordered
    * sample (bounded by `maxSample`), residual-staged under
    * `byResidual` so the number measures exactly the quantity the
    * codes store. The codebooks go stale under distribution drift
    * (cell occupancy can stay balanced while reconstruction quality
    * collapses — the drift [[driftGuard]] cannot see). Unlike the OPQ
    * stack, this tier persists no build-time baseline: measure one on
    * the build corpus while its raw vectors still exist, and keep it
    * with the layout. */
  def codecSelfSimilarity(df: DataFrame, embCol: String,
      maxSample: Int = 65536): Double =
    measureCodec(df, embCol, maxSample, identity)

  /** The family's one codec measurement: take the sample on the RAW
    * column ordered by `xxhash64` (the [[PqIndex.fit]] sampling
    * convention), map it into the coded space with `pretransform` (the
    * OPQ stack's rotation; identity here), then assign + subtract the
    * residual under `byResidual` exactly as encode stages it. Sampling
    * before the pretransform is what keeps the OPQ stack's persisted
    * `codec_baseline` values comparable across versions. */
  private[operators] def measureCodec(df: DataFrame, embCol: String,
      maxSample: Int, pretransform: DataFrame => DataFrame): Double = {
    require(maxSample >= 1, s"maxSample must be >= 1, got $maxSample")
    require(embCol != "__resid" && embCol != "__codec_sim",
      s"'$embCol' collides with a reserved codec staging column — rename it")
    val sample = pretransform(df.select(col(embCol)).where(col(embCol).isNotNull)
      .orderBy(xxhash64(col(embCol))).limit(maxSample))
    val perRow =
      if (!byResidual)
        PqIndex.selfSimilarity(sample, embCol, model, "__codec_sim")
      else
        PqIndex.selfSimilarity(
          IvfPqIndex.withResidual(
            IvfIndex.assignWithCentroids(sample, embCol, centroidVectors),
            embCol, centroidVectors, "__resid"),
          "__resid", model, "__codec_sim")
    val r = perRow.agg(avg(col("__codec_sim")).as("m"),
      count(lit(1)).as("n")).head()
    require(r.getAs[Long]("n") > 0L,
      s"codecSelfSimilarity found no non-NULL '$embCol' rows to measure")
    r.getAs[Double]("m")
  }

  /** Codebook STALENESS guard for appends — [[IvfPqIndex.codecBands]]
    * (quiet / warn / refuse with the re-fit remedy) on the plain coded
    * tier. `baselineSelfSim` is REQUIRED here (this tier persists
    * none): measure it with [[codecSelfSimilarity]] on the build
    * corpus. */
  def codecGuard(batch: DataFrame, embCol: String, baselineSelfSim: Double,
      warnDrop: Double = 0.02, refuseDrop: Double = 0.05,
      maxSample: Int = 65536): Option[String] =
    IvfPqIndex.codecBands(codecSelfSimilarity(batch, embCol, maxSample),
      baselineSelfSim, warnDrop, refuseDrop, "PQ", "codebooks",
      "IvfPqIndex.build")

  /** Guarded per-batch INGEST into a saved plain-IVFADC layout — the
    * [[OpqIvfPqIndex.ingestBatch]] maintenance loop (replay markers
    * under `$path/_ingest`, codec staleness bands, stage-then-promote
    * append, the layoutStats-thresholded compaction cadence) minus the
    * rotation seam; driven as a stream by
    * [[graft.streaming.StreamOps.ivfPqIngestPerBatch]]. Same contract:
    * EXACTLY-ONCE per batchId, crash windows included
    * ([[IvfIndex.ingestBatchSkeleton]]'s protocol); no external
    * compaction while the stream is live. `baselineSelfSim`
    * required — this tier persists no build-time baseline. */
  def ingestBatch(path: String, batch: DataFrame, embCol: String,
      batchId: Long, baselineSelfSim: Double,
      warnSink: String => Unit = _ => (),
      compactFilesPerCell: Int = 64,
      targetFileBytes: Long = 128L << 20): Boolean =
    ingestBatchImpl(path, batch, embCol, batchId, baselineSelfSim, warnSink,
      compactFilesPerCell, targetFileBytes, crashPoint = 0)

  /** [[ingestBatch]] with fault injection — crash-recovery specs only. */
  private[graft] def ingestBatchImpl(path: String, batch: DataFrame,
      embCol: String, batchId: Long, baselineSelfSim: Double,
      warnSink: String => Unit, compactFilesPerCell: Int,
      targetFileBytes: Long, crashPoint: Int): Boolean = {
    val spark = batch.sparkSession
    IvfIndex.ingestBatchSkeleton(spark, path, batch, batchId,
      refuse = () => IvfPqIndex.requireSaved(spark, path): Unit,
      guard = () => codecGuard(batch, embCol, baselineSelfSim).foreach(warnSink),
      stage = p => stageEncoded(p, batch, embCol),
      dataTreeRoot = path,
      compact = () => IvfPqIndex.compactSaved(spark, path, targetFileBytes),
      compactFilesPerCell = compactFilesPerCell, crashPoint = crashPoint)
  }

  /** [[IvfIndex.imbalanceGuard]] over the coded corpus.
    *
    * Note on repair: unlike [[IvfIndex.splitOversized]], the coded
    * tier cannot split a hot cell itself — the split fits sub-
    * centroids on the cell's RAW vectors, and `build` drops them
    * after encode (decoded approximations would seed the sub-
    * quantizer with its own distortion). When this guard trips,
    * repair the vector tier ([[IvfIndex.repairSaved]]) and have the
    * coded layout FOLLOW it ([[IvfPqIndex.repairSavedFrom]]) — no
    * re-encode is needed because codes are PQ(raw vector), not
    * PQ(residual): a cell renumbering never invalidates a code. */
  def driftGuard(maxFactor: Double = 8.0): Double =
    IvfIndex.imbalanceGuard(cellSizeStats, nlist, maxFactor, "IVFADC",
      "IvfPqIndex.build")

  /** Persist the whole index: cell-partitioned coded data (probe
    * filters prune FILES — and each file holds codes, not vectors),
    * centroid table, PQ codebooks (the [[PqIndex.save]] frozen-artifact
    * layout), and a sidecar naming the code/norm columns. */
  def save(path: String): Unit = {
    encoded.write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    PqIndex.save(model, s"$path/pq")
    // sidecar through the layout-owning Hadoop FS, not java.nio
    // (r13 ADVICE — see IvfIndex.writeSidecar)
    IvfIndex.writeSidecar(encoded.sparkSession, path, "_ivfpq.json",
      "codes_column" -> codesCol, "norm_column" -> normCol,
      "by_residual" -> byResidual.toString, "nlist" -> nlist)
  }
}

object IvfPqIndex {

  /** The family's one codec-staleness band check — the
    * [[ParaBloom.saturationGuard]] convention (quiet / warn / refuse with
    * a named remedy). `got` is the batch's [[IvfPqIndex.codecSelfSimilarity]]
    * (measured only after the arguments validate); a drop past
    * `refuseDrop` below `baselineSelfSim` means the frozen `codec`
    * (codebooks, or the OPQ rotation) no longer codes the batch's
    * distribution, so appended codes would serve with silently degraded
    * recall: REFUSE and name the re-fit (`remedy`). Between `warnDrop`
    * and `refuseDrop`, return the warning for the caller's telemetry. A
    * batch that codes BETTER than baseline is quiet — only degradation
    * is drift. */
  private[operators] def codecBands(got: => Double, baselineSelfSim: Double,
      warnDrop: Double, refuseDrop: Double, label: String, codec: String,
      remedy: String): Option[String] = {
    require(baselineSelfSim >= -1.0 && baselineSelfSim <= 1.0,
      s"baselineSelfSim must be a cosine in [-1, 1], got $baselineSelfSim")
    require(warnDrop > 0 && warnDrop <= refuseDrop,
      s"need 0 < warnDrop <= refuseDrop, got ($warnDrop, $refuseDrop)")
    val sim = got
    val drop = baselineSelfSim - sim
    if (drop > refuseDrop) throw new IllegalStateException(
      f"$label codec self-similarity $sim%.4f on this batch is $drop%.4f " +
        f"below the baseline $baselineSelfSim%.4f (refuse threshold " +
        f"$refuseDrop%.3f): the batch's distribution has drifted from the " +
        s"FROZEN $codec, so its codes would serve with silently degraded " +
        s"recall. Re-fit ($remedy) on the grown corpus — refusing to append " +
        s"under stale $codec")
    else if (drop > warnDrop) Some(
      f"WARNING: $label codec self-similarity $sim%.4f is $drop%.4f below " +
        f"the baseline $baselineSelfSim%.4f (warn threshold $warnDrop%.3f) " +
        s"— incoming data is drifting from the frozen $codec; plan a re-fit " +
        f"($remedy) before the refuse threshold ($refuseDrop%.3f)")
    else None
  }

  /** The plain coded tier's layout refusal ([[IvfIndex.requireLayout]]
    * on `_ivfpq.json`), run first by [[load]], ingest and the
    * maintenance entry points. */
  private[operators] def requireSaved(spark: SparkSession, path: String): String =
    IvfIndex.requireLayout(spark, path, "_ivfpq.json", "a saved IVFADC layout",
      "save(path) first (an OPQ∘IVFADC stack is maintained through " +
        "OpqIvfPqIndex)")

  /** Reserved residual staging columns refused BY NAME at the top of
    * every residual-coded entry point (r16 ADVICE): the encode-time
    * guard alone fires only AFTER build's codebook fit has already
    * staged `__rcent` — an input carrying one of these names would hit
    * an ambiguous-reference AnalysisException inside the fit join
    * instead of this message. */
  private def requireNoResidualStaging(df: DataFrame): Unit =
    require(!df.columns.contains("__resid") &&
      !df.columns.contains("__rcent") &&
      !df.columns.contains("__rnorm"),
      "input frame carries a reserved residual staging column " +
        "(__resid/__rcent/__rnorm) — rename it before building a " +
        "residual-coded index")

  /** An index over `df` from FROZEN artifacts (coarse quantizer +
    * PQ codebooks) — the incremental-maintenance entry point
    * ([[IvfPqIndex.addBatch]]): assignment and encoding are pure
    * functions of (vector, artifacts), so building from any partition
    * of the corpus and appending the rest yields the identical index. */
  def withArtifacts(df: DataFrame, embCol: String,
      centroidVectors: Array[Array[Float]], model: PqModel,
      codesCol: String = "pq_codes", normCol: String = "emb_norm",
      byResidual: Boolean = false): IvfPqIndex = {
    if (byResidual) requireNoResidualStaging(df)
    new IvfPqIndex(centroidVectors, model,
      // same lazy materialization as [[build]]: encode once on the
      // first action, serve codes thereafter (the persisted contract);
      // same executor-local-block cluster caveat — see [[build]]
      encodeAssigned(
        IvfIndex.assignWithCentroids(df, embCol, centroidVectors),
        embCol, centroidVectors, model, codesCol, normCol, byResidual)
        .localCheckpoint(false),
      codesCol, normCol, byResidual)
  }

  /** The residual column for an already-assigned frame: x − centroid
    * (float32, the FAISS convention) via a broadcast centroid join +
    * one codegen'd `zip_with` — shared by build, encode and the codec
    * measurement. */
  private def withResidual(assigned: DataFrame, embCol: String,
      centroidVectors: Array[Array[Float]], out: String): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cents = centroidVectors.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cell", "__rcent")
    assigned.join(broadcast(cents), Seq("cell"))
      .withColumn(out, zip_with(col(embCol), col("__rcent"), (a, b) => a - b))
      .drop("__rcent")
  }

  /** Encode an assigned frame under either coding: raw codes + norm in
    * one PqEncode pass, or residual codes with the stored norm kept as
    * ‖x‖ (raw — the cosine contract is coding-independent). Drops the
    * embedding either way: from here on the corpus is (cell, codes,
    * norm). */
  private def encodeAssigned(assigned: DataFrame, embCol: String,
      centroidVectors: Array[Array[Float]], model: PqModel,
      codesCol: String, normCol: String, byResidual: Boolean): DataFrame =
    if (!byResidual)
      PqIndex.encode(assigned, embCol, model, codesCol, normCol).drop(embCol)
    else {
      require(!assigned.columns.contains("__resid") &&
        !assigned.columns.contains("__rcent") &&
        !assigned.columns.contains("__rnorm"),
        "input frame carries a reserved residual staging column " +
          "(__resid/__rcent/__rnorm) — rename it before encode")
      PqIndex.encode(withResidual(assigned, embCol, centroidVectors, "__resid"),
          "__resid", model, codesCol, "__rnorm")
        .withColumn(normCol, graft.functions.vectors.vector_norm(col(embCol)))
        .drop(embCol, "__resid", "__rnorm")
    }

  /**
   * Build both tiers in sequence: IVF cell assignment (seed-pinned
   * k-means, [[IvfIndex.build]]) → PQ codebook fit on the indexed
   * corpus ([[PqIndex.fit]] — deterministic hash-ordered sample) →
   * one codegen encode pass — then DROP the embedding column: from
   * here on the corpus is (cell, codes, norm), never vectors.
   */
  def build(df: DataFrame, embCol: String, nlist: Int = 16, m: Int = 8,
      k: Int = 256, maxTrain: Int = 65536, seed: Long = 123L,
      codesCol: String = "pq_codes", normCol: String = "emb_norm",
      byResidual: Boolean = false): IvfPqIndex = {
    if (byResidual) requireNoResidualStaging(df)
    val ivf = IvfIndex.build(df, embCol, nlist, seed)
    val model =
      if (!byResidual) PqIndex.fit(ivf.indexed, embCol, m, k, maxTrain)
      else
        // codebooks fit on the RESIDUAL stream (pooled across cells —
        // the FAISS layout): the quantized domain must be the coded
        // domain, and residuals are what makes k codewords dense
        PqIndex.fit(withResidual(ivf.indexed, embCol, ivf.centroidVectors,
          "__resid"), "__resid", m, k, maxTrain)
    new IvfPqIndex(ivf.centroidVectors, model,
      // lazily MATERIALIZED (r21 optimization, guide §1.2 "don't
      // compute things you throw away"): un-cut, `encoded` is a
      // scan→assign→PqEncode lineage that re-ENCODES the whole corpus
      // on every probe action — the single most expensive kernel in
      // the stack (per row per subspace, a nearest-of-k codeword
      // search), paid once per search/count/stat instead of once per
      // build. The PERSISTED path never had this bug (save() writes
      // the coded rows, load() scans them back), so the checkpoint
      // aligns the in-memory handle with the on-disk contract: encode
      // once at build, serve codes thereafter. JobProbe before/after
      // on pipeline_tune_serve: the three ~0.9 s search jobs drop to
      // code-scan cost after the first materialization.
      // CLUSTER CAVEAT (r21 ADVICE): localCheckpoint truncates lineage
      // onto NON-REPLICATED executor-local blocks — on a cluster with
      // executor loss or dynamic allocation, a lost block fails every
      // later action on this handle unrecoverably (no lineage left to
      // recompute). That is the deliberate trade for an IN-MEMORY
      // build handle: the durable shape is save()/load() (or
      // Dataset.checkpoint to a reliable dir), which this class
      // provides and production serving uses; Dedup.prefixJaccardPairs'
      // candidate stage documents the same fail-LOUDLY-vs-recompute-WRONG choice.
      encodeAssigned(ivf.indexed, embCol, ivf.centroidVectors, model,
        codesCol, normCol, byResidual).localCheckpoint(false),
      codesCol, normCol, byResidual)
  }

  /**
   * Hot-cell repair for a SAVED coded layout, FOLLOWING a repaired
   * vector tier ([[IvfIndex.repairSaved]]) — the recovery `driftGuard`
   * points at. No re-encode is needed at all: codes are PQ(raw
   * vector), not PQ(residual), so a cell renumbering never
   * invalidates a single code byte — only the `cell` column of the
   * split cells' rows changes. Mechanics mirror the vector tier:
   * the coded rows of the formerly-hot cells (any cell a row LEFT,
   * per the repaired assignment) are materialized with their new cell
   * ids, exactly those `cell=` directories are deleted, the rows
   * append under their new partitions, and the centroid table +
   * sidecar refresh to the widened quantizer; COLD CELL FILES ARE
   * NEVER REWRITTEN (spec'd by file listing).
   *
   * `vectorIdx` must be the repaired index over the SAME corpus:
   * checked two ways before anything is deleted — every coded row
   * must find an assignment under `idCol` (a missing id means a
   * different corpus), and every centroid the repair kept in place
   * must be bit-identical to the stored one (an unrelated quantizer
   * means the "unchanged" cells would silently serve wrong probes).
   * Refuse-don't-degrade on both.
   *
   * NOT atomic — same caveat as [[IvfIndex.repairSaved]]: the
   * renumbered rows materialize before any delete, but a crash
   * between delete and append leaves the layout incomplete until
   * re-run; repair against a snapshot when it's the only replica.
   */
  def repairSavedFrom(spark: SparkSession, path: String,
      vectorIdx: IvfIndex, idCol: String): IvfPqIndex = {
    val idx = load(spark, path)
    // residual codes are minted AGAINST their cell's centroid — a
    // renumbered row's code would decode against the wrong centroid,
    // silently corrupting every ADC score. Refuse-don't-degrade: the
    // raw-coded layout is the repair-agile composition (class doc);
    // a residual layout under drift re-fits (build) instead.
    require(!idx.byResidual,
      "repairSavedFrom cannot renumber a RESIDUAL-coded layout (codes are " +
        "PQ(x − centroid(cell)); a cell change invalidates them) — re-fit with " +
        "IvfPqIndex.build, or use byResidual = false where repair agility matters")
    val oldN = idx.centroidVectors.length
    require(vectorIdx.centroidVectors.length >= oldN,
      s"repaired quantizer has ${vectorIdx.centroidVectors.length} cells, fewer " +
        s"than the coded layout's $oldN — not a split of this index")
    val newAssign = vectorIdx.indexed
      .select(col(idCol), col("cell").as("__new_cell"))
    // the join stays LAZY — only the hot subset below is ever
    // materialized (checkpointing the full coded corpus here would be
    // a whole-corpus write at 100 TB; the two guard actions are
    // read-only scans against still-live files)
    val joined = idx.encoded.join(newAssign, Seq(idCol), "left")
    val unmatched = joined.where(col("__new_cell").isNull).count()
    require(unmatched == 0L,
      s"$unmatched coded rows have no assignment in the repaired vector index " +
        s"under '$idCol' — different corpus or id column; refusing to repair")
    // hot = every cell any row LEFT; their dirs rewrite, nothing else
    val hot = joined.where(col("cell") =!= col("__new_cell"))
      .select("cell").distinct().collect().map(_.getInt(0)).sorted
    if (hot.isEmpty) return idx
    val hotSet = hot.toSet
    // unchanged centroids must match bit-for-bit (same quantizer check)
    (0 until oldN).filterNot(hotSet).foreach { c =>
      require(java.util.Arrays.equals(idx.centroidVectors(c), vectorIdx.centroidVectors(c)),
        s"centroid $c differs between the coded layout and the repaired index " +
          "— not a repair of this quantizer; refusing")
    }
    val rewritten = joined.where(col("cell").isin(hot.map(Int.box): _*))
      .drop("cell").withColumnRenamed("__new_cell", "cell")
      .localCheckpoint(true) // cut lineage off the files about to go
    val conf = spark.sparkContext.hadoopConfiguration
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataPath.getFileSystem(conf)
    hot.foreach { c =>
      val dir = new org.apache.hadoop.fs.Path(dataPath, s"cell=$c")
      if (fs.exists(dir)) fs.delete(dir, true)
    }
    rewritten.write.mode("append").partitionBy("cell").parquet(s"$path/data")
    vectorIdx.centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    IvfIndex.writeSidecar(spark, path, "_ivfpq.json",
      "codes_column" -> idx.codesCol, "norm_column" -> idx.normCol,
      "nlist" -> vectorIdx.centroidVectors.length)
    load(spark, path)
  }

  /** Reopen a saved index. The data scan comes from the cell-partitioned
    * layout, so probe filters prune at the file level; the centroids and
    * the PQ model ([[PqIndex.load]]) read by name, driver-side, so
    * reopening runs no Spark job ([[ParquetArtifacts]]). */
  def load(spark: SparkSession, path: String): IvfPqIndex = {
    val json = requireSaved(spark, path)
    def field(name: String, dflt: String): String =
      IvfIndex.sidecarField(json, name).getOrElse(dflt)
    val codesCol = field("codes_column", "pq_codes")
    val normCol = field("norm_column", "emb_norm")
    // layouts written before the residual option existed are raw-coded
    val byResidual = field("by_residual", "false").toBoolean
    new IvfPqIndex(IvfIndex.readCentroids(spark, path),
      PqIndex.load(spark, s"$path/pq"),
      ParquetArtifacts.cellTree(spark, s"$path/data"), codesCol, normCol,
      byResidual)
  }

  /** Files-per-cell telemetry for a SAVED layout's data tree — the
    * gauge that says when to [[compactSaved]]: every
    * [[IvfPqIndex.appendToSaved]] (and every micro-batch of a
    * streaming ingest) writes NEW files under each `cell=` partition,
    * so a long-lived layout accretes thousands of small files per
    * cell — the classic small-file tax (footer-read per file per
    * probe, listing RPCs, tiny row groups defeating column-chunk
    * IO). Returns (cell, n_files, bytes); driver-side FS listing, one
    * RPC per cell directory — nlist RPCs, corpus-size-free. */
  def layoutStats(spark: SparkSession, path: String): DataFrame = {
    requireSaved(spark, path)
    IvfIndex.dataTreeStats(spark, path)
  }

  /** [[IvfIndex.recoverIngestSweep]] for a saved plain-IVFADC layout —
    * the fresh-checkpoint crash-recovery runbook (quiesced only). */
  def recoverIngest(spark: SparkSession, path: String): (Seq[Long], Seq[Long]) = {
    requireSaved(spark, path)
    IvfIndex.recoverIngestSweep(spark, path, path)
  }

  /** COMPACT a saved layout's data tree: rewrite each `cell=`
    * partition into ~`targetFileBytes` files (one writer task per
    * cell via a cell-key repartition; oversize cells split by
    * `maxRecordsPerFile` derived from the measured bytes/row), then
    * swap the tree in. Contents are row-identical — a reopened index
    * serves the same results (spec'd) — only the FILE layout changes;
    * probe filters still prune whole `cell=` directories.
    *
    * Swap protocol (crash-safe by refusal, not by magic): the
    * compacted tree is fully written and row-count-verified at
    * `$path/data_compacting` BEFORE any rename; then
    * data → data_precompact, data_compacting → data, delete
    * data_precompact. A crash between the renames leaves
    * `data_precompact` (the intact original) and possibly no `data` —
    * this entry point REFUSES to start while either staging directory
    * exists and names the manual recovery (rename data_precompact
    * back), instead of guessing which tree is authoritative. */
  def compactSaved(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    requireSaved(spark, path)
    IvfIndex.compactDataTree(spark, path, targetFileBytes)
  }
}
