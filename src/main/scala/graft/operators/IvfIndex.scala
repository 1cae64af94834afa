package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.vectors

/**
 * IVF (inverted-file) approximate-nearest-neighbor index — the
 * Spark-native scale path for similarity search (SURVEY §2.3 J / north
 * star). A coarse k-means quantizer assigns every vector to a cell; a
 * query probes only the `nprobe` cells whose centroids score highest,
 * then runs the EXACT top-k inside them. Scanned fraction ≈
 * nprobe/nlist, with exact scores on everything returned (recall is
 * approximate, precision is exact — same contract as
 * SimJoin.approxCosineSelfJoin).
 *
 * Why this shape fits Spark: the cell id is a plain integer column. An
 * indexed corpus written with `.repartition(col("cell"))` +
 * `partitionBy("cell")` parquet gets PARTITION PRUNING on the probe
 * filter — a 1000-executor query touches only nprobe/nlist of the
 * files on disk, no custom storage engine required. The centroid table
 * (nlist × dim floats) broadcasts everywhere.
 *
 * The reference has no index at all (exact scan per query,
 * /root/reference/R/core.R:287-292, "consider FAISS" at README.md:22)
 * — this is the capability its docs defer to external engines,
 * rebuilt on Spark primitives.
 */
class IvfIndex private (
    val centroidVectors: Array[Array[Float]], // index = cell id
    val indexed: DataFrame, // original columns + `cell: int`
    val embCol: String) extends Serializable {

  /** nlist × dim centroid frame: (cell: int, centroid: array<float>). */
  lazy val centroids: DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    centroidVectors.zipWithIndex.map { case (v, i) => (i, v) }
      .toSeq.toDF("cell", "centroid")
  }

  /** Cells a query vector would probe, best centroid first. Pure
    * driver-local arithmetic over the resident centroid array (≤ nlist
    * rows) — no Spark job, so single-query `search` plans exactly one
    * job: the probe-filtered scan. */
  def probeCells(queryVec: Array[Float], nprobe: Int): Array[Int] =
    IvfIndex.probe(centroidVectors, queryVec, nprobe)

  /**
   * ANN top-k: exact scoring restricted to the probed cells. The cell
   * filter is a pushable integer predicate (partition-pruning on a
   * cell-partitioned layout); the tail is the same
   * `TakeOrderedAndProject` shape as exact `nearest`.
   */
  def search(queryVec: Array[Float], k: Int, nprobe: Int = 4,
      method: String = "cosine", simCol: String = "similarity",
      tieBreakers: Seq[Column] = Nil): DataFrame = {
    val cells = probeCells(queryVec, nprobe)
    Nearest.topK(
      indexed.where(col("cell").isin(cells.toIndexedSeq.map(Int.box): _*)),
      embCol, lit(queryVec), n = k, method = method,
      simCol = simCol, tieBreakers = tieBreakers)
  }

  /**
   * Batch ANN: top-k for a whole TABLE of queries, fully distributed —
   * no per-query driver round-trip, so it scales to millions of
   * queries. Plan: map-side probe assignment
   * ([[IvfIndex.probedQueries]] — each query row once per probed cell,
   * scored against the resident centroids in generated code) →
   * broadcast → join corpus ON CELL (hash join on an int key — only
   * probed cells' vectors meet each query) → exact score → per-query
   * top-k via the bounded-heap aggregate. The one shuffle carries
   * k-capped candidate lists, never the corpus².
   */
  def searchMany(queries: DataFrame, queryIdCol: String, queryEmbCol: String,
      corpusIdCol: String, k: Int, nprobe: Int = 4,
      simCol: String = "similarity"): DataFrame = {
    import graft.functions.TopKScored
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // same long-id buffer contract as SimJoin.knnJoinAgg — reject
    // non-integral ids up front instead of casting them to NULL
    val idType = indexed.schema(corpusIdCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"searchMany buffers corpus ids as long, but '$corpusIdCol' is ${idType.simpleString}")
    indexed
      .join(broadcast(IvfIndex.probedQueries(queries, queryIdCol, queryEmbCol,
        centroidVectors, nprobe)), Seq("cell"))
      .select(col(queryIdCol), col(corpusIdCol).cast("long").as(corpusIdCol),
        vectors.cosine_similarity(col(embCol), col(queryEmbCol)).as(simCol))
      .groupBy(col(queryIdCol))
      .agg(TopKScored.column(k)(col(simCol), col(corpusIdCol)).as("__topk"))
      .select(col(queryIdCol), explode(col("__topk")).as("__e"))
      .select(col(queryIdCol), col("__e.id").as(corpusIdCol), col("__e.score").as(simCol))
  }

  /**
   * Incremental maintenance: assign a NEW batch of vectors to the
   * FROZEN centroids and fold it into the index — production indexes
   * take appends; refitting k-means per append would re-assign the
   * whole corpus (and change every persisted cell file). Assignment is
   * the map-side [[graft.expressions.NearestCell]] codegen expression
   * (centroids ride into generated code; nothing shuffles, only the
   * batch scans), and it reproduces the build-time `KMeansModel
   * .transform` assignment exactly (spec'd), so
   * `withCentroids(a ∪ b) == withCentroids(a).addBatch(b)` row-for-row
   * — the ⊕ `ann_ivf_incremental_exact` proof. The quantizer does NOT
   * learn from appends: monitor [[cellSizeStats]]/[[driftGuard]] and
   * re-fit when drifted data outgrows a cell.
   */
  def addBatch(newDf: DataFrame): IvfIndex =
    new IvfIndex(centroidVectors,
      indexed.unionByName(IvfIndex.assignWithCentroids(newDf, embCol, centroidVectors)),
      embCol)

  /** [[addBatch]] straight into a SAVED layout: the batch's assigned
    * rows append as new files under their `cell=` partitions — existing
    * files are never rewritten, probe-filter pruning keeps working, and
    * a reopened index serves the union (spec'd). */
  def appendToSaved(path: String, newDf: DataFrame): Unit =
    IvfIndex.assignWithCentroids(newDf, embCol, centroidVectors)
      .write.mode("append").partitionBy("cell").parquet(s"$path/data")

  /** Guarded per-batch INGEST into a saved vector-tier layout — the
    * [[OpqIvfPqIndex.ingestBatch]] maintenance loop (replay markers
    * under `$path/_ingest`, append, layoutStats-thresholded compaction
    * cadence) WITHOUT a codec-staleness guard, deliberately: this tier
    * stores RAW vectors, so there is no codec to go stale — scores
    * stay exact under any distribution drift, and what drift degrades
    * is probe COST (hot cells), not correctness. Cost drift is a
    * layout-level property, monitored by [[cellSizeStats]] /
    * [[driftGuard]] on the reopened index and repaired by
    * [[IvfIndex.repairSaved]] — a per-batch refusal would be the wrong
    * failure mode for a degradation that is gradual and serveable.
    * Same replay contract as the coded tiers (EXACTLY-ONCE per
    * batchId, crash windows included — the stage-then-promote
    * protocol, [[IvfIndex.ingestBatchSkeleton]]; no external
    * compaction while the stream is live). Driven by
    * [[graft.streaming.StreamOps.ivfIngestPerBatch]]. */
  def ingestBatch(path: String, batch: DataFrame, batchId: Long,
      compactFilesPerCell: Int = 64,
      targetFileBytes: Long = 128L << 20): Boolean =
    ingestBatchImpl(path, batch, batchId, compactFilesPerCell,
      targetFileBytes, crashPoint = 0)

  /** [[ingestBatch]] with fault injection — crash-recovery specs only. */
  private[graft] def ingestBatchImpl(path: String, batch: DataFrame,
      batchId: Long, compactFilesPerCell: Int, targetFileBytes: Long,
      crashPoint: Int): Boolean = {
    val spark = batch.sparkSession
    IvfIndex.ingestBatchSkeleton(spark, path, batch, batchId,
      // (appendToSaved itself is deliberately unchecked — it is the
      // primitive); a crashed repair's sentinel refuses here too
      refuse = () => IvfIndex.requireSaved(spark, path): Unit,
      guard = () => (),
      stage = p => IvfIndex.assignWithCentroids(batch, embCol, centroidVectors)
        .write.mode("overwrite").partitionBy("cell").parquet(p),
      dataTreeRoot = path,
      compact = () => IvfIndex.compactSaved(spark, path, targetFileBytes),
      compactFilesPerCell = compactFilesPerCell, crashPoint = crashPoint)
  }

  /** Per-cell row counts — the drift gauge for an append-maintained
    * index (one map-combined count aggregation). */
  def cellSizeStats: DataFrame =
    indexed.groupBy("cell").agg(count(lit(1)).as("n"))

  /** Per-cell counts of a BATCH under this index's frozen quantizer —
    * batch-scale: map-side assignment + map-combined count, nlist rows
    * out (the resident-map bound). The incremental gauge the streaming
    * repair cadence ([[graft.streaming.StreamOps.ivfIngestPerBatch]])
    * ADDS to its resident occupancy map instead of re-counting the
    * whole layout per micro-batch — the difference between a check
    * that costs O(batch) and one that costs O(layout) on every batch
    * of a long-lived stream. NULL vectors are excluded, exactly as the
    * append excludes them. */
  def batchCellCounts(batch: DataFrame): Map[Int, Long] =
    IvfIndex.assignWithCentroids(batch, embCol, centroidVectors)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** This vector-tier index through the [[AnnIndex]] serving trait
    * (r18 VERDICT #3): the measurement seam ([[AnnIndex.recallCurve]]/
    * [[AnnIndex.recallGrid]]) and every trait consumer (batch MMR,
    * [[AnnIndex.open]]) can now size THIS tier's nprobe the same
    * measured way as the coded tiers. A thin adapter rather than
    * extending the trait directly, and method-pinned to COSINE: the
    * concrete class keeps its `method` knob (dot/euclidean), and the
    * two `search` signatures would otherwise be overload-ambiguous —
    * the documented reason this tier stayed off the trait until the
    * adapter. The refine forms re-rank the shortlist on raw vectors
    * exactly like the coded tiers (the [[AnnIndex]] trait's one
    * implementation); over this tier's already-exact
    * scores they change membership never, order only through
    * tie-breakers (spec'd `searchRefine == search` at n = k ≤
    * shortlist) — they are the trait's own, so trait consumers compose
    * uniformly.
    *
    * Exactness anchor: nprobe = nlist probes every cell with EXACT
    * scores, so every trait form equals brute force — and unlike the
    * coded tiers the vector tier's recall is monotone in nprobe
    * unconditionally (exact scores always; the lossless-codebook
    * caveat is vacuous here — spec'd, and the `ann_recall_curve_vec`
    * gate row pins the 1.0 / corpus-size corner). */
  def asAnnIndex: AnnIndex = {
    val self = this
    require(centroidVectors.nonEmpty, "cannot adapt an index with no centroids")
    new AnnIndex {
      override def dim: Int = self.centroidVectors(0).length
      override def nlist: Int = self.centroidVectors.length
      override def search(queryVec: Array[Float], k: Int, nprobe: Int,
          simCol: String, tieBreakers: Seq[Column]): DataFrame =
        self.search(queryVec, k, nprobe, "cosine", simCol, tieBreakers)
      override def searchMany(queries: DataFrame, queryIdCol: String,
          queryEmbCol: String, corpusIdCol: String, k: Int, nprobe: Int,
          simCol: String): DataFrame =
        self.searchMany(queries, queryIdCol, queryEmbCol, corpusIdCol, k,
          nprobe, simCol)
      override def cellSizeStats: DataFrame = self.cellSizeStats
      override def probesMany(queries: DataFrame, queryIdCol: String,
          queryEmbCol: String, nprobe: Int): DataFrame =
        IvfIndex.probedQueries(queries, queryIdCol, queryEmbCol,
          self.centroidVectors, nprobe).select(queryIdCol, "cell")
    }
  }

  /** Refuse-don't-degrade guard for append drift — the family's one
    * [[IvfIndex.imbalanceGuard]] over this tier's cell sizes. Throws
    * with the offending cells; returns the max/avg factor when
    * healthy. */
  def driftGuard(maxFactor: Double = 8.0): Double =
    IvfIndex.imbalanceGuard(cellSizeStats, centroidVectors.length, maxFactor,
      "IVF", "IvfIndex.build")

  /**
   * Cell-size cap, one pass: every cell holding more than `maxRows`
   * rows is SPLIT — a local k-means (⌈n/maxRows⌉ sub-centroids, seed
   * pinned) fit on just that cell's vectors, its rows re-assigned only
   * AMONG those sub-centroids (map-side [[graft.expressions
   * .NearestCell]]; no other cell's rows move, so the pass is a
   * refinement of the old partition). The returned index carries the
   * widened centroid table (kept centroids renumbered densely,
   * sub-centroids appended); `search`/`searchMany` work unchanged, and
   * exactness at nprobe = nlist is preserved because the cells still
   * tile the corpus (spec'd). This is the repair `driftGuard` points
   * at when a zipf-drifted append concentrates probes in hot cells
   * (measured at r13 by the removed ScaleProbe `ivfskew` mode,
   * `git show e105133:src/main/scala/graft/ScaleProbe.scala`): probe
   * cost returns to ≈ nprobe/nlist of the corpus without refitting the
   * whole quantizer or rewriting cold cells.
   *
   * One k-means pass does not PROMISE the cap (k-means balances by
   * geometry, not by count — a cell of near-identical vectors cannot
   * be split at all); [[capCells]] iterates and refuses on
   * no-progress rather than looping forever.
   */
  def splitOversized(maxRows: Long, seed: Long = 123L): IvfIndex = {
    val (idx, _, _) = splitOversizedPlan(maxRows, seed)
    idx
  }

  /** [[splitOversized]] plus the hot cell ids and their reassigned
    * frames — the saved-layout repair ([[IvfIndex.repairSaved]]) writes
    * exactly these and touches nothing else. */
  private[operators] def splitOversizedPlan(maxRows: Long,
      seed: Long): (IvfIndex, Seq[Int], Seq[DataFrame]) = {
    require(maxRows >= 1, s"maxRows must be >= 1, got $maxRows")
    // nlist-bounded collect (same bound as the resident centroid array)
    val sizes = cellSizeStats.collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hot = sizes.filter(_._2 > maxRows).keys.toSeq.sorted
    if (hot.isEmpty) return (this, Nil, Nil)
    // Cold cells keep their IDS and their ROWS untouched — the split
    // replaces each hot centroid IN PLACE with its first sub-centroid
    // and appends the rest, so on a persisted layout only the hot
    // `cell=` partitions ever need rewriting.
    val newCentroids = scala.collection.mutable.ArrayBuffer[Array[Float]](
      centroidVectors.toIndexedSeq: _*)
    var hotPieces: Vector[DataFrame] = Vector.empty
    for (c <- hot) {
      val k = math.max(2, math.ceil(sizes(c).toDouble / maxRows).toInt)
      val cellRows = indexed.where(col("cell") === c).drop("cell")
      val vecCol = "__ivf_vec"
      val assembled = cellRows.withColumn(vecCol, array_to_vector(col(embCol)))
      val sub = new KMeans().setK(k).setSeed(seed)
        .setFeaturesCol(vecCol).setPredictionCol("__sub").fit(assembled)
        .clusterCenters.map(_.toArray.map(_.toFloat))
      // sub-cell 0 inherits id c; sub-cells 1.. append at the tail
      val base = newCentroids.length
      newCentroids(c) = sub(0)
      newCentroids ++= sub.drop(1)
      hotPieces :+= IvfIndex.assignWithCentroids(cellRows, embCol, sub)
        .withColumn("cell",
          when(col("cell") === 0, lit(c))
            .otherwise(col("cell") + lit(base - 1)).cast("int"))
    }
    val cold = indexed.where(!col("cell").isin(hot.map(Int.box): _*))
    val idx = new IvfIndex(newCentroids.toArray,
      (cold +: hotPieces).reduce(_ unionByName _), embCol)
    (idx, hot, hotPieces)
  }

  /** Iterated [[splitOversized]] until every cell fits `maxRows`.
    * Refuses (refuse-don't-degrade) when a round makes no progress —
    * the pathological case is a cell of duplicate/near-identical
    * vectors, which no quantizer refinement can separate; capping it
    * needs an id-salted overflow tier, not a geometry split. */
  def capCells(maxRows: Long, maxRounds: Int = 4, seed: Long = 123L): IvfIndex = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var idx = this
    var round = 0
    while (round < maxRounds) {
      val worst = idx.cellSizeStats.agg(max(col("n"))).head().getLong(0)
      if (worst <= maxRows) return idx
      val next = idx.splitOversized(maxRows, seed + round)
      val nextWorst = next.cellSizeStats.agg(max(col("n"))).head().getLong(0)
      if (nextWorst >= worst) throw new IllegalStateException(
        s"capCells made no progress (fullest cell $worst -> $nextWorst rows " +
          s"against cap $maxRows): the hot cell's vectors are too similar " +
          "for a geometry split — dedup them or accept the imbalance")
      idx = next
      round += 1
    }
    val worst = idx.cellSizeStats.agg(max(col("n"))).head().getLong(0)
    if (worst > maxRows) throw new IllegalStateException(
      s"capCells: fullest cell still $worst rows after $maxRounds rounds " +
        s"(cap $maxRows) — raise maxRounds or the cap")
    idx
  }

  /** Persist the corpus cell-partitioned so probe filters prune files. */
  def writePartitioned(path: String): Unit =
    indexed.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Persist the whole index: cell-partitioned data + centroid table +
    * sidecar. A loaded index reads the partitioned layout, so `search`
    * probes prune FILES, not just rows. */
  def save(path: String): Unit = {
    writePartitioned(s"$path/data")
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    IvfIndex.writeSidecar(indexed.sparkSession, path, "_ivf.json",
      "embedding_column" -> embCol, "nlist" -> centroidVectors.length)
  }
}

object IvfIndex {

  /** Cells a query vector would probe, best centroid first — the
    * coarse-quantizer half shared with the IVFADC composition
    * ([[IvfPqIndex]]). Pure driver-local arithmetic over the resident
    * centroid array (≤ nlist rows), no Spark job: the
    * [[graft.expressions.ProbeCells]] kernel every `searchMany` runs
    * map-side, called on the one query vector — so single-query and
    * batch search probe by one rule. */
  private[operators] def probe(centroidVectors: Array[Array[Float]],
      queryVec: Array[Float], nprobe: Int): Array[Int] =
    if (centroidVectors.isEmpty) Array.empty
    else {
      val (flat, dim) = graft.expressions.NearestCell.flatten(centroidVectors)
      graft.expressions.NearestCell.probeTop(
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(queryVec),
        isFloat = true, flat, dim, nprobe)
    }

  /** The tier-independent skeleton every streaming ingest shares,
    * EXACTLY-ONCE since round 20 (r19 VERDICT #1 — the marker-after-
    * append protocol replayed one batch as duplicate rows across the
    * append-commit→marker crash window). The stage-then-promote
    * protocol per batch:
    *
    * 0. `refuse()` — the tier's saved-layout refusal, before anything
    *    else (a replay into the wrong layout refuses too): ingesting
    *    into a path that was never save()d would grow a data tree no
    *    load() can open, and the OPQ stack also refuses a layout saved
    *    under a different rotation.
    * 1. REPLAY PROBE — `$markerRoot/_ingest/batch_<id>.json` present
    *    means the batch COMMITTED. If its staging directory still
    *    exists the promotion crashed mid-move: finish it (each file
    *    renames out of staging exactly once, so completion is
    *    idempotent) and return true. Otherwise pure replay, no-op,
    *    false.
    * 2. `guard()` (codec staleness on the coded tiers).
    * 3. STAGE — write the batch's cell-partitioned files under
    *    `$markerRoot/_ingest/staging_<id>` (mode overwrite; leftovers
    *    of a pre-marker crash are deleted first). Staged files are
    *    INVISIBLE to readers — nothing under `$dataTreeRoot/data`
    *    changes — so a crash here replays cleanly: no marker, no
    *    visible rows.
    * 4. MARKER — the commit point. A crash before it replays the
    *    batch from scratch (stage overwritten); a crash after it is
    *    recovered by step 1.
    * 5. PROMOTE — rename each staged file into its `cell=` directory
    *    of the data tree (same FS, metadata-only moves; file names
    *    are prefixed `ingest-<batchId>-` so recovery re-renames are
    *    collision-free). Renames are atomic per file, so a crashed
    *    promotion leaves each file on exactly one side and step 1
    *    moves the rest.
    * 6. The layoutStats-thresholded compaction cadence over
    *    `$dataTreeRoot/data`.
    *
    * Exactly-once for every crash point: rows become reader-visible
    * only after the marker exists, and a marker-present replay never
    * re-stages (the staged files ARE the committed batch). What is
    * NOT atomic is batch VISIBILITY to concurrent readers — promoted
    * files appear one by one, the same semantics a multi-file
    * parquet append commit always had. Returns true iff rows landed
    * (including a recovery-completed promotion); replayed batchIds
    * and empty batches return false (empty batches leave no marker —
    * replaying one is harmless, and there is nothing to guard).
    *
    * `crashPoint` is FAULT INJECTION for the crash-recovery specs
    * (1 = die after stage, 2 = die after marker), throwing
    * [[InjectedIngestCrash]]; production callers leave it 0. */
  private[operators] def ingestBatchSkeleton(
      spark: org.apache.spark.sql.SparkSession, markerRoot: String,
      batch: DataFrame, batchId: Long, refuse: () => Unit, guard: () => Unit,
      stage: String => Unit, dataTreeRoot: String, compact: () => Unit,
      compactFilesPerCell: Int, crashPoint: Int = 0): Boolean = {
    refuse()
    require(batchId >= 0L, s"batchId must be >= 0, got $batchId")
    require(compactFilesPerCell >= 1,
      s"compactFilesPerCell must be >= 1, got $compactFilesPerCell")
    val ingestDir = new org.apache.hadoop.fs.Path(s"$markerRoot/_ingest")
    val marker = new org.apache.hadoop.fs.Path(ingestDir, s"batch_$batchId.json")
    val staging = new org.apache.hadoop.fs.Path(ingestDir, s"staging_$batchId")
    val dataDir = new org.apache.hadoop.fs.Path(s"$dataTreeRoot/data")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the fullest cell's file count, from the driver-side listing
    def cadence(): Unit = {
      val maxFiles = cellFiles(fs, dataDir).map(_._2.length).maxOption.getOrElse(0)
      if (maxFiles > compactFilesPerCell) compact()
    }
    if (fs.exists(marker)) {
      // committed batch. If its staged files are still waiting the
      // promotion crashed — complete it; otherwise a pure replay.
      if (fs.exists(staging)) {
        promoteStaged(fs, staging, dataDir, batchId)
        cadence()
        return true
      }
      return false
    }
    if (batch.isEmpty) return false
    guard()
    if (fs.exists(staging)) fs.delete(staging, true) // pre-marker crash leftovers
    stage(staging.toString)
    if (crashPoint == 1) throw new InjectedIngestCrash
    writeSidecar(spark, s"$markerRoot/_ingest", s"batch_$batchId.json",
      "batch_id" -> batchId)
    if (crashPoint == 2) throw new InjectedIngestCrash
    promoteStaged(fs, staging, dataDir, batchId)
    cadence()
    true
  }

  /** Crash-recovery SWEEP for a layout whose ingest stream died and is
    * NOT coming back with the same checkpoint — the one case the
    * stage-then-promote protocol's in-band recovery cannot reach: a
    * batch that crashed after its marker is recovered when its batchId
    * REPLAYS, but a stream restarted with a fresh checkpoint never
    * replays old ids, and the committed rows would sit invisible in
    * staging forever. One driver-side FS sweep over
    * `$markerRoot/_ingest`:
    *
    *   - `staging_<id>` WITH its marker → the batch committed;
    *     complete the promotion (idempotent — the skeleton's own
    *     recovery step);
    *   - `staging_<id>` WITHOUT a marker → the batch never committed
    *     and its rows were never visible; delete it (a fresh stream
    *     re-delivers the data under new batch ids).
    *
    * Returns (promoted, discarded) batchId lists. QUIESCED ONLY: run
    * before starting the replacement stream, never concurrently with
    * one — the same offline contract as compaction. Exposed per tier
    * as `recoverIngest` with the tier's layout refusal. */
  private[operators] def recoverIngestSweep(
      spark: org.apache.spark.sql.SparkSession, markerRoot: String,
      dataTreeRoot: String): (Seq[Long], Seq[Long]) = {
    val ingestDir = new org.apache.hadoop.fs.Path(s"$markerRoot/_ingest")
    val fs = ingestDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(ingestDir)) return (Nil, Nil)
    val dataDir = new org.apache.hadoop.fs.Path(s"$dataTreeRoot/data")
    var promoted = List.empty[Long]
    var discarded = List.empty[Long]
    fs.listStatus(ingestDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("staging_"))
      .foreach { st =>
        val idStr = st.getPath.getName.stripPrefix("staging_")
        require(idStr.forall(_.isDigit) && idStr.nonEmpty,
          s"${st.getPath} is not a graft ingest staging directory — " +
            "refusing to sweep a tree this engine did not write")
        val id = idStr.toLong
        if (fs.exists(new org.apache.hadoop.fs.Path(ingestDir, s"batch_$id.json"))) {
          promoteStaged(fs, st.getPath, dataDir, id)
          promoted ::= id
        } else {
          fs.delete(st.getPath, true)
          discarded ::= id
        }
      }
    (promoted.sorted, discarded.sorted)
  }

  /** [[recoverIngestSweep]] for a saved VECTOR-tier layout. */
  def recoverIngest(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[Long], Seq[Long]) = {
    requireSaved(spark, path)
    recoverIngestSweep(spark, path, path)
  }

  /** Fault-injection sentinel for the ingest crash-recovery specs —
    * never thrown in production (see `ingestBatchSkeleton.crashPoint`). */
  private[graft] final class InjectedIngestCrash extends RuntimeException(
    "injected ingest crash (fault injection for crash-recovery specs)")

  /** Move a staged batch's cell files into the served data tree —
    * step 5 of [[ingestBatchSkeleton]]'s protocol, and its crash
    * RECOVERY (a rename moves each file exactly once, so re-running
    * after a mid-promotion crash finishes the remainder and touches
    * nothing already moved). Renames, never copies: the staging
    * directory lives under the same layout root, so the moves are
    * same-FS metadata operations. Missing staging is a no-op. */
  private[operators] def promoteStaged(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      dataDir: org.apache.hadoop.fs.Path, batchId: Long): Unit = {
    if (!fs.exists(staging)) return
    fs.listStatus(staging).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .foreach { d =>
        val dest = new org.apache.hadoop.fs.Path(dataDir, d.getPath.getName)
        fs.mkdirs(dest)
        fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .foreach { f =>
            val target = new org.apache.hadoop.fs.Path(dest,
              s"ingest-$batchId-${f.getPath.getName}")
            require(fs.rename(f.getPath, target),
              s"could not promote staged ingest file ${f.getPath} to $target " +
                "— the batch is committed (marker written); re-run the batch " +
                "to retry the promotion")
          }
      }
    fs.delete(staging, true): Unit
  }

  /** The probe block every `searchMany` in the family plans: each query
    * row with a non-NULL id, once per probed cell —
    * (queryIdCol, queryEmbCol, cell), plus `__qc` = q·centroid(cell)
    * when `withAddend` (residual coding). Map-side: the
    * [[graft.expressions.ProbeCells]] kernel evaluates [[probe]]'s rule
    * per row against the resident centroid table, then one explode — no
    * join, no shuffle, no aggregate, so it plans no job of its own.
    * [[IvfIndex.searchMany]] and [[IvfPqIndex.searchMany]] broadcast
    * this frame into their corpus cell join, and the
    * [[AnnIndex.probesMany]] telemetry seam selects its (id, cell) pairs,
    * so the cost a deployment prices from the metadata is BY
    * CONSTRUCTION the cost the serving plan pays. nQ·nprobe rows —
    * never corpus-scale; the broadcast carries each query vector once
    * per probed cell. Each query row probes by its own vector: duplicate
    * ids probe separately. A NULL query vector probes no cell, as NULL
    * vectors are excluded from [[build]]; rows with a NULL id or a NULL
    * vector serve nothing. */
  private[operators] def probedQueries(queries: DataFrame, queryIdCol: String,
      queryEmbCol: String, centroidVectors: Array[Array[Float]], nprobe: Int,
      withAddend: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.expressions.{CellDot, NearestCell, ProbeCells}
    val (flat, dim) = NearestCell.flatten(centroidVectors)
    val probed = queries
      .where(col(queryIdCol).isNotNull)
      .select(col(queryIdCol), col(queryEmbCol),
        explode(ColumnBridge.column(ProbeCells(
          ColumnBridge.expression(col(queryEmbCol)), flat, dim, nprobe))).as("cell"))
    if (!withAddend) probed
    else probed.withColumn("__qc", ColumnBridge.column(CellDot(
      ColumnBridge.expression(col(queryEmbCol)), ColumnBridge.expression(col("cell")),
      flat, dim)))
  }

  /** Double-accumulated plain dot product, driver-side — the per-cell
    * `q·centroid` addend of residual-coded ADC ([[IvfPqIndex.search]]). */
  private[operators] def dotLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0; var i = 0
    while (i < n) { d += a(i).toDouble * b(i); i += 1 }
    d
  }

  /** An index over `df` with a FROZEN, externally-supplied quantizer —
    * the incremental-maintenance entry point ([[IvfIndex.addBatch]]):
    * assignment is a pure function of (vector, centroids), so building
    * from any partition of the corpus and appending the rest yields
    * the identical index. */
  def withCentroids(df: DataFrame, embCol: String,
      centroidVectors: Array[Array[Float]]): IvfIndex =
    new IvfIndex(centroidVectors,
      assignWithCentroids(df, embCol, centroidVectors), embCol)

  /** Wrap a frame that ALREADY carries this quantizer's `cell` column
    * (rows previously assigned by [[withCentroids]] over the same
    * centroids, accumulated across stream batches) without
    * re-assigning — the streaming-store resume path, where re-running
    * the map-side assignment over the whole retained corpus every
    * batch would scale with the store instead of the batch. The cell
    * column is TRUSTED, like a [[load]]ed layout's; callers own the
    * same-quantizer invariant. */
  private[graft] def fromAssigned(centroidVectors: Array[Array[Float]],
      assigned: DataFrame, embCol: String): IvfIndex = {
    require(assigned.columns.contains("cell"),
      "fromAssigned needs the `cell` column a withCentroids pass produced")
    new IvfIndex(centroidVectors, assigned, embCol)
  }

  /** Map-side MULTI-assignment: original columns + `cell`, one row per
    * (vector, one of its `nprobe` nearest cells) — the SemDeDup
    * boundary-recall explode ([[graft.operators.Dedup.semanticPairsMulti]]).
    * `nprobe = 1` produces exactly [[assignWithCentroids]]'s rows
    * (same kernel tie rule, spec'd). NULL vectors are excluded. */
  private[operators] def assignWithCentroidsMulti(df: DataFrame, embCol: String,
      centroidVectors: Array[Array[Float]], nprobe: Int): DataFrame = {
    val (flat, dim) = graft.expressions.NearestCell.flatten(centroidVectors)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.where(col(embCol).isNotNull)
      .withColumn("cell", explode(ColumnBridge.column(
        graft.expressions.NearestCells(
          ColumnBridge.expression(col(embCol)), flat, dim, nprobe))))
  }

  /** Map-side frozen-centroid assignment: original columns + `cell`.
    * NULL vectors are excluded, as in [[build]]. */
  private[graft] def assignWithCentroids(df: DataFrame, embCol: String,
      centroidVectors: Array[Array[Float]]): DataFrame = {
    val (flat, dim) = graft.expressions.NearestCell.flatten(centroidVectors)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.where(col(embCol).isNotNull)
      .withColumn("cell", ColumnBridge.column(graft.expressions.NearestCell(
        ColumnBridge.expression(col(embCol)), flat, dim)))
  }

  /** Fit the coarse quantizer (seed pinned) and assign every non-NULL
    * vector to its cell. */
  def build(df: DataFrame, embCol: String, nlist: Int = 16,
      seed: Long = 123L): IvfIndex = {
    val vecCol = "__ivf_vec"
    val assembled = df.where(col(embCol).isNotNull)
      .withColumn(vecCol, array_to_vector(col(embCol)))
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol(vecCol).setPredictionCol("cell").fit(assembled)
    new IvfIndex(model.clusterCenters.map(_.toArray.map(_.toFloat)),
      // lazily materialized (r21 optimization — the IvfPqIndex.build
      // rationale): un-cut, every probe action re-runs the k-means
      // assignment over the whole corpus through mllib's non-codegen
      // predict; a built index assigns once and serves thereafter,
      // matching the persisted layout's contract. Cluster caveat
      // (r21 ADVICE): the checkpoint blocks are executor-local and
      // non-replicated — executor loss fails later actions on this
      // in-memory handle loudly; the durable shape is save()/load()
      // (see IvfPqIndex.build's note).
      model.transform(assembled).drop(vecCol).localCheckpoint(false), embCol)
  }

  /**
   * [[IvfIndex.splitOversized]] applied to a SAVED layout, touching
   * only what the split changes: the hot cells' rows are materialized
   * (bounded: only oversized cells), their `cell=` directories deleted,
   * and the reassigned rows appended under their new partitions; COLD
   * CELL FILES ARE NEVER REWRITTEN (spec'd by file listing), which is
   * the difference between "repair the index" and "rebuild the corpus"
   * at 100 TB. The centroid table and sidecar refresh to the widened
   * quantizer. Returns the reopened index.
   *
   * The explicit delete-then-append (rather than dynamic partition
   * overwrite) closes an edge: a hot cell whose k-means leaves
   * sub-cell 0 empty would never appear in the written data, so
   * overwrite-by-presence would leave its stale directory serving
   * duplicate rows.
   *
   * NOT atomic — but a crash is DETECTED, never served (r20 ADVICE):
   * a `_repair_in_progress` sentinel is written immediately before the
   * hot-cell deletes and removed only after the reassigned rows,
   * centroids, and sidecar have all landed. A crash inside the window
   * leaves the layout missing the hot cells' rows (the reassigned rows
   * are materialized BEFORE anything is deleted, so nothing is lost to
   * lineage — but the on-disk layout is incomplete until the append
   * lands), and [[load]] — the entry point every open, serve, and
   * ingest path goes through — refuses by name while the sentinel
   * exists, directing the operator to the snapshot restore instead of
   * silently serving an incomplete corpus. Repair against a
   * snapshot/copy when the layout is the only replica.
   */
  def repairSaved(spark: org.apache.spark.sql.SparkSession, path: String,
      maxRows: Long, seed: Long = 123L): IvfIndex = {
    val idx = load(spark, path) // also refuses on a crashed repair's sentinel
    val (split, hot, hotPieces) = idx.splitOversizedPlan(maxRows, seed)
    if (hotPieces.isEmpty) return idx
    // cut lineage off the files about to be deleted
    val reassigned = hotPieces.reduce(_ unionByName _).localCheckpoint(true)
    val conf = spark.sparkContext.hadoopConfiguration
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataPath.getFileSystem(conf)
    // sentinel BEFORE the first delete: from here to the sidecar
    // refresh the layout is incomplete, and a crash must leave that
    // fact on disk where load() can refuse on it
    writeSidecar(spark, path, RepairSentinel,
      "repairing" -> true, "max_rows" -> maxRows)
    // delete exactly the split cells' old directories (sub-0 reuses the
    // hot id, so its dir is deleted and rewritten; tail ids are new)
    hot.foreach { c =>
      val dir = new org.apache.hadoop.fs.Path(dataPath, s"cell=$c")
      if (fs.exists(dir)) fs.delete(dir, true)
    }
    reassigned.write.mode("append").partitionBy("cell").parquet(s"$path/data")
    split.centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    writeSidecar(spark, path, "_ivf.json",
      "embedding_column" -> idx.embCol, "nlist" -> split.centroidVectors.length)
    fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), RepairSentinel), false)
    load(spark, path)
  }

  /** Marks a [[repairSaved]] delete-then-append window in progress —
    * present on disk ONLY between the sentinel write and the
    * post-append cleanup, so its existence means a repair crashed
    * mid-rewrite and the layout is missing rows. */
  private[graft] val RepairSentinel = "_repair_in_progress"

  /** Sidecar write through the SAME Hadoop FileSystem that owns the
    * layout's `cell=` directories (r13 ADVICE), and the family's one
    * sidecar FORMAT: a flat JSON object of `fields` in order, strings
    * quoted and everything else bare (`"by_residual": "false"` is
    * quoted because the writer passes it as a string — the bytes
    * r16–r22 layouts carry). The repair path
    * deletes data partitions through that FS, and a `java.nio` sidecar
    * write on a non-local path (`hdfs://`, `s3a://`) would fail — or
    * land on the driver's local disk — AFTER the destructive rewrite,
    * leaving the layout describing itself with a stale quantizer. */
  private[operators] def writeSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String, fields: (String, Any)*): Unit = {
    val json = fields.map {
      case (k, v: String) => s""""$k": "$v""""
      case (k, v) => s""""$k": $v"""
    }.mkString("{", ", ", "}")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirPath)
    val out = fs.create(new org.apache.hadoop.fs.Path(dirPath, name), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Files-per-cell stats for any cell-partitioned `$path/data` tree —
    * the shared small-file gauge behind [[IvfIndex.layoutStats]] and
    * [[IvfPqIndex.layoutStats]]: every append (and every micro-batch
    * of a streaming ingest) writes NEW files under each `cell=`
    * partition, so a long-lived layout accretes small files (footer
    * reads per probe, listing RPCs, tiny row groups). Returns
    * (cell, n_files, bytes); driver-side FS listing, one RPC per cell
    * directory — nlist RPCs, corpus-size-free. */
  private[operators] def dataTreeStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dataPath),
      s"$path/data does not exist — not a saved cell-partitioned layout")
    cellFiles(fs, dataPath)
      .map { case (d, files) =>
        (d.getPath.getName.stripPrefix("cell=").toInt,
          files.length.toLong, files.map(_.getLen).sum)
      }
      .toDF("cell", "n_files", "bytes")
  }

  /** Each `cell=` directory of a data tree with its data files (names
    * starting with `_` or `.` skipped) — the one driver-side listing
    * behind [[dataTreeStats]], the ingest compaction cadence and
    * [[compactDataTree]]'s drift check and row counts. */
  private def cellFiles(fs: org.apache.hadoop.fs.FileSystem,
      dataPath: org.apache.hadoop.fs.Path)
      : Seq[(org.apache.hadoop.fs.FileStatus, Seq[org.apache.hadoop.fs.FileStatus])] =
    fs.listStatus(dataPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(d => d -> fs.listStatus(d.getPath).toSeq.filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))

  /** COMPACT a cell-partitioned `$path/data` tree in place — the
    * shared rewrite behind [[IvfIndex.compactSaved]] and
    * [[IvfPqIndex.compactSaved]]: rewrite every cell's files at
    * `targetFileBytes` granularity, then swap the tree in behind a
    * row-count check. Contents are row-identical; only the FILE layout
    * changes, and `cell=` directory pruning is untouched.
    *
    * Writer parallelism (r18 VERDICT #2): the rewrite repartitions on
    * (cell, salt), where each cell's salt width is
    * ceil(cellBytes / targetFileBytes) from the MEASURED per-cell
    * bytes — a hot cell (the 8× occupancy [[IvfIndex.driftGuard]]
    * tolerates) is written by ~bytes/target tasks in parallel instead
    * of serially by one straggler, and each task lands ~one
    * target-sized file (`maxRecordsPerFile` still caps the residue).
    * The salt is a per-row ROUND-ROBIN (`monotonically_increasing_id
    * % width`), not a row hash (r19 ADVICE): a hot cell dominated by
    * DUPLICATE vectors would hash every copy to one salt and collapse
    * back to the single-writer straggler the salt exists to fix —
    * consecutive ids cycle the salts uniformly regardless of row
    * values. The salt is stable within the job and only steers TASK
    * assignment — rows and file-level `cell=` pruning are untouched.
    *
    * Swap protocol (crash-safe by refusal, not by magic): the
    * compacted tree is fully written and row-count-verified at
    * `$path/data_compacting` BEFORE any rename; then
    * data → data_precompact, data_compacting → data, delete
    * data_precompact. A crash between the renames leaves
    * `data_precompact` (the intact original) and possibly no `data` —
    * this entry point REFUSES to start while either staging directory
    * exists and names the manual recovery (rename data_precompact
    * back), instead of guessing which tree is authoritative.
    *
    * Concurrency contract (r18 ADVICE): compaction is an OFFLINE
    * maintenance op — QUIESCE ALL WRITERS first (no `appendToSaved`,
    * no streaming ingest; [[graft.streaming.StreamOps]]' ingest runs
    * its compaction cadence inside the serial foreachBatch loop for
    * exactly this reason). Rows appended between the verified staging
    * write and the swap would be silently deleted with
    * `data_precompact`, so the source file listing is re-checked
    * immediately before the swap and ANY drift aborts — staging tree
    * deleted, original untouched, the concurrent writer's rows kept.
    * Concurrent READERS of `$path/data` can error transiently between
    * the two renames. */
  private[operators] def compactDataTree(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFileBytes: Long): Unit = {
    require(targetFileBytes >= (1L << 20),
      s"targetFileBytes must be >= 1 MiB, got $targetFileBytes")
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val tmpPath = new org.apache.hadoop.fs.Path(s"$path/data_compacting")
    val oldPath = new org.apache.hadoop.fs.Path(s"$path/data_precompact")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dataPath), s"$path/data does not exist")
    require(!fs.exists(tmpPath) && !fs.exists(oldPath),
      s"$path carries a staging tree from an interrupted compaction " +
        "(data_compacting and/or data_precompact) — recover first: if " +
        "data/ is missing, rename data_precompact back to data; then " +
        "delete the leftover staging directories and re-run")
    // (relative file, length) listing of the source tree — captured
    // now, re-checked right before the swap: drift means a concurrent
    // writer, whose rows the swap would silently delete
    def sourceListing(cells: Seq[(org.apache.hadoop.fs.FileStatus,
        Seq[org.apache.hadoop.fs.FileStatus])]): Set[(String, Long)] =
      cells.flatMap { case (d, files) =>
        files.map(f => (d.getPath.getName + "/" + f.getPath.getName, f.getLen))
      }.toSet
    val cells = cellFiles(fs, dataPath)
    val sourceBefore = sourceListing(cells)
    // row counts come from the footers of the listed files (the counts
    // `spark.read.parquet(...).count()` returns, without its jobs), and
    // the scan's schema from one footer
    val nRows = ParquetArtifacts.rowCount(spark,
      ParquetArtifacts.dataFiles(fs, dataPath))
    val df = ParquetArtifacts.cellTree(spark, s"$path/data")
    val cellStats = cells.map { case (d, files) =>
      (d.getPath.getName.stripPrefix("cell=").toInt, files.map(_.getLen).sum)
    }
    val totalBytes = cellStats.map(_._2).sum
    val maxRecords = math.max(1L,
      if (totalBytes <= 0L || nRows == 0L) Long.MaxValue
      else targetFileBytes / math.max(1L, totalBytes / nRows))
    // per-cell salt widths from the measured bytes (nlist-sized frame)
    import spark.implicits._
    val subCounts = cellStats
      .map { case (c, bytes) =>
        (c, math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)) }
      .toDF("cell", "__n_sub")
    saltedForCompaction(df, subCounts)
      .repartition(col("cell"), col("__salt"))
      .drop("__salt", "__n_sub")
      .write.option("maxRecordsPerFile", maxRecords)
      .partitionBy("cell").parquet(tmpPath.toString)
    val nTmp = ParquetArtifacts.rowCount(spark, ParquetArtifacts.dataFiles(fs, tmpPath))
    if (nTmp != nRows) {
      fs.delete(tmpPath, true)
      throw new IllegalStateException(
        s"compacted tree holds $nTmp rows, source holds $nRows — aborted " +
          "and deleted the staging tree; the original layout is untouched")
    }
    val sourceAfter = sourceListing(cellFiles(fs, dataPath))
    if (sourceAfter != sourceBefore) {
      fs.delete(tmpPath, true)
      throw new IllegalStateException(
        s"$path/data changed while the compacted tree was being staged — a " +
          "concurrent appendToSaved or streaming ingest is running, and " +
          "swapping now would silently delete its rows. Aborted and deleted " +
          "the staging tree (the original, including the concurrent rows, " +
          "is untouched); quiesce all writers and re-run compactSaved")
    }
    require(fs.rename(dataPath, oldPath), s"could not stage $dataPath aside")
    require(fs.rename(tmpPath, dataPath),
      s"could not move the compacted tree into place — the original is " +
        s"intact at $oldPath (rename it back to data/ to recover)")
    fs.delete(oldPath, true): Unit
  }

  /** The compaction salt, factored out so its uniformity property is
    * spec-testable: joins each row's cell to its measured salt width
    * (`__n_sub`, NULL → 1) and adds `__salt` = round-robin over the
    * width. A per-row counter rather than a row hash (r19 ADVICE):
    * identical rows must still spread across all `__n_sub` writer
    * tasks — the duplicate-heavy hot cell is exactly the straggler
    * case — and `monotonically_increasing_id` is consecutive within
    * each source partition, so `pmod` cycles every salt value
    * uniformly no matter what the rows hold.
    *
    * The counter is position-dependent, and the salt feeds a
    * REPARTITION (r20 ADVICE, the SPARK-23207 class): if a lost map
    * output were recomputed with its rows in a different order, rows
    * would move between reducers across the retry and could be dropped
    * or duplicated — the post-write count check only catches net
    * mismatches. So each partition's rows are first sorted by a
    * full-row hash (Spark's own sort-before-round-robin fix,
    * `spark.sql.execution.sortBeforeRepartition`) and the counter
    * assigned over that order: a re-run task reproduces the same row
    * order — hash ties are byte-identical rows with overwhelming
    * probability, interchangeable by definition — and with it the same
    * row-to-salt-to-reducer mapping. The sort-and-count runs in RDD
    * land deliberately: a `sortWithinPartitions` in the plan is
    * STRIPPED by Catalyst's EliminateSorts under the order-agnostic
    * repartition/write that follows (spec'd — the order-independence
    * test fails on the plan-level variant), silently restoring the
    * positional nondeterminism. Local sort only, no shuffle; the
    * round-robin spread over duplicates is unchanged; row-at-a-time
    * cost is fine on a maintenance rewrite the write dominates.
    *
    * MEMORY BOUND (r21 ADVICE): the per-partition sort buffers each
    * input partition's FULL rows (embedding vectors included) in
    * executor heap — `it.toArray` below — so a task's memory is
    * bounded by its scan split, not by Spark's spillable sort. Splits
    * are `spark.sql.files.maxPartitionBytes` (default 128 MB) of
    * parquet, so the buffered decoded rows are a small multiple of
    * that; a caller feeding this from something with GIANT partitions
    * (a skewed upstream shuffle) should repartition first. Sorting
    * only (hash, ordinal) pairs and re-joining would trade this bound
    * for a corpus-wide join — worse on the maintenance path this
    * serves. */
  private[graft] def saltedForCompaction(df: DataFrame,
      subCounts: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    val hashed = df.withColumn("__rowh",
      xxhash64(df.columns.map(col).toIndexedSeq: _*))
    val hIdx = hashed.schema.fieldIndex("__rowh")
    val indexed = hashed.rdd.mapPartitions { it =>
      val rows = it.toArray
      // stable: equal-hash rows keep arrival order (byte-identical
      // rows are interchangeable; a 64-bit collision of DIFFERENT
      // rows is the one vanishing-probability residue)
      val sorted = rows.sortBy(_.getLong(hIdx))
      sorted.iterator.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i.toLong)
      }
    }
    spark.createDataFrame(indexed, hashed.schema.add("__pidx", LongType))
      .drop("__rowh")
      .join(broadcast(subCounts), Seq("cell"), "left")
      .withColumn("__salt", pmod(col("__pidx"),
        coalesce(col("__n_sub"), lit(1L))))
      .drop("__pidx")
  }

  /** [[dataTreeStats]] for a saved VECTOR-tier layout. */
  def layoutStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    requireSaved(spark, path)
    dataTreeStats(spark, path)
  }

  /** [[compactDataTree]] for a saved VECTOR-tier layout — the same
    * small-file maintenance the coded tiers run; a reopened index
    * serves identical results (spec'd on the coded tier, same shared
    * rewrite). */
  def compactSaved(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    requireSaved(spark, path)
    compactDataTree(spark, path, targetFileBytes)
  }

  /** [[writeSidecar]]'s read half — same FS-resolution rationale. */
  private[graft] def readSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir), name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen
    require(len <= (1L << 20), s"$p: sidecar unexpectedly large ($len bytes) — not a graft sidecar")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** [[writeSidecar]]'s field reader: the value of `name` in a sidecar
    * the family wrote, quoted (`"codes_column": "pq_codes"`) or bare
    * (`"nlist": 16`, `"codec_baseline": 0.97`). */
  private[graft] def sidecarField(json: String, name: String): Option[String] =
    raw""""$name"\s*:\s*(?:"([^"]*)"|([^,}\s]+))""".r.findFirstMatchIn(json)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)))

  /** The family's one saved-layout refusal: `$path` must carry a
    * readable `sidecar`, else refuse BY NAME (a write into a path that
    * was never save()d would grow a tree no load() can open). Only the
    * not-a-layout signals re-wrap — a missing sidecar and
    * [[readSidecar]]'s wrong-file refusal, the [[AnnIndex.open]]
    * convention; genuine IO errors propagate. Returns the sidecar. */
  private[operators] def requireLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, sidecar: String, what: String, hint: String): String =
    try readSidecar(spark, path, sidecar)
    catch {
      case e @ (_: java.io.FileNotFoundException | _: IllegalArgumentException) =>
        throw new IllegalArgumentException(
          s"$path is not $what (no readable $sidecar sidecar) — $hint", e)
    }

  /** The vector tier's layout refusal, run first by [[load]], ingest and
    * the maintenance entry points: [[requireLayout]] on `_ivf.json`,
    * then the crashed-repair refusal (r20 ADVICE) — while a
    * [[repairSaved]] sentinel exists the layout is missing its hot
    * cells' rows, and serving or appending to it would silently return
    * wrong neighbors or bury the gap under fresh batches. */
  private[operators] def requireSaved(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val json = requireLayout(spark, path, "_ivf.json",
      "a saved vector-tier IVF layout", "save(path) first")
    val sentinel = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), RepairSentinel)
    require(!sentinel.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(sentinel),
      s"$path carries $RepairSentinel — a repairSaved crashed between its " +
        "hot-cell deletes and the reassigned append, so the layout is " +
        "missing rows; restore the layout from a snapshot (then delete the " +
        "sentinel) instead of serving or ingesting into an incomplete corpus")
    json
  }

  /** Refuse-don't-degrade guard for append drift, shared by every tier's
    * `driftGuard`: if the fullest cell holds more than `maxFactor` × the
    * average, probe cost is no longer ≈ nprobe/nlist of the corpus (a
    * zipf-drifted append concentrates the scan in hot cells — measured
    * at r13 by the removed ScaleProbe `ivfskew` mode,
    * `git show e105133:src/main/scala/graft/ScaleProbe.scala`) and the
    * quantizer should be re-fit (`remedy`) or its hot cells split.
    * Throws naming the tier (`label`) and up to five hot cells; returns
    * the max/avg factor when healthy. Cells with NO rows count toward
    * the average (an empty cell is exactly what drift looks like). */
  private[operators] def imbalanceGuard(cellSizeStats: DataFrame, nlist: Int,
      maxFactor: Double, label: String, remedy: String): Double = {
    require(maxFactor > 1.0, s"maxFactor must exceed 1, got $maxFactor")
    val r = cellSizeStats.agg(sum(col("n")), max(col("n"))).head()
    val avg = r.getLong(0).toDouble / nlist
    val factor = if (avg == 0) 0.0 else r.getLong(1) / avg
    if (factor > maxFactor) {
      val hot = cellSizeStats.where(col("n") > avg * maxFactor)
        .orderBy(desc("n")).limit(5).collect()
        .map(r => s"cell ${r.getInt(0)}: ${r.getLong(1)} rows").mkString("; ")
      throw new IllegalStateException(
        f"$label cell imbalance $factor%.1f× exceeds $maxFactor%.1f× the " +
          f"average ($avg%.0f rows/cell) — appended data has drifted from " +
          s"the frozen quantizer; re-fit ($remedy) or split hot cells [$hot]")
    }
    factor
  }

  /** Reopen a saved index. The data scan comes from the cell-partitioned
    * layout, so subsequent probe filters prune at the file level. No
    * Spark job runs: the centroids read driver-side and the scan's
    * schema comes from one footer ([[ParquetArtifacts]]).
    * Refuses through [[requireSaved]] — including while a
    * [[repairSaved]] crash sentinel exists. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val embCol = sidecarField(requireSaved(spark, path), "embedding_column")
      .getOrElse("embedding")
    new IvfIndex(readCentroids(spark, path),
      ParquetArtifacts.cellTree(spark, s"$path/data"), embCol)
  }

  /** The saved centroid table, ordered by cell — driver-local, BY NAME
    * ([[ParquetArtifacts]]): a rewritten centroids file with reordered
    * columns reads the same, a missing column refuses by name. Shared
    * by every tier's loader. */
  private[operators] def readCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Float]] = {
    import ParquetArtifacts.{FloatsKind, IntKind}
    ParquetArtifacts.read(spark, s"$path/centroids", "cell" -> IntKind,
        "centroid" -> FloatsKind)
      .sortBy(_(0).asInstanceOf[Int]).map(_(1).asInstanceOf[Array[Float]]).toArray
  }
}
