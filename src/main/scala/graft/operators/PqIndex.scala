package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.ColumnBridge

/**
 * Product-quantization ANN tier (Jégou et al. 2011) — the at-rest
 * compression step past `quantize_int8`: a d-dim float32 embedding
 * (4d bytes) becomes the CLASSIC m-byte PQ code (a `binary` column of
 * `m` bytes for k ≤ 256, 2m above) plus one stored norm —
 * m·codeBytes + 8 B per row in memory AND through a shuffle (~16× at
 * d = 64, m = 8, k ≤ 256) — and search never decompresses: the
 * query's dot against every codeword is tabulated ONCE driver-side,
 * each row scores with `m` table lookups
 * ([[graft.expressions.PqAdcDot]]), and the plan tail is the same
 * `TakeOrderedAndProject` as `nearest`. At 100 TB this is the tier
 * where the corpus's VECTORS stop existing at rest — only codes ship.
 *
 * Codebooks are a frozen artifact (the [[graft.operators.TextAnalysis.UnigramLm]]
 * convention): fit once on a deterministic hash-ordered sample
 * (bounded by `maxTrain` — PQ codebooks are always sample-fit in
 * production), persisted as plain parquet, applied to any shard.
 *
 * EXACT-by-construction degenerate (the `bitsetJaccard` convention —
 * a bounded domain gets the exact answer, not an approximation): per
 * subspace, when the training sample's DISTINCT subvectors fit within
 * `k`, the codebook IS that distinct set (sorted lexicographically —
 * deterministic), so every sampled vector reconstructs losslessly.
 * With `maxTrain` ≥ corpus size that makes ADC cosine EQUAL exact
 * cosine — the `ann_pq_exact` gate row shares `nearest_cosine`'s
 * oracle this way, the `nprobe = nlist` anchoring pattern — and
 * [[PqModel.lossless]] REPORTS it: true iff the sample covered every
 * non-NULL fit row and no subspace fell back to Lloyd, so an "exact"
 * caller can `require` the property instead of silently going
 * approximate when the corpus outgrows `maxTrain`. Past the bound,
 * seeded Lloyd k-means (fixed iterations, driver-side over the
 * sample) gives the lossy production path, recall-spec'd.
 */
final case class PqModel(m: Int, dim: Int,
    codebooks: Array[Array[Array[Float]]], lossless: Boolean) {
  def sub: Int = dim / m
  /** Bytes per stored code id: 1 when every subspace's codebook fits
    * in a byte (k ≤ 256 — the classic PQ layout), else 2. A pure
    * function of the codebooks, so encode and search can never
    * disagree on the layout. */
  def codeBytes: Int = if (codebooks.forall(_.length <= 256)) 1 else 2
  /** Per-subspace flat start indices — a length-only pass (search
    * needs ONLY this; flattening the floats per query would allocate
    * the whole codebook each call). */
  private[operators] def offsets: Array[Int] =
    codebooks.scanLeft(0)(_ + _.length).init
  /** Flattened codewords for the encode kernel. */
  private[operators] def flatCodewords: Array[Float] =
    codebooks.flatten.flatten
}

object PqIndex {

  /** Fit per-subspace codebooks on a deterministic sample: rows are
    * hash-ordered (`xxhash64` of the vector itself — a pure
    * function of the data, not of partitioning), the first `maxTrain`
    * train. Refuses dims not divisible by `m`; skips NULL/wrong-length
    * rows like the scan does. */
  def fit(df: DataFrame, embCol: String, m: Int, k: Int = 256,
      maxTrain: Int = 65536, seed: Int = 42): PqModel = {
    val (sample, dim, nFit) = trainSample(df, embCol, m, k, maxTrain)
    val (codebooks, allDistinct) = fitLocal(sample, dim, m, k, seed)
    // lossless ⟺ every fit-corpus vector reconstructs exactly: the
    // sample saw ALL non-NULL rows and every subspace kept the
    // distinct set. A property of (model, fit corpus) — a different
    // corpus scored later can still contain unseen subvectors.
    PqModel(m, dim, codebooks, lossless = nFit <= maxTrain && allDistinct)
  }

  /** The deterministic training sample behind [[fit]] (shared with
    * [[OpqIndex.fit]], whose alternating loop refits codebooks on
    * driver-side ROTATIONS of the same sample): hash-ordered rows, the
    * dim-purity refusal, and the fit-row count the `lossless` flag
    * needs. */
  private[operators] def trainSample(df: DataFrame, embCol: String, m: Int,
      k: Int, maxTrain: Int): (Array[Array[Float]], Int, Long) = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(k >= 1 && k <= 65536, s"k must be in [1, 65536], got $k")
    require(maxTrain >= k, s"maxTrain ($maxTrain) must be >= k ($k)")
    // dim must be a PURE function of the data (the frozen-artifact
    // determinism contract): a mixed-dim corpus REFUSES rather than
    // letting partition order pick which dim trains. The same pass
    // counts fit rows, so `lossless` can record whether the sample
    // was exhaustive.
    val dims = df.select(col(embCol)).where(col(embCol).isNotNull)
      .agg(min(size(col(embCol))), max(size(col(embCol))), count(lit(1))).head()
    require(!dims.isNullAt(0), "cannot fit PQ codebooks on an empty collection")
    require(dims.getInt(0) == dims.getInt(1),
      s"mixed embedding dims ${dims.getInt(0)}..${dims.getInt(1)} — PQ needs one " +
        "dimensionality; filter or re-embed first")
    val dim = dims.getInt(0)
    val nFit = dims.getLong(2)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m subspaces")
    // hash the ARRAY directly (xxhash64 folds element bits) — a pure
    // function of the data like the old cast-to-string form, but
    // without materializing ~800-char strings per row: the cast was
    // measured dominating 1M-row fits (~40 s of a 52 s PQ fit). The
    // sample SET is unchanged at maxTrain ≥ corpus (every lossless
    // gate row's regime — distinct-set codebooks are order-free);
    // below it the sample is a different-but-equally-deterministic
    // hash order, the same contract.
    val sample = df.select(col(embCol))
      .where(col(embCol).isNotNull)
      .orderBy(xxhash64(col(embCol)))
      .limit(maxTrain)
      .collect().map(_.getSeq[Float](0).toArray)
    (sample, dim, nFit)
  }

  /** Codebooks over an in-memory sample — [[fit]]'s kernel, factored
    * so [[OpqIndex]]'s alternating loop can refit per rotation without
    * re-scanning the corpus. Returns (codebooks, allDistinct). */
  private[operators] def fitLocal(sample: Array[Array[Float]], dim: Int,
      m: Int, k: Int, seed: Int): (Array[Array[Array[Float]]], Boolean) = {
    val sub = dim / m
    // subspaces are INDEPENDENT fits (each sees its own slice, its own
    // seeded Lloyd stream), so they parallelize across driver cores
    // with bit-identical results: each index's output is a pure
    // function of (sample, j, seed), assembled by position — thread
    // scheduling cannot reorder anything observable. 16 subspaces of
    // sample-bounded Lloyd dominate fit wall-clock otherwise
    // (measured 92 s → ~8 s at m = 16, 16k sample, 32 cores).
    val anyLloyd = new java.util.concurrent.atomic.AtomicBoolean(false)
    val codebooks = java.util.stream.IntStream.range(0, m).parallel()
      .mapToObj { j =>
        val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
        val distinct = subs.map(_.toSeq).distinct.sorted(
          Ordering.Implicits.seqOrdering[Seq, Float])
        if (distinct.length <= k) distinct.map(_.toArray).toArray
        else {
          anyLloyd.set(true)
          lloyd(subs, distinct.take(k).map(_.toArray).toArray, 20,
            new scala.util.Random(seed + j))
        }
      }
      .toArray(n => new Array[Array[Array[Float]]](n))
    (codebooks, !anyLloyd.get)
  }

  /** Driver-side seeded Lloyd: deterministic init (the caller passes
    * the first k distinct subvectors — already computed for the
    * lossless check, not recomputed here), fixed iterations, empty
    * clusters re-seeded deterministically. Sample-bounded. */
  private def lloyd(points: Array[Array[Float]], init: Array[Array[Float]], iters: Int,
      rnd: scala.util.Random): Array[Array[Float]] = {
    var centers = init.map(_.clone)
    val assign = new Array[Int](points.length)
    for (_ <- 0 until iters) {
      var p = 0
      while (p < points.length) {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centers.length) {
          var d = 0.0; var i = 0
          while (i < points(p).length) {
            val diff = points(p)(i).toDouble - centers(c)(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(centers.length)(new Array[Double](points(0).length))
      val cnts = new Array[Int](centers.length)
      p = 0
      while (p < points.length) {
        val a = assign(p); cnts(a) += 1
        var i = 0
        while (i < points(p).length) { sums(a)(i) += points(p)(i); i += 1 }
        p += 1
      }
      centers = centers.indices.map { c =>
        if (cnts(c) == 0) points(rnd.nextInt(points.length)).clone
        else sums(c).map(x => (x / cnts(c)).toFloat)
      }.toArray
    }
    centers
  }

  /** Add `(codesCol binary — m·codeBytes bytes, normCol double)` in
    * one codegen pass; after this the embedding column can be DROPPED
    * — codes + norm are all search needs. */
  def encode(df: DataFrame, embCol: String, model: PqModel,
      codesCol: String = "pq_codes", normCol: String = "emb_norm"): DataFrame = {
    require(!df.columns.contains(codesCol) && !df.columns.contains(normCol),
      s"output column '$codesCol'/'$normCol' already exists on the input frame")
    // the struct stages through __pq; refuse-don't-wedge like every
    // other reserved temp name (an input __pq would be silently
    // overwritten and dropped — data loss)
    require(!df.columns.contains("__pq"),
      "input frame carries reserved staging column '__pq' — rename it before encode")
    val st = ColumnBridge.column(graft.expressions.PqEncode(
      ColumnBridge.expression(col(embCol)), model.m, model.sub,
      model.flatCodewords, model.offsets, model.codeBytes))
    df.withColumn("__pq", st)
      .withColumn(codesCol, col("__pq").getField("codes"))
      .withColumn(normCol, col("__pq").getField("norm"))
      .drop("__pq")
  }

  /** ADC cosine top-k over an encoded frame: `m`×k dot table computed
    * once from the query, similarity = adcDot / (|q|·norm) with the
    * `nearest` zero-norm rule, then sort desc + limit — the
    * `TakeOrderedAndProject` shape, no decompression, no shuffle. */
  /** The per-query ADC lookup table: dot of the query's j-th subvector
    * against every codeword of subspace j, flat-indexed by
    * `model.offsets` — computed ONCE driver-side per query (m·k·sub
    * FLOPs), shared by [[search]] and the residual-coded
    * [[IvfPqIndex.search]] (where the same table scores residual
    * codebooks and a per-cell `q·centroid` addend completes the dot). */
  private[operators] def adcTable(queryVec: Array[Float], model: PqModel): Array[Double] = {
    require(queryVec.length == model.dim,
      s"query dim ${queryVec.length} != model dim ${model.dim}")
    val sub = model.sub
    val offsets = model.offsets
    val table = new Array[Double](model.codebooks.map(_.length).sum)
    var j = 0
    while (j < model.m) {
      var c = 0
      while (c < model.codebooks(j).length) {
        var d = 0.0; var i = 0
        while (i < sub) {
          d += queryVec(j * sub + i).toDouble * model.codebooks(j)(c)(i); i += 1
        }
        table(offsets(j) + c) = d
        c += 1
      }
      j += 1
    }
    table
  }

  def search(encoded: DataFrame, queryVec: Array[Float], n: Int,
      model: PqModel, codesCol: String = "pq_codes", normCol: String = "emb_norm",
      simCol: String = "similarity", tieBreakers: Seq[Column] = Nil): DataFrame = {
    val offsets = model.offsets
    val table = adcTable(queryVec, model)
    val qnorm = math.sqrt(queryVec.map(v => v.toDouble * v.toDouble).sum)
    val dot = ColumnBridge.column(graft.expressions.PqAdcDot(
      ColumnBridge.expression(col(codesCol)), model.m, table, offsets,
      model.codeBytes))
    // NULL codes/norm (an unembedded row that rode through encode as
    // NULL) scores exactly 0, Nearest's rule — the coalesce, not just
    // the zero-norm guard, carries that case
    val sim = if (qnorm == 0.0) lit(0.0)
      else coalesce(when(col(normCol) === 0.0, lit(0.0))
        .otherwise(dot / (lit(qnorm) * col(normCol))), lit(0.0))
    encoded.withColumn(simCol, sim)
      .orderBy(desc(simCol) +: tieBreakers: _*)
      .limit(n)
  }

  /**
   * ADC-shortlist + EXACT re-rank — FAISS's refine stage
   * (`IndexRefineFlat`, and DiskANN's re-rank tier): the coded scan
   * shortlists `shortlist` candidates by ADC (the cheap corpus-scale
   * pass — codes only, no vectors), then the RAW vectors of just those
   * candidates re-rank at exact cosine and the top `n` ship. The
   * published cure for PQ's fine-ordering noise: codeword-granularity
   * scores can swap close neighbors, but the true top-n survives in
   * any reasonable shortlist, and the re-rank restores exact order —
   * recall becomes the SHORTLIST's (≥ the code's, spec-measured), and
   * the reported similarity becomes the exact one.
   *
   * Two-scan shape (the [[Nearest.twoStagePrefixTopK]] convention):
   * the coded pass collects shortlist IDS (bounded by `maxShortlist`,
   * explicit refusal — ids only, never vectors), then the raw frame
   * re-scores through a PUSHED `isin` predicate — at rest the vectors
   * live in their own (possibly id-clustered) layout and only
   * shortlist rows' bytes matter. Requires `raw` to hold the SAME
   * corpus keyed by `idCol` (a key — multiplicity would duplicate
   * candidates).
   *
   * Exactness anchor: with a LOSSLESS codebook the ADC order IS the
   * exact order, so the shortlist contains the true top-n for any
   * shortlist ≥ n and the refined result provably equals [[Nearest.topK]]
   * — the `ann_pq_refine_exact` gate row shares `nearest_cosine`'s
   * oracle. The deployed claim (lossy codes + refine beat lossy codes
   * alone) is spec-measured.
   */
  def searchRefine(encoded: DataFrame, raw: DataFrame, idCol: String,
      embCol: String, queryVec: Array[Float], n: Int, shortlist: Int,
      model: PqModel, codesCol: String = "pq_codes",
      normCol: String = "emb_norm", simCol: String = "similarity",
      tieBreakers: Seq[Column] = Nil, maxShortlist: Int = 4096): DataFrame = {
    require(n >= 1 && shortlist >= n,
      s"need shortlist ($shortlist) >= n ($n) >= 1")
    require(shortlist <= maxShortlist,
      s"shortlist $shortlist exceeds maxShortlist $maxShortlist — the re-rank's " +
        "id predicate is built from a driver-collected id list; raise " +
        "maxShortlist deliberately or shrink the shortlist")
    val shortIds = search(encoded, queryVec, shortlist, model, codesCol,
        normCol, simCol, tieBreakers)
      .select(col(idCol))
      .collect().map(_.get(0))
    refineByIds(raw, idCol, embCol, queryVec, n, shortIds, simCol, tieBreakers)
  }

  /** The shared exact re-rank tail: score `raw` rows whose id is in
    * the shortlist (a pushed predicate) at exact cosine, top n. */
  private[operators] def refineByIds(raw: DataFrame, idCol: String,
      embCol: String, queryVec: Array[Float], n: Int, shortIds: Array[Any],
      simCol: String, tieBreakers: Seq[Column]): DataFrame = {
    val exact = coalesce(graft.functions.vectors.similarity(col(embCol),
      lit(queryVec), "cosine"), lit(0.0))
    raw.where(col(idCol).isin(shortIds.toIndexedSeq: _*))
      .withColumn(simCol, exact)
      .orderBy(desc(simCol) +: tieBreakers: _*)
      .limit(n)
  }

  /** Each row's ADC similarity against its OWN codes —
    * cos(reconstruction, row), the codec's measured reconstruction
    * quality as a frame `(input columns…, simCol)`. Operational rule:
    * any screen threshold a coded comparison serves (the bounded
    * SemDeDup store, IVFADC shortlists) should keep its margin above
    * `1 − min(selfSim)` — below that the quantization band can flip
    * decisions (measured at 1M rows at r15 by the removed ScaleProbe
    * `semdedupstore` mode, `git show e105133:src/main/scala/graft/ScaleProbe.scala`).
    * One encode + one codegen dot per row; NULL vectors are absent
    * (encode's contract). */
  def selfSimilarity(df: DataFrame, embCol: String, model: PqModel,
      simCol: String = "self_sim"): DataFrame = {
    val enc = encode(df, embCol, model, "__selfsim_codes", "__selfsim_norm")
    val dot = ColumnBridge.column(graft.expressions.PqQueryDot(
      ColumnBridge.expression(col("__selfsim_codes")),
      ColumnBridge.expression(col(embCol)),
      model.m, model.sub, model.flatCodewords, model.offsets, model.codeBytes))
    val qn = graft.functions.vectors.vector_norm(col(embCol))
    enc.withColumn(simCol,
        when(col("__selfsim_norm") === 0.0 || qn === 0.0, lit(0.0))
          .otherwise(dot / (col("__selfsim_norm") * qn)))
      .drop("__selfsim_codes", "__selfsim_norm")
  }

  /** Persist codebooks as plain parquet (subspace, codeword, vector) —
    * the frozen-artifact layout any engine reloads. */
  def save(model: PqModel, path: String): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
    }.toSeq.toDF("subspace", "codeword", "vector")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    Seq((model.m, model.dim, model.lossless)).toDF("m", "dim", "lossless")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reopen a saved model. All reads are BY NAME: the "any engine
    * reloads it" claim means another writer may reorder columns
    * (mergeSchema, a rewrite), and an ordinal read would silently swap
    * `m` and `dim` into garbage codebook groupings instead of failing.
    * Driver-local ([[ParquetArtifacts]]): no Spark job. */
  def load(spark: SparkSession, path: String): PqModel = {
    import ParquetArtifacts.{BooleanKind, FloatsKind, IntKind}
    val meta = ParquetArtifacts.read(spark, s"$path/meta", "m" -> IntKind,
      "dim" -> IntKind, "lossless" -> BooleanKind).headOption.getOrElse(
      throw new IllegalArgumentException(s"$path/meta holds no row"))
    val (m, dim) = (meta(0).asInstanceOf[Int], meta(1).asInstanceOf[Int])
    val lossless = meta(2).asInstanceOf[Boolean]
    val rows = ParquetArtifacts.read(spark, s"$path/codebooks",
      "subspace" -> IntKind, "codeword" -> IntKind, "vector" -> FloatsKind)
    val codebooks = (0 until m).map { j =>
      rows.filter(_(0) == j).sortBy(_(1).asInstanceOf[Int])
        .map(_(2).asInstanceOf[Array[Float]]).toArray
    }.toArray
    PqModel(m, dim, codebooks, lossless)
  }
}
