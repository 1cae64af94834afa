package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.vectors

/**
 * Top-k similarity search — the reference's flagship verb `nearest()`
 * (/root/reference/R/core.R:241-328), re-expressed as one declarative
 * Spark plan: project a similarity score → filter min_score → sort desc
 * with deterministic tie-break → limit k. Catalyst plans the tail as
 * `TakeOrderedAndProject` (per-partition bounded heaps + a single-pass
 * merge), so no global sort and no full shuffle — this is the shape that
 * survives a 1000-executor scan of 100 TB.
 *
 * Reference semantics kept (SURVEY §2.4):
 *  - rows with NULL embeddings score exactly 0 and therefore appear at
 *    the tail under the default min_score = 0 (R/core.R:281-292, :319);
 *  - euclidean is the bounded similarity 1/(1+d) (R/core.R:272-274);
 *  - hybrid score = (1-w)·vector + w·keyword where keyword counts
 *    duplicate *query* terms twice but duplicate text terms once
 *    (R/core.R:295-313); NULL text scores 0; empty query scores 0;
 *  - ties are broken deterministically by caller-supplied keys — R's
 *    stable sort keeps input order (R/core.R:320), Spark makes no such
 *    promise, so every exposed query adds an explicit key.
 */
object Nearest {

  /** Keyword score for a whitespace-tokenized query string against a text
    * column: fraction of query-term *occurrences* present in the row's
    * term set (R/core.R:301-309 exactly — duplicates in the query count
    * per occurrence via the `%in%` sum; text terms dedup via set
    * membership). */
  def keywordScore(text: Column, query: String): Column = {
    val qTerms = graft.expressions.ShingleHashes.WsPattern.split(query.toLowerCase).filter(_.nonEmpty)
    if (qTerms.isEmpty) lit(0.0)
    else {
      val textTerms = split(lower(text), graft.expressions.ShingleHashes.WsRegex)
      val hits = qTerms.map(t => when(array_contains(textTerms, t), 1).otherwise(0))
        .reduce(_ + _)
      hits.cast("double") / lit(qTerms.length.toDouble)
    }
  }

  /**
   * Score + rank + truncate. `queryVec` is any array<float|double> Column
   * — a literal for a single driver-side query, or a column from a
   * broadcast single-row cross join when the query lives in a table.
   *
   * @param tieBreakers ordering applied after similarity desc
   */
  def topK(
      df: DataFrame,
      embCol: String,
      queryVec: Column,
      n: Int = 5,
      method: String = "cosine",
      minScore: Double = 0.0,
      keywordWeight: Double = 0.0,
      keywordColumn: Option[String] = None,
      queryText: Option[String] = None,
      simCol: String = "similarity",
      tieBreakers: Seq[Column] = Nil): DataFrame = {
    def kw: Column = (keywordColumn, queryText) match {
      case (Some(c), Some(q)) => keywordScore(col(c), q)
      case _ => throw new IllegalArgumentException(
        "hybrid search needs keywordColumn and queryText")
    }
    // NULL embedding → 0, the reference's unembedded-row rule. At
    // keywordWeight = 1 the vector term is never built, so a collection
    // with no (or non-array) embedding column still supports pure
    // keyword search.
    def vecSim: Column = coalesce(vectors.similarity(col(embCol), queryVec, method), lit(0.0))
    val score =
      if (keywordWeight >= 1.0) kw
      else if (keywordWeight > 0.0) vecSim * lit(1.0 - keywordWeight) + kw * lit(keywordWeight)
      else vecSim
    // min_score is applied AFTER the top-k, not before: the predicate is
    // monotone in the sort key, so sort→limit→filter returns exactly the
    // rows of filter→sort→limit — and keeps Catalyst from pushing the
    // filter into the scan/join, which would evaluate the similarity
    // expression twice per row (once in the pushed predicate, once in
    // the projection). One O(n·d) pass instead of two.
    df.withColumn(simCol, score)
      .orderBy(desc(simCol) +: tieBreakers: _*)
      .limit(n)
      .filter(col(simCol) >= lit(minScore))
  }

  /**
   * Matryoshka-style TWO-STAGE retrieval (Kusupati et al. 2022:
   * MRL-trained embeddings keep most of their signal in a prefix of
   * the dimensions; the published serving pattern shortlists on the
   * cheap prefix and re-ranks the shortlist at full precision):
   *
   * - stage 1 ranks the WHOLE corpus by cosine over the first
   *   `prefixDims` dimensions and keeps `shortlist` rows — the
   *   corpus-scale pass at prefixDims/dim of the FLOPs (and, where the
   *   prefix is materialized as its own column, of the bytes read);
   * - stage 2 re-scores ONLY the shortlist at full dimension and
   *   returns the top `n`.
   *
   * Both stages are `TakeOrderedAndProject` tails of one lazy plan —
   * no shuffle, no decompression tier, and (unlike the hashed/coded
   * ANN rungs) EVERY arithmetic step is plain SQL, so the deployed
   * shape itself is derivation-oracled, not just a degenerate.
   *
   * Exactness: `prefixDims ≥ dim` makes stage 1 the full ranking, so
   * the result IS [[topK]]'s (spec'd); at a genuine prefix the
   * shortlist's recall is the data's prefix-signal property — MRL
   * training buys it, and the spec measures it on a prefix-heavy
   * fixture. NULL embeddings score 0 in both stages (the unembedded-
   * row rule); rows shorter than `prefixDims` slice to themselves
   * (cosine over what exists — the mixed-dim refusal belongs to the
   * coded tiers, this one scores like `nearest` does).
   */
  def twoStageTopK(df: DataFrame, embCol: String, queryVec: Array[Float],
      n: Int, prefixDims: Int, shortlist: Int,
      simCol: String = "similarity",
      tieBreakers: Seq[Column] = Nil): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    require(n >= 1 && shortlist >= n,
      s"need shortlist ($shortlist) >= n ($n) >= 1")
    require(!df.columns.contains("__pre_sim"),
      "input frame carries reserved staging column '__pre_sim' — rename it first")
    val prefixQ = queryVec.take(prefixDims)
    val pre = coalesce(vectors.similarity(
      slice(col(embCol), 1, prefixDims),
      lit(prefixQ), "cosine"), lit(0.0))
    val full = coalesce(vectors.similarity(
      col(embCol), lit(queryVec), "cosine"), lit(0.0))
    df.withColumn("__pre_sim", pre)
      .orderBy(desc("__pre_sim") +: tieBreakers: _*)
      .limit(shortlist)
      .withColumn(simCol, full)
      .orderBy(desc(simCol) +: tieBreakers: _*)
      .limit(n)
      .drop("__pre_sim")
  }

  /** The at-rest Matryoshka artifact (r16 VERDICT #2): the first
    * `prefixDims` dimensions stored as their OWN column beside the
    * full vector — write THIS frame to parquet and stage 1 of
    * [[twoStagePrefixTopK]] reads prefixDims/dim of the bytes (column
    * pruning keeps the full vector out of the shortlist scan
    * entirely). The column is definitionally `slice(embCol, 1,
    * prefixDims)` — the same floats [[twoStageTopK]] slices in-plan,
    * which is what lets the prefix path share its oracle. */
  def materializePrefix(df: DataFrame, embCol: String, prefixDims: Int,
      prefixCol: String = "embedding_prefix"): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    require(!df.columns.contains(prefixCol),
      s"output column '$prefixCol' already exists on the input frame")
    df.withColumn(prefixCol, slice(col(embCol), 1, prefixDims))
  }

  /**
   * [[twoStageTopK]] over a MATERIALIZED prefix column — the 100 TB
   * serving shape (r16 VERDICT #2): measured at r16 by the removed
   * ScaleProbe `matryoshka` mode,
   * `git show e105133:src/main/scala/graft/ScaleProbe.scala`, slicing
   * in-plan does NOT cut stage-1 cost (the full vector's bytes still
   * stream through the scan); the bytes win needs the prefix AT REST
   * as its own column ([[materializePrefix]]). Two-scan shape:
   *
   * - stage 1 scans ONLY `(idCol, prefixCol)` — column pruning keeps
   *   the full-vector column out of the shortlist pass entirely
   *   (plan-pinned: the stage-1 ReadSchema names prefixCol and not
   *   embCol) — and collects the shortlist IDS, bounded by
   *   `maxShortlist` with an explicit refusal (the MMR bounded-collect
   *   convention; ids are small, vectors never collect);
   * - stage 2 re-scores at full dimension ONLY rows whose id passes an
   *   `isin` predicate built from those ids — a PUSHED scan filter, so
   *   an id-sorted/zone-mapped layout skips whole row groups of
   *   full-vector bytes at rest.
   *
   * Provably identical to [[twoStageTopK]] when `prefixCol` stores
   * `slice(embCol, 1, prefixDims)` and `idCol` is a key: same floats →
   * same stage-1 scores → the same shortlist under the same
   * (score desc, tieBreakers) total order → the same full-dim re-rank
   * (the `nearest_matryoshka_prefix` gate row shares
   * `nearest_matryoshka`'s oracle on exactly this identity). The cost
   * of the second scan is what the pushed id predicate makes of it;
   * the FLOPs and heap shapes are unchanged.
   */
  def twoStagePrefixTopK(df: DataFrame, embCol: String, prefixCol: String,
      idCol: String, queryVec: Array[Float], n: Int, prefixDims: Int,
      shortlist: Int, simCol: String = "similarity",
      tieBreakers: Seq[Column] = Nil, maxShortlist: Int = 4096): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    require(n >= 1 && shortlist >= n,
      s"need shortlist ($shortlist) >= n ($n) >= 1")
    require(shortlist <= maxShortlist,
      s"shortlist $shortlist exceeds maxShortlist $maxShortlist — stage 2's id " +
        "predicate is built from a driver-collected id list; raise maxShortlist " +
        "deliberately or shrink the shortlist")
    val shortIds = prefixShortlistFrame(df, prefixCol, idCol, queryVec,
      prefixDims, shortlist, tieBreakers)
      .collect().map(_.get(0))
    val full = coalesce(vectors.similarity(col(embCol), lit(queryVec),
      "cosine"), lit(0.0))
    df.where(col(idCol).isin(shortIds.toIndexedSeq: _*))
      .withColumn(simCol, full)
      .orderBy(desc(simCol) +: tieBreakers: _*)
      .limit(n)
  }

  /** [[twoStagePrefixTopK]]'s stage 1 as a lazy frame of shortlist ids
    * — factored out so PlanShapeSpec can pin the PRUNED scan shape (a
    * ReadSchema naming the prefix column and NOT the full vector is
    * the whole point of the at-rest artifact). */
  private[graft] def prefixShortlistFrame(df: DataFrame, prefixCol: String,
      idCol: String, queryVec: Array[Float], prefixDims: Int,
      shortlist: Int, tieBreakers: Seq[Column]): DataFrame = {
    val prefixQ = queryVec.take(prefixDims)
    val pre = coalesce(vectors.similarity(col(prefixCol), lit(prefixQ),
      "cosine"), lit(0.0))
    // the PRUNED scan: project (id, prefix) BEFORE scoring so nothing
    // else (least of all the full vector) rides the shortlist
    df.select(col(idCol), col(prefixCol))
      .withColumn("__pre_sim", pre)
      .orderBy(desc("__pre_sim") +: tieBreakers: _*)
      .limit(shortlist)
      .select(col(idCol))
  }

  /**
   * Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
   * diversity-aware top-k every retrieval-augmented serving stack
   * ships: greedily select n documents maximizing
   * `λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s)` — relevance
   * traded against redundancy with what's already picked, so a query
   * sitting on a cluster of near-duplicates returns the cluster ONCE
   * plus the next-best distinct answers instead of k copies.
   *
   * Scale shape: one corpus-scale [[topK]] pass shortlists
   * `shortlist` rows (TakeOrderedAndProject — the only part that sees
   * the corpus), then the greedy runs DRIVER-side over the collected
   * shortlist — a `shortlist`-bounded collect with an explicit
   * refusal above `maxShortlist` (the UMAP/t-SNE bounded-collect
   * convention: the reference algorithm is inherently sequential in
   * n, so the driver loop is honest, and it is capped, never silent).
   * Fully deterministic: MMR-score ties break by shortlist position —
   * (relevance desc, id asc), the same total order stage 1 used.
   *
   * `lambda = 1` is the exactness degenerate: no redundancy term, the
   * greedy picks relevance order — provably [[topK]]'s result (the
   * gate row shares `nearest_cosine`'s oracle). Output: the selected
   * rows as (idCol, mmr_rank, simCol) — `mmr_rank` is selection
   * order, the order a RAG prompt would splice them in.
   */
  def mmrTopK(df: DataFrame, embCol: String, idCol: String,
      queryVec: Array[Float], n: Int, lambda: Double,
      shortlist: Int, simCol: String = "similarity",
      maxShortlist: Int = 4096): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1], got $lambda")
    require(n >= 1 && shortlist >= n, s"need shortlist ($shortlist) >= n ($n) >= 1")
    require(shortlist <= maxShortlist,
      s"shortlist $shortlist exceeds maxShortlist $maxShortlist — the greedy is a " +
        "driver loop over the collected shortlist; raise maxShortlist deliberately " +
        "if your driver has the memory, or shrink the shortlist")
    val spark = df.sparkSession
    val short = topK(df.select(col(idCol), col(embCol)), embCol, lit(queryVec),
        n = shortlist, tieBreakers = Seq(asc(idCol)))
      .collect()
    val ids = short.map(_.get(0))
    val sims = short.map(_.getDouble(2))
    val vecs = short.map { r =>
      val s = r.get(1)
      if (s == null) null
      else s.asInstanceOf[scala.collection.Seq[Float]].toArray
    }
    val picked = mmrGreedySelect(sims, vecs, n, lambda)
    import scala.jdk.CollectionConverters._
    val outRows = picked.zipWithIndex.map { case (c, rank) =>
      org.apache.spark.sql.Row(ids(c), rank + 1, sims(c))
    }
    spark.createDataFrame(outRows.toList.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        df.schema(idCol),
        org.apache.spark.sql.types.StructField("mmr_rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(simCol,
          org.apache.spark.sql.types.DoubleType))))
  }

  /**
   * MMR served FROM THE CODED INDEX — the RAG-over-a-coded-corpus
   * composition (round 17): at 100 TB the corpus at rest is IVFADC
   * codes, so the shortlist pass is the index's ADC scan (cell-pruned,
   * code-width bytes) instead of a full-vector topK; the shortlist's
   * RAW vectors — which the greedy's redundancy term needs — fetch
   * through a PUSHED id predicate (the refine-stage convention: only
   * shortlist rows' vector bytes move), score exact cosine, and the
   * shared greedy runs over them. Recall is the index's (nprobe,
   * coding); the emitted similarities and the diversity arithmetic are
   * EXACT — quantization can only cost shortlist membership, never
   * skew the trade-off term.
   *
   * Exactness anchor: nprobe = nlist ∘ lossless makes the ADC
   * shortlist the exact shortlist, so the whole composition equals
   * [[mmrTopK]] at the same knobs — at λ = 1 that is relevance order
   * (the `nearest_mmr_index_exact` gate row shares
   * `nearest_mmr_exact`'s oracle).
   *
   * Takes ANY [[AnnIndex]] (r17 VERDICT #1): the OPQ∘IVFADC stack
   * serves MMR through the same door, with its rotation applied
   * INSIDE `index.search` — reaching into `.inner` with an un-rotated
   * query (the pre-trait workaround) silently degraded shortlists
   * (the `nearest_mmr_opq_exact` gate row anchors the rotated path at
   * the three-way composed degenerates).
   */
  def mmrTopKFromIndex(index: AnnIndex, raw: DataFrame, idCol: String,
      embCol: String, queryVec: Array[Float], n: Int, lambda: Double,
      shortlist: Int, nprobe: Int = 4, simCol: String = "similarity",
      maxShortlist: Int = 4096): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1], got $lambda")
    require(n >= 1 && shortlist >= n, s"need shortlist ($shortlist) >= n ($n) >= 1")
    require(shortlist <= maxShortlist,
      s"shortlist $shortlist exceeds maxShortlist $maxShortlist — the greedy is a " +
        "driver loop over the collected shortlist; raise maxShortlist deliberately " +
        "if your driver has the memory, or shrink the shortlist")
    val spark = raw.sparkSession
    val shortIds = index.search(queryVec, shortlist, nprobe, simCol,
        Seq(asc(idCol)))
      .select(col(idCol)).collect().map(_.get(0))
    // the raw fetch re-scores EXACT and re-sorts by it — the greedy's
    // candidate order must be the exact-relevance total order, not the
    // ADC one (at the lossless degenerate they coincide)
    val short = raw.where(col(idCol).isin(shortIds.toIndexedSeq: _*))
      .select(col(idCol), col(embCol),
        coalesce(vectors.similarity(col(embCol), lit(queryVec), "cosine"),
          lit(0.0)).as(simCol))
      .orderBy(desc(simCol), asc(idCol))
      .collect()
    val ids = short.map(_.get(0))
    val sims = short.map(_.getDouble(2))
    val vecs = short.map { r =>
      val s = r.get(1)
      if (s == null) null
      else s.asInstanceOf[scala.collection.Seq[Float]].toArray
    }
    val picked = mmrGreedySelect(sims, vecs, n, lambda)
    import scala.jdk.CollectionConverters._
    val outRows = picked.zipWithIndex.map { case (c, rank) =>
      org.apache.spark.sql.Row(ids(c), rank + 1, sims(c))
    }
    spark.createDataFrame(outRows.toList.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        raw.schema(idCol),
        org.apache.spark.sql.types.StructField("mmr_rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(simCol,
          org.apache.spark.sql.types.DoubleType))))
  }

  /** The MMR greedy both entry points share. Candidates MUST arrive in
    * (relevance desc, id asc) order — strict > with an in-order scan
    * then breaks MMR-score ties by candidate position, i.e. by exactly
    * the total order the shortlist stage used. Deterministic. Returns
    * picked candidate INDICES in selection order. */
  private def mmrGreedySelect(sims: Array[Double], vecs: Array[Array[Float]],
      n: Int, lambda: Double): Seq[Int] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      if (a == null || b == null) return 0.0
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val len = math.min(a.length, b.length)
      while (i < len) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    val isPicked = new Array[Boolean](sims.length)
    val maxRed = Array.fill(sims.length)(0.0) // max sim to any picked row
    while (picked.length < math.min(n, sims.length)) {
      var best = -1; var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < sims.length) {
        if (!isPicked(c)) {
          val score =
            if (picked.isEmpty) sims(c) // first pick is pure relevance at any λ
            else lambda * sims(c) - (1.0 - lambda) * maxRed(c)
          if (score > bestScore) { bestScore = score; best = c }
        }
        c += 1
      }
      picked += best
      isPicked(best) = true
      var c2 = 0
      while (c2 < sims.length) {
        val r = cos(vecs(c2), vecs(best))
        if (r > maxRed(c2)) maxRed(c2) = r
        c2 += 1
      }
    }
    picked.toSeq
  }

  /**
   * Batch MMR — [[mmrTopK]] for a whole TABLE of queries (r16 VERDICT
   * #3: every ANN rung has a `searchMany`; the diversity rung now does
   * too, instead of serializing one driver greedy per query with a
   * corpus-scale shortlist pass EACH). Shape:
   *
   * - ONE distributed pass builds every query's shortlist —
   *   [[SimJoin.knnJoinAgg]]'s bounded-heap plan (map-side partials
   *   keep ≤ `shortlist` candidates per (partition, query); the
   *   corpus is scanned once for ALL queries, and its heap order
   *   (sim desc, id asc) is exactly [[mmrTopK]]'s stage-1 order);
   * - the shortlists join their VECTORS back from the corpus by id
   *   (the heap buffers (score, id) only — shortlist-sized join, the
   *   only rows that survive the corpus side) and collect GROUPED,
   *   bounded by min(`maxCollect` rows, `maxCollectBytes` of payload)
   *   with an explicit refusal — BYTES too because, unlike the rest of
   *   the family (ids only), every collected row here carries a full
   *   embedding vector (the MMR bounded-collect convention: the greedy
   *   is inherently sequential per query, so the driver loop is
   *   honest, and it is capped);
   * - the shared greedy ([[mmrGreedySelect]]) runs per query over its
   *   ≤ `shortlist` candidates.
   *
   * `lambda = 1` is the exactness degenerate PER QUERY: no redundancy
   * term, every query's selection is relevance order — provably
   * [[SimJoin.knnJoinAgg]]'s result with a rank column (the
   * `mmr_many_exact` gate row shares `simjoin_knn`'s oracle plus a
   * row_number). Output: (queryIdCol, corpusIdCol, mmr_rank, simCol),
   * `mmr_rank` the per-query selection order.
   *
   * Integral corpus ids required (knnJoinAgg's heap contract — its
   * refusal names the alternative).
   */
  def mmrTopKMany(queries: DataFrame, corpus: DataFrame, queryIdCol: String,
      queryEmbCol: String, corpusIdCol: String, corpusEmbCol: String,
      n: Int, lambda: Double, shortlist: Int,
      simCol: String = "similarity", maxCollect: Int = 1 << 20,
      maxCollectBytes: Long = 256L << 20): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1], got $lambda")
    require(n >= 1 && shortlist >= n, s"need shortlist ($shortlist) >= n ($n) >= 1")
    require(maxCollect >= shortlist,
      s"maxCollect ($maxCollect) must be >= shortlist ($shortlist)")
    require(maxCollectBytes >= 1L, s"maxCollectBytes must be >= 1, got $maxCollectBytes")
    val spark = corpus.sparkSession
    // unlike the rest of the family (ids only), every collected row here
    // carries a FULL embedding vector — so the driver bound is
    // denominated in BYTES, not just rows: probe the dimension from one
    // query row (the query table is small by construction) and cap rows
    // at maxCollectBytes / bytes-per-row
    val dim = probeQueryDim(queries, queryEmbCol) match {
      case Some(d) => d
      case None => return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        mmrManySchema(queries, queryIdCol, corpusIdCol, simCol))
    }
    val bytesPerRow = 4L * dim + 64L // float32 payload + Row/boxing overhead
    val rowCap = math.min(maxCollect.toLong,
      math.max(shortlist.toLong, maxCollectBytes / bytesPerRow)).toInt
    val shortlists = SimJoin.knnJoinAgg(queries, corpus, queryIdCol,
      queryEmbCol, corpusIdCol, corpusEmbCol, k = shortlist, simCol = simCol)
    val scored = shortlists
      .join(corpus.select(col(corpusIdCol).cast("long").as(corpusIdCol),
        col(corpusEmbCol).as("__mmr_vec")), Seq(corpusIdCol))
      .select(col(queryIdCol), col(corpusIdCol), col(simCol), col("__mmr_vec"))
    mmrManyCollectGreedy(queries, scored, queryIdCol, corpusIdCol, simCol,
      n, lambda, rowCap, maxCollect, maxCollectBytes, bytesPerRow, dim)
  }

  /**
   * Batch MMR served FROM THE CODED INDEX (r17 VERDICT #2) —
   * [[mmrTopKMany]] with the shortlist stage swapped from a raw-vector
   * corpus scan to ANY [[AnnIndex]]'s `searchMany` (cell-pruned,
   * code-width bytes through the join): at 100 TB the corpus at rest
   * is codes, so the full-vector `knnJoinAgg` pass is the one piece of
   * [[mmrTopKMany]] that doesn't survive the scale-up. Composition is
   * the refine-stage convention ([[AnnIndex.searchManyRefine]]):
   * the ADC shortlist joins its RAW vectors by id — only shortlist
   * rows survive the raw side — queries broadcast back, EXACT cosine
   * re-scores, and the shared grouped greedy runs per query. Recall is
   * the index's (nprobe, coding); similarities and the diversity
   * arithmetic are exact. Through the [[AnnIndex]] seam the OPQ stack
   * serves this with its rotation applied inside `searchMany`.
   *
   * Exactness anchor: nprobe = nlist ∘ lossless ⇒ exact shortlists ⇒
   * the whole composition equals [[mmrTopKMany]]; at λ = 1 that is
   * per-query relevance order (the `mmr_many_index_exact` gate row
   * shares `mmr_many_exact`'s oracle). Same driver-collect bound as
   * [[mmrTopKMany]]: min(`maxCollect` rows, `maxCollectBytes` of
   * vector payload).
   */
  def mmrTopKManyFromIndex(index: AnnIndex, queries: DataFrame,
      raw: DataFrame, queryIdCol: String, queryEmbCol: String,
      corpusIdCol: String, corpusEmbCol: String, n: Int, lambda: Double,
      shortlist: Int, nprobe: Int = 4, simCol: String = "similarity",
      maxCollect: Int = 1 << 20, maxCollectBytes: Long = 256L << 20): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1], got $lambda")
    require(n >= 1 && shortlist >= n, s"need shortlist ($shortlist) >= n ($n) >= 1")
    require(maxCollect >= shortlist,
      s"maxCollect ($maxCollect) must be >= shortlist ($shortlist)")
    require(maxCollectBytes >= 1L, s"maxCollectBytes must be >= 1, got $maxCollectBytes")
    val spark = queries.sparkSession
    val dim = probeQueryDim(queries, queryEmbCol) match {
      case Some(d) => d
      case None => return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        mmrManySchema(queries, queryIdCol, corpusIdCol, simCol))
    }
    val bytesPerRow = 4L * dim + 64L
    val rowCap = math.min(maxCollect.toLong,
      math.max(shortlist.toLong, maxCollectBytes / bytesPerRow)).toInt
    val shortlists = index.searchMany(queries, queryIdCol, queryEmbCol,
      corpusIdCol, k = shortlist, nprobe = nprobe, simCol = simCol)
    // exact re-score: the greedy's candidate order must be the EXACT
    // relevance total order, not the ADC one (at the lossless
    // degenerate they coincide) — raw vectors fetch by id join, the
    // query table broadcasts back (small by construction)
    val scored = shortlists
      .select(col(queryIdCol), col(corpusIdCol).cast("long").as(corpusIdCol))
      .join(raw.select(col(corpusIdCol).cast("long").as(corpusIdCol),
        col(corpusEmbCol).as("__mmr_vec")), Seq(corpusIdCol))
      .join(broadcast(queries.select(col(queryIdCol),
        col(queryEmbCol).as("__mmr_q"))), Seq(queryIdCol))
      .select(col(queryIdCol), col(corpusIdCol),
        coalesce(vectors.similarity(col("__mmr_vec"), col("__mmr_q"), "cosine"),
          lit(0.0)).as(simCol),
        col("__mmr_vec"))
    mmrManyCollectGreedy(queries, scored, queryIdCol, corpusIdCol, simCol,
      n, lambda, rowCap, maxCollect, maxCollectBytes, bytesPerRow, dim)
  }

  /** Output schema shared by the whole batch-MMR family: (queryIdCol
    * as the query table declares it, corpusIdCol long, mmr_rank int,
    * simCol double) — also the schema of the EMPTY frame a zero-query
    * call returns. */
  private def mmrManySchema(queries: DataFrame, queryIdCol: String,
      corpusIdCol: String, simCol: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      queries.schema(queryIdCol),
      org.apache.spark.sql.types.StructField(corpusIdCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("mmr_rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField(simCol,
        org.apache.spark.sql.types.DoubleType)))

  /** Embedding dim probed from ONE query row; None when the query
    * table is EMPTY — batch MMR over zero queries returns the empty
    * output frame instead of throwing (r18 ADVICE: a micro-batch whose
    * rows are all filtered out still fires foreachBatch, and
    * [[graft.streaming.StreamOps.mmrManyFromIndexPerBatch]] must drain
    * it empty, not crash the StreamingQuery). A PRESENT first row with
    * a NULL/empty embedding refuses by name — that is a data bug, not
    * an empty batch (`size(NULL)` is NULL, or -1 under the legacy
    * flag; both land here). */
  private def probeQueryDim(queries: DataFrame,
      queryEmbCol: String): Option[Int] =
    queries.select(size(col(queryEmbCol)).as("d")).take(1).headOption.map { r =>
      val d = if (r.isNullAt(0)) -1 else r.getInt(0)
      require(d >= 1,
        s"'$queryEmbCol' is NULL or empty in the first query row — batch MMR " +
          "sizes its driver-collect byte bound from the embedding dim; " +
          "filter NULL/empty-embedding queries out before calling")
      d
    }

  /** The bounded collect + grouped greedy tail [[mmrTopKMany]] and
    * [[mmrTopKManyFromIndex]] share. `scored` must carry exactly
    * (queryIdCol, corpusIdCol: long, simCol: double, __mmr_vec). */
  private def mmrManyCollectGreedy(queries: DataFrame, scored: DataFrame,
      queryIdCol: String, corpusIdCol: String, simCol: String,
      n: Int, lambda: Double, rowCap: Int, maxCollect: Int,
      maxCollectBytes: Long, bytesPerRow: Long, dim: Int): DataFrame = {
    val spark = queries.sparkSession
    val withVecs = scored
      // limit is the refusal probe: collecting rowCap + 1 rows
      // proves the bound broke without materializing the overage
      .limit(rowCap + 1)
      .collect()
    require(withVecs.length <= rowCap,
      s"queries × shortlist exceeded the driver-collect bound ($rowCap rows = " +
        s"min(maxCollect $maxCollect, maxCollectBytes $maxCollectBytes / " +
        s"~$bytesPerRow B/row at dim $dim)) — each collected shortlist row " +
        "carries a FULL embedding vector, so this collect is byte-bounded; " +
        "raise maxCollectBytes deliberately if your driver has the memory, " +
        "or batch the queries")
    import scala.jdk.CollectionConverters._
    val outRows = withVecs
      .groupBy(_.get(0))
      .toSeq
      // deterministic query order in the output frame (callers sort
      // anyway; determinism is the repo's default posture) — numeric
      // ids sort numerically, everything else lexicographically
      .sortBy(_._1 match {
        case n: java.lang.Number => (0, n.longValue, "")
        case other => (1, 0L, String.valueOf(other))
      })
      .flatMap { case (qid, rows) =>
        val cand = rows.sortBy(r => (-r.getDouble(2), r.getLong(1)))
        val sims = cand.map(_.getDouble(2))
        val vecs = cand.map { r =>
          val s = r.get(3)
          if (s == null) null
          else s.asInstanceOf[scala.collection.Seq[Float]].toArray
        }
        mmrGreedySelect(sims, vecs, n, lambda).zipWithIndex.map {
          case (c, rank) =>
            org.apache.spark.sql.Row(qid, cand(c).getLong(1), rank + 1,
              sims(c))
        }
      }
    spark.createDataFrame(outRows.toList.asJava,
      mmrManySchema(queries, queryIdCol, corpusIdCol, simCol))
  }
}
