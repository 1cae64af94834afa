package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Model-based quality filtering — the classifier tier of a modern
 * pretraining pipeline (CCNet trains fastText to separate Wikipedia
 * from crawl; DCLM and FineWeb-Edu rank every document with a linear
 * or distilled classifier; reference scope: tidyvec's embedders are
 * models-as-artifacts, `R/embedders.R`, and this extends that
 * convention to a trainable *discriminative* scorer). The model is a
 * logistic regression over bag-of-words relative-frequency features —
 * the fastText shape without subword buckets: score(d) =
 * sigmoid(b + sum_t (c_{d,t}/n_d) * w_t) over the fit corpus's vocab.
 *
 * What makes this one different from calling spark.ml: the ENTIRE fit
 * is deterministic across partitionings AND replayable bit-for-bit by
 * another engine. Spark's LogisticRegression (LBFGS over float
 * treeAggregate) returns different bits under different partition
 * counts, which is why trained models elsewhere in this repo settle
 * for golden-anchor pins ([[graft.Embedder]]'s Word2Vec, k-means).
 * Here the [[graft.operators.TextAnalysis.lmScore]] integer-quantization
 * trick is applied to *training*: every per-(doc,token) float product
 * is rounded to integer micro-units BEFORE any aggregation, so each
 * gradient sum is exact commutative integer arithmetic — partition-
 * order-free — and the weight state after every iteration is a pure
 * integer function of the corpus. The only float steps (one division,
 * one multiply, the sigmoid's exp) happen per (doc, token) row or per
 * doc on integer inputs, where JVM and DuckDB agree to ~1 ulp, far
 * inside the micro-unit quantum. Full-batch gradient descent rather
 * than SGD for the same reason: a sampling order is a nondeterminism
 * source, and at corpus scale "one pass over everything per step" is
 * the shape that parallelizes anyway.
 *
 * Scale shape per iteration (r13 VERDICT #4): ONE shuffle over
 * (doc, token)-sized data — the map-combined token-key gradient sum.
 * The feature frame materializes ONCE at fit into the block cache
 * (persist — unlike a checkpoint, the cache retains the plan and with
 * it the hash-by-doc partitioning the `__nd` window already paid
 * for); the scoring pass joins
 * the vocab-bounded weight frame BROADCAST (default `broadcastWeights`
 * — ship the model to the data) so the per-doc logit sum reuses the
 * doc partitioning with zero exchanges, and the gradient pass's
 * doc-key residual join reuses it again (only the doc-sized residual
 * frame moves). Weights are bit-identical either way — the integer
 * sums commute — so `broadcastWeights = false` remains for a vocab
 * too large to broadcast. Per-iteration weight frames are
 * vocab-bounded and checkpointed to keep lineage flat. Iteration
 * count is a constant (default 8), so fit cost is `O(iters)` passes —
 * the classic distributed-ML bound, with no driver-side data motion
 * beyond two longs per iteration.
 */
object Classifier {

  import TextAnalysis.Ws

  /** Micro-unit quantum shared by weights, logits, and residuals —
    * the lmScore micro-nat convention. */
  private val Q = 1e6

  /** Largest vocab [[fit]] will broadcast per iteration (~tok string +
    * long ≈ 50 B/row ⇒ ~200 MB at the cap — inside Spark's default
    * 8 GB broadcast-table limit with headroom for the driver holding
    * iters-in-flight copies). Above it fit auto-falls back to the
    * shuffle join: bit-identical weights, no broadcast OOM. */
  private[operators] val BroadcastVocabMax = 4L * 1000 * 1000

  /** Tokenizer seam for [[fit]] and [[scoreAgainst]] (r13 VERDICT #3):
    * fastText-shape filters owe much of their robustness to SUBWORD
    * features, and the repo already carries a frozen BPE artifact —
    * this seam lets the same derivation-checked fit/score machinery
    * run over either unit. The tokenizer is a PARAMETER, not model
    * state, mirroring [[TextAnalysis.lmScoreAgainst]]'s convention:
    * freeze it alongside the weights (a model fit on BPE units scored
    * over whitespace words would see almost everything as OOV — same
    * caveat as scoring against the wrong LM). Emits `array<string>`
    * of non-empty tokens. */
  sealed trait Tokenizer extends Serializable {
    private[operators] def toks(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column
  }

  /** Default: lowercase whitespace split — the bag-of-WORDS baseline
    * (and exactly the tokenization [[ClassifierSql]] replays, so only
    * this tokenizer's fits are DuckDB-derivation-checked; BPE fits
    * anchor on goldens, the `bpe_tokens_anchor` class). */
  case object WhitespaceTokenizer extends Tokenizer {
    private[operators] def toks(c: org.apache.spark.sql.Column) =
      filter(split(lower(c), Ws), t => length(t) > 0)
  }

  /** Subword units via a FROZEN BPE merge table
    * ([[TextAnalysis.fitBpe]]) — the robustness rung: rare and unseen
    * words decompose into in-vocab subwords instead of vanishing as
    * OOV, so the classifier scores documents the word-level vocab
    * would drop (spec'd divergence in ClassifierSpec). */
  final case class BpeTokenizer(model: TextAnalysis.BpeModel) extends Tokenizer {
    private[operators] def toks(c: org.apache.spark.sql.Column) =
      TextAnalysis.bpeTokens(c, model)
  }

  /**
   * A fitted linear quality classifier — weights as a `(__tok,
   * __w_micro)` frame (integer micro-units, the [[TextAnalysis.UnigramLm]]
   * counts-frame convention: pure data, reloadable by any engine) plus
   * an integer micro-unit bias. `iters`/`lr`/`minCount` ride along so
   * a persisted model records how it was fit. `numBuckets > 0` marks a
   * HASHED-feature model (fastText's hashing trick, r15 VERDICT #3):
   * `__tok` holds bucket ids, not surface tokens, and scoring MUST
   * hash through the same map — which is why the knob is model state,
   * not a scoring parameter (the frozen-tokenizer caveat, applied to
   * the feature space). */
  case class LinearQualityClassifier private[operators] (
      weights: DataFrame, biasMicro: Long,
      iters: Int, lr: Double, minCount: Long, featScale: Double,
      numBuckets: Int = 0) {
    /** exact (surface-token-keyed) feature space? */
    def exact: Boolean = numBuckets == 0
  }

  /** The fastText hashing trick as one column map: token → bucket id
    * (as a STRING, so the weights frame keeps its `(__tok string,
    * __w_micro long)` schema and every downstream join/save/import
    * path is coding-agnostic). Same `pmod(xxhash64(…), B)` family as
    * [[TextAnalysis.fitDsir]] — the repo's one bucketing convention. */
  private def bucketed(toks: DataFrame, numBuckets: Int): DataFrame =
    if (numBuckets == 0) toks
    else toks.withColumn("__tok",
      pmod(xxhash64(col("__tok")), lit(numBuckets.toLong)).cast("string"))

  /**
   * Fit by `iters` rounds of full-batch gradient descent (see object
   * doc for the determinism design). Features are relative
   * frequencies over IN-VOCAB tokens (vocab = fit-corpus tokens with
   * at least `minCount` occurrences — the bound that keeps the weight
   * frame model-sized on an open-vocabulary corpus); OOV tokens are
   * invisible to both numerator and denominator, and docs with zero
   * in-vocab tokens are absent from the fit (the [[TextAnalysis.lmScore]]
   * zero-token convention). `labelCol` must be 0/1 — checked eagerly,
   * refuse-don't-guess; null-labeled docs are dropped.
   *
   * Weight updates round Spark-side (`round(...)`, half-away-from-
   * zero — the semantics DuckDB's `round` shares; `Math.round` is
   * floor(x+0.5) and would diverge on negative halves), including the
   * bias: its per-iteration update is computed IN-PLAN by a one-row
   * aggregate so the driver never rounds a double itself.
   *
   * `numBuckets > 0` hashes every token into that many feature buckets
   * BEFORE anything else sees it (fastText's hashing trick; r15
   * VERDICT #3) — the move that makes the weight artifact's size a
   * BUILD parameter instead of a corpus property: the frame is ≤
   * numBuckets rows no matter how the vocabulary grows, so the
   * broadcast-vs-shuffle fallback ([[BroadcastVocabMax]]) never
   * triggers on a hashed model. `minCount` then bounds BUCKET
   * occurrences (a bucket is in-vocab if the tokens hashing into it
   * total ≥ minCount); colliding tokens share one weight — the
   * documented fastText trade, measured at r16 by the removed ScaleProbe
   * `clfbuckets` mode, `git show e105133:src/main/scala/graft/ScaleProbe.scala`.
   * `numBuckets = 0` (default) is the exact surface-token degenerate:
   * bit-for-bit the pre-knob fit, sharing `quality_classifier_frozen`'s
   * DuckDB derivation oracle.
   */
  def fit(df: DataFrame, textCol: String, labelCol: String, idCol: String,
      minCount: Long = 2L, iters: Int = 8, lr: Double = 2.0,
      featScale: Double = 10.0, tokenizer: Tokenizer = WhitespaceTokenizer,
      broadcastWeights: Boolean = true, numBuckets: Int = 0): LinearQualityClassifier = {
    require(numBuckets >= 0,
      s"numBuckets must be >= 0 (0 = exact surface-token degenerate), got $numBuckets")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(featScale > 0 && java.lang.Double.isFinite(featScale),
      s"featScale must be positive and finite, got $featScale")
    require(iters >= 1 && iters <= 64,
      s"iters must be in [1, 64] (the oracle unrolls one CTE block per iteration), got $iters")
    require(lr > 0 && java.lang.Double.isFinite(lr), s"lr must be positive and finite, got $lr")
    val bad = df.where(col(labelCol).isNotNull && !col(labelCol).isin(0, 1)).limit(1).count()
    require(bad == 0L,
      s"fit needs 0/1 labels in '$labelCol' — found other values; map them before fitting")

    val toks = bucketed(df.where(col(labelCol).isin(0, 1))
      .select(col(idCol).as("__id"), col(labelCol).cast("long").as("__y"),
        explode(tokenizer.toks(col(textCol))).as("__tok")), numBuckets)
    val vocab = toks.groupBy("__tok").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minCount).select("__tok").localCheckpoint(true)
    require(!vocab.isEmpty,
      s"fit produced an empty vocabulary (no token reaches minCount = $minCount) — " +
        "lower minCount or fit on more text")
    // (doc, token) relative-frequency features, materialized once and
    // read 2*iters times
    val cnt = toks.join(vocab, "__tok").groupBy("__id", "__y", "__tok")
      .agg(count(lit(1)).as("__ct"))
    // per-doc total via a WINDOW over the counted frame, not a
    // groupBy+self-join: the join shape re-executes the whole
    // tokenize-and-count lineage for its second branch (Spark plans
    // two corpus scans; exchange reuse doesn't bridge them), while the
    // window is one doc-key shuffle over rows that already exist.
    // Values are identical — exact integer sums either way.
    val ndWin = org.apache.spark.sql.expressions.Window.partitionBy("__id")
    // PERSIST (not localCheckpoint) is load-bearing here: a checkpoint
    // erases outputPartitioning (LogicalRDD reports Unknown — measured),
    // while the cache retains the full plan, so InMemoryTableScan still
    // advertises the window's HashPartitioning(__id) — and that is what
    // lets every iteration's per-doc aggregation and doc-key residual
    // join run with ZERO exchanges of this frame (r13 VERDICT #4). The
    // count() below materializes it eagerly; unpersist after the loop.
    val feat = cnt
      .withColumn("__nd", sum("__ct").over(ndWin))
      .select(col("__id"), col("__y"), col("__tok"),
        ((col("__ct").cast("double") / col("__nd")) * lit(featScale)).as("__x"))
      .persist()
    val nDocs = feat.select("__id").distinct().count()
    // broadcastWeights ships the FULL weight frame to every executor
    // each iteration; vocab is bounded only by minCount, so at
    // web-corpus vocab sizes that broadcast can exceed driver memory
    // where the shuffle join would not (r14 ADVICE). Auto-fall back
    // above the threshold rather than OOM on a silent default, and
    // say so — weights are bit-identical either way (integer sums
    // commute), only the plan shape changes.
    val vocabSize = vocab.count()
    val useBroadcast = broadcastWeights && vocabSize <= BroadcastVocabMax
    if (broadcastWeights && !useBroadcast)
      System.err.println(s"graft.Classifier.fit: vocab has $vocabSize tokens " +
        s"(> $BroadcastVocabMax) — falling back from broadcast to shuffle " +
        "join for the weight frame; results are bit-identical")

    // Superseded per-iteration checkpoints (the previous w) are
    // released by dropping the reference: localCheckpoint blocks belong
    // to the checkpointed RDD (Dataset.unpersist is a silent no-op for
    // them), and Spark's ContextCleaner unpersists an RDD's blocks once
    // the driver reference is GC'd — so iteration state is bounded at
    // ~one generation, not iters generations.
    //
    // ONE action per iteration (r22, guide §1.2 — the loop was three):
    // the bias rides the weight frame as a constant __b_micro column
    // (8 bytes × vocab rows) instead of a per-iteration two-long
    // head(), and the residual frame is no longer checkpointed — both
    // of its consumers (the gradient join and the bias-delta
    // aggregate) now sit under the SAME weight-checkpoint action, and
    // its recompute from the cached feature frame + the checkpointed
    // previous weights is exact integer/per-row arithmetic, so the two
    // in-plan evaluations are bit-identical by construction
    // (ClassifierSpec pins the weights bit-for-bit; integer sums
    // commute, so plan shape cannot change a single bit).
    var w = vocab.select(col("__tok"), lit(0L).as("__w_micro"),
      lit(0L).as("__b_micro")).localCheckpoint(true)
    // finally-unpersist (r14 ADVICE): an exception mid-iteration (a
    // failed checkpoint, a cancelled job) must not leak the cached
    // feature frame for the session's lifetime
    try {
    for (_ <- 1 to iters) {
      // scoring pass: integer micro-logits, exact doc sums. With
      // broadcastWeights (default; the weight frame is vocab-bounded
      // by minCount) the join ships the MODEL to the data and the
      // feature frame never moves: feat's cache advertises the __nd
      // window's hash-by-__id partitioning, the broadcast join keeps
      // it, and the per-doc aggregation is satisfied by it — so the
      // scoring pass touches feat with ZERO exchanges (r13 VERDICT
      // #4; the cut was measured at r13 by the removed ScaleProbe
      // `classifier` mode,
      // `git show e105133:src/main/scala/graft/ScaleProbe.scala`). The
      // bias enters as max(__b_micro) — every joined row carries the
      // same value, identical to the old lit(bMicro).
      val z = feat.join(if (useBroadcast) broadcast(w) else w, "__tok")
        .withColumn("__zq", round(col("__x") * col("__w_micro")).cast("long"))
        .groupBy("__id", "__y")
        .agg((sum("__zq") + max("__b_micro")).as("__z_micro"))
      // residuals, quantized before any further aggregation
      val r = z.select(col("__id"),
        round(lit(Q) * (lit(1.0) / (lit(1.0) +
          exp(-(col("__z_micro").cast("double") / lit(Q)))) -
          col("__y").cast("double"))).cast("long").as("__rq"))
      // gradient pass: exact token sums, then the rounded update
      val g = feat.join(r, "__id")
        .withColumn("__gq", round(col("__rq").cast("double") * col("__x")).cast("long"))
        .groupBy("__tok").agg(sum("__gq").as("__g"))
      // bias delta: the same rounded expression the head() computed,
      // now a 1-row broadcast folded into the weight update's action
      val bDelta = r.agg(round((lit(lr) * sum("__rq").cast("double")) /
        lit(nDocs.toDouble)).cast("long").as("__b_delta"))
      w = w.join(g, Seq("__tok"), "left")
        .crossJoin(broadcast(bDelta))
        .select(col("__tok"),
          (col("__w_micro") - round((lit(lr) * coalesce(col("__g"), lit(0L)).cast("double")) /
            lit(nDocs.toDouble)).cast("long")).as("__w_micro"),
          (col("__b_micro") - col("__b_delta")).as("__b_micro"))
        .localCheckpoint(true)
    }
    } finally feat.unpersist(false) // w is checkpointed — nothing depends on feat
    // one bias read for the whole fit (every row carries the value)
    val bMicro = w.agg(max("__b_micro")).head().getLong(0)
    LinearQualityClassifier(w.select(col("__tok"), col("__w_micro")),
      bMicro, iters, lr, minCount, featScale, numBuckets)
  }

  /**
   * Score a shard against a FROZEN model — the deployment shape (fit
   * once on the reference corpus, score every shard and every stream
   * batch against the same weights, so scores stay comparable).
   * Output: (`idCol`, `n_toks` = in-vocab token instances,
   * `clf_logit`, `outCol` = sigmoid probability), both rounded to
   * 6 dp after exact integer accumulation. Docs with zero in-vocab
   * tokens are absent (no feature mass — same convention as fit).
   *
   * The weights join shuffles both sides on the token key by default
   * (the open-vocabulary-safe shape, and the model side has already
   * collapsed to one row per vocab token); `broadcastWeights = true`
   * serves the bounded-vocab case — the token stream never shuffles
   * and the per-doc partials collapse map-side. Results are
   * bit-identical either way (integer sums commute).
   */
  def scoreAgainst(df: DataFrame, model: LinearQualityClassifier,
      textCol: String, idCol: String, outCol: String = "clf_prob",
      broadcastWeights: Boolean = false,
      tokenizer: Tokenizer = WhitespaceTokenizer): DataFrame = {
    val w = if (broadcastWeights) broadcast(model.weights) else model.weights
    // a hashed model's weights are keyed by bucket id — score-side
    // tokens go through the identical hash (model state, so fit and
    // serving can never bucket apart)
    val toks = bucketed(df.select(col(idCol),
      explode(tokenizer.toks(col(textCol))).as("__tok")), model.numBuckets)
    val cnt = toks.join(w, "__tok")
      .groupBy(col(idCol), col("__tok"), col("__w_micro"))
      .agg(count(lit(1)).as("__ct"))
    // per-doc total via a window, not a groupBy+self-join — the join
    // form re-scans the corpus for its second branch (see fit); this
    // is the hot serving path, so one scan matters
    cnt
      .withColumn("__nd", sum("__ct").over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)))
      .withColumn("__zq",
        round(((col("__ct").cast("double") / col("__nd")) * lit(model.featScale)) *
          col("__w_micro")).cast("long"))
      .groupBy(col(idCol))
      .agg(first("__nd").as("n_toks"),
        (sum("__zq") + lit(model.biasMicro)).as("__z_micro"))
      .select(col(idCol), col("n_toks"),
        round(col("__z_micro").cast("double") / lit(Q), 6).as("clf_logit"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(col("__z_micro").cast("double") / lit(Q)))), 6).as(outCol))
  }

  /**
   * Evaluate a scored frame against 0/1 labels: (docs, accuracy at
   * the 0.5 cut, mean log-loss) — the two numbers that say whether a
   * quality filter actually learned before it gates a corpus.
   * Probabilities are clamped to [1e-6, 1 − 1e-6] before the log (a
   * 6-dp-rounded `clf_prob` can be exactly 0 or 1, and an infinite
   * loss from one confident row would drown the mean); per-doc losses
   * quantize to integer micro-nats before averaging — the
   * [[TextAnalysis.lmScore]] discipline, so the numbers are
   * partition-order-free. Rows with a null label or
   * null prob are excluded; `n` counts only the rows evaluated.
   */
  def evaluate(scored: DataFrame, labelCol: String,
      probCol: String = "clf_prob"): (Long, Double, Double) = {
    val row = lossRows(scored, labelCol, probCol)
      .agg(count(lit(1)), sum("__hit"), sum("__ll_micro")).head()
    val n = row.getLong(0)
    if (n == 0L) (0L, 0.0, 0.0)
    else (n, row.getLong(1).toDouble / n, row.getLong(2).toDouble / (Q * n))
  }

  /** [[evaluate]] as a one-row FRAME with 6-dp-rounded metrics —
    * the oracle-comparable form (`quality_classifier_eval` replays
    * the identical clamp/quantize expressions in DuckDB, so model
    * EVALUATION is derivation-checked alongside training and
    * scoring). Columns: (n, accuracy, log_loss). */
  def evaluateDf(scored: DataFrame, labelCol: String,
      probCol: String = "clf_prob"): DataFrame =
    lossRows(scored, labelCol, probCol).agg(
      count(lit(1)).as("n"),
      round(sum("__hit").cast("double") / count(lit(1)), 6).as("accuracy"),
      round(sum("__ll_micro").cast("double") / (lit(Q) * count(lit(1))), 6)
        .as("log_loss"))

  private def lossRows(scored: DataFrame, labelCol: String,
      probCol: String): DataFrame = {
    val p = least(greatest(col(probCol), lit(1e-6)), lit(1.0 - 1e-6))
    val y = col(labelCol).cast("double")
    scored
      .where(col(labelCol).isNotNull && col(probCol).isNotNull)
      .select(
        when((col(probCol) >= 0.5) === (y === 1.0), 1L).otherwise(0L).as("__hit"),
        round(lit(-Q) * (y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p)))
          .cast("long").as("__ll_micro"))
  }

  /** Assemble a model from an existing weights frame — the import
    * seam: weights trained anywhere (an externally trained fastText
    * model's vocab dump, a cached earlier fit) serve through the same
    * [[scoreAgainst]] path, provided they use the same micro-unit
    * convention and the same `featScale` as at training. `weights`
    * must be `(__tok string, __w_micro long)`; for a hashed import
    * (`numBuckets > 0`) the `__tok` values are bucket ids and MUST
    * come from the same `pmod(xxhash64(token), numBuckets)` map this
    * engine applies at scoring. */
  def fromWeights(weights: DataFrame, biasMicro: Long,
      iters: Int, lr: Double, minCount: Long,
      featScale: Double, numBuckets: Int = 0): LinearQualityClassifier = {
    require(numBuckets >= 0, s"numBuckets must be >= 0, got $numBuckets")
    val names = weights.columns.toSet
    require(names("__tok") && names("__w_micro"),
      s"weights frame needs (__tok, __w_micro) columns, got ${weights.columns.toSeq}")
    // refuse-don't-guess on the import seam (r13 ADVICE): a duplicate
    // __tok row would silently double-count its logit in scoreAgainst
    // (the token join fans out per duplicate), and a non-long
    // __w_micro would fail later and obscurely
    require(weights.schema("__w_micro").dataType ==
        org.apache.spark.sql.types.LongType,
      s"__w_micro must be LongType (integer micro-units), " +
        s"got ${weights.schema("__w_micro").dataType.simpleString}")
    // null tokens get their own message (r14 ADVICE): countDistinct
    // ignores NULLs, so without this check a null __tok row would be
    // refused with a misleading "duplicate __tok rows" complaint
    val nulls = weights.where(col("__tok").isNull).limit(1).count()
    require(nulls == 0L,
      "weights frame has null __tok row(s) — a null token can never " +
        "match at scoring; drop or fix those rows before importing")
    val Array(total, distinct) = weights
      .agg(count(lit(1)), countDistinct(col("__tok"))).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    require(total == distinct,
      s"weights frame has ${total - distinct} duplicate __tok rows " +
        s"($total rows, $distinct distinct tokens) — each duplicate would " +
        "double-count its logit at scoring; deduplicate the import first")
    LinearQualityClassifier(weights, biasMicro, iters, lr, minCount, featScale,
      numBuckets)
  }

  /** Persist: weights parquet + a one-row meta table (pure data — the
    * [[TextAnalysis.saveUnigramLm]] convention). */
  def save(model: LinearQualityClassifier, path: String): Unit = {
    val spark = model.weights.sparkSession
    import spark.implicits._
    model.weights.write.mode("overwrite").parquet(s"$path/weights")
    Seq((model.biasMicro, model.iters, model.lr, model.minCount, model.featScale,
        model.numBuckets))
      .toDF("__bias_micro", "__iters", "__lr", "__min_count", "__feat_scale",
        "__num_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reopen a [[save]]d model — columns read by NAME (a reloadable
    * artifact may come back column-reordered). Layouts written before
    * the bucket knob existed carry no `__num_buckets` column and are
    * exact-coded by construction. */
  def load(spark: SparkSession, path: String): LinearQualityClassifier = {
    val meta = spark.read.parquet(s"$path/meta")
    val m = meta.head()
    LinearQualityClassifier(spark.read.parquet(s"$path/weights"),
      m.getAs[Long]("__bias_micro"), m.getAs[Int]("__iters"),
      m.getAs[Double]("__lr"), m.getAs[Long]("__min_count"),
      m.getAs[Double]("__feat_scale"),
      if (meta.columns.contains("__num_buckets")) m.getAs[Int]("__num_buckets")
      else 0)
  }
}

/** DuckDB oracle SQL for [[Classifier]] — the fit REPLAYED, one
  * materialized CTE block per gradient-descent iteration, then the
  * frozen-model scoring pass. The `MATERIALIZED` hints matter: the
  * weight chain references each `w{i}` twice, so DuckDB's default
  * CTE inlining would re-evaluate the whole prefix exponentially. */
object ClassifierSql {
  import TextAnalysis.Ws

  private def toksSql(t: String): String =
    s"list_filter(string_split_regex(lower($t), '$Ws'), x -> len(x) > 0)"
  private def stopHitsSql(t: String): String = {
    val stop = TextAnalysis.LangProfiles.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(${toksSql(t)}, t -> list_contains($stop, t)))"
  }

  /** Stopword-instance DENSITY thresholded at 6% — a label that IS a
    * linear functional of the classifier's relative-frequency
    * features, so distillation genuinely converges; all-integer
    * cross-multiplication, no float compare on either engine. */
  def stopDensityLabelSql(text: String): String =
    s"CASE WHEN 100 * ${stopHitsSql(text)} >= 6 * len(${toksSql(text)}) THEN 1 ELSE 0 END"

  /** Confident extremes (density >= 8% or <= 4%) — the DCLM practice
    * of fitting on clearly-good vs clearly-bad examples only, which
    * widens the margin and makes full-batch GD converge in few
    * iterations; the scored shard still includes the middles. */
  def stopDensityExtremesSql(text: String): String =
    s"(100 * ${stopHitsSql(text)} >= 8 * len(${toksSql(text)}) " +
      s"OR 25 * ${stopHitsSql(text)} <= len(${toksSql(text)}))"

  /** [[classifierFrozenSql]]'s scored output folded to the one-row
    * evaluation frame `(n, accuracy, log_loss)` — the identical
    * clamp/quantize expressions as [[Classifier.evaluateDf]], over
    * the identical scored rows, labeled by `labelExpr` joined back
    * from the source table. */
  def classifierEvalSql(table: String, id: String, text: String,
      labelExpr: String, modelWhere: String, scoreWhere: String,
      minCount: Long, iters: Int, lr: Double, featScale: Double): String = {
    val scored = classifierFrozenSql(table, id, text, labelExpr,
      modelWhere, scoreWhere, minCount, iters, lr, featScale)
    s"""WITH scored_rows AS MATERIALIZED (
       |$scored
       |),
       |labeled AS MATERIALIZED (
       |  SELECT s.clf_prob, ($labelExpr) AS y
       |  FROM scored_rows s JOIN $table t ON s.$id = t.$id),
       |losses AS (
       |  SELECT CASE WHEN (clf_prob >= 0.5) = (y = 1) THEN 1 ELSE 0 END AS hit,
       |         CAST(round(-1000000.0 *
       |           (y * ln(least(greatest(clf_prob, 0.000001), 1.0 - 0.000001))
       |            + (1.0 - y) * ln(1.0 - least(greatest(clf_prob, 0.000001),
       |                                         1.0 - 0.000001))))
       |           AS BIGINT) AS ll_micro
       |  FROM labeled)
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |       round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS accuracy,
       |       round(CAST(sum(ll_micro) AS DOUBLE) / (1000000.0 * count(*)), 6)
       |         AS log_loss
       |FROM losses""".stripMargin
  }

  /**
   * `labelExpr` must evaluate to 0/1 over `table`'s columns;
   * `modelWhere` rows fit the model, `scoreWhere` rows are scored
   * against it. Emits `(id, n_toks, clf_logit, clf_prob)`.
   */
  def classifierFrozenSql(table: String, id: String, text: String,
      labelExpr: String, modelWhere: String, scoreWhere: String,
      minCount: Long, iters: Int, lr: Double, featScale: Double): String = {
    val toks = (t: String) =>
      s"unnest(list_filter(string_split_regex(lower($t), '$Ws'), x -> len(x) > 0))"
    val head =
      s"""WITH ftoks AS MATERIALIZED (
         |  SELECT $id AS id, ($labelExpr) AS y, ${toks(text)} AS tok
         |  FROM $table WHERE $modelWhere),
         |vocab AS MATERIALIZED (
         |  SELECT tok FROM ftoks GROUP BY tok HAVING count(*) >= $minCount),
         |fcnt AS MATERIALIZED (
         |  SELECT id, y, f.tok AS tok, count(*) AS ct
         |  FROM ftoks f JOIN vocab v USING (tok) GROUP BY id, y, f.tok),
         |fnd AS MATERIALIZED (SELECT id, sum(ct) AS nd FROM fcnt GROUP BY id),
         |feat AS MATERIALIZED (
         |  SELECT f.id, f.y, f.tok, (f.ct * 1.0 / d.nd) * $featScale AS x
         |  FROM fcnt f JOIN fnd d USING (id)),
         |ndocs AS MATERIALIZED (SELECT count(*) AS n FROM fnd),
         |w0 AS MATERIALIZED (SELECT tok, CAST(0 AS BIGINT) AS wm FROM vocab),
         |b0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS bm)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"""z$i AS MATERIALIZED (
         |  SELECT f.id, f.y,
         |         (SELECT bm FROM b$p) + sum(CAST(round(f.x * w.wm) AS BIGINT)) AS zm
         |  FROM feat f JOIN w$p w USING (tok) GROUP BY f.id, f.y),
         |r$i AS MATERIALIZED (
         |  SELECT id, CAST(round(1000000.0 * (1.0 / (1.0 + exp(-(zm * 1.0 / 1000000.0)))
         |                                    - y)) AS BIGINT) AS rq
         |  FROM z$i),
         |g$i AS MATERIALIZED (
         |  SELECT f.tok, sum(CAST(round(r.rq * f.x) AS BIGINT)) AS gs
         |  FROM feat f JOIN r$i r USING (id) GROUP BY f.tok),
         |w$i AS MATERIALIZED (
         |  SELECT w.tok, w.wm - CAST(round(($lr * CAST(coalesce(g.gs, 0) AS DOUBLE))
         |                                  / (SELECT n FROM ndocs)) AS BIGINT) AS wm
         |  FROM w$p w LEFT JOIN g$i g USING (tok)),
         |b$i AS MATERIALIZED (
         |  SELECT (SELECT bm FROM b$p)
         |         - CAST(round(($lr * CAST((SELECT sum(rq) FROM r$i) AS DOUBLE))
         |                      / (SELECT n FROM ndocs)) AS BIGINT) AS bm)""".stripMargin
    }
    val tail =
      s"""stoks AS MATERIALIZED (
         |  SELECT $id AS id, ${toks(text)} AS tok
         |  FROM $table WHERE $scoreWhere),
         |scnt AS MATERIALIZED (
         |  SELECT id, s.tok AS tok, count(*) AS ct
         |  FROM stoks s JOIN vocab v USING (tok) GROUP BY id, s.tok),
         |snd AS MATERIALIZED (SELECT id, sum(ct) AS nd FROM scnt GROUP BY id),
         |sz AS MATERIALIZED (
         |  SELECT c.id, any_value(d.nd) AS n_toks,
         |         (SELECT bm FROM b$iters)
         |         + sum(CAST(round(((c.ct * 1.0 / d.nd) * $featScale) * w.wm) AS BIGINT)) AS zm
         |  FROM scnt c JOIN snd d USING (id) JOIN w$iters w USING (tok)
         |  GROUP BY c.id)
         |SELECT id AS $id, CAST(n_toks AS BIGINT) AS n_toks,
         |       round(zm * 1.0 / 1000000.0, 6) AS clf_logit,
         |       round(1.0 / (1.0 + exp(-(zm * 1.0 / 1000000.0))), 6) AS clf_prob
         |FROM sz""".stripMargin
    (head +: rounds :+ tail).mkString(",\n")
  }
}
